package kgbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.server.McpServer
import graft.store.MemoryStore

/** The memory part of `serve`: one closed-loop client calling
  * McpServer.handle with JSON-RPC `tools/call` lines. Each round is one
  * `add_memories` carrying the text of `addPages` CorpusGen pages, then
  * `retrievesPerAdd` `retrieve_relevant_memories` calls for entity names. The store the
  * client starts from is built before timing. Output check: no reply is
  * an error, and the store holds exactly the set union of everything
  * added.
  */
final class MemoryWorkload(
    spark: SparkSession,
    seed: Long,
    work: Path,
    prebuildPages: Int,
    addPages: Int,
    retrievesPerAdd: Int
) extends Workload {
  import Workload._

  private val mapper = new ObjectMapper()
  private val storeRoot = work.resolve("store").toString
  private lazy val server = new McpServer(spark, storeRoot)
  private var prebuildText: String = _
  private var nextPage = 0L
  private var requestId = 0
  private val queryRng = new Random(seed)
  private val expectedEntities = mutable.HashSet.empty[String]
  private val expectedTriples = mutable.HashSet.empty[(String, String, String)]

  def workUnit: String = "requests"
  def p50Kind: String = "retrieve"

  private def request(tool: String, argName: String, arg: String): String = {
    requestId += 1
    val o = mapper.createObjectNode()
    o.put("jsonrpc", "2.0")
    o.put("id", requestId)
    o.put("method", "tools/call")
    val params = o.putObject("params")
    params.put("name", tool)
    params.putObject("arguments").put(argName, arg)
    mapper.writeValueAsString(o)
  }

  /** None when the reply is a well-formed, non-error tool result. */
  private def replyProblem(reply: Option[String]): Option[String] = reply match {
    case None => Some("no reply")
    case Some(r) =>
      val res = mapper.readTree(r).get("result")
      if (res == null) Some(s"JSON-RPC error: $r")
      else if (res.path("isError").asBoolean(false)) Some(s"isError: ${res.path("content").toString.take(200)}")
      else None
  }

  /** The extraction add_memories applies, restated: tokens split on
    * single spaces, entities are tokens of four or more characters,
    * triples are 3-token windows whose ends are entities.
    */
  private def expect(text: String): Unit = {
    val toks = text.split(" ", -1).filter(_.nonEmpty)
    def isEntity(t: String): Boolean = t.codePointCount(0, t.length) >= 4
    expectedEntities ++= toks.filter(isEntity)
    toks.sliding(3).foreach {
      case Array(s, p, o) if isEntity(s) && isEntity(o) => expectedTriples += ((s, p, o))
      case _                                              => ()
    }
  }

  private def add(text: String): Option[String] =
    replyProblem(server.handle(request("add_memories", "text", text)))

  private def retrieve(q: String): Option[String] =
    replyProblem(server.handle(request("retrieve_relevant_memories", "query", q)))

  /** Input staging: the pre-build payload. */
  def stage(rep: Int): Unit = prebuildText = Gen.memoryText(seed, 0, prebuildPages)

  override def prebuild(): Unit = {
    add(prebuildText).foreach(p => throw new IllegalStateException(s"store pre-build failed: $p"))
    expect(prebuildText)
    nextPage = prebuildPages
  }

  /** Two untimed rounds: the add and retrieve paths run warm from the
    * first timed round on. Their adds belong to the store the timed
    * rounds start from.
    */
  def warmup(): Unit = {
    val m = new Measurement
    (0 until 2).foreach(_ => round(m, None))
    if (m.failed > 0) throw new IllegalStateException(s"memory warm-up failed: ${m.failures.mkString("; ")}")
  }

  /** One add followed by its retrieves. */
  def round(m: Measurement, tracer: Option[Tracer]): Unit = {
    def call(kind: String)(body: => Option[String]): Unit = {
      m.attempted += 1
      val n = m.attempted
      val name = s"$kind-$n"
      try {
        val (problem, ms) = timedMs(op(tracer, name)(tracer match {
          case None     => body
          case Some(tr) => tr.span(name, "server", kind)(body)
        }))
        m.record(kind, name, ms)
        m.work += 1
        problem.foreach(p => m.fail(s"$name: $p"))
      } catch { case e: Exception => m.fail(s"$name: $e") }
    }
    val text = Gen.memoryText(seed, nextPage, addPages)
    nextPage += addPages
    call("add")(add(text))
    expect(text)
    (0 until retrievesPerAdd).foreach(_ => call("retrieve")(retrieve(Gen.memoryQuery(queryRng))))
  }

  /** The store holds exactly the union of every added text's extraction. */
  override def finish(m: Measurement): Unit = {
    val store = new MemoryStore(spark, storeRoot)
    val ents = store.entities.collect().map(_.getString(0))
    val tris = store.triples.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    if (ents.length != ents.distinct.length || ents.toSet != expectedEntities)
      m.fail(s"store entities ${ents.length}, expected union ${expectedEntities.size}")
    if (tris.length != tris.distinct.length || tris.toSet != expectedTriples)
      m.fail(s"store triples ${tris.length}, expected union ${expectedTriples.size}")
    m.extra("store_version") = store.version
    m.extra("store_entities") = ents.length
    m.extra("store_triples") = tris.length
    m.extra("read_dirs") = readDirs
  }

  /** Data directories one read of the triple table unions at the
    * current version, from the store's version manifest.
    */
  private def readDirs: Int = {
    val v = new MemoryStore(spark, storeRoot).version
    val f = Path.of(storeRoot, "memory-meta", s"v$v.json")
    if (!Files.exists(f)) 0
    else mapper.readTree(f.toFile).path("tables").path("memory_triples").path("dirs").size()
  }

  /** Job walls and tasks attributed by the call site that submitted them. */
  def layers(tr: Tracer): Layers = {
    tr.recorder.drain(spark.sparkContext)
    val spans = tr.all
    val adds = spans.filter(s => s.layer == "server" && s.parent == "add")
    val retrieves = spans.filter(s => s.layer == "server" && s.parent == "retrieve")
    val rec = tr.recorder
    type Site = Option[(String, String, Int)]
    def walls(ss: Seq[Span]) = ss.flatMap(s => rec.jobWalls(s.start, s.end))
    def perCall(ss: Seq[Span], pick: Site => Boolean): Double =
      if (ss.isEmpty) 0.0 else walls(ss).collect { case (_, w, site) if pick(site) => w }.sum / 1e3 / ss.size
    // retrieveRelevant submits, in source order: the emptiness probe, the
    // entity search, the fact lookup; their call-site lines rank them
    val retrieveLines = walls(retrieves).collect {
      case (_, _, Some((_, method, line))) if method.contains("retrieveRelevant") => line
    }.distinct.sorted
    val searchLine = if (retrieveLines.size >= 3) retrieveLines(1) else -1
    val factsLine = if (retrieveLines.nonEmpty) retrieveLines.last else -1
    def at(line: Int)(site: Site) = site.exists(s => s._2.contains("retrieveRelevant") && s._3 == line)
    def isStats(site: Site) = site.exists(s => s._1 == "store" && s._2.contains("stats"))
    def isMerge(site: Site) = site.exists(_._1 == "store") && !isStats(site)
    def module(site: Site): String =
      if (at(searchLine)(site)) "analytics" else site.map(_._1).getOrElse("server")
    Layers(
      Map(
        "store.merge_s" -> perCall(adds, isMerge),
        "store.stats_s" -> perCall(adds, isStats),
        "store.read_dirs" -> readDirs.toDouble,
        "analytics.search_s" -> perCall(retrieves, at(searchLine)),
        "server.facts_s" -> perCall(retrieves, at(factsLine))
      ),
      tr.tasksIn(adds ++ retrieves).groupBy(t => module(rec.callSite(t.stageId)))
    )
  }
}
