package kgbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.queries.Queries

/** The query part of `serve`: passes over a fixed subset of the `kg_*`
  * registry queries on a generated `documents` table whose derived
  * snapshot is committed before timing, so the queries read committed
  * tables. Each result is fully materialized in the noop sink. Output
  * check: each query's row count and order-insensitive hash equal those
  * of the derive path (no snapshot), computed once before timing, and
  * each timed query scanned files of the committed snapshot.
  */
final class QueryWorkload(spark: SparkSession, seed: Long, work: Path, nDocs: Long) extends Workload {
  import Workload._

  private val names = QueryWorkload.Queries
  private var dir: String = _
  private var root: String = _
  private val reference = mutable.HashMap.empty[String, Either[String, (Long, java.math.BigDecimal)]]
  private val passSeconds = mutable.ArrayBuffer.empty[Double]
  private val tracedTimes = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val planCounts = mutable.HashMap.empty[String, (Int, Boolean)]
  private var tracedPasses = 0
  private lazy val scans = new ScanLog(spark)

  private def underRoot(p: Path): Boolean = p.normalize.startsWith(Path.of(root).toAbsolutePath.normalize)

  def workUnit: String = "queries"
  def p50Kind: String = "query"

  def stage(rep: Int): Unit = {
    dir = work.resolve(s"sf-$rep").toString
    Gen.writeDocuments(spark, seed, nDocs, dir, 4)
  }

  override def prebuild(): Unit = {
    root = work.resolve("derived").toString
    Queries.derivedRootOverride = Some(root)
    Queries.ensureDerived(spark, dir)
  }

  /** The reference pass on the derive path, then one untimed pass on the
    * snapshot path, so both paths' plans are compiled before timing. A
    * reference that scanned the snapshot is no reference.
    */
  def warmup(): Unit = {
    Queries.derivedRootOverride = None
    try
      names.foreach { q =>
        val ((ref, ms), scanned) = scans.scanned(timedMs {
          try Right(noopWithFingerprint(SparkEntry.queries(q)(spark, dir), q))
          catch { case e: Exception => Left(e.toString) }
        })
        reference(q) = if (scanned.exists(underRoot)) Left("the derive path scanned the snapshot") else ref
        log(f"derive   $q%-28s $ms%10.1f ms")
      }
    finally Queries.derivedRootOverride = Some(root)
    names.foreach(q => noopWithFingerprint(SparkEntry.queries(q)(spark, dir), q))
  }

  /** Graft expressions in the optimized plan, and whether TopKRows is one. */
  private def nativeExprs(df: DataFrame): (Int, Boolean) = {
    val exprs = df.queryExecution.optimizedPlan.collect { case p => p.expressions }.flatten
      .flatMap(_.collect { case e if e.getClass.getName.startsWith("graft.functions.") => e })
    (exprs.size, exprs.exists(_.getClass.getSimpleName == "TopKRows"))
  }

  /** One pass over the query subset. */
  def round(m: Measurement, tracer: Option[Tracer]): Unit = {
    var pass = 0.0
    names.foreach { q =>
      m.attempted += 1
      try {
        def part[T](name: String)(body: => T): T = tracer match {
          case None     => body
          case Some(tr) => tr.span(s"$q.$name", "queries", q)(body)
        }
        val (((fp, df), ms), scanned) = scans.scanned(timedMs(op(tracer, q) {
          val df = part("construct")(SparkEntry.queries(q)(spark, dir))
          (part("exec")(noopWithFingerprint(df, q)), df)
        }))
        m.record("query", q, ms)
        m.work += 1
        pass += ms
        if (tracer.isDefined) {
          tracedTimes.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += ms
          planCounts(q) = nativeExprs(df)
        }
        reference.get(q) match {
          case Some(Right(want)) if want == fp => ()
          case Some(Right(want))               => m.fail(s"$q: rows/hash $fp, derive path $want")
          case other                           => m.fail(s"$q: no derive-path reference ($other)")
        }
        if (!scanned.exists(underRoot)) m.fail(s"$q: scanned no file of the committed snapshot under $root")
      } catch { case e: Exception => m.fail(s"$q: $e") }
    }
    passSeconds += pass / 1e3
    if (tracer.isDefined) tracedPasses += 1
  }

  override def finish(m: Measurement): Unit = {
    m.extra("queries") = names.size
    m.extra("passes") = passSeconds.size
    m.extra("sweep_s") = if (passSeconds.isEmpty) 0.0 else Stats.median(passSeconds.toSeq)
    m.extra("docs") = nDocs
    passSeconds.clear()
  }

  def layers(tr: Tracer): Layers = {
    val dataDirs = {
      val it = Files.list(Path.of(root, "data"))
      try it.iterator().asScala.toSeq.sortBy(_.toString) finally it.close()
    }
    tr.span("store.snapshot_read", "store")(dataDirs.foreach(p => noop(spark.read.parquet(p.toString))))
    tr.recorder.drain(spark.sparkContext)

    val spans = tr.all
    val passes = tracedPasses.max(1).toDouble
    val construct = spans.filter(s => s.layer == "queries" && s.name.endsWith(".construct"))
    val exec = spans.filter(s => s.layer == "queries" && s.name.endsWith(".exec"))
    val rec = tr.recorder
    def jobs(ss: Seq[Span]): Double = ss.map(s => rec.jobWalls(s.start, s.end).size).sum / passes
    def perPass(ss: Seq[Span]): Double = ss.map(_.durNs).sum / 1e9 / passes
    // a task belongs to the module of its stage's call site; stages the
    // benchmark's own noop write submitted belong to the query layer
    val byModule = tr.tasksIn(construct ++ exec).groupBy(t => rec.callSite(t.stageId).map(_._1).getOrElse("queries"))
    val snapshotRead = spans.filter(_.name == "store.snapshot_read")
    Layers(
      Map(
        "queries.construct_s" -> perPass(construct),
        "queries.construct_jobs" -> jobs(construct),
        "queries.exec_s" -> perPass(exec),
        "queries.jobs" -> jobs(construct ++ exec),
        "queries.shuffle_write_mb" -> tr.tasksIn(construct ++ exec).map(_.shuffleWriteBytes).sum / 1048576.0 / passes,
        "store.snapshot_read_s" -> snapshotRead.map(_.durNs).sum / 1e9,
        "plans.topk_fired" -> planCounts.values.count(_._2).toDouble,
        "functions.native_exprs" -> planCounts.values.map(_._1).sum.toDouble
      ) ++ names.map { q =>
        s"query.${q}_s" -> tracedTimes.get(q).map(ts => Stats.median(ts.toSeq) / 1e3).getOrElse(0.0)
      },
      byModule
    ) ++ Layers(Map.empty, Map("store" -> tr.tasksIn(snapshotRead)))
  }
}

object QueryWorkload {

  /** The fixed `kg_*` subset one pass runs, each reported one by one in
    * the traced run: a snapshot read, an aggregate with a top-k, a join
    * and an iterative analytic.
    */
  val Queries: Seq[String] = Seq("kg_triples", "kg_top_entities", "kg_2hop", "kg_components")
}
