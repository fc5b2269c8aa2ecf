package kgbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cluster.{CandidatePairs, ClusterGraph}
import graft.corpus.CorpusGen
import graft.extract.{ChunkExtraction, Extract}
import graft.model.{Chunk, Page}
import graft.pipeline.KgGenJob
import graft.store.SnapshotTable

/** `build`: KgGenJob.run on a CorpusGen corpus (variantRate 0), each job
  * into a fresh table root. Output check: the canonical triple set
  * equals CorpusGen.oracleTriples.
  */
final class BuildWorkload(spark: SparkSession, seed: Long, work: Path, nDocs: Long, parallelism: Int)
    extends Workload {
  import Workload._

  private val corpus = CorpusGen.Config(nDocs = nDocs, seed = seed)
  private var oracle: (Long, java.math.BigDecimal) = _
  private var jobs = 0
  private var precision = 1.0
  private var recall = 1.0

  def workUnit: String = "canonical triples"
  def p50Kind: String = "job"

  def stage(rep: Int): Unit =
    oracle = fingerprint(CorpusGen.oracleTriples(spark, corpus).toDF().distinct())

  private def job(): (KgGenJob.Result, Path) = {
    jobs += 1
    val root = work.resolve(s"job-$jobs")
    val cfg = KgGenJob.JobConfig(tableRoot = root.toString, corpus = corpus, parallelism = parallelism)
    (KgGenJob.run(spark, cfg), root)
  }

  /** Precision and recall of the canonical triples against the oracle;
    * exact set comparison only when the fingerprints differ.
    */
  private def check(res: KgGenJob.Result): (Long, Double, Double) = {
    val fp = fingerprint(res.triples)
    if (fp == oracle) (fp._1, 1.0, 1.0)
    else {
      val got = res.triples.select("subject", "predicate", "obj").distinct()
      val want = CorpusGen.oracleTriples(spark, corpus).toDF().distinct()
      val hit = got.intersect(want).count().toDouble
      (fp._1, if (fp._1 == 0) 0.0 else hit / fp._1, if (oracle._1 == 0) 0.0 else hit / oracle._1)
    }
  }

  /** Three jobs: after two, timed jobs still got faster from one to the
    * next while the JIT caught up with the driver-side work (planning,
    * scheduling, commits).
    */
  def warmup(): Unit = (0 until 3).foreach { _ =>
    val (res, root) = job()
    check(res)
    deleteRecursively(root)
  }

  def round(m: Measurement, tracer: Option[Tracer]): Unit = {
    m.attempted += 1
    val n = m.attempted
    try {
      val ((res, root), ms) = timedMs(op(tracer, s"job-$n")(job()))
      m.record("job", s"job-$n", ms)
      val (triples, p, r) = check(res)
      deleteRecursively(root)
      m.work += triples
      precision = precision.min(p)
      recall = recall.min(r)
      if (p < 1.0 || r < 1.0) m.fail(f"job $n: precision $p%.4f recall $r%.4f")
    } catch { case e: Exception => m.fail(s"job $n: $e") }
  }

  override def finish(m: Measurement): Unit = {
    m.extra("precision") = precision
    m.extra("recall") = recall
    m.extra("docs_per_job") = nDocs
    m.extra("oracle_triples") = oracle._1
  }

  /** Calls each layer's public function separately on staged input, one
    * span per call, then derives the per-layer figures.
    */
  def layers(tr: Tracer): Layers = {
    import spark.implicits._
    val dir = work.resolve("layers")
    def staged(df: DataFrame, name: String): DataFrame = {
      val p = dir.resolve(name).toString
      df.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }

    val pagesDf = CorpusGen.pagesPartitioned(spark, corpus, parallelism).toDF()
    tr.span("corpus.render", "corpus")(noop(pagesDf))
    val pages = staged(pagesDf, "pages").as[Page]

    val chunksDf = Extract.chunks(pages).toDF()
    tr.span("textprep.chunk", "textprep")(noop(chunksDf))
    val chunks = staged(chunksDf, "chunks").as[Chunk]

    val exDf = Extract.extractions(chunks).toDF()
    tr.span("extract.score", "extract")(noop(exDf))
    val ex = staged(exDf, "extracted").as[ChunkExtraction]
    val rawTriples = ex.select(explode(col("triples"))).count().toDouble
    val validTriples = Extract.tripleMentions(ex).count().toDouble

    val triDf = Extract.tripleTable(Extract.tripleMentions(ex))
    val entDf = Extract.entitySet(ex)
    tr.span("extract.distinct", "extract") { noop(triDf); noop(entDf) }
    val triples = staged(triDf, "triples")
    val entities = staged(entDf, "entities")

    val (clustered, clusterFigures) = BuildWorkload.traceLayers(tr, entities, triples)

    val storeDir = dir.resolve("store")
    tr.span("store.commit", "store") {
      val t = new SnapshotTable(spark, storeDir.toString)
      t.commit(clustered.entities, "canonical_entities", "bench")
      t.commit(clustered.triples, "canonical_triples", "bench")
      t.commit(clustered.edges, "canonical_edges", "bench")
      t.commit(clustered.entityAssignments, "entity_clusters", "bench")
      t.commit(clustered.edgeAssignments, "edge_clusters", "bench")
    }
    val (bytes, files) = dirBytesAndFiles(storeDir)
    tr.recorder.drain(spark.sparkContext)

    val spans = tr.all
    def secs(name: String): Double = spans.filter(_.name == name).map(_.durNs).sum / 1e9
    val out = Layers(
      Map(
        "corpus.render_s" -> secs("corpus.render"),
        "textprep.chunk_s" -> secs("textprep.chunk"),
        "extract.score_s" -> secs("extract.score"),
        "extract.distinct_s" -> secs("extract.distinct"),
        "extract.valid_ratio" -> (if (rawTriples == 0) 0.0 else validTriples / rawTriples),
        "store.commit_s" -> secs("store.commit"),
        "store.bytes_written_mb" -> bytes / 1048576.0,
        "store.files_written" -> files.toDouble
      ) ++ clusterFigures,
      Seq("corpus", "textprep", "extract", "cluster", "store").map { l =>
        l -> tr.tasksIn(spans.filter(_.layer == l))
      }.toMap
    )
    deleteRecursively(dir)
    out
  }
}

object BuildWorkload {

  /** The cluster layer called piece by piece on staged input, one span per
    * call: candidate edges, clustering (candidates again plus union-find
    * and representatives; assign = clustering - candidates), rewrite.
    * Returns the clustering and the cluster.* figures.
    */
  def traceLayers(tr: Tracer, entities: DataFrame, triples: DataFrame): (ClusterGraph.Clustered, Map[String, Double]) = {
    import entities.sparkSession.implicits._
    val entMembers = entities.select("entity").as[String].collect().toSeq
    val predMembers = triples.select("predicate").distinct().as[String].collect().toSeq
    val edges = tr.span("cluster.candidates", "cluster") {
      CandidatePairs.edgesLocal(entMembers).size + CandidatePairs.edgesLocal(predMembers).size
    }
    val reps = tr.span("cluster.items", "cluster") {
      val e = ClusterGraph.clusterItems(entities.select(col("entity").as("member")))
      val p = ClusterGraph.clusterItems(triples.select(col("predicate").as("member")))
      e.select("representative").distinct().count() + p.select("representative").distinct().count()
    }
    val clustered = ClusterGraph.clusterGraph(entities, triples)
    tr.span("cluster.rewrite", "cluster") {
      Workload.noop(clustered.triples); Workload.noop(clustered.entities); Workload.noop(clustered.edges)
    }
    def secs(name: String): Double = tr.all.filter(_.name == name).map(_.durNs).sum / 1e9
    (clustered, Map(
      "cluster.candidates_s" -> secs("cluster.candidates"),
      "cluster.assign_s" -> math.max(0.0, secs("cluster.items") - secs("cluster.candidates")),
      "cluster.rewrite_s" -> secs("cluster.rewrite"),
      "cluster.accepted_edges" -> edges.toDouble,
      "cluster.reps" -> reps.toDouble
    ))
  }
}
