package kgbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one measurement window.
  *
  *   kgbench.Main --workload <build|serve>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir> --trace-out <file>
  *
  * The last stdout line is the result object; the line before it is the
  * full report (every end-to-end figure by name, with sample counts).
  */
object Main {

  val Cores = 4

  /** Per-layer metric names, in BENCHMARK.json order. A layer the
    * workload does not call reports 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "corpus.render_s" -> "s",
    "textprep.chunk_s" -> "s",
    "extract.score_s" -> "s",
    "extract.distinct_s" -> "s",
    "extract.valid_ratio" -> "ratio",
    "cluster.candidates_s" -> "s",
    "cluster.assign_s" -> "s",
    "cluster.rewrite_s" -> "s",
    "cluster.accepted_edges" -> "count",
    "cluster.reps" -> "count",
    "store.commit_s" -> "s",
    "store.bytes_written_mb" -> "MB",
    "store.files_written" -> "count",
    "store.snapshot_read_s" -> "s",
    "store.merge_s" -> "s",
    "store.stats_s" -> "s",
    "store.read_dirs" -> "count",
    "pipeline.driver_s" -> "s",
    "pipeline.core_util" -> "ratio",
    "queries.construct_s" -> "s",
    "queries.construct_jobs" -> "count",
    "queries.exec_s" -> "s",
    "queries.jobs" -> "count",
    "queries.shuffle_write_mb" -> "MB",
    "plans.topk_fired" -> "count",
    "functions.native_exprs" -> "count",
    "analytics.search_s" -> "s",
    "server.facts_s" -> "s",
    "trace.overhead_pct" -> "%"
  ) ++ Seq("corpus", "textprep", "extract", "cluster", "store", "queries", "analytics", "server").flatMap { l =>
    Seq(s"$l.task_cpu_s" -> "s", s"$l.gc_s" -> "s", s"$l.spill_mb" -> "MB", s"$l.task_skew" -> "ratio")
  } ++ QueryWorkload.Queries.map(q => s"query.${q}_s" -> "s")

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path, traceOut: Path)

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(
      need("workload"),
      need("seed").toLong,
      need("seconds").toInt,
      need("trace") == "1",
      Path.of(need("work")),
      Path.of(kv.getOrElse("trace-out", need("work") + "/trace.json"))
    )
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession
      .builder()
      .master(s"local[$Cores]")
      .appName("kgbench")
      .config("spark.sql.shuffle.partitions", (Cores * 2).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .config("spark.sql.legacy.allowHashOnMapType", "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.installOptimizations(s)
    s
  }

  def workload(name: String, spark: SparkSession, seed: Long, work: Path): Workload = name match {
    case "build" => new BuildWorkload(spark, seed, work.resolve("build"), nDocs = 40000, parallelism = Cores * 2)
    case "serve" =>
      new ServeWorkload(
        new QueryWorkload(spark, seed, work.resolve("query"), nDocs = 1000),
        new MemoryWorkload(spark, seed, work.resolve("memory"), prebuildPages = 20, addPages = 20, retrievesPerAdd = 4)
      )
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** Timed rounds until `seconds` of timed work are done: at least one,
    * and none after a round that timed nothing (every operation failed).
    */
  private def measure(w: Workload, seconds: Double, m: Measurement, tracer: Option[Tracer]): Unit = {
    var more = true
    while (more) {
      val before = m.samples.size
      w.round(m, tracer)
      more = m.samples.size > before && m.timedSeconds < seconds
    }
    w.finish(m)
  }

  /** Every per-layer figure: the workload's own, the task figures of each
    * layer, the pipeline figures over the traced operations and the
    * tracing overhead (traced against untraced median latency of `kind`).
    */
  private def perLayer(tr: Tracer, layers: Layers, kind: String, untraced: Measurement, traced: Measurement)
      : Map[String, Double] = {
    val ops = tr.all.filter(_.layer == "op")
    val opWallMs = ops.map(s => (s.end - s.start).toDouble).sum
    val taskFigures = layers.tasks.toSeq.flatMap { case (l, ts) =>
      tr.taskFigures(ts).map { case (k, v) => s"$l.$k" -> v }
    }
    val overhead =
      if (untraced.latencies(kind).isEmpty || traced.latencies(kind).isEmpty) 0.0
      else (Stats.median(traced.latencies(kind)) / Stats.median(untraced.latencies(kind)) - 1.0) * 100.0
    val opCpuMs = tr.tasksIn(ops).map(_.cpuNs).sum / 1e6
    layers.figures ++ taskFigures ++ Map(
      "pipeline.driver_s" -> tr.driverSeconds(ops),
      "pipeline.core_util" -> (if (opWallMs <= 0) 0.0 else opCpuMs / (opWallMs * Cores)),
      "trace.overhead_pct" -> overhead
    )
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o.work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val w = workload(o.workload, spark, o.seed, o.work)
    Workload.log(f"session ready after $sessionS%.2f s")

    def phase(name: String)(body: => Unit): Double = {
      val s = Workload.timedMs(body)._2 / 1e3
      Workload.log(f"$name: $s%.2f s")
      s
    }
    val stageS = (0 until 3).map(rep => phase(s"stage $rep")(w.stage(rep)))
    val prebuildS = phase("pre-build")(w.prebuild())
    val warmupS = phase("warm-up")(w.warmup())
    val setup = Map(
      "setup_s" -> (sessionS + Stats.median(stageS) + prebuildS + warmupS),
      "session_s" -> sessionS,
      "stage_s" -> Stats.median(stageS),
      "prebuild_s" -> prebuildS,
      "warmup_s" -> warmupS
    )

    val untraced = new Measurement
    val traced = new Measurement
    var tracer: Option[Tracer] = None
    var layerFigures = Map.empty[String, Double]
    if (!o.trace) measure(w, o.seconds, untraced, None)
    else {
      // untraced first half, traced second half: their difference is the
      // tracing overhead
      measure(w, o.seconds / 2.0, untraced, None)
      val rec = new Recorder
      spark.sparkContext.addSparkListener(rec)
      val tr = new Tracer(rec)
      tracer = Some(tr)
      measure(w, o.seconds / 2.0, traced, Some(tr))
      layerFigures = perLayer(tr, w.layers(tr), w.p50Kind, untraced, traced)
      spark.sparkContext.removeSparkListener(rec)
    }
    val rssMb = Stats.peakRssMb()
    val attempted = untraced.attempted + traced.attempted
    val failed = untraced.failed + traced.failed

    val mapper = new ObjectMapper()
    val report = mapper.createObjectNode()
    report.put("workload", o.workload)
    report.put("seed", o.seed)
    report.put("seconds", o.seconds)
    report.put("trace", o.trace)
    report.put("cores", Cores)
    report.set[JsonNode]("setup", mapper.valueToTree(setup.asJava))
    report.put("peak_rss_mb", rssMb)
    report.put("error_rate", failed.toDouble / attempted.max(1))
    Seq("untraced" -> untraced, "traced" -> traced).filter(_._2.attempted > 0).foreach { case (name, m) =>
      report.set[JsonNode](name, window(mapper, w, m))
    }
    if (o.trace) {
      report.set[JsonNode]("per_layer", mapper.valueToTree(layerFigures.asJava))
      val doc = report.deepCopy()
      doc.set[JsonNode]("spans", mapper.valueToTree(tracer.get.toJson))
      doc.set[JsonNode]("jobs", mapper.valueToTree(tracer.get.recorder.jobsJson))
      Files.createDirectories(o.traceOut.getParent)
      mapper.writerWithDefaultPrettyPrinter().writeValue(o.traceOut.toFile, doc)
    }
    println(mapper.writeValueAsString(mapper.createObjectNode().set[JsonNode]("report", report)))

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val lat = untraced.latencies(w.p50Kind)
        Seq(
          ("setup_s", setup("setup_s"), "s"),
          ("work_per_s", if (untraced.timedSeconds <= 0) 0.0 else untraced.work / untraced.timedSeconds, "1/s"),
          ("p50_ms", if (lat.isEmpty) 0.0 else Stats.median(lat), "ms"),
          ("peak_rss_mb", rssMb, "MB")
        )
      } else PerLayer.map { case (k, unit) => (k, layerFigures.getOrElse(k, 0.0), unit) }
    val result = mapper.createObjectNode()
    result.put("correct", failed == 0)
    result.put("attempted", attempted)
    result.put("failed", failed)
    val mn = result.putObject("metrics")
    metrics.foreach { case (k, v, unit) => mn.putObject(k).put("value", v).put("unit", unit) }
    spark.stop()
    println(mapper.writeValueAsString(result))
  }

  /** Report of one measurement window: counts, throughput, latency
    * summaries per operation kind, the end-to-end figures under their
    * workload-specific names, and the first failures.
    */
  private def window(mapper: ObjectMapper, w: Workload, m: Measurement): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("attempted", m.attempted)
    n.put("failed", m.failed)
    n.put("error_rate", m.failed.toDouble / m.attempted.max(1))
    n.put("timed_s", m.timedSeconds)
    n.put("work", m.work)
    n.put("work_unit", w.workUnit)
    n.put("work_per_s", if (m.timedSeconds > 0) m.work / m.timedSeconds else 0.0)
    val lat = n.putObject("latency_ms")
    lat.set[JsonNode]("all", mapper.valueToTree(Stats.summary(m.latencies).asJava))
    val kinds = m.samples.map(_._1).distinct
    kinds.foreach(k => lat.set[JsonNode](k, mapper.valueToTree(Stats.summary(m.latencies(k)).asJava)))
    val named = n.putObject("end_to_end")
    def put(name: String, value: Double, unit: String, samples: Int): ObjectNode =
      named.putObject(name).put("value", value).put("unit", unit).put("n", samples)
    if (kinds.contains("job")) {
      val jobs = m.latencies("job")
      put("triples_per_s", if (jobs.isEmpty) 0.0 else m.work / m.timedSeconds, "1/s", jobs.size)
      Seq("precision", "recall").foreach(k => m.extra.get(k).foreach(v => put(k, v.asInstanceOf[Double], "ratio", jobs.size)))
    }
    if (kinds.contains("query")) {
      val qs = m.latencies("query")
      m.extra.get("sweep_s").foreach(v => put("sweep_s", v.asInstanceOf[Double], "s", m.extra("passes").asInstanceOf[Int]))
      put("query_p50_ms", Stats.median(qs), "ms", qs.size)
      put("query_p90_ms", Stats.percentile(qs, 90), "ms", qs.size)
    }
    if (kinds.contains("add")) {
      val adds = m.latencies("add")
      val rs = m.latencies("retrieve")
      put("add_p50_ms", Stats.median(adds), "ms", adds.size)
      val (pct, tail) = Stats.tail(adds).getOrElse((100, adds.max))
      put("add_tail_ms", tail, "ms", adds.size).put("percentile", pct)
      if (rs.nonEmpty) {
        put("retrieve_p50_ms", Stats.median(rs), "ms", rs.size)
        put("retrieve_p90_ms", Stats.percentile(rs, 90), "ms", rs.size)
      }
      put("requests_per_s", (adds.size + rs.size) / ((adds.sum + rs.sum) / 1e3), "1/s", adds.size + rs.size)
    }
    n.set[JsonNode]("figures", mapper.valueToTree(m.extra.asJava))
    n.set[JsonNode]("failures", mapper.valueToTree(m.failures.asJava))
    n
  }
}
