package kgbench

import java.nio.file.{Files, Path}
import java.util.Comparator

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** What one measurement window produced. `samples` holds the latency of
  * every timed operation in milliseconds, keyed by operation kind;
  * `work` is the workload's unit of output (triples, queries, requests).
  */
final class Measurement {
  val samples: ArrayBuffer[(String, Double)] = ArrayBuffer.empty
  var work: Double = 0.0
  var attempted: Int = 0
  var failed: Int = 0
  val failures: ArrayBuffer[String] = ArrayBuffer.empty
  val extra: scala.collection.mutable.LinkedHashMap[String, Any] = scala.collection.mutable.LinkedHashMap.empty

  def latencies: Seq[Double] = samples.map(_._2).toSeq
  def latencies(kind: String): Seq[Double] = samples.collect { case (k, v) if k == kind => v }.toSeq
  def timedSeconds: Double = latencies.sum / 1e3

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
    Workload.log(s"FAILED $what")
  }

  def record(kind: String, label: String, ms: Double): Unit = {
    samples += ((kind, ms))
    Workload.log(f"$kind%-8s $label%-28s $ms%10.1f ms")
  }
}

/** Per-layer output of a traced run: named figures, and the tasks each
  * layer ran (from which the task-level figures are derived).
  */
final case class Layers(figures: Map[String, Double], tasks: Map[String, Seq[TaskRec]] = Map.empty) {
  def ++(o: Layers): Layers =
    Layers(figures ++ o.figures, (tasks.keySet ++ o.tasks.keySet).map { k =>
      k -> (tasks.getOrElse(k, Nil) ++ o.tasks.getOrElse(k, Nil))
    }.toMap)
}

/** One benchmark workload.
  *
  *   - `stage` is one repetition of input staging into a fresh directory;
  *   - `prebuild` builds what the operations read (snapshot, store);
  *   - `warmup` runs untimed operations, so the JIT and Spark's code
  *     caches are warm before timing;
  *   - `round` runs one round of timed operations (a job, a query pass,
  *     a request cycle) and checks each output outside the timed window;
  *   - `finish` runs the checks that need the whole window;
  *   - `layers` gives the per-layer figures of a traced run. Every timed
  *     operation of a traced round sits in a span of layer "op".
  */
trait Workload {
  def stage(rep: Int): Unit
  def prebuild(): Unit = ()
  def warmup(): Unit
  def round(m: Measurement, tracer: Option[Tracer]): Unit
  def finish(m: Measurement): Unit = ()
  def layers(tracer: Tracer): Layers

  /** Unit of `Measurement.work`, for the report. */
  def workUnit: String

  /** The one operation kind whose median latency is `p50_ms`. */
  def p50Kind: String
}

object Workload {

  /** Progress line on stderr; stdout carries only the report and result. */
  def log(msg: String): Unit = System.err.println(s"[kgbench] $msg")

  def timedMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  /** Order-insensitive row fingerprint: (row count, sum of per-row
    * xxhash64 as an exact decimal). Equal sets of distinct rows give
    * equal fingerprints.
    */
  def fingerprintCols(df: DataFrame): Seq[Column] = {
    val all = df.columns.toSeq.map(c => col(s"`$c`"))
    Seq(
      count(lit(1)).as("n"),
      coalesce(sum(xxhash64(all: _*).cast(DecimalType(38, 0))), lit(0).cast(DecimalType(38, 0))).as("h")
    )
  }

  def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(fingerprintCols(df).head, fingerprintCols(df).tail: _*).head()
    (r.getLong(0), r.getDecimal(1))
  }

  /** Fully materialize `df` into the noop sink, collecting its
    * fingerprint from the same execution.
    */
  def noopWithFingerprint(df: DataFrame, name: String): (Long, java.math.BigDecimal) = {
    val obs = Observation(name)
    val cs = fingerprintCols(df)
    df.observe(obs, cs.head, cs.tail: _*).write.format("noop").mode("overwrite").save()
    val r = obs.get
    (r("n").asInstanceOf[Long], r("h").asInstanceOf[java.math.BigDecimal])
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def dirBytesAndFiles(p: Path): (Long, Int) =
    if (!Files.exists(p)) (0L, 0)
    else {
      var bytes = 0L
      var files = 0
      Files.walk(p).filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).forEach { f =>
        bytes += Files.size(f)
        files += 1
      }
      (bytes, files)
    }

  /** Runs `body` in an "op" span when tracing. */
  def op[T](tracer: Option[Tracer], name: String)(body: => T): T = tracer match {
    case None     => body
    case Some(tr) => tr.span(name, "op")(body)
  }
}
