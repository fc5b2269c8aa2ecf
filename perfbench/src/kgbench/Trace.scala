package kgbench

import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionStart => SQLExecutionStart}

/** One finished task, with the metrics the per-layer report needs.
  * Times are epoch milliseconds (Spark's TaskInfo clock).
  */
final case class TaskRec(
    stageId: Int,
    launch: Long,
    finish: Long,
    cpuNs: Long,
    gcMs: Long,
    spillBytes: Long,
    shuffleWriteBytes: Long
) {
  def durMs: Long = finish - launch
}

/** A benchmark-side span around one call into a layer. `start`/`end`
  * are epoch milliseconds (for matching tasks), `durNs` the exact length.
  */
final case class Span(name: String, layer: String, parent: String, start: Long, end: Long, durNs: Long)

/** Task and stage recorder for the traced run. Everything stays in
  * memory; attribution to spans and modules happens after the run.
  */
final class Recorder extends SparkListener {
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val details = scala.collection.mutable.HashMap.empty[Int, String]
  private val jobStarts = scala.collection.mutable.HashMap.empty[Int, (Long, Seq[Int], String)]
  private val jobEnds = scala.collection.mutable.HashMap.empty[Int, Long]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, Int]
  private val jobExecution = scala.collection.mutable.HashMap.empty[Int, Long]
  private val executionDetails = scala.collection.mutable.HashMap.empty[Long, String]

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    details(e.stageInfo.stageId) = e.stageInfo.details
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    jobStarts(e.jobId) = (e.time, e.stageIds, prop("spark.jobGroup.id").getOrElse(""))
    prop("spark.sql.execution.id").foreach(id => jobExecution(e.jobId) = id.toLong)
    e.stageIds.foreach(id => stageJob(id) = e.jobId)
  }

  // a SQL execution records the call site of the action that started it;
  // jobs a helper thread submits for it (adaptive query stages) carry no
  // program frames of their own
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: SQLExecutionStart => synchronized { executionDetails(x.executionId) = x.details }
    case _                    => ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { jobEnds(e.jobId) = e.time }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      tasks += TaskRec(
        e.stageId,
        e.taskInfo.launchTime,
        e.taskInfo.finishTime,
        m.executorCpuTime,
        m.jvmGCTime,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.shuffleWriteMetrics.bytesWritten
      )
  }

  private val drains = new AtomicInteger()

  /** Block until every event posted before this call has reached the
    * recorder: run a marker job and wait for its end event, which the
    * listener bus delivers after all earlier events.
    */
  def drain(sc: SparkContext): Unit = {
    val group = s"kgbench-drain-${drains.incrementAndGet()}"
    sc.setJobGroup(group, group)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    def seen: Boolean = synchronized {
      jobStarts.exists { case (id, (_, _, g)) => g == group && jobEnds.contains(id) }
    }
    while (!seen && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  def snapshotTasks: Seq[TaskRec] = synchronized(tasks.toList)

  /** Finished jobs started inside [from, to] as (start ms, wall ms, call site). */
  def jobWalls(from: Long, to: Long): Seq[(Long, Long, Option[(String, String, Int)])] = {
    val js = synchronized {
      jobStarts.toList.collect {
        case (id, (t, stages, g)) if t >= from && t <= to && !g.startsWith("kgbench-drain") && jobEnds.contains(id) =>
          (t, jobEnds(id) - t, stages)
      }
    }
    js.sortBy(_._1).map { case (t, wall, stages) =>
      (t, wall, stages.iterator.map(callSite).collectFirst { case Some(c) => c })
    }
  }

  /** Every finished job with its call site, for the trace file. */
  def jobsJson: java.util.List[java.util.Map[String, Any]] = {
    import scala.jdk.CollectionConverters._
    jobWalls(Long.MinValue, Long.MaxValue).map { case (start, wall, site) =>
      Map[String, Any](
        "start_ms" -> start,
        "wall_ms" -> wall,
        "site" -> site.map { case (m, f, l) => s"$m:$f:$l" }.getOrElse("")
      ).asJava
    }.asJava
  }

  /** The innermost `graft.<module>` frame of the call site that
    * submitted a stage, as (module, class.method, line); None when the
    * stage was submitted from outside the program.
    */
  def callSite(stageId: Int): Option[(String, String, Int)] = {
    val (stage, execution) = synchronized {
      (
        details.getOrElse(stageId, ""),
        stageJob.get(stageId).flatMap(jobExecution.get).flatMap(executionDetails.get).getOrElse("")
      )
    }
    def frame(d: String) = d.linesIterator.map(_.trim).collectFirst {
      case Recorder.Frame(module, method, line) => (module, method, line.toInt)
    }
    frame(stage).orElse(frame(execution))
  }
}

object Recorder {
  private val Frame = """graft\.([a-z]+)\.([\w$.]+)\([\w.]+:(\d+)\)""".r
}

/** Span log plus the derived per-layer figures. */
final class Tracer(val recorder: Recorder) {
  private val spans = ArrayBuffer.empty[Span]

  def span[T](name: String, layer: String, parent: String = "")(body: => T): T = {
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val r = body
    spans += Span(name, layer, parent, t0, System.currentTimeMillis(), System.nanoTime() - n0)
    r
  }

  def all: Seq[Span] = spans.toList

  def tasksIn(ss: Seq[Span]): Seq[TaskRec] = {
    val ts = recorder.snapshotTasks
    ss.flatMap(s => ts.filter(t => t.launch >= s.start && t.finish <= s.end))
  }

  /** Task-level figures of a group of tasks; skew is the longest task
    * over the median one.
    */
  def taskFigures(ts: Seq[TaskRec]): Map[String, Double] = {
    val durs = ts.map(_.durMs.toDouble)
    val skew =
      if (durs.isEmpty) 0.0
      else { val med = Stats.median(durs); if (med <= 0) durs.max.max(1.0) else durs.max / med }
    Map(
      "task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "spill_mb" -> ts.map(_.spillBytes).sum / 1048576.0,
      "task_skew" -> skew
    )
  }

  /** Wall time inside the spans with no task running (driver-side work:
    * planning, scheduling, driver collections and file commits).
    */
  def driverSeconds(ss: Seq[Span]): Double =
    ss.map { s =>
      val iv = tasksIn(Seq(s)).map(t => (t.launch, t.finish)).sortBy(_._1)
      var covered = 0L
      var curS = -1L
      var curE = -1L
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      math.max(0L, (s.end - s.start) - covered) / 1e3
    }.sum

  def toJson: java.util.List[java.util.Map[String, Any]] = {
    import scala.jdk.CollectionConverters._
    spans.map { s =>
      Map[String, Any](
        "name" -> s.name,
        "layer" -> s.layer,
        "parent" -> s.parent,
        "start_ms" -> s.start,
        "end_ms" -> s.end,
        "dur_s" -> s.durNs / 1e9
      ).asJava
    }.asJava
  }
}
