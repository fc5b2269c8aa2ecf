package kgbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.util.QueryExecutionListener

/** The file roots every SQL action of the session scans: each action's
  * optimized plan, including the plans of the cached data it reads.
  * Checkpoints are actions too, so a query that truncates its plan with
  * a checkpoint still shows the files it read before the truncation.
  *
  * `scanned` runs a body and returns the roots its actions scanned. The
  * listener bus delivers actions in order but later than they finish, so
  * it then runs a marker action and waits for it.
  */
final class ScanLog(spark: SparkSession) extends QueryExecutionListener {
  private val roots = ArrayBuffer.empty[Path]
  private var markersSeen = Set.empty[String]
  private var markers = 0

  spark.listenerManager.register(this)

  private def fileRoots(plan: LogicalPlan): Seq[Path] = plan.collect {
    case l: LogicalRelation =>
      l.relation match {
        case r: HadoopFsRelation => r.location.rootPaths.map(p => Path.of(p.toUri.getPath))
        case _                   => Nil
      }
    case m: InMemoryRelation => fileRoots(m.cacheBuilder.logicalPlan)
  }.flatten

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val marker = qe.analyzed.output.map(_.name).find(_.startsWith("kgbench_marker_"))
    synchronized {
      marker match {
        case Some(m) => markersSeen += m
        case None    => roots ++= fileRoots(qe.optimizedPlan)
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def scanned[T](body: => T): (T, Seq[Path]) = {
    synchronized(roots.clear())
    val r = body
    markers += 1
    val marker = s"kgbench_marker_$markers"
    spark.range(0, 1, 1, 1).select(lit(1).as(marker)).collect()
    val deadline = System.currentTimeMillis() + 30000
    while (!synchronized(markersSeen(marker)) && System.currentTimeMillis() < deadline) Thread.sleep(2)
    synchronized {
      if (!markersSeen(marker)) throw new IllegalStateException("scan log: marker action never delivered")
      markersSeen -= marker
      (r, roots.toList)
    }
  }
}
