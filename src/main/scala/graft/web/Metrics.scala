package graft.web

import graft.Json
import graft.Json.{Obj, RawJson}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.InternalBridge
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import scala.jdk.CollectionConverters._

/** Per-stage / per-partition lineage metrics via SparkListener (north rule: row-count
  * and latency metrics emitted per partition). Task granularity ≈ partition
  * granularity in Spark, so onTaskEnd gives the per-partition view.
  */
final class GraftMetricsListener extends SparkListener {
  final case class TaskStat(stageId: Int, partitionId: Int, recordsRead: Long,
      recordsWritten: Long, runTimeMs: Long, bytesRead: Long, shuffleBytesWritten: Long,
      memorySpilled: Long, diskSpilled: Long)

  private val tasks = new ConcurrentHashMap[(Int, Long), TaskStat]()
  val totalRecordsRead = new LongAdder
  val totalRunTimeMs = new LongAdder
  // executor-side GC attributed to tasks: jvmGCTime travels in TaskMetrics, so this
  // works across real executor JVMs (local-cluster), where a driver MXBean cannot see
  val totalJvmGcTimeMs = new LongAdder

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val stat = TaskStat(
        e.stageId, e.taskInfo.index,
        m.inputMetrics.recordsRead, m.outputMetrics.recordsWritten,
        m.executorRunTime, m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled, m.diskBytesSpilled)
      tasks.put((e.stageId, e.taskInfo.taskId), stat)
      totalRecordsRead.add(stat.recordsRead)
      totalRunTimeMs.add(stat.runTimeMs)
      totalJvmGcTimeMs.add(m.jvmGCTime)
    }
  }

  def taskStats: Seq[TaskStat] = tasks.values().asScala.toSeq

  /** Skew indicator: max task runtime / mean task runtime (≥ ~4 → salt the key). */
  def skewRatio: Double = {
    val ts = taskStats.map(_.runTimeMs.toDouble).filter(_ > 0)
    if (ts.isEmpty) 0.0 else ts.max / (ts.sum / ts.size)
  }

  def summaryJson: String = {
    val ts = taskStats
    Json(Obj("tasks" -> ts.size, "recordsRead" -> totalRecordsRead.sum(),
      "recordsWritten" -> ts.map(_.recordsWritten).sum, "totalTaskMs" -> totalRunTimeMs.sum(),
      "maxTaskMs" -> ts.map(_.runTimeMs).maxOption.getOrElse(0L),
      "jvmGcMs" -> totalJvmGcTimeMs.sum(),
      "memorySpilledBytes" -> ts.map(_.memorySpilled).sum,
      "diskSpilledBytes" -> ts.map(_.diskSpilled).sum,
      "skewRatio" -> RawJson(f"$skewRatio%.3f")))
  }
}

object GraftMetricsListener {
  /** Runs `body` with a fresh listener attached, waits until the listener bus has
    * delivered every event `body` caused, then detaches it. Returns the body's result
    * and the listener, whose totals then cover exactly the body's tasks.
    */
  def during[T](spark: SparkSession)(body: => T): (T, GraftMetricsListener) = {
    val l = new GraftMetricsListener
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      val r = body
      InternalBridge.drainListeners(sc)
      (r, l)
    } finally sc.removeSparkListener(l)
  }
}
