package graft.web

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
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
  val maxTaskMs = new AtomicLong(0)

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
      maxTaskMs.updateAndGet(x => math.max(x, stat.runTimeMs))
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
    s"""{"tasks":${ts.size},"recordsRead":${totalRecordsRead.sum()},""" +
      s""""recordsWritten":${ts.map(_.recordsWritten).sum},""" +
      s""""totalTaskMs":${totalRunTimeMs.sum()},"maxTaskMs":${maxTaskMs.get()},""" +
      s""""jvmGcMs":${totalJvmGcTimeMs.sum()},""" +
      s""""memorySpilledBytes":${ts.map(_.memorySpilled).sum},""" +
      s""""diskSpilledBytes":${ts.map(_.diskSpilled).sum},""" +
      s""""skewRatio":${f"${skewRatio}%.3f"}}"""
  }
}

object GraftMetricsListener {
  def attach(spark: SparkSession): GraftMetricsListener = {
    val l = new GraftMetricsListener
    spark.sparkContext.addSparkListener(l)
    l
  }
}
