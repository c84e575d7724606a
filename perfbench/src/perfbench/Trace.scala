package perfbench

import org.apache.spark.BusAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Task- and stage-level counters (the `exec` layer), cumulative since attach. */
final class ExecListener extends SparkListener {
  private val running = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val stageSkews = mutable.ArrayBuffer.empty[Double]
  private var taskMs, tasks, stages, shuffleWriteBytes, spillBytes = 0.0

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    running.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
    }
  }

  /** A stage's skew is its slowest task over its median task. */
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    running.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach { ds =>
      if (ds.size >= 2) {
        val s = ds.sorted
        stageSkews += s.last.toDouble / math.max(1L, s(s.size / 2))
      }
    }
  }

  def snapshot(): Map[String, Double] = synchronized(Map(
    "exec.task_ms" -> taskMs, "exec.tasks" -> tasks, "exec.stages" -> stages,
    "exec.shuffle_write_mb" -> shuffleWriteBytes / 1e6, "exec.spill_mb" -> spillBytes / 1e6,
    "exec.skew_seq" -> stageSkews.size.toDouble))

  def worstSkewSince(seq: Int): Double = synchronized(
    stageSkews.drop(seq).foldLeft(0.0)(math.max))
}

/** Catalyst phase times per executed query (the `plan` layer), cumulative. */
final class PlanListener extends QueryExecutionListener {
  private var analysis, optimization, planning, queries = 0.0
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val ph = qe.tracker.phases
      def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      analysis += ms("analysis"); optimization += ms("optimization"); planning += ms("planning")
      queries += 1
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def snapshot(): Map[String, Double] = synchronized(Map(
    "plan.analysis_ms" -> analysis, "plan.optimization_ms" -> optimization,
    "plan.planning_ms" -> planning, "plan.queries" -> queries))
}

final case class Span(id: Int, parent: Int, threads: Int, iter: Int, name: String,
    startNs: Long, endNs: Long, counters: Map[String, Double]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Records a span around each call the benchmark makes into a layer of the
  * program, with the counter deltas that accrued inside it. Off by default: an
  * inactive tracer only runs the body. Spans stay in memory until [[json]].
  */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var session: Option[(SparkSession, ExecListener, PlanListener)] = None
  var iteration = 0
  var threads = 0
  val t0: Long = System.nanoTime()

  def active: Boolean = session.isDefined

  def attach(spark: SparkSession): Unit = if (session.isEmpty) {
    val (e, p) = (new ExecListener, new PlanListener)
    spark.sparkContext.addSparkListener(e)
    spark.listenerManager.register(p)
    session = Some((spark, e, p))
  }

  def detach(): Unit = session.foreach { case (spark, e, p) =>
    BusAccess.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(e)
    spark.listenerManager.unregister(p)
    session = None
  }

  /** Cumulative counters after every posted listener event has been delivered. */
  private def counters(): Map[String, Double] = session match {
    case Some((spark, e, p)) =>
      BusAccess.drain(spark.sparkContext)
      val cg = CodegenMetrics.METRIC_COMPILATION_TIME
      e.snapshot() ++ p.snapshot() ++ Map(
        "codegen.classes" -> cg.getCount.toDouble,
        // the histogram keeps a sample, not a sum: count x sampled mean
        "codegen.compile_ms" -> cg.getCount * cg.getSnapshot.getMean,
        "exec.gc_ms" -> Main.gcMillis().toDouble)
    case None => Map.empty
  }

  def span[T](name: String)(body: => T): T = session match {
    case None => body
    case Some((_, e, _)) =>
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val before = counters()
      val start = System.nanoTime()
      stack = id :: stack
      try body
      finally {
        val end = System.nanoTime()
        stack = stack.tail
        val after = counters()
        val skewSeq = before.getOrElse("exec.skew_seq", 0.0).toInt
        val delta = (after - "exec.skew_seq").map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) } +
          ("exec.skew" -> e.worstSkewSince(skewSeq))
        spans += Span(id, parent, threads, iteration, name, start, end, delta)
      }
  }

  def all: Seq[Span] = spans.toSeq

  /** Figures a layer reports about its own output, recorded only while tracing. */
  val notes = mutable.Map.empty[String, Double]
  def note(key: String, value: => Double): Unit = if (active) notes(key) = value

  /** Span duration minus the time its children cover (children run one at a time). */
  def selfMs(s: Span): Double =
    s.ms - spans.filter(_.parent == s.id).map(_.ms).sum

  def json: String = spans.sortBy(_.id).map { s =>
    val cs = s.counters.toSeq.sortBy(_._1).map { case (k, v) => s"\"$k\":${Main.num(v)}" }
    s"""{"id":${s.id},"parent":${s.parent},"threads":${s.threads},"iteration":${s.iter},""" +
      s""""name":"${s.name}",""" +
      s""""start_ms":${Main.num((s.startNs - t0) / 1e6)},"end_ms":${Main.num((s.endNs - t0) / 1e6)},""" +
      s""""self_ms":${Main.num(selfMs(s))},"counters":{${cs.mkString(",")}}}"""
  }.mkString("[\n", ",\n", "\n]")
}

/** Row counts from an executed physical plan's SQL metrics. */
object PlanMetrics {
  import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
  import org.apache.spark.sql.execution.joins.BaseJoinExec

  /** Every node, looking through adaptive plans, query stages and cached relations. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
    case other => other.children.flatMap(nodes)
  })

  private def rows(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)

  /** Rows out of the first filter or join whose condition mentions `name` (a
    * column, or the expression behind it once the optimizer has inlined it) over
    * the rows into it from its first child.
    */
  def filterYield(plan: SparkPlan, name: String): Option[Double] =
    nodes(plan).find { n =>
      val cond = n match {
        case f: FilterExec => Some(f.condition)
        case j: BaseJoinExec => j.condition
        case _ => None
      }
      cond.exists(_.toString.toLowerCase.contains(name.toLowerCase))
    }.flatMap { n =>
      val in = n.children.headOption.flatMap(c => nodes(c).iterator.flatMap(rows).nextOption())
      for (o <- rows(n); i <- in if i > 0) yield o.toDouble / i
    }
}
