package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a session. Bench, Verify, Smoke, PlanDump, ScalingBench, Probe
  * and the tests all run the engine under [[conf]], so a dev measurement and a test
  * see exactly what the bench sees; callers choose only the master and the shuffle
  * partition count.
  */
object GraftSession {

  /** Local worker threads: `SPARK_GRAFT_CPUS`, else every processor this JVM may use. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  /** Bench shuffle width: `SPARK_GRAFT_PARTITIONS`, else cpus*8, not cpus*4: with the
    * two headline jobs running concurrently, coarse waves (128 tasks / 32 cores = 4)
    * idle the box at every stage tail; measured A/B (BENCH/BASELINE.md round 5):
    * 256-512 partitions ~2x the 128 headline.
    */
  val partitions: Int = sys.env.get("SPARK_GRAFT_PARTITIONS").fold(cpus * 8)(_.toInt)

  /** The engine's single conf set. */
  val conf: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    // Polars-parity float semantics (NaN/Inf, no arithmetic errors); Spark 4 defaults
    // ANSI on, which turns zero-variance corr / div-by-zero into exceptions
    "spark.sql.ansi.enabled" -> "false",
    "spark.ui.enabled" -> "false",
    "spark.sql.adaptive.enabled" -> "true",
    // let AQE coalesce partitions INSIDE cached plans too — iterative ops (dup
    // clusters) cache per-round frames, and pinning them at full shuffle width
    // makes every tiny round pay hundreds of empty tasks
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // global-scalar aggregates (PMI total-N, scaler stats) sitting directly over a
    // parquet scan answer COUNT/MIN/MAX from footers instead of scanning rows —
    // measured ~10% off q_pmi warm; semantics unchanged (optimizer feature)
    "spark.sql.parquet.aggregatePushdown" -> "true")

  /** A builder carrying [[conf]]; callers may layer deployment settings on top. */
  def builder(master: String, partitions: Int): SparkSession.Builder =
    conf.foldLeft(SparkSession.builder().master(master).appName("graft")
      .config("spark.sql.shuffle.partitions", partitions.toString)) {
      case (b, (k, v)) => b.config(k, v)
    }

  def apply(master: String = s"local[$cpus]", partitions: Int = partitions): SparkSession = {
    val spark = builder(master, partitions).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
