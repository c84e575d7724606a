package graft

/** Replicates the driver's smoke check: SparkEntry.entry must return rows > 0. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession("local[4]", 4)
    val df = SparkEntry.entry(spark)
    println("ENTRY_COLS=" + df.columns.mkString(","))
    println("ENTRY_ROWS=" + df.count())
    df.show(3, truncate = false)
    spark.stop()
  }
}
