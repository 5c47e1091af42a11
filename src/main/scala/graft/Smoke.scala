package graft

/** Replicates the driver's t1 smoke: SparkEntry.entry must return >0 rows
  * on sf0.001.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"ENTRY_ROWS=$n")
    df.show(5, truncate = false)
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
