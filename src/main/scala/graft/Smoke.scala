package graft

/** Dev smoke runner mirroring the driver's t1 check: SparkEntry.entry must
  * return >0 rows on sf0.001. Prints the row count and the first rows.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.build()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    println(s"[smoke] entry rows=${df.count()}")
    df.show(5, truncate = false)
    spark.stop()
  }
}
