package graft

/** Plan-audit tool: prints the formatted physical plan of one (or every)
  * SparkEntry query so scale hazards (CartesianProduct, unexpected full
  * sorts, missing pushed filters) are grep-able. Dev-only; not part of the
  * driver contract.
  *
  * Usage: runMain graft.Explain [queryName] [sfDir]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("ALL")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = Session.build()
    spark.sparkContext.setLogLevel("ERROR")
    val targets =
      if (name == "ALL") SparkEntry.queries.toSeq.sortBy(_._1)
      else SparkEntry.queries.filter(_._1 == name).toSeq
    targets.foreach { case (n, fn) =>
      println(s"===== $n =====")
      fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
