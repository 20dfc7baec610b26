package graft

/** Dev tool: writes PLANS.md — one row per SparkEntry query summarizing
  * the physical plan's scale-relevant shape (exchanges, join strategies,
  * notable operators). The compact companion to `graft.Explain`'s full
  * formatted dumps; regenerate after plan-affecting changes with
  * `sbt "runMain graft.PlanAudit"`.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session.build()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit (generated by graft.PlanAudit)\n\n")
    sb.append(s"One row per `SparkEntry` query at `$sfDir`. Exchanges counted on\n")
    sb.append("the UNRESOLVED-AQE plan (AQE may further coalesce at runtime);\n")
    sb.append("joins list the planned strategies. `q_dedup_clusters` runs its\n")
    sb.append("connected components eagerly at plan-build time, so its row reflects\n")
    sb.append("the final projection only. At this scale the edge table fits\n")
    sb.append("`spark.sql.autoBroadcastJoinThreshold` (16 bytes an edge), so no\n")
    sb.append("distributed round runs: the driver finishes with union-find, and the\n")
    sb.append("projection broadcast-joins the node set to that one-slice table (both\n")
    sb.append("it and the label table carry broadcast hints); `-1` keeps every round\n")
    sb.append("distributed. See Dedup.clusterComponents for the per-round shape.\n\n")
    sb.append("| query | exchanges | joins | notable operators |\n")
    sb.append("|---|---|---|---|\n")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toSeq
      def cnt(s: String) = lines.count(_.contains(s))
      val exchanges = cnt("Exchange")
      val joins = Seq(
        "BroadcastHashJoin" -> "bcast-hash", "SortMergeJoin" -> "sort-merge",
        "ShuffledHashJoin" -> "shuffled-hash",
        "BroadcastNestedLoopJoin" -> "bcast-loop")
        .collect { case (k, label) if cnt(k) > 0 => s"$label×${cnt(k)}" }
        .mkString(", ")
      val notable = Seq("TakeOrderedAndProject", "WindowGroupLimit", "Expand",
        "Generate", "HashAggregate", "ObjectHashAggregate", "SortAggregate",
        "Window ")
        .collect { case k if cnt(k) > 0 => s"${k.trim}×${cnt(k)}" }
        .mkString(", ")
      sb.append(s"| $name | $exchanges | ${if (joins.isEmpty) "—" else joins} | ${if (notable.isEmpty) "—" else notable} |\n")
      spark.catalog.clearCache()
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("PLANS.md"),
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[planaudit] wrote PLANS.md (${SparkEntry.queries.size} queries)")
    spark.stop()
  }
}
