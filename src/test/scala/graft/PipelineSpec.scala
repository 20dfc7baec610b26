package graft

import java.nio.file.Files

import graft.datagen.DataGen
import graft.pipeline.Incremental
import org.apache.spark.sql.functions._

/** Pipeline smoke (SURVEY.md §5.4): the composed incremental DAG over
  * generator-shaped NDJSON, run twice — the second run of the SAME data
  * must be a no-op on the fact table (J4 idempotency), and quality
  * violations must gate/audit as the reference declares.
  */
class PipelineSpec extends SparkSpec {

  private def freshDirs(): (String, Incremental.Warehouse) = {
    val root = Files.createTempDirectory("graft_pipe").toString
    (s"$root/landing", Incremental.Warehouse(s"$root/wh"))
  }

  test("incremental run is idempotent: re-landing the same batch adds zero fact rows") {
    val (landing, wh) = freshDirs()
    DataGen.writeOrdersNdjson(spark, landing, n = 40, seed = 1L)
    val r1 = Incremental.run(spark, landing, wh, "batch1")
    assert(r1.stagedOrders == 40 && r1.newFactRows > 0)
    assert(r1.archivedFiles > 0, "processed files must move to archive")

    // land the SAME orders again (same seed → same order_ids)
    DataGen.writeOrdersNdjson(spark, landing, n = 40, seed = 1L)
    val r2 = Incremental.run(spark, landing, wh, "batch2")
    assert(r2.stagedOrders == 40 && r2.newFactRows == 0, "re-run must be a no-op")

    val fact = spark.read.parquet(wh.factOrders)
    assert(fact.count() == r1.newFactRows)
    // S7: fact is partitioned by order_date (partition column present)
    assert(fact.columns.contains("order_date"))
    // Observation metrics rode the run's existing action (no extra job)
    assert(r1.observed("n_lines") == r1.newFactRows)
    assert(r1.observed("revenue").asInstanceOf[Double] > 0.0)
    assert(r2.observed("n_lines") == 0L, "no-op re-run observes zero lines")
  }

  test("a write killed before its first commit leaves no fact table to read") {
    val (landing, wh) = freshDirs()
    // all a crashed first append leaves behind: the committer's scratch dir
    Files.createDirectories(java.nio.file.Paths.get(wh.factOrders, "_temporary", "0"))
    DataGen.writeOrdersNdjson(spark, landing, n = 40, seed = 10L)
    val lines = spark.read.json(landing).select(explode_outer(col("items"))).count()
    val r = Incremental.run(spark, landing, wh, "after_crash")
    assert(r.newFactRows == lines)
    assert(spark.read.parquet(wh.factOrders).count() == lines)
  }

  test("empty landing dir short-circuits (sensor semantics)") {
    val (landing, wh) = freshDirs()
    Files.createDirectories(java.nio.file.Paths.get(landing))
    val r = Incremental.run(spark, landing, wh, "empty")
    assert(r.stagedOrders == 0 && r.newFactRows == 0 && r.gates.isEmpty)
  }

  test("duplicate order_ids fail the run (README.md:124 gate)") {
    val (landing, wh) = freshDirs()
    // land the same file twice WITHOUT archiving between → duplicate ids
    DataGen.writeOrdersNdjson(spark, landing, n = 10, seed = 2L)
    DataGen.writeOrdersNdjson(spark, landing, n = 10, seed = 2L)
    val e = intercept[IllegalStateException] {
      Incremental.run(spark, landing, wh, "dup")
    }
    assert(e.getMessage.contains("duplicate_orders"))
  }

  test("amount mismatches warn into the audit table, not fail (README.md:125)") {
    val (landing, wh) = freshDirs()
    // corrupt total_amount on a known subset
    val corrupted = DataGen.orders(spark, 20, seed = 3L)
      .withColumn("total_amount",
        when(col("payment_status") === "failed", col("total_amount") + 100.0)
          .otherwise(col("total_amount")))
    val nCorrupt = corrupted.filter(col("payment_status") === "failed").count()
    corrupted.coalesce(1).write.mode("append").json(landing)
    val r = Incremental.run(spark, landing, wh, "mismatch")
    assert(r.newFactRows > 0, "warnings must not block the fact load")
    val audit = spark.read.parquet(wh.qualityChecks)
    assert(audit.filter(col("check_type") === "amount_mismatch").count() == nCorrupt)
    assert(audit.columns.toSet ==
      Set("check_id", "check_timestamp", "check_type", "entity_id",
        "issue_description", "severity", "batch_id"))
    // gate reports batch-local violations, not cumulative table history
    assert(r.gates.find(_.checkType == "amount_mismatch").get.violations == nCorrupt)

    // re-landing the already-loaded batch must not re-append audit rows
    corrupted.coalesce(1).write.mode("append").json(landing)
    val r2 = Incremental.run(spark, landing, wh, "mismatch_rerun")
    assert(r2.newFactRows == 0)
    assert(spark.read.parquet(wh.qualityChecks)
      .filter(col("check_type") === "amount_mismatch").count() == nCorrupt)

    // PARTIAL re-land: old (already audited) orders plus one genuinely new
    // clean order under a fresh batch_id — the audit gains nothing (the
    // semi-join restricts mismatch rows to this run's NEW orders).
    val fresh = DataGen.orders(spark, 1, seed = 99L)
    corrupted.unionByName(fresh).coalesce(1).write.mode("append").json(landing)
    val r3 = Incremental.run(spark, landing, wh, "mismatch_partial")
    assert(r3.newFactRows > 0, "the new order must load")
    assert(spark.read.parquet(wh.qualityChecks)
      .filter(col("check_type") === "amount_mismatch").count() == nCorrupt,
      "partial re-land must not re-audit previously landed orders")
  }

  test("hourly merge: touched hours recomputed, totals match fact (S5 dynamic overwrite)") {
    val (landing, wh) = freshDirs()
    DataGen.writeOrdersNdjson(spark, landing, n = 60, seed = 4L)
    Incremental.run(spark, landing, wh, "b1")
    val agg = spark.read.parquet(wh.aggHourly)
    val fact = spark.read.parquet(wh.factOrders)
    val expected = fact
      .groupBy(date_trunc("hour", col("order_timestamp")).as("metric_hour"))
      .agg(countDistinct(col("order_id")).as("n"))
    val got = agg.select(col("metric_hour"), col("total_orders"))
    val diff = expected.join(got, Seq("metric_hour"), "full_outer")
      .filter(col("n").isNull || col("total_orders").isNull || col("n") =!= col("total_orders"))
    assert(diff.count() == 0)
    // second batch with later orders only touches its own hours
    DataGen.writeOrdersNdjson(spark, landing, n = 30, seed = 5L,
      baseMs = DataGen.defaultBaseMs + 7200000L)
    Incremental.run(spark, landing, wh, "b2")
    val agg2 = spark.read.parquet(wh.aggHourly)
    assert(agg2.select("metric_hour").distinct().count() >
      agg.select("metric_hour").distinct().count())
  }

  test("dims enrich when loaded: known customer tier flows through") {
    val (landing, wh) = freshDirs()
    val root = wh.root.stripSuffix("/wh")
    // write dim CSVs then load them
    val custCsv = s"$root/customers_csv"
    val prodCsv = s"$root/products_csv"
    DataGen.customers(spark, 1000).coalesce(1)
      .write.option("header", "true").mode("overwrite").csv(custCsv)
    DataGen.products(spark, 100).coalesce(1)
      .write.option("header", "true").mode("overwrite").csv(prodCsv)
    Incremental.loadDims(spark, wh, custCsv, prodCsv)

    DataGen.writeOrdersNdjson(spark, landing, n = 50, seed = 6L)
    Incremental.run(spark, landing, wh, "b1")
    val fact = spark.read.parquet(wh.factOrders)
    val tiers = fact.select("customer_tier").distinct().collect().map(_.getString(0)).toSet
    // CUST-1000..4999 drawn, dims cover 1000..1999 → both real tiers and
    // the bronze fallback must appear (reference §2.10: ~75% miss rate)
    assert(tiers.contains("bronze") && tiers.size >= 2)
  }

  test("malformed NDJSON lines fail the schema-validation gate (README.md:126)") {
    val (landing, wh) = freshDirs()
    DataGen.writeOrdersNdjson(spark, landing, n = 5, seed = 8L)
    // append a structurally broken line to the landing dir
    val bad = java.nio.file.Paths.get(landing, "bad.json")
    Files.write(bad, "{not valid json at all\n".getBytes)
    val e = intercept[IllegalStateException] {
      Incremental.run(spark, landing, wh, "corrupt")
    }
    assert(e.getMessage.contains("schema_violations"))
    // the failed run must not have landed anything
    assert(!new java.io.File(wh.factOrders).exists())
  }

  test("daily batch: dims refresh + all five reports land (SURVEY §3.2)") {
    import graft.pipeline.Daily
    val (landing, wh) = freshDirs()
    val csvRoot = Files.createTempDirectory("graft_daily_csv").toString
    DataGen.writeCustomersCsv(spark, s"$csvRoot/customers", n = 200, seed = 9L)
    DataGen.writeProductsCsv(spark, s"$csvRoot/products", n = 100, seed = 9L)
    DataGen.writeOrdersNdjson(spark, landing, n = 60, seed = 9L)
    Incremental.run(spark, landing, wh, "b1")

    // orders land around 2026-01-01; a 30-day window from Jan 15 keeps
    // every ordering customer active
    val r = Daily.runDaily(spark, wh, s"$csvRoot/customers", s"$csvRoot/products",
      asOf = "2026-01-15")
    val dimCount = spark.read.parquet(wh.dimCustomers).count()
    assert(r.inactiveCustomers > 0 && r.inactiveCustomers <= dimCount,
      "customers without recent orders must report inactive")
    // every report directory is present and re-readable
    for (name <- Seq("inactive_customers", "low_stock", "revenue_trends",
      "top_products", "quality_summary"))
      spark.read.parquet(Daily.reportPath(wh, name)).schema // throws if absent
    assert(r.topProducts > 0 && r.topProducts <= 10)
    assert(r.trendRows > 0, "orders within the 90-day window must trend")
    // inactive = dim customers minus those with an order in the window
    val activeIds = spark.read.parquet(wh.factOrders)
      .select("customer_id").distinct()
      .join(spark.read.parquet(wh.dimCustomers), Seq("customer_id"), "left_semi")
      .count()
    assert(r.inactiveCustomers == dimCount - activeIds)

    // re-running the same day is idempotent (reports are snapshots)
    val r2 = Daily.runDaily(spark, wh, s"$csvRoot/customers", s"$csvRoot/products",
      asOf = "2026-01-15")
    assert(r2 == r)
  }
}
