package graft.pipeline

import graft._
import graft.functions.BqFloatStr
import graft.io.Sources
import graft.ops.{Nested, Quality, Relational}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The incremental order pipeline — the composed equivalent of the
  * reference DAG (order_processing_incremental.py:236-237):
  *
  *   sensor → load → {dup gate, mismatch audit} → fact transform
  *          → hourly-aggregate merge → archive
  *
  * Each Airflow task boundary (a process+network hop in the reference)
  * collapses to a DataFrame stage; only the aggregations and the
  * idempotency anti-join shuffle, and dims broadcast (SURVEY.md §3.1).
  *
  * Physical sinks:
  *  - S4 append: fact rows append to `fact_orders`, audit rows to
  *    `data_quality_checks`;
  *  - S7 layout: fact partitioned by `order_date` (README.md:103
  *    "partitioned by date" — date filters prune partitions at read);
  *  - S5 merge: `agg_hourly_metrics` recomputed for the touched hours
  *    only, written with DYNAMIC partition overwrite on `metric_hour` —
  *    the pure-OSS MERGE (no Delta dependency; SURVEY.md §7.3);
  *  - S6 archive: processed landing files move to `archive/<batchId>/`.
  *
  * Idempotency: the J4 anti-join guard (py:165-168) makes re-running a
  * batch a no-op — new fact rows are only those whose order_id is absent
  * from the existing fact table.
  */
object Incremental {

  case class RunResult(batchId: String, stagedOrders: Long, newFactRows: Long,
                       gates: Seq[Quality.GateResult], archivedFiles: Int,
                       observed: Map[String, Any] = Map.empty)

  /** Warehouse paths (plain parquet directories — object-store friendly). */
  case class Warehouse(root: String) {
    val factOrders = s"$root/fact_orders"
    val aggHourly = s"$root/agg_hourly_metrics"
    val qualityChecks = s"$root/data_quality_checks"
    val dimCustomers = s"$root/dim_customers"
    val dimProducts = s"$root/dim_products"
  }

  /** S3 daily dimension refresh: CSV → overwrite parquet. */
  def loadDims(spark: SparkSession, wh: Warehouse,
               customersCsv: String, productsCsv: String): Unit = {
    Sources.readCsv(spark, customersCsv, Sources.customersSchema)
      .write.mode(SaveMode.Overwrite).parquet(wh.dimCustomers)
    Sources.readCsv(spark, productsCsv, Sources.productsSchema)
      .write.mode(SaveMode.Overwrite).parquet(wh.dimProducts)
  }

  /** Snapshot-table paths for the reader-safe dim refresh. */
  def dimCustomersSnap(wh: Warehouse): String = s"${wh.root}/dim_customers_snap"
  def dimProductsSnap(wh: Warehouse): String = s"${wh.root}/dim_products_snap"

  /** Reader-safe dim refresh: [[loadDims]] reproduces the reference's
    * WRITE_TRUNCATE semantics on a bare directory, so a query whose file
    * listing pinned the OLD dim snapshot crashes mid-flight when the
    * overwrite deletes its files — tolerable for the reference's
    * midnight-batch window, fatal once resident streams and ad-hoc
    * readers share the warehouse (ManifestSpec demonstrates the crash
    * and this fix side by side). This variant lands each dim as a
    * [[graft.io.Manifest]] snapshot commit instead: in-flight readers
    * keep their version's files, new readers resolve the fresh one, and
    * `Manifest.vacuum` bounds retention during maintenance.
    */
  def loadDimsManifest(spark: SparkSession, wh: Warehouse,
                       customersCsv: String, productsCsv: String): Unit = {
    graft.io.Manifest.write(
      Sources.readCsv(spark, customersCsv, Sources.customersSchema),
      dimCustomersSnap(wh))
    graft.io.Manifest.write(
      Sources.readCsv(spark, productsCsv, Sources.productsSchema),
      dimProductsSnap(wh))
  }

  /** Session conf that scopes an overwrite to the partitions it writes —
    * the hourly merge here and the streaming facade's merges.
    */
  private[graft] val DynamicOverwrite =
    "spark.sql.sources.partitionOverwriteMode" -> "dynamic"

  /** One incremental run over whatever .json files sit in `landingDir`.
    * Batch equivalent of the 15-min cron tick; the streaming facade
    * (graft.streaming.IncrementalStream) drives the same stages from a
    * file source.
    */
  def run(spark: SparkSession, landingDir: String, wh: Warehouse,
          batchId: String, failOnDuplicates: Boolean = true): RunResult = {
    val stagingRaw = Sources.readOrdersJsonValidated(spark, landingDir)
    // pin/unpin, not bare cache/unpersist: the repo-wide CacheScope
    // convention — a caller-level release(spark) can then reclaim
    // anything a crashed run left pinned, and the registry stays an
    // accurate census of live operator caches (this module was the last
    // one outside the convention, r14). Pinned BEFORE the sensor count,
    // so that count is the batch's one JSON parse and fills the cache
    // every later gate reads.
    graft.CacheScope.pin(stagingRaw)
    try {
      val staged = stagingRaw.count()
      if (staged == 0)
        return RunResult(batchId, 0, 0, Nil, 0) // sensor: nothing landed

      // Schema-validation gate (README.md:126): a malformed NDJSON line
      // fails the load, like BigQuery's schema-checked load job would.
      // Gate BEFORE any transform — a corrupt line parses every declared
      // field as NULL and would otherwise flow into the fact silently.
      val corrupt = Quality.gate("schema_violations",
        stagingRaw.filter(col(Sources.CorruptCol).isNotNull))
      if (!corrupt.passed)
        throw new IllegalStateException(
          s"schema_violations gate failed: ${corrupt.violations} malformed lines in batch $batchId")
      val staging = stagingRaw.drop(Sources.CorruptCol)

      // Quality gates (A1/A2): duplicate order_ids FAIL the run
      // (README.md:124); amount mismatches WARN into the audit table
      // (README.md:125). The mismatch check recomputes each order total
      // from its items array with the A3 HOF — per-row map work, no
      // shuffle, unlike an explode+regroup.
      val dupViolations = Relational.duplicates(staging, Seq("order_id"))
      val dupGate = Quality.gate("duplicate_orders", dupViolations)
      if (failOnDuplicates && !dupGate.passed)
        throw new IllegalStateException(
          s"duplicate_orders gate failed: ${dupGate.violations} duplicate ids in batch $batchId")

      val mismatches = staging
        .withColumn("calculated_total", Nested.itemsTotal(col("items")))
        .filter(abs(col("calculated_total") - dec2(col("total_amount"))) > 0.01)
        .select(
          uuid().as("check_id"),
          current_timestamp().as("check_timestamp"),
          lit("amount_mismatch").as("check_type"),
          col("order_id").as("entity_id"),
          // BigQuery-parity FLOAT64 rendering (py:108 CONCAT coercion):
          // integral money prints "100", not Spark's "100.0".
          concat(lit("Calculated: "), BqFloatStr(col("calculated_total").cast("double")),
            lit(", Reported: "), BqFloatStr(col("total_amount").cast("double"))).as("issue_description"),
          lit("warning").as("severity"),
          lit(batchId).as("batch_id"))
      graft.CacheScope.pin(mismatches)
      // Gate on THIS batch's violations only — the cumulative audit table
      // would report all history (and double-count re-runs).
      val mismGate = Quality.gate("amount_mismatch", mismatches)

      // Fact transform (J1/P5/A3 over the real nested shape) with the J4
      // idempotency anti-join against the existing fact table.
      val dimCustomers = Sources.readParquetIfData(spark, wh.dimCustomers)
        .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          Sources.customersSchema))
      val dimProducts = Sources.readParquetIfData(spark, wh.dimProducts)
        .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          Sources.productsSchema))
      val enriched = Nested.factTransform(staging, dimCustomers, dimProducts)
      // J4 guard via the bloom-prefiltered route (Distribution.bloomAntiJoin):
      // result is EXACTLY the plain anti-join, but the fact table is only
      // scanned (map-side partial blooms), never shuffled — the dominant
      // cost of a 15-minute cadence against a 100 TB fact otherwise.
      val guarded = Sources.readParquetIfData(spark, wh.factOrders) match {
        case Some(existing) =>
          ops.Distribution.bloomAntiJoin(enriched, existing.select("order_id"),
            "order_id", "order_id")
        case None => enriched
      }
      // Observation metrics ride the count() action below — revenue/line
      // accounting per batch with ZERO extra jobs (the production way to
      // emit per-run dataset metrics; an extra .agg() would rescan).
      val obs = org.apache.spark.sql.Observation(s"incremental_$batchId")
      val newRows = guarded.observe(obs,
        count(lit(1)).as("n_lines"),
        sum(col("line_total").cast("double")).as("revenue"),
        count(when(col("product_name").isNull, 1)).as("n_missing_product"))
      graft.CacheScope.pin(newRows)
      val newCount = newRows.count()
      val observed = obs.get

      // Touched dates/hours come from the STAGED batch, not the
      // anti-joined new rows: a crash-rerun (runWithRetries) re-stages a
      // batch whose rows already landed in the fact (newCount == 0) but
      // whose hourly overwrite may not have committed — deriving the
      // literals from newRows would skip the merge below and leave
      // agg_hourly stale forever. The collected sets are tiny (bounded by
      // the batch's time span) and as literals they drive static partition
      // pruning below. Collected BEFORE the append regardless (the append
      // recaches the anti-join against the new fact contents).
      // One distinct job yields both sets (a date is a function of its hour).
      val touched = staging
        .select(date_trunc("hour", col("order_timestamp")).as("h"),
          to_date(col("order_timestamp")).as("d"))
        .distinct().collect()
      val touchedHours = touched.map(_.getTimestamp(0))
      val touchedDates = touched.map(_.getDate(1)).distinct

      // S4 audit append, idempotent like the fact load: only mismatches on
      // orders this run actually adds (semi-join against the anti-joined
      // new rows — a partial re-land would otherwise re-append audit rows
      // for every previously landed order), and never twice for one
      // batch_id. Runs BEFORE the fact append, while the cached anti-join
      // still reflects the pre-append fact table.
      // mergeSchema: the guard must see batch_id even when the OLDEST files
      // in a pre-existing warehouse predate that column — the default
      // single-file schema pick could omit it, making the guard report
      // false and a crash-rerun re-append this batch's audit rows.
      val alreadyAudited =
        Sources.readParquetIfData(spark, wh.qualityChecks, mergeSchema = true)
          .exists { df =>
            df.columns.contains("batch_id") &&
              df.filter(col("batch_id") === batchId).limit(1).count() > 0
          }
      if (newCount > 0 && !alreadyAudited && mismGate.violations > 0) {
        val newMismatches = mismatches.join(
          newRows.select(col("order_id")).distinct(),
          mismatches("entity_id") === col("order_id"), "left_semi")
        if (newMismatches.limit(1).count() > 0)
          newMismatches.write.mode(SaveMode.Append).parquet(wh.qualityChecks)
      }
      graft.CacheScope.unpin(mismatches)

      // S4 + S7: append, partitioned by order_date (date-filtered reads
      // prune partitions; README.md:103).
      if (newCount > 0)
        newRows.write.mode(SaveMode.Append).partitionBy("order_date").parquet(wh.factOrders)

      // S5 physical MERGE: recompute ONLY the hours present in this batch
      // from the full fact table and dynamically overwrite just those
      // metric_hour partitions. Semantics = reference MERGE (py:182-204):
      // matched hours update, new hours insert, untouched hours keep.
      // The isin on the partition column prunes at file-listing time —
      // at 100 TB the scan touches only this batch's date partitions.
      // Runs even when newCount == 0 (every staged row already in the
      // fact): that is exactly the crash-rerun window where the fact
      // append committed but this overwrite didn't, and recomputing
      // already-correct hours is idempotent — a bounded recompute is the
      // price of the retry contract.
      if (touchedHours.nonEmpty) Sources.readParquetIfData(spark, wh.factOrders).foreach { fact =>
        val hourly = fact
          .filter(col("order_date").isin(touchedDates.toIndexedSeq: _*))
          .groupBy(date_trunc("hour", col("order_timestamp")).as("metric_hour"))
          .agg(
            countDistinct(col("order_id")).as("total_orders"),
            sumMoney(col("total_amount")).as("total_revenue"),
            avgMoney(col("total_amount")).as("avg_order_value"),
            countDistinct(col("customer_id")).as("unique_customers"))
          .withColumn("updated_at", current_timestamp())
          .filter(col("metric_hour").isin(touchedHours.toIndexedSeq: _*))
        graft.withConf(spark, DynamicOverwrite) {
          hourly.write.mode(SaveMode.Overwrite).partitionBy("metric_hour").parquet(wh.aggHourly)
        }
      }

      // S6: archive processed files under the batch id.
      val archived = Sources.archiveFiles(spark, landingDir, s"${wh.root}/archive", batchId)

      graft.CacheScope.unpin(newRows)
      RunResult(batchId, staged, newCount, Seq(dupGate, mismGate), archived, observed)
    } finally graft.CacheScope.unpin(stagingRaw)
  }

  /** `run` under the reference DAG's retry contract
    * (order_processing_incremental.py:20-21: retries=2, retry_delay=5 min).
    * Sound to wrap the WHOLE tick because every stage is idempotent: files
    * are archived only after all writes succeed (a failed attempt leaves
    * them in `landingDir` for the retry to re-stage), the fact append is
    * anti-join guarded, the audit append is batch_id guarded, and the
    * hourly aggregate is a keyed dynamic-partition overwrite whose hour
    * literals derive from the STAGED batch — so a crash between the fact
    * append and the hourly merge still recomputes those hours on retry
    * (newCount == 0 must not skip the merge). A retry after a partial
    * failure therefore completes the batch exactly once.
    */
  def runWithRetries(spark: SparkSession, landingDir: String, wh: Warehouse,
                     batchId: String, failOnDuplicates: Boolean = true,
                     policy: RetryPolicy = RetryPolicy(),
                     sleep: Long => Unit = Thread.sleep,
                     onAttempt: RetryAttempt => Unit = _ => ()): RunResult =
    Retry.withRetries(policy, sleep, onAttempt) { _ =>
      run(spark, landingDir, wh, batchId, failOnDuplicates)
    }
}
