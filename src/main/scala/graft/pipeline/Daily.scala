package graft.pipeline

import graft._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The daily batch pipeline — the composed equivalent of the reference's
  * DECLARED `daily_batch_processing` DAG (README.md:105-116, 140-143; the
  * reference never wrote its code — README.md:243 "create this based on
  * requirements" — so this module realizes the declared surface):
  *
  *   load dims (S3 CSV overwrite) → reports:
  *     inactive customers (J7), low-stock alert (A10),
  *     90-day revenue trends (W2), top-10 products (W1)
  *   → quality audit summary (A9)
  *
  * All reports read the warehouse fact written by [[Incremental]]
  * (`partitionBy("order_date")`), so the 90-day trend's date filter
  * prunes partitions at file-listing time — at 100 TB each daily run
  * touches 90 days of files, never the full history. Aggregates shuffle
  * once on their group keys; dims broadcast; top-k plans as
  * TakeOrderedAndProject. Reports overwrite their own directory per run
  * (a report is a snapshot, not a log — re-running a day is idempotent).
  */
object Daily {

  case class DailyResult(inactiveCustomers: Long, lowStock: Long,
                         trendRows: Long, topProducts: Long, auditRows: Long)

  def reportPath(wh: Incremental.Warehouse, name: String): String =
    s"${wh.root}/reports/$name"

  /** J7 (README.md:112,141): customers with no order in the trailing
    * `days` before `asOf` — including customers with no orders at all
    * (left join keeps them; max(order_date) is NULL).
    */
  def inactiveCustomers(dimCustomers: DataFrame, fact: DataFrame,
                        asOf: String, days: Int = 30): DataFrame = {
    val lastOrder = fact.groupBy("customer_id")
      .agg(max(col("order_date")).as("last_order_date"))
    dimCustomers
      .join(lastOrder, Seq("customer_id"), "left")
      .filter(col("last_order_date").isNull ||
        col("last_order_date") < date_sub(lit(asOf).cast("date"), days))
      .select("customer_id", "name", "customer_tier", "last_order_date")
  }

  /** A10 (README.md:113,142): high demand + low inventory. One shuffle
    * (demand agg over the fact), then a broadcast dim join.
    */
  def lowStock(fact: DataFrame, dimProducts: DataFrame,
               demandMin: Double, stockMax: Long): DataFrame =
    fact
      .filter(col("product_id").isNotNull)
      .groupBy("product_id")
      .agg(sum(col("quantity")).as("units_sold"))
      .filter(col("units_sold") >= demandMin)
      .join(broadcast(dimProducts), Seq("product_id"))
      .filter(col("stock_level") <= stockMax)
      .select(col("product_id"), col("product_name"), col("units_sold"),
        col("stock_level"))

  /** W2 (README.md:114,143): daily revenue per region over the trailing
    * `days`, with a 7-day moving average. The date filter lands on the
    * partition column, so the scan prunes to the window.
    */
  def revenueTrends(fact: DataFrame, asOf: String, days: Int = 90): DataFrame = {
    val daily = fact
      .filter(col("order_date") >= date_sub(lit(asOf).cast("date"), days) &&
        col("order_date") <= lit(asOf).cast("date"))
      .groupBy("region", "order_date")
      .agg(sumMoney(col("line_total")).as("revenue"))
    val w = Window.partitionBy("region").orderBy("order_date").rowsBetween(-6, 0)
    // exact window sum cast to double BEFORE the division — repo-wide
    // moving-average policy (decimal-division-then-cast rounds differently)
    daily.withColumn("revenue_ma7",
      sum(col("revenue")).over(w).cast("double") / count(lit(1)).over(w))
  }

  /** W1 (README.md:136): top-k selling products. */
  def topProducts(fact: DataFrame, k: Int = 10): DataFrame =
    fact
      .filter(col("product_id").isNotNull)
      .groupBy("product_id", "product_name")
      .agg(sum(col("quantity")).as("units_sold"))
      .orderBy(col("units_sold").desc, col("product_id"))
      .limit(k)

  /** One daily run: refresh dims, write the four reports + the A9 audit
    * summary under `<root>/reports/`, return row counts.
    */
  def runDaily(spark: SparkSession, wh: Incremental.Warehouse,
               customersCsv: String, productsCsv: String,
               asOf: String): DailyResult = {
    Incremental.loadDims(spark, wh, customersCsv, productsCsv)
    val fact = spark.read.parquet(wh.factOrders)
    val dimCustomers = spark.read.parquet(wh.dimCustomers)
    val dimProducts = spark.read.parquet(wh.dimProducts)

    def write(df: DataFrame, name: String): Long = {
      df.write.mode(SaveMode.Overwrite).parquet(reportPath(wh, name))
      spark.read.parquet(reportPath(wh, name)).count()
    }
    val inactive = write(inactiveCustomers(dimCustomers, fact, asOf), "inactive_customers")
    val low = write(lowStock(fact, dimProducts, demandMin = 1.0, stockMax = 500L), "low_stock")
    val trends = write(revenueTrends(fact, asOf), "revenue_trends")
    val top = write(topProducts(fact), "top_products")
    val audit = {
      val summary = graft.io.Sources
        .readParquetIfData(spark, wh.qualityChecks, mergeSchema = true)
        .map(ops.Quality.qualitySummary).getOrElse {
          // no violations ever logged: an EMPTY report still lands ("zero
          // issues" is a statement; an absent file is a question)
          import org.apache.spark.sql.types._
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(Seq(StructField("check_type", StringType),
              StructField("severity", StringType),
              StructField("n_violations", LongType, nullable = false))))
        }
      write(summary, "quality_summary")
    }
    DailyResult(inactive, low, trends, top, audit)
  }
}
