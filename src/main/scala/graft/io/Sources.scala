package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Readers for every input the engine consumes.
  *
  * Two families (FIXTURES.md):
  *  - the driver-mounted TPC-H-ish parquet star schema (`table`), used by
  *    SparkEntry.queries / the DuckDB oracle / the bench;
  *  - reference-shaped e-commerce inputs (NDJSON orders, CSV dims) whose
  *    contracts come from the reference generators
  *    (reference: generate_order.py:51-53, generate_customers.py:12,
  *    generate_product.py:12) and the explicit load schema
  *    (reference: order_processing_incremental.py:56-74 — autodetect=False,
  *    so we also pin schemas and never infer). SURVEY.md §2.1 S1-S3.
  */
object Sources {

  /** Driver testdata table: `<dir>/<name>.parquet` (TESTDATA.md).
    *
    * The `events` table has stored `ts` under two encodings across fixture
    * generations (FIXTURES.md): parquet TIMESTAMP(NANOS) as int64 (which the
    * Spark vectorized reader rejects — [PARQUET_TYPE_ILLEGAL] — unless the
    * `nanosAsLong` legacy conf maps it to raw longs) and, since the 2026-08
    * regen, plain TIMESTAMP(MICROS) without UTC adjustment (read as
    * TIMESTAMP_NTZ). We branch on the *actual read dtype* so both encodings
    * normalize to a microsecond `TimestampType`:
    *  - LongType (legacy nanos): rebuild with `timestamp_micros(ts DIV 1000L)`
    *    — `DIV` stays in long space (ns since epoch ≈ 1.7e18 overflows double
    *    mantissa, so a double roundtrip would corrupt it);
    *  - TimestampNTZType: cast to TimestampType (session tz is pinned UTC in
    *    every entrypoint, so the cast is value-preserving and keeps downstream
    *    `window()`/`unix_timestamp` semantics identical to prior rounds);
    *  - TimestampType: pass through.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // Footer schema resolves eagerly at read, so a nanos-encoded file
      // throws here unless the legacy conf is already set. Try the clean
      // read first — the common (timestamp[us]) path then never mutates
      // shared session config; only the legacy-nanos retry sets the flag
      // (session-level by necessity: it must be visible before footer
      // conversion).
      val path = s"$dir/$name.parquet"
      val df =
        try spark.read.parquet(path)
        catch {
          case e: Exception if isNanosRefusal(e) =>
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            spark.read.parquet(path)
        }
      df.schema("ts").dataType match {
        case LongType =>
          df.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts DIV 1000L)"))
        case TimestampNTZType =>
          df.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast(TimestampType))
        case _ => df
      }
    } else {
      spark.read.parquet(s"$dir/$name.parquet")
    }

  /** True when `e` is Spark's refusal to read a TIMESTAMP(NANOS)-annotated
    * parquet column without the legacy flag (AnalysisException with error
    * class PARQUET_TYPE_ILLEGAL in current Spark). Matched on MESSAGE, not
    * exception/error-class identity, to stay robust across error-class
    * renames — and factored out so the detection is testable against the
    * REAL error: AnalysisSmokeSpec writes a genuinely NANOS-annotated file
    * with the parquet-java Group writer and asserts both this predicate
    * and the full retry path, so a Spark upgrade that rewords the message
    * fails a named test instead of silently regressing [[table]]'s
    * events-encoding branch.
    */
  private[graft] def isNanosRefusal(e: Throwable): Boolean =
    Option(e.getMessage).exists(m =>
      m.contains("TIMESTAMP(NANOS") || m.contains("PARQUET_TYPE_ILLEGAL"))

  /** Orders NDJSON schema — reference: order_processing_incremental.py:56-74.
    * BigQuery INTEGER → LongType, FLOAT → DoubleType (money stays double for
    * semantic parity with the reference's ROUND/ABS tolerance checks,
    * SURVEY.md §1.2).
    */
  val ordersSchema: StructType = StructType(Seq(
    StructField("order_id", StringType, nullable = false),
    StructField("customer_id", StringType, nullable = false),
    StructField("order_timestamp", TimestampType, nullable = false),
    StructField("items", ArrayType(StructType(Seq(
      StructField("product_id", StringType),
      StructField("quantity", LongType),
      StructField("unit_price", DoubleType)
    ))), nullable = true),
    StructField("total_amount", DoubleType, nullable = false),
    StructField("payment_status", StringType, nullable = true),
    StructField("shipping_address", StructType(Seq(
      StructField("street", StringType),
      StructField("city", StringType),
      StructField("state", StringType),
      StructField("zipcode", StringType),
      StructField("country", StringType)
    )), nullable = true)
  ))

  /** dim_products CSV schema — reference: generate_product.py:12. */
  val productsSchema: StructType = StructType(Seq(
    StructField("product_id", StringType, nullable = false),
    StructField("product_name", StringType),
    StructField("category", StringType),
    StructField("price", DoubleType),
    StructField("stock_level", LongType)
  ))

  /** dim_customers CSV schema — reference: generate_customers.py:12. */
  val customersSchema: StructType = StructType(Seq(
    StructField("customer_id", StringType, nullable = false),
    StructField("name", StringType),
    StructField("email", StringType),
    StructField("registration_date", DateType),
    StructField("customer_tier", StringType)
  ))

  /** NDJSON order load, explicit schema, no autodetect (S2).
    * `pathGlobFilter` reproduces the reference's `.json`-only filename
    * predicate (P6 — reference: order_processing_incremental.py:224).
    */
  def readOrdersJson(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(ordersSchema)
      .option("pathGlobFilter", "*.json")
      .json(path)

  /** S2 load with schema-violation surfacing: PERMISSIVE parse that keeps
    * each malformed source line in `_corrupt_record` instead of silently
    * nulling fields — the reference's load-time schema validation
    * (README.md:126: BigQuery `autodetect=False` + REQUIRED modes make
    * the load job reject nonconforming rows and fail the task). The
    * pipeline gates on `filter(_corrupt_record IS NOT NULL)` before the
    * transform. The corrupt column rides alongside the declared schema —
    * callers drop it once the gate passes.
    */
  val CorruptCol = "_graft_corrupt"

  def readOrdersJsonValidated(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(ordersSchema.add(CorruptCol, StringType))
      .option("pathGlobFilter", "*.json")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .json(path)

  /** CSV dimension load with header (S3). */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** The parquet table at `path`, or None when it holds no data yet. Only
    * names Spark's readers see count as data: a write killed mid-job
    * leaves just `_temporary/`, and reading that directory fails schema
    * inference, so it must read as "no table" like a missing path does.
    */
  private[graft] def readParquetIfData(spark: SparkSession, path: String,
                                       mergeSchema: Boolean = false): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasData = fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    if (!hasData) None
    else if (mergeSchema) Some(spark.read.option("mergeSchema", "true").parquet(path))
    else Some(spark.read.parquet(path))
  }

  /** Archive processed files: move everything matching the glob from
    * `landing` to `archive/<batchId>/` (S6 — reference:
    * order_processing_incremental.py:213-227). Uses the Hadoop FileSystem
    * API so the same code works on local disk, HDFS, or object stores.
    * Returns the number of files moved.
    */
  def archiveFiles(spark: SparkSession, landing: String, archive: String,
                   batchId: String, suffix: String = ".json"): Int = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(landing)
    val fs = src.getFileSystem(conf)
    if (!fs.exists(src)) return 0
    val dst = new Path(archive, batchId)
    fs.mkdirs(dst)
    val files = fs.listStatus(src).filter(s => s.isFile && s.getPath.getName.endsWith(suffix))
    files.foreach(s => fs.rename(s.getPath, new Path(dst, s.getPath.getName)))
    files.length
  }
}
