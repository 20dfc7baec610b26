package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DecimalType, TimestampType}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** The driver's hash compare reads our parquet through pyarrow (DECIMAL →
    * python Decimal, str "154828.60") but the oracle through duckdb→pandas
    * (DECIMAL → float64, str "154828.6") — any decimal value with a trailing
    * zero in its scale digits mismatches on representation alone (all nine
    * r2 hash-misses were exactly the queries with decimal outputs). Policy:
    * aggregate in exact DECIMAL (order-independent), but emit DOUBLE — the
    * decimal→double cast is correctly rounded in both engines, so values are
    * bit-identical and both sides stringify as float64. oracleSql carries the
    * matching outer CAST(... AS DOUBLE).
    */
  def doubleize(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map { f =>
      f.dataType match {
        case _: DecimalType => col(f.name).cast("double").as(f.name)
        // tz-naive like DuckDB's TIMESTAMP: pyarrow reads Spark's default
        // isAdjustedToUTC=true as timestamp[us, tz=UTC] → str mismatch.
        case TimestampType  => col(f.name).cast("timestamp_ntz").as(f.name)
        case _              => col(f.name)
      }
    }.toIndexedSeq: _*)

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // dev convenience: an optional 3rd arg restricts the dump to a
    // comma-separated subset of query names (driver always runs all)
    val only = args.lift(2).map(_.split(",").toSet)
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    val spark = Session.build()
    // int64 micros keeps the arrow schema identical to DuckDB's TIMESTAMP
    // (INT96 reads back as timestamp[ns]).
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark.sparkContext.setLogLevel("WARN")
    graft.squelchIntendedUnpersistWarn()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (wanted(name)) {
        try {
          val df = fn(spark, sfDir)
          doubleize(df).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          // free localCheckpoint frames the result view pins (the
          // trajectory/loop operators) — clearCache doesn't cover them
          graft.releaseCheckpoints(df)
        }
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        finally spark.catalog.clearCache()
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => wanted(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // subset mode shrinks oracle_sql.json: re-checking a previously-full
    // outDir would silently validate only the subset (selfcheck iterates
    // the oracle keys) — make the reuse hazard loud
    if (only.isDefined)
      System.err.println(s"[verify] SUBSET dump (${only.get.size} queries): " +
        s"$outDir/oracle_sql.json now lists only these — do not reuse this " +
        "outDir for a full check without re-running Verify unfiltered")
    spark.stop()
  }
}
