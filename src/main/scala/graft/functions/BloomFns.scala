package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.{call_function, lit, xxhash64}

/** SQL bindings for Spark's internal runtime-filter bloom expressions
  * (`BloomFilterAggregate` / `BloomFilterMightContain` — the codegen'd
  * machinery behind InjectRuntimeFilter, which Spark does not expose in
  * the public function registry). Registering them lets the library build
  * a bloom sketch as an ordinary distributed aggregate (map-side partial
  * blooms, one merged row out) and probe it as a codegen'd scalar — no
  * UDF in the hot path. [[sketch]] and [[mightContain]] are the one route
  * both bloom operators take: [[graft.ops.Distribution.bloomAntiJoin]]
  * and [[graft.ops.text.Corpus.decontaminateBloom]].
  */
object BloomFns {

  val aggFnName = "graft_bloom_agg"
  val mightContainFnName = "graft_bloom_might_contain"

  /** graft_bloom_agg(xxhash64(key) [, estimatedItems [, numBits]]) */
  def aggBuilder(exprs: Seq[Expression]): Expression = exprs match {
    case Seq(child) => new BloomFilterAggregate(child)
    case Seq(child, est) => new BloomFilterAggregate(child, est)
    case Seq(child, est, bits) => new BloomFilterAggregate(child, est, bits)
    case _ => throw new IllegalArgumentException(
      s"$aggFnName expects 1-3 arguments (hash, estimatedItems, numBits), got ${exprs.length}")
  }

  /** graft_bloom_might_contain(bloomConstant, xxhash64(key)) */
  def mightContainBuilder(exprs: Seq[Expression]): Expression = {
    if (exprs.length != 2)
      throw new IllegalArgumentException(
        s"$mightContainFnName expects exactly 2 arguments (bloom, hash), got ${exprs.length}")
    BloomFilterMightContain(exprs.head, exprs(1))
  }

  /** Bloom sketch of `df`'s `key` values as a SCALAR SUBQUERY column —
    * the shape Spark's own InjectRuntimeFilter plans. The aggregate runs
    * when the consuming plan executes (subquery reuse builds it once per
    * action even when several plan branches probe it), and the plan holds
    * a subquery reference, not the sketch: a collected `lit(bytes)` would
    * be ~1.2 MB per 10⁶ expected items, rendered as hex into every later
    * plan's string form and re-analysed by every plan that contains it.
    * NULL when `df` has no rows (a NULL key still hashes to a value and is
    * inserted); `expectedItems` sizes it (~1% fpp at that count).
    */
  def sketch(df: DataFrame, key: Column, expectedItems: Long): Column = {
    register(df.sparkSession)
    df.agg(call_function(aggFnName, xxhash64(key), lit(expectedItems))).scalar()
  }

  /** Probe a [[sketch]]: false means `key` is DEFINITELY absent from the
    * sketched set (blooms have no false negatives), true means maybe
    * present. NULL only when the sketch is NULL (`xxhash64` never is).
    */
  def mightContain(sketch: Column, key: Column): Column =
    call_function(mightContainFnName, sketch, xxhash64(key))

  /** Quiet idempotent registration of both bloom bindings — see
    * [[FnRegistry.ensure]].
    */
  def register(spark: SparkSession): Unit = {
    FnRegistry.ensure(spark, aggFnName, aggBuilder)
    FnRegistry.ensure(spark, mightContainFnName, mightContainBuilder)
  }
}
