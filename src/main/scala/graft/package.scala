import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Cross-engine-deterministic numeric helpers.
  *
  * The driver hash-compares our parquet output against a DuckDB oracle
  * (BASELINE.md). Raw double SUMs are summation-order-dependent, so two
  * engines (or two runs) can differ in the last bits and hash-mismatch.
  * Policy: aggregate money through exact DECIMAL casts (order-independent),
  * and derive any double output (averages, ratios) from those exact sums
  * with a fixed scalar expression, rounded to a stable number of digits.
  */
package object graft {
  /** Exact 2-dp decimal view of a money column. */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact 4-dp decimal (products of two 2-dp decimals — no rounding). */
  def dec4(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Exact 6-dp decimal view of an arbitrary-precision double column. */
  def dec6(c: Column): Column = c.cast(DecimalType(18, 6))

  /** Order-independent money sum, normalized back to DECIMAL(18,2)
    * (Spark widens sum(decimal(18,2)) to decimal(28,2); DuckDB to
    * decimal(38,2) — the explicit cast aligns both schemas).
    */
  def sumMoney(c: Column): Column = sum(dec2(c)).cast(DecimalType(18, 2))

  /** Order-independent sum for measure doubles (6-dp). */
  def sumMeasure(c: Column): Column = sum(dec6(c)).cast(DecimalType(18, 6))

  /** Deterministic mean of a money column: exact decimal sum, then one
    * double division — bit-identical across engines. Deliberately NOT
    * rounded: round() implementations diverge at half-boundaries
    * (Spark exact-BigDecimal HALF_UP vs DuckDB scaled-multiply), while a
    * single IEEE division on identical inputs is exact parity.
    */
  def avgMoney(c: Column): Column =
    sum(dec2(c)).cast("double") / count(lit(1))

  /** The 1-row-unpivot selector: given an index column and one value
    * column per index, yield index i's value. The shared core of the
    * crossJoin-a-label-table unpivot pattern (Events funnels, Quality
    * expectations) — the crossJoin itself stays at the call site, where
    * its 1×k constant size is documented and PlanGuard-allow-listed.
    */
  def pickByIndex(idx: Column, values: Seq[Column]): Column =
    values.zipWithIndex
      .map { case (c, i) => when(idx === i, c) }
      .reduce(coalesce(_, _))

  /** HARNESS-ONLY log4j2 squelch for the INTENDED "RDD was locally
    * checkpointed, its lineage has been truncated and cannot be
    * recomputed after unpersisting" WARN that `RDD.unpersist` logs:
    * every iterative operator here frees its previous round's
    * truncated-lineage blocks ON PURPOSE (the round's successor was
    * already materialized, nothing recomputes the freed RDD), so in the
    * bench/verify harness the warning carries zero information — a
    * 72-sub-step semisync run would pour hundreds of copies into the
    * recorded log. Scoped to the ONE concrete RDD class that logs it on
    * this path, never the rdd package. Deliberately NOT called from
    * library code: an embedding application keeps the warning (an
    * unpersist of a still-needed checkpoint is a real bug this warning
    * surfaces), and mutating global log config is a harness decision,
    * not a library side effect.
    */
  def squelchIntendedUnpersistWarn(): Unit =
    try {
      // Message-scoped, not class-scoped (r14 ADVICE): a level change on
      // MapPartitionsRDD would also hide a genuinely-buggy unpersist of a
      // still-needed checkpoint — the exact defect the warning exists to
      // surface. The context-wide RegexFilter denies ONLY the one known
      // intended-unpersist message and stays NEUTRAL for everything else.
      val filter = org.apache.logging.log4j.core.filter.RegexFilter
        .createFilter(".*lineage has been truncated.*", null,
          java.lang.Boolean.FALSE,
          org.apache.logging.log4j.core.Filter.Result.DENY,
          org.apache.logging.log4j.core.Filter.Result.NEUTRAL)
      val ctx = org.apache.logging.log4j.LogManager.getContext(false)
        .asInstanceOf[org.apache.logging.log4j.core.LoggerContext]
      val cfg = ctx.getConfiguration
      // attach to the ONE logger that emits the message, never the
      // context: a context-wide filter is consulted on EVERY log call
      // (before the level check can reject it with an int compare), so
      // it would tax every hot path with a regex evaluation
      val name = "org.apache.spark.rdd.MapPartitionsRDD"
      val lc = cfg.getLoggerConfig(name) match {
        case exact if exact.getName == name => exact
        case parent =>
          val nl = new org.apache.logging.log4j.core.config.LoggerConfig(
            name, parent.getLevel, true)
          cfg.addLogger(name, nl)
          nl
      }
      lc.addFilter(filter)
      ctx.updateLoggers()
    } catch { case _: Throwable => () } // log backend absent/replaced: cosmetic

  /** Run `body` with the session conf `entry` (key -> value) set, then put
    * the key back: its prior value is restored, or it is unset when it had
    * none — also when `body` throws. The override is session-global for
    * its duration, so other work running concurrently on the SAME session
    * sees it too; scope it to the write or loop that needs it.
    */
  private[graft] def withConf[T](spark: org.apache.spark.sql.SparkSession,
                                 entry: (String, String))(body: => T): T = {
    val (key, value) = entry
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Free the executor blocks behind a localCheckpoint'd Dataset.
    * `Dataset.unpersist` only uncaches CacheManager plans and silently
    * no-ops on a checkpoint's LogicalRDD; the blocks belong to the
    * wrapped RDD and must be unpersisted there. Shared by every
    * iterative fitter that checkpoints per round (Dedup
    * clusterComponents, Bpe bpeTrain, Classifier fit).
    */
  private[graft] def unpersistCheckpoint(
      df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => df.unpersist()
    }

  /** Release EVERY localCheckpoint frame a result still references —
    * the lifecycle hook for checkpoint-backed views (r17, closes the
    * r16 ADVICE leak). The iterative operators (labelPropTrajectory /
    * linkRankTrajectory / the weighted-hop state view / the gated LPA
    * result) return plans over per-round `localCheckpoint` frames;
    * CacheScope.release only unpins `persist()`ed tables, so without
    * this hook each call leaks block-manager storage for the session
    * lifetime. Call it AFTER the result is materialized somewhere
    * durable (parquet write, collect) — the memoizing `materialized`
    * path and the Bench/Verify harness loops do so automatically; a
    * library caller holding the raw view calls it when done. Safe on
    * any DataFrame: persist()ed tables (InMemoryRelation) and parquet
    * scans are untouched; re-invoking the operator rebuilds frames
    * (the operators are pure), so release-then-reuse degrades to
    * recompute, never to wrong answers.
    */
  def releaseCheckpoints(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
