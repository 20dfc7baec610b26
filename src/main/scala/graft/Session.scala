package graft

import org.apache.spark.sql.SparkSession

/** The engine's session policy, in one place: every main (Bench, Verify,
  * Smoke, ScaleSweep, Explain, PlanAudit, Prof) builds its session here,
  * so the dev tools time the same program the harness runs.
  */
object Session {

  /** `SPARK_GRAFT_CPUS` when set, else the box's cores capped at 16:
    * past ~16 local threads task-launch overhead outweighs parallelism
    * on the fixture scales, and a caller that does not export the
    * variable must not idle most of a large box.
    */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(math.min(Runtime.getRuntime.availableProcessors(), 16))

  /** `local[cpus]` with one shuffle partition per core, UTC, the graft
    * extensions, and the UI off.
    */
  def build(): SparkSession = {
    val n = cpus
    SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // Keep AQE from coalescing CPU-dense, byte-light shuffles (hashed
      // shingles, candidate pairs) below core count: the 1m default merges
      // them to ~4 tasks and strands the other cores. No effect at real
      // scale, where partitions dwarf 64k.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // InferFiltersFromGenerate EXCLUDED (r18): the rule synthesizes a
      // pushable `size(e) > 0` filter below every explode; for COMPUTED
      // generator inputs (every shingle/gram pipeline here) that clones
      // the full tokenize+shingle expression into the filter — evaluated
      // a second time per row, and, pushed below a spread repartition,
      // re-run serially inside the file scan (measured: q_minhash_audit
      // 5.2 s -> 1.4 s from this exclusion alone). Results are unchanged
      // by construction: the inferred filter only pre-drops rows the
      // explode drops anyway.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
