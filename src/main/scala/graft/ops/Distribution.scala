package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-distribution utilities: the two levers the relational operators
  * reference for 100 TB shapes — bucketed layouts for shuffle-free
  * co-located joins, and key salting for skew.
  *
  * Reference tie-in: README.md:103 declares the fact table "clustered by
  * customer_id" (BigQuery clustering). The Spark-native equivalent for a
  * managed table is `bucketBy`: both sides of a recurring equi-join are
  * written pre-hashed into the same bucket count, and every later join on
  * that key plans with ZERO Exchange on either side — at warehouse scale
  * this converts the nightly fact↔dim or fact↔fact joins from full-corpus
  * shuffles into local zips.
  */
object Distribution {

  /** Write `df` as a managed bucketed table (sorted within buckets for
    * sort-merge-ready layout). Spark's bucketed format requires
    * `saveAsTable` (a catalog entry), not a bare parquet path.
    */
  def writeBucketed(df: DataFrame, table: String, key: String,
                    nBuckets: Int, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Equi-join two same-bucketed tables on their bucket key. The plan this
    * produces carries no Exchange on either side (asserted in
    * DistributionSpec) — the bucketed layout IS the shuffle, paid once at
    * write time and amortized over every subsequent join.
    */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String,
                   key: String, joinType: String = "inner"): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), Seq(key), joinType)

  /** Salted join for skewed keys: a hot key (one customer with 10⁸ fact
    * rows) lands its entire volume in ONE reduce task under a plain hash
    * join. Salting splits each key into `salts` sub-keys: the big (skewed)
    * side gets a DETERMINISTIC salt derived from row content — xxhash64
    * spreads a hot key's rows uniformly without an RNG (rand() would break
    * retry/replay determinism) — and the small side is replicated once per
    * salt, so every (key, salt) pair joins correctly. Result rows are
    * identical to the unsalted join; only the partitioning changes. This is
    * the manual form of what AQE skew-join does adaptively — useful when
    * the skew is known ahead of time or AQE's thresholds don't trigger.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salts: Int,
                 joinType: String = "inner"): DataFrame = {
    require(salts > 0, s"salts must be positive, got $salts")
    // Join types that emit small-side rows independently of a big-side
    // match (right/full outer, right semi/anti) would return one row per
    // REPLICA of the small side — refuse them rather than silently
    // multiply results.
    val safe = Set("inner", "left", "leftouter", "left_outer", "leftsemi",
      "left_semi", "leftanti", "left_anti")
    require(safe.contains(joinType.toLowerCase.replace(" ", "")),
      s"saltedJoin supports big-side-preserving join types only, got '$joinType'")
    // Pick a salt column name neither input already has — a hard-coded
    // "_salt" would silently overwrite (and then drop) a real column.
    val taken = (big.columns ++ small.columns).toSet
    val saltCol = Iterator.from(0)
      .map(i => if (i == 0) "_salt" else s"_salt$i")
      .find(!taken.contains(_)).get
    val saltedBig = big.withColumn(saltCol,
      pmod(xxhash64(struct(big.columns.toIndexedSeq.map(col): _*)), lit(salts)))
    val replicatedSmall = small.withColumn(saltCol,
      explode(array((0 until salts).map(s => lit(s.toLong)): _*)))
    saltedBig.join(replicatedSmall, Seq(key, saltCol), joinType).drop(saltCol)
  }

  /** Audit-driven join — [[skewAudit]] wired into the [[saltedJoin]]
    * decision, the measured-then-chosen form of the skew story: measure
    * the big side's hottest key share; if it exceeds `maxShare` (i.e. one
    * key alone would overfill a reduce task — 1/shufflePartitions is the
    * natural threshold), salt; otherwise plain join. The audit costs one
    * map-side-combinable count shuffle and moves ONE row to the driver —
    * at 100 TB that is the cheap insurance against a 10⁸-row hot key
    * sinking the whole join, and it is skipped entirely when the caller
    * already knows the skew (call [[saltedJoin]] directly).
    */
  def adaptiveSkewJoin(big: DataFrame, small: DataFrame, key: String,
                       maxShare: Double = 0.05, salts: Int = 16,
                       joinType: String = "inner"): DataFrame = {
    val hottest = skewAudit(big, key, k = 1)
      .select(col("share")).collect().headOption.map(_.getDouble(0))
    if (hottest.exists(_ > maxShare)) saltedJoin(big, small, key, salts, joinType)
    else big.join(small, Seq(key), joinType)
  }

  /** Compact a parquet directory's small files: every 15-minute append
    * (the reference's cadence) lands another file per partition, and a
    * year of that is ~35k files per partition — file-listing and task
    * scheduling death at 100 TB. Rewrites each partition directory to
    * `ceil(bytes / targetBytes)` files via a temp-dir swap (write temp →
    * atomic-ish rename), preserving the `partitionBy` layout. Row content
    * is unchanged (asserted in DistributionSpec); only file count and
    * ordering change.
    *
    * Concurrency contract — writers AND readers: the swap is two renames
    * (live → .bak, tmp → live), so there is a sub-second window where the
    * live path does not exist; a reader listing files in that window
    * fails, and one that listed files BEFORE the swap fails later when its
    * tasks open now-renamed files. Run compaction as the exclusive
    * maintenance job between incremental appends, with no concurrent
    * writer or reader on the dataset. Fully online compaction needs a
    * metadata layer that commits file swaps atomically (a table format's
    * snapshot/manifest — e.g. the pattern Iceberg/Delta use); a bare
    * parquet directory cannot express it. That layer exists here as
    * [[graft.io.Manifest]] — `Manifest.compact` is the reader-safe form
    * of this operation for tables that opt into snapshot commits; this
    * bare-directory variant remains for partitioned layouts owned by the
    * exclusive-maintenance-window contract above.
    */
  def compactParquet(spark: SparkSession, path: String,
                     targetBytes: Long = 128L * 1024 * 1024,
                     partitionCol: Option[String] = None): Long = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0L
    val df = spark.read.parquet(path)
    val tmp = new Path(p.getParent, s".${p.getName}_compact_tmp")
    fs.delete(tmp, true)
    val writer = partitionCol match {
      case Some(c) =>
        // Per-VALUE file sizing: repartitioning on the partition column
        // alone would funnel each value's entire volume into one task →
        // one (possibly huge) file per directory. Instead each value gets
        // ceil(dirBytes / targetBytes) salt buckets from its own on-disk
        // footprint, so a 10 GB date compacts to ~80 files while a 10 MB
        // date gets exactly one.
        // Directory names are Hive-ESCAPED partition values: a space is
        // %20, a colon %3A, and NULL is __HIVE_DEFAULT_PARTITION__. The
        // data rows carry the UNESCAPED value, so match on the unescaped
        // form (null via <=>) — comparing raw dir names would silently
        // miss every such partition and fall back to one file per dir.
        import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        val perValue = fs.listStatus(p).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$c="))
          .map { s =>
            val raw = s.getPath.getName.stripPrefix(s"$c=")
            val v = if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
                    else ExternalCatalogUtils.unescapePathName(raw)
            val b = fs.getContentSummary(s.getPath).getLength
            (v, math.max(1L, math.ceil(b.toDouble / targetBytes).toLong))
          }
        val nTasks = math.max(1, perValue.map(_._2).sum.min(10000).toInt)
        import spark.implicits._
        val countsDf = broadcast(perValue.toDF("_cp_value", "_cp_files"))
        val salted = df
          .join(countsDf, col(c).cast("string") <=> col("_cp_value"), "left")
          .withColumn("_cp_salt",
            pmod(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)),
              coalesce(col("_cp_files"), lit(1L))))
          .drop("_cp_value", "_cp_files")
        salted.repartition(nTasks, col(c), col("_cp_salt"))
          .drop("_cp_salt")
          .write.partitionBy(c)
      case None =>
        val bytes = fs.getContentSummary(p).getLength
        val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
        df.repartition(nFiles).write
    }
    writer.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val rows = spark.read.parquet(tmp.toString).count()
    // Swap via backup so a failed rename can never lose the only copy:
    // FileSystem.rename reports many failures by returning FALSE, not
    // throwing — the original stays recoverable at .bak until the new
    // data is live.
    val bak = new Path(p.getParent, s".${p.getName}_compact_bak")
    fs.delete(bak, true)
    require(fs.rename(p, bak), s"compact: could not move $p aside to $bak")
    if (!fs.rename(tmp, p)) {
      fs.rename(bak, p) // restore; tmp left for inspection
      throw new IllegalStateException(s"compact: rename $tmp -> $p failed; original restored")
    }
    fs.delete(bak, true)
    rows
  }

  /** Key-skew audit — the measurement that decides between a plain hash
    * join, [[saltedJoin]], and AQE skew handling: the top-k heaviest keys
    * of a prospective join/group column with each key's row count and
    * share of the table. A `share` approaching 1/shufflePartitions means
    * that key alone fills a reduce task; several such keys → salt or
    * raise AQE's skew thresholds.
    *
    * Scale: one map-side-combinable count shuffle (one row per distinct
    * key), top-k via TakeOrderedAndProject, and a constant k×1 join to
    * attach the total — the audit never materializes more than k rows
    * past the count.
    */
  def skewAudit(df: DataFrame, keyCol: String, k: Int = 20): DataFrame = {
    // the audit's own output names would silently shadow (share/hot_rank)
    // or ambiguate (cnt/total) a key column of the same name
    require(!Set("cnt", "total", "share", "hot_rank").contains(keyCol),
      s"skewAudit emits cnt/total/share/hot_rank; rename key column '$keyCol' first")
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("total"))
    counts
      .orderBy(desc("cnt"), asc(keyCol))
      .limit(k)
      .crossJoin(broadcast(total)) // k-row × 1-row: constant-size
      .withColumn("share", col("cnt").cast("double") / col("total"))
      .withColumn("hot_rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(desc("cnt"), asc(keyCol))))
      .select(col("hot_rank"), col(keyCol), col("cnt"), col("share"))
  }

  /** Morton (Z-order) interleave of the low 31 bits of two non-negative
    * integer dimensions into one 62-bit curve value — the multi-dimensional
    * clustering key behind Z-ordered layouts. Computed with the classic
    * bit-spreading shift/mask ladder: five shift-OR-mask steps per operand,
    * all 64-bit integer ops (codegen'd built-ins, exact in any engine —
    * the oracle runs the identical ladder). 31 bits per dimension keeps
    * the result out of the sign bit, so BIGINT comparisons order the curve
    * correctly everywhere. Out-of-domain inputs (negative, or >= 2^31)
    * raise at execution rather than silently wrapping — a wrapped value
    * lands at the far corner of the curve and quietly voids the tight
    * per-file bounding boxes the layout exists for.
    */
  def zValue(a: Column, b: Column): Column = {
    def spread(c: Column): Column = {
      val v = c.cast("long")
      val checked = when(v < 0 || v > 0x7FFFFFFFL,
        raise_error(concat(lit("zValue input out of [0, 2^31): "),
          v.cast("string"))).cast("long"))
        .otherwise(v)
      val masks = Seq(
        (16, 0x0000FFFF0000FFFFL), (8, 0x00FF00FF00FF00FFL),
        (4, 0x0F0F0F0F0F0F0F0FL), (2, 0x3333333333333333L),
        (1, 0x5555555555555555L))
      masks.foldLeft(checked) {
        case (x, (s, m)) => x.bitwiseOR(shiftleft(x, s)).bitwiseAND(lit(m))
      }
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** N-dimensional Morton interleave: bit i of dimension d lands at
    * output bit i·k + d, using ⌊62/k⌋ bits per dimension (the 2-D case
    * reproduces [[zValue]] bit for bit — property-tested). Built as a
    * flat OR of shift/mask terms — all 64-bit integer ops, codegen'd,
    * engine-exact. Same out-of-domain behavior as [[zValue]]: raise, not
    * wrap. Practical k is 2-4: each extra dimension costs bits of
    * per-dimension resolution (62/k), which is the curve's real trade —
    * more pruned dimensions, coarser boxes per dimension.
    */
  def zValueN(dims: Seq[Column]): Column = {
    val k = dims.size
    require(k >= 2 && k <= 6, s"zValueN supports 2-6 dimensions, got $k")
    val bits = 62 / k
    val max = 1L << bits
    val terms = for {
      (c, d) <- dims.zipWithIndex
      v = {
        val x = c.cast("long")
        when(x < 0 || x >= max,
          raise_error(concat(lit(s"zValueN dim $d out of [0, 2^$bits): "),
            x.cast("string"))).cast("long"))
          .otherwise(x)
      }
      i <- 0 until bits
    } yield shiftleft(shiftright(v, i).bitwiseAND(lit(1L)), i * k + d)
    terms.reduce(_.bitwiseOR(_))
  }

  /** Z-ordered parquet layout: range-partition then sort by the Morton
    * value of two filter dimensions, so every output file covers a tight
    * bounding BOX in (a, b) space — parquet footer min/max stats on BOTH
    * columns become selective, and a scan filtered on either (or both)
    * dimensions row-group-prunes most of the table. Single-column sorting
    * gives perfect pruning on one dimension and none on the other; the
    * Z-curve trades a little of each for pruning on both — the standard
    * layout lever when a 100 TB fact is filtered by two independent
    * predicates (e.g. date bucket × customer region).
    *
    * Cost: one range shuffle (sampled bounds) + local sort, paid once at
    * write time, same as any CLUSTER BY.
    */
  def writeZOrdered(df: DataFrame, colA: String, colB: String, path: String,
                    nFiles: Int, mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(!df.columns.contains("_z"), "input already has a _z column")
    df.withColumn("_z", zValue(col(colA), col(colB)))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode(mode).parquet(path)
  }

  /** N-dimensional [[writeZOrdered]]: same range-partition + local sort,
    * keyed on [[zValueN]] over `cols` — every file covers a tight
    * k-dimensional bounding box, at ⌊62/k⌋ bits of per-dimension
    * resolution.
    */
  def writeZOrderedN(df: DataFrame, cols: Seq[String], path: String,
                     nFiles: Int, mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(!df.columns.contains("_z"), "input already has a _z column")
    df.withColumn("_z", zValueN(cols.map(col)))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode(mode).parquet(path)
  }

  /** Bloom-prefiltered anti-join — the runtime-filter pattern applied to
    * the reference's J4 idempotency guard, where it matters most at
    * 100 TB: `staged ANTI JOIN fact ON order_id` shuffles the ENTIRE fact
    * table every 15-minute run just to prove most staged rows are new.
    *
    * Instead: (1) build a bloom sketch of the filter side's keys as a
    * distributed aggregate (map-side partial blooms, one merged row — the
    * filter side is SCANNED but never SHUFFLED); (2) plan the sketch as a
    * scalar subquery ([[graft.functions.BloomFns.sketch]]) and probe it in
    * the big side's scan (codegen'd `might_contain`, no UDF); (3) rows the
    * bloom rejects are DEFINITELY new (blooms have no false negatives) and
    * skip the join entirely; only the `maybe` sliver (true matches + fpp
    * false positives) goes through the exact anti-join. Result is EXACTLY
    * the plain anti-join — the bloom only routes rows — which is what the
    * oracle checks. A NULL big-side key is kept either way (its hash is
    * not null, and in the maybe branch a null key never matches).
    *
    * Nothing runs here: the sketch is built when the result executes,
    * once per action (both union branches reuse the one subquery), and
    * the plan carries a subquery reference instead of the ~1.2 MB (per
    * 10⁶ keys at 1%) sketch as a literal. An unpinned result therefore
    * rebuilds the sketch on every action; `Incremental.run` pins its
    * guarded rows. An empty filter side yields a NULL sketch, which
    * routes every row to the definitely-new branch.
    * `expectedItems` sizes the sketch (default 1% fpp at that count).
    */
  def bloomAntiJoin(big: DataFrame, filterSide: DataFrame,
                    bigKey: String, filterKey: String,
                    expectedItems: Long = 1000000L): DataFrame = {
    import graft.functions.BloomFns
    val sketch = BloomFns.sketch(filterSide, col(filterKey), expectedItems)
    // probe-flag column name must not collide with a real big-side column
    val flagCol = Iterator.from(0)
      .map(i => if (i == 0) "_in_bloom" else s"_in_bloom$i")
      .find(!big.columns.contains(_)).get
    // the flag is NULL only for a NULL sketch (empty filter side: no key
    // can match), so coalescing to false is exact
    val flagged = big.withColumn(flagCol,
      coalesce(BloomFns.mightContain(sketch, col(bigKey)), lit(false)))
    val definiteNew = flagged.filter(!col(flagCol)).drop(flagCol)
    val maybe = flagged.filter(col(flagCol)).drop(flagCol)
    // rename the probe column so bigKey == filterKey resolves unambiguously
    // (left_anti output carries only left columns, so the name vanishes)
    val filterKeys = filterSide.select(col(filterKey).as("_bloom_fk"))
    definiteNew.unionByName(
      maybe.join(filterKeys, maybe(bigKey) === filterKeys("_bloom_fk"), "left_anti"))
  }
}
