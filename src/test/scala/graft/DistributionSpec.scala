package graft

import graft.ops.Distribution
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** Physical-distribution semantics AND plan shape: bucketed joins must not
  * shuffle, salted joins must match their unsalted results exactly.
  */
class DistributionSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed join plans with zero Exchange on either side") {
    val orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    for (t <- Seq("b_orders", "b_lineitem")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:"), t)
      org.apache.commons.io.FileUtils.deleteQuietly(loc)
    }
    Distribution.writeBucketed(
      orders.withColumnRenamed("o_orderkey", "k"), "b_orders", "k", 8)
    Distribution.writeBucketed(
      lineitem.withColumnRenamed("l_orderkey", "k"), "b_lineitem", "k", 8)
    // At fixture scale Catalyst prefers broadcasting the tiny side (which
    // bypasses bucketing entirely); disable it to surface the plan shape
    // the layout exists for — at warehouse scale neither side broadcasts.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Distribution.bucketedJoin(spark, "b_orders", "b_lineitem", "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle; plan was:\n$plan")
      // and it is still a correct join
      val expected = orders.join(lineitem,
        orders("o_orderkey") === lineitem("l_orderkey")).count()
      assert(joined.count() == expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("salted join returns exactly the unsalted result, spread across salts") {
    val big = (1L to 1000L).map(i => (if (i <= 900) "hot" else s"k$i", i))
      .toDF("key", "v")
    val small = Seq(("hot", "H"), ("k901", "A"), ("missing", "Z"))
      .toDF("key", "tag")
    val plain = big.join(small, Seq("key")).select("key", "v", "tag")
      .as[(String, Long, String)].collect().sorted.toSeq
    val salted = Distribution.saltedJoin(big, small, "key", salts = 8)
      .select("key", "v", "tag")
      .as[(String, Long, String)].collect().sorted.toSeq
    assert(salted == plain)
    // the hot key's rows really do spread across several salt sub-keys
    val saltSpread = big.filter($"key" === "hot")
      .withColumn("_salt", pmod(xxhash64(struct(big.columns.map(col): _*)), lit(8)))
      .select("_salt").distinct().count()
    assert(saltSpread > 4, s"expected hot key spread over >4 salts, got $saltSpread")
  }

  test("salted left join keeps unmatched big-side rows once") {
    val big = Seq(("a", 1L), ("b", 2L)).toDF("key", "v")
    val small = Seq(("a", "A")).toDF("key", "tag")
    val out = Distribution.saltedJoin(big, small, "key", salts = 4, joinType = "left")
      .select("key", "v", "tag").as[(String, Long, String)].collect().toSet
    assert(out == Set(("a", 1L, "A"), ("b", 2L, null)))
  }

  test("bloomAntiJoin returns exactly the plain anti-join result") {
    val rng = new scala.util.Random(31)
    val big = (1L to 3000L).map(i => (i, s"row$i")).toDF("k", "payload")
    // ~1/3 of big's keys present on the filter side, plus keys big lacks
    val filter = (1L to 3000L).filter(_ => rng.nextBoolean()).take(1000)
      .concat(Seq(99991L, 99992L)).toDF("fk")
    val plain = big.join(filter, big("k") === col("fk"), "left_anti")
      .select("k").as[Long].collect().sorted.toSeq
    val bloomed = Distribution.bloomAntiJoin(big, filter, "k", "fk",
      expectedItems = 2000L)
      .select("k").as[Long].collect().sorted.toSeq
    assert(bloomed == plain)
    // empty filter side: everything is new
    val none = Distribution.bloomAntiJoin(big, filter.filter(col("fk") < 0L), "k", "fk")
      .count()
    assert(none == 3000L)
    // identical column names on both sides must resolve (the pipeline's
    // J4 guard joins order_id against order_id)
    val sameName = Distribution.bloomAntiJoin(
      big.withColumnRenamed("k", "id"), filter.withColumnRenamed("fk", "id"),
      "id", "id").select("id").as[Long].collect().sorted.toSeq
    assert(sameName == plain)
  }

  test("bloomAntiJoin plans its default-size sketch as a subquery, not a " +
    "binary literal") {
    // ranges, not local rows: the optimizer would fold a probe over a
    // local relation into new local rows, literal and all
    val big = spark.range(1L, 3001L).toDF("k")
    val filter = spark.range(1L, 1001L).toDF("fk")
    val out = Distribution.bloomAntiJoin(big, filter, "k", "fk")
    val plan = out.queryExecution.optimizedPlan
    val binaryLiterals = plan.collectWithSubqueries { case node =>
      node.expressions.map(_.collect {
        case l: Literal if l.dataType == BinaryType => l
      }.size).sum
    }.sum
    assert(binaryLiterals == 0, "the sketch must not be inlined as a literal")
    val rendered = plan.toString.length
    assert(rendered < 100000, s"optimized plan renders $rendered characters")
    assert(out.count() == 2000L)
  }

  test("skewAudit: exact counts, shares, and deterministic hot ranking") {
    val df = (Seq.fill(6)(10L) ++ Seq.fill(3)(20L) ++ Seq(30L))
      .toDF("k")
    val out = Distribution.skewAudit(df, "k", k = 2)
      .as[(Int, Long, Long, Double)].collect().toSeq
    assert(out == Seq((1, 10L, 6L, 0.6), (2, 20L, 3L, 0.3)))
  }

  test("zValue: interleaves bits in Morton order") {
    val out = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 3L), (3L, 5L))
      .toDF("a", "b")
      .select(Distribution.zValue(col("a"), col("b")).as("z"))
      .as[Long].collect().toSeq
    // spread(2)=4, spread(3)=5 -> 4|(5<<1)=14; spread(5)=17 -> 5|(17<<1)=39
    assert(out == Seq(0L, 1L, 2L, 3L, 14L, 39L))
  }

  test("zValueN reproduces the 2-D ladder bit for bit, and is a bijection in 3-D") {
    val rng = new scala.util.Random(77)
    val pairs = Seq.fill(200)((rng.nextInt(Int.MaxValue).toLong,
      rng.nextInt(Int.MaxValue).toLong))
    val both = pairs.toDF("a", "b")
      .select(Distribution.zValue(col("a"), col("b")).as("ladder"),
        Distribution.zValueN(Seq(col("a"), col("b"))).as("generic"))
      .as[(Long, Long)].collect()
    assert(both.forall { case (l, g) => l == g })
    val grid3 = for (a <- 0L until 8L; b <- 0L until 8L; c <- 0L until 8L)
      yield (a, b, c)
    val zs = grid3.toDF("a", "b", "c")
      .select(Distribution.zValueN(Seq(col("a"), col("b"), col("c"))).as("z"))
      .as[Long].collect().toSet
    assert(zs.size == 512 && zs.min == 0L && zs.max == 511L)
  }

  test("zValue is monotone along each axis within the curve's locality blocks") {
    // within any 2^k-aligned block, z of (a,b) < z of (a+block, b) etc.;
    // spot-check global property: z is a bijection on a 32x32 grid
    val grid = for (a <- 0L until 32L; b <- 0L until 32L) yield (a, b)
    val zs = grid.toDF("a", "b")
      .select(Distribution.zValue(col("a"), col("b")).as("z"))
      .as[Long].collect().toSet
    assert(zs.size == 1024 && zs.min == 0L && zs.max == 1023L)
  }

  test("writeZOrdered: per-file bounding boxes beat single-column layout on the off axis") {
    val root = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    val n = 64
    val grid = (for (a <- 0L until n; b <- 0L until n) yield (a, b))
      .toDF("a", "b")
    Distribution.writeZOrdered(grid, "a", "b", s"$root/z", nFiles = 16)
    // the single-dimension alternative: range-partition + sort by `a` only
    grid.repartitionByRange(16, col("a")).sortWithinPartitions("a")
      .write.parquet(s"$root/lin")
    def boxes(path: String): Seq[(Long, Long)] =
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg((max("a") - min("a") + 1).as("wa"), (max("b") - min("b") + 1).as("wb"))
        .as[(String, Long, Long)].collect().map(r => (r._2, r._3)).toSeq
    val zB = boxes(s"$root/z")
    val linB = boxes(s"$root/lin")
    // z-order: every file's box is narrow on BOTH axes (< full domain);
    // linear layout: narrow on a, but full-width on b for every file
    assert(zB.forall { case (wa, wb) => wa < n && wb < n },
      s"z boxes not tight on both axes: $zB")
    assert(linB.forall { case (_, wb) => wb == n }, s"unexpected lin boxes: $linB")
    // pruning proxy for a b-only predicate (b < n/4): count files whose
    // footer [min_b, max_b] range intersects it — those are the files a
    // stats-pruning scan must read
    def survivors(path: String): Int =
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(min("b").as("lo"))
        .filter(col("lo") < n / 4)
        .count().toInt
    val zSurv = survivors(s"$root/z")
    val linSurv = survivors(s"$root/lin")
    assert(linSurv == 16, s"linear layout should never prune on b, got $linSurv")
    assert(zSurv * 2 <= linSurv, s"zSurv=$zSurv linSurv=$linSurv")
  }

  test("writeZOrderedN: 3-D layout prunes on the LAST axis where a-sorted cannot") {
    // range boundaries are sampled, so files straddle curve octants and a
    // per-file all-axes-tight assertion is too strict; assert the thing
    // the layout is FOR — a predicate on the last dimension skips at
    // least half the files, while the single-column layout reads them all
    val root = java.nio.file.Files.createTempDirectory("graft_zorder3").toString
    val n = 16
    val grid = (for (a <- 0L until n; b <- 0L until n; c <- 0L until n)
      yield (a, b, c)).toDF("a", "b", "c")
    Distribution.writeZOrderedN(grid, Seq("a", "b", "c"), s"$root/z", nFiles = 32)
    // (a, b) composite range — 256 distinct prefixes fill all 32 files,
    // still full-width (never pruning) on c
    grid.repartitionByRange(32, col("a"), col("b"))
      .sortWithinPartitions("a", "b")
      .write.parquet(s"$root/lin")
    def survivors(path: String): Int =
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(min("c").as("lo"))
        .filter(col("lo") < n / 4)
        .count().toInt
    val zSurv = survivors(s"$root/z")
    val linSurv = survivors(s"$root/lin")
    assert(linSurv == 32, s"a-sorted layout should never prune on c, got $linSurv")
    assert(zSurv * 2 <= linSurv, s"zSurv=$zSurv linSurv=$linSurv")
  }

  test("compactParquet: fewer files, identical rows, layout preserved") {
    val root = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val path = s"$root/t"
    // simulate many small appends across two partition values
    (1 to 6).foreach { i =>
      (1L to 50L).map(j => (i * 100L + j, if (j % 2 == 0) "a" else "b"))
        .toDF("v", "part")
        .repartition(4)
        .write.mode("append").partitionBy("part").parquet(path)
    }
    def parquetFiles(dir: String): Int = {
      val d = new java.io.File(dir)
      if (!d.exists) 0
      else d.listFiles.map {
        f => if (f.isDirectory) parquetFiles(f.getPath)
             else if (f.getName.endsWith(".parquet")) 1 else 0
      }.sum
    }
    val before = spark.read.parquet(path).as[(Long, String)].collect().sorted.toSeq
    val filesBefore = parquetFiles(path)
    val rows = graft.ops.Distribution.compactParquet(spark, path,
      targetBytes = 1L << 30, partitionCol = Some("part"))
    assert(rows == 300L)
    val after = spark.read.parquet(path).as[(Long, String)].collect().sorted.toSeq
    assert(after == before, "compaction must not change row content")
    val filesAfter = parquetFiles(path)
    assert(filesAfter < filesBefore,
      s"expected fewer files, got $filesBefore -> $filesAfter")
    // partition layout survives (partition dirs still present)
    assert(new java.io.File(s"$path/part=a").exists &&
      new java.io.File(s"$path/part=b").exists)
  }

  test("compactParquet: escaped and null partition values get their computed file counts") {
    // partition values with ':' and '%' are Hive-escaped in directory
    // names (%3A, %25) and NULL becomes __HIVE_DEFAULT_PARTITION__; the
    // per-value byte budget must match them through the UNESCAPED value
    // (pre-fix they silently fell back to one file per directory).
    val root = java.nio.file.Files.createTempDirectory("graft_compact_esc").toString
    val path = s"$root/t"
    (1 to 6).foreach { i =>
      (1L to 60L).map { j =>
        val part = j % 3 match {
          case 0 => "a:b"
          case 1 => "x%y"
          case _ => null
        }
        (i * 100L + j, part)
      }.toDF("v", "part")
        .repartition(2)
        .write.mode("append").partitionBy("part").parquet(path)
    }
    val before = spark.read.parquet(path).as[(Long, String)].collect()
      .map(r => (r._1, Option(r._2))).sorted.toSeq
    // small target → each ~6 KB value-dir computes SEVERAL files; the
    // pre-fix fallback would produce exactly one per escaped/null dir
    val rows = Distribution.compactParquet(spark, path,
      targetBytes = 2048L, partitionCol = Some("part"))
    assert(rows == 360L)
    val after = spark.read.parquet(path).as[(Long, String)].collect()
      .map(r => (r._1, Option(r._2))).sorted.toSeq
    assert(after == before, "compaction must not change row content")
    def files(dir: String): Int =
      new java.io.File(dir).listFiles.count(_.getName.endsWith(".parquet"))
    for (d <- Seq("part=a%3Ab", "part=x%25y", "part=__HIVE_DEFAULT_PARTITION__")) {
      assert(new java.io.File(s"$path/$d").exists, s"missing dir $d")
      assert(files(s"$path/$d") >= 2,
        s"$d should compact to its computed multi-file count, got ${files(s"$path/$d")}")
    }
  }

  test("adaptiveSkewJoin: audit decides salting, result matches plain join") {
    val big = (1L to 10000L)
      .map(i => (if (i <= 9000) "hot" else s"k${i % 37}", i))
      .toDF("key", "v")
    val small = (0 until 37).map(i => (s"k$i", s"t$i")).concat(Seq(("hot", "H")))
      .toDF("key", "tag")
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    // 90% share > threshold → salted path (small side replicated = Generate)
    val salted = Distribution.adaptiveSkewJoin(big, small, "key", maxShare = 0.05)
    assert(planOf(salted).contains("Generate"),
      s"expected the salted (replicated-small-side) plan:\n${planOf(salted)}")
    // uniform data under threshold → plain join, no replication
    val uniform = (1L to 5000L).map(i => (s"k${i % 370}", i)).toDF("key", "v")
    val plainPath = Distribution.adaptiveSkewJoin(uniform, small, "key", maxShare = 0.05)
    assert(!planOf(plainPath).contains("Generate"),
      s"uniform keys must take the plain join:\n${planOf(plainPath)}")
    // correctness: salted result == plain join result
    val expected = big.join(small, Seq("key")).select("key", "v", "tag")
      .as[(String, Long, String)].collect().sorted.toSeq
    val got = salted.select("key", "v", "tag")
      .as[(String, Long, String)].collect().sorted.toSeq
    assert(got == expected)
  }

  test("salting measurably flattens the hot key's reduce-task skew") {
    // the measured half of the SURVEY §8 story: compare the max reduce-
    // partition row count of the unsalted vs salted shuffle of the same
    // skewed table — the salted distribution's biggest task must carry a
    // small fraction of what the unsalted hot task carries.
    val nPart = 16
    val big = (1L to 20000L)
      .map(i => (if (i <= 18000) "hot" else s"k${i % 97}", i))
      .toDF("key", "v")
    def maxPartitionRows(df: org.apache.spark.sql.DataFrame): Long =
      df.groupBy(spark_partition_id().as("pid")).count()
        .agg(max("count")).as[Long].head()
    val unsalted = maxPartitionRows(big.repartition(nPart, col("key")))
    val saltExpr = pmod(xxhash64(struct(big.columns.map(col): _*)), lit(16))
    val saltedMax = maxPartitionRows(
      big.withColumn("_s", saltExpr).repartition(nPart, col("key"), col("_s")))
    assert(unsalted >= 18000L, s"hot key should pile into one task, got $unsalted")
    assert(saltedMax * 4 <= unsalted,
      s"salting should cut task-max at least 4x: $unsalted -> $saltedMax")
  }

  test("salted join preserves a user column named _salt") {
    // pre-fix, the internal salt overwrote (then dropped) this column
    val big = Seq(("a", 1L, "keep-me"), ("b", 2L, "me-too")).toDF("key", "v", "_salt")
    val small = Seq(("a", "A")).toDF("key", "tag")
    val out = Distribution.saltedJoin(big, small, "key", salts = 4, joinType = "left")
    assert(out.columns.count(_ == "_salt") == 1)
    val got = out.select("key", "v", "_salt", "tag")
      .as[(String, Long, String, String)].collect().toSet
    assert(got == Set(("a", 1L, "keep-me", "A"), ("b", 2L, "me-too", null)))
  }
}
