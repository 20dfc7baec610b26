package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.datagen.DataGen
import graft.io.Sources
import graft.ops.{Distribution, Nested}
import graft.ops.text.Dedup
import graft.pipeline.{Curation, Daily, Incremental}

/** State of one benchmark run: operations, correctness checks and the
  * per-layer observations the benchmark makes from outside the program.
  */
final class Run(val spark: SparkSession, val spans: Spans, val work: Path,
                val seed: Long) {
  val ops: mutable.ArrayBuffer[Map[String, Any]] = mutable.ArrayBuffer.empty
  val checks: mutable.ArrayBuffer[Map[String, Any]] = mutable.ArrayBuffer.empty
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  var attempted = 0
  var thrown = 0
  /** Whether the job listener is attached (traced steps only). */
  var tracing = false
  /** Digest of the workload's output, which must be the same on every run
    * of a seed; `run.py` compares it with the expected one.
    */
  var digest: Option[String] = None

  /** Runs one program operation in a span. A thrown operation is recorded
    * as failed and yields None. `measured` operations are the ones the
    * end-to-end metrics are computed from; `rows` is the input rows it
    * committed or processed.
    */
  def op[T](name: String, layerName: String, idx: Int, rows: Long,
            measured: Boolean)(body: => T): Option[T] = {
    attempted += 1
    val t0 = spans.nowMs
    try {
      val (r, s) = spans(name, layerName, idx)(body)
      ops += Map("name" -> name, "idx" -> idx, "wall_s" -> s, "rows" -> rows,
        "measured" -> measured, "traced" -> tracing, "span" -> spans.recorded.last.id,
        "ok" -> true)
      Some(r)
    } catch {
      case NonFatal(e) =>
        thrown += 1
        ops += Map("name" -> name, "idx" -> idx, "wall_s" -> (spans.nowMs - t0) / 1000.0,
          "rows" -> 0L, "measured" -> measured, "traced" -> tracing,
          "span" -> spans.recorded.last.id, "ok" -> false, "error" -> e.toString)
        None
    }
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> (if (ok) "" else detail))
    ok
  }

  def failedChecks: Int = checks.count(_("ok") == false)
}

/** One workload: inputs, set-up, one closed-loop step, and the end-of-run
  * checks. Steps run one after another on one driver thread; the next
  * starts only after the previous returns.
  */
abstract class Workload(val r: Run) {
  protected def spark: SparkSession = r.spark
  /** Writes the seeded inputs (timed, not part of set-up). */
  def generate(): Unit
  /** Loads, warm-up operations and preload (part of set-up). */
  def warmUp(): Unit
  /** One measured step; false stops the loop (an operation failed). */
  def step(i: Int): Boolean
  /** Measured steps a run makes at least, whatever `--seconds` says, so
    * every run reports the same statistic.
    */
  def minSteps: Int = 2
  /** End-of-run correctness checks. */
  def finish(): Unit
  /** Traced run only: timed public-function calls after the window. */
  def probe(): Unit = ()
}

/** Local file-tree helpers for warehouse snapshots and listings. */
object FileTree {
  private def walk(p: Path): List[Path] =
    Using.resource(Files.walk(p))(_.iterator().asScala.toList)

  def delete(p: Path): Unit =
    if (Files.exists(p)) walk(p).reverse.foreach(Files.delete)

  def copy(from: Path, to: Path): Unit =
    walk(from).foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
    }

  /** Regular data files under `p` (no checksum or marker files). */
  def dataFiles(p: Path): List[Path] =
    if (!Files.exists(p)) Nil
    else walk(p).filter { f =>
      val n = f.getFileName.toString
      Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_")
    }

  def names(p: Path): List[String] =
    if (!Files.exists(p)) Nil
    else Using.resource(Files.list(p))(_.iterator().asScala.map(_.getFileName.toString).toList)
}

/** `backfill`: catch-up after an outage. Set-up loads the dims, preloads
  * one tick and snapshots the warehouse; each cycle restores the snapshot,
  * lands the outage's 8 files (each an hour of orders at the reference
  * cadence, 2,000 per 15 minutes, one every 2 hours over 16 hours: 64,000
  * orders), drains them with one `Incremental.run`, then runs
  * `Daily.runDaily` over the result. Every run is checked against the
  * generated files.
  */
final class Backfill(r: Run) extends Workload(r) {
  private val OutageFiles = 8
  private val OrdersPerFile = 8000
  private val AsOf = "2026-01-01"
  private val wh = Incremental.Warehouse(r.work.resolve("wh").toString)
  private val landing: Path = r.work.resolve("landing")
  private val gen: Path = r.work.resolve("gen")
  private val snapshot = r.work.resolve("wh-snapshot")
  private var dimsCsv: (String, String) = _
  private var preload: Inputs.OrdersFile = _
  private var outage: Seq[Inputs.OrdersFile] = Nil
  /** Files the warehouse holds, in commit order. */
  private val committed = mutable.ArrayBuffer.empty[Inputs.OrdersFile]
  private var stagedLines = 0L
  private var newLines = 0L
  /** `Incremental.run` calls that committed into the current warehouse. */
  private var committedRuns = 0

  def generate(): Unit = {
    dimsCsv = Inputs.dims(spark, gen, r.seed)
    preload = Inputs.orders(spark, gen.resolve("preload"), "orders_0", 2000,
      Inputs.derive(r.seed, 3, 0), DataGen.defaultBaseMs)
    // file j holds the hour before base + 2(j+1) h
    outage = (0 until OutageFiles).map(j =>
      Inputs.orders(spark, gen.resolve("outage"), s"orders_$j", OrdersPerFile,
        Inputs.derive(r.seed, 4, j), DataGen.defaultBaseMs + (j + 1) * 2 * 3600000L))
  }

  /** The dims load, the cold preload tick, its replay check, the snapshot,
    * and a first (cold) `runDaily`.
    */
  def warmUp(): Unit = {
    Incremental.loadDims(spark, wh, dimsCsv._1, dimsCsv._2)
    land(preload)
    ingest(Seq(preload), "preload", 0, measured = false)
    replay(preload)
    FileTree.copy(Path.of(wh.root), snapshot)
    r.op("Daily.runDaily", "pipeline", 0, 0L, measured = false) {
      Daily.runDaily(spark, wh, dimsCsv._1, dimsCsv._2, AsOf)
    }
  }

  def step(i: Int): Boolean = {
    val idx = i + 1
    FileTree.delete(Path.of(wh.root))
    FileTree.copy(snapshot, Path.of(wh.root))
    committed.clear()
    committed += preload
    committedRuns = 1
    outage.foreach(land)
    ingest(outage, s"backfill-$idx", idx, measured = true) &&
      r.op("Daily.runDaily", "pipeline", idx, 0L, measured = true) {
        Daily.runDaily(spark, wh, dimsCsv._1, dimsCsv._2, AsOf)
      }.exists { d =>
        r.check(s"daily-$idx reports", d.topProducts == 10 && d.trendRows > 0 &&
          d.lowStock <= 100 && d.inactiveCustomers <= 1000, d.toString)
      }
  }

  def finish(): Unit = checkCounts()

  private def land(f: Inputs.OrdersFile): Unit = {
    Files.createDirectories(landing)
    Files.copy(f.path, landing.resolve(f.path.getFileName), StandardCopyOption.REPLACE_EXISTING)
  }

  /** `Incremental.run` over `files` (already landed), checked against
    * them. Returns false if the run threw or a check failed.
    */
  private def ingest(files: Seq[Inputs.OrdersFile], batch: String, idx: Int,
                     measured: Boolean): Boolean = {
    val orders = files.map(_.orders).sum
    val lines = files.map(_.lines).sum
    r.op("Incremental.run", "pipeline", idx, orders, measured) {
      Incremental.run(spark, landing.toString, wh, batch)
    } match {
      case None => false
      case Some(res) =>
        committed ++= files
        committedRuns += 1
        if (measured) {
          stagedLines += lines
          newLines += res.newFactRows
          if (r.tracing) observeIo()
        }
        val a = r.check(s"$batch staged orders", res.stagedOrders == orders,
          s"staged ${res.stagedOrders}, landed $orders")
        val b = r.check(s"$batch new fact lines", res.newFactRows == lines,
          s"new ${res.newFactRows}, generated $lines")
        val c = r.check(s"$batch landing empty after archive",
          FileTree.names(landing).isEmpty, FileTree.names(landing).mkString(","))
        a && b && c
    }
  }

  /** Warehouse file layout after an operation (traced run only). */
  private def observeIo(): Unit = {
    val fact = FileTree.dataFiles(Path.of(wh.factOrders))
    val agg = FileTree.dataFiles(Path.of(wh.aggHourly))
    val audit = FileTree.dataFiles(Path.of(wh.qualityChecks))
    val bytes = (fact ++ agg ++ audit).map(Files.size).sum
    val factLines = committed.map(_.lines).sum
    r.layer("io.fact_files") = fact.size.toDouble / committedRuns
    r.layer("io.agg_files") = agg.size.toDouble / committedRuns
    r.layer("io.bytes_per_line") = bytes.toDouble / factLines
    r.layer("ops.antijoin_keep_ratio") = newLines.toDouble / stagedLines
  }

  private def counts(): (Long, Long, BigDecimal, BigDecimal) = {
    val fact = spark.read.parquet(wh.factOrders)
    val agg = spark.read.parquet(wh.aggHourly)
    val lines = fact.count()
    val a = agg.agg(sum(col("total_orders")), sum(col("total_revenue"))).first()
    val orderRev = fact.select("order_id", "total_amount").distinct()
      .agg(graft.sumMoney(col("total_amount"))).first().getDecimal(0)
    (lines, a.getLong(0), BigDecimal(a.getDecimal(1)), BigDecimal(orderRev))
  }

  /** Cumulative checks of the warehouse against every committed file. */
  private def checkCounts(): Unit = {
    val (lines, orders, lineRev, orderRev) = counts()
    val expLines = committed.map(_.lines).sum
    val expOrders = committed.map(_.orders).sum
    val expLineRev = committed.map(_.lineRevenue).sum
    val expOrderRev = committed.map(_.orderRevenue).sum
    r.check("fact lines = generated items", lines == expLines, s"$lines vs $expLines")
    r.check("sum(agg_hourly.total_orders) = committed orders", orders == expOrders,
      s"$orders vs $expOrders")
    r.check("order revenue = sum(total_amount)", orderRev == expOrderRev,
      s"$orderRev vs $expOrderRev")
    r.check("sum(agg_hourly.total_revenue) = sum over lines of total_amount",
      lineRev == expLineRev, s"$lineRev vs $expLineRev")
  }

  /** Re-lands the already committed `f` and runs `Incremental.run` on it,
    * which must commit nothing and change no count.
    */
  private def replay(f: Inputs.OrdersFile): Unit = {
    val before = counts()
    land(f)
    r.op("Incremental.run", "pipeline", 0, 0L, measured = false) {
      Incremental.run(spark, landing.toString, wh, s"replay-${f.name}")
    } match {
      case None => r.check("replay ran", ok = false, "replayed run threw")
      case Some(res) =>
        r.check("replay commits no fact lines", res.newFactRows == 0, s"${res.newFactRows}")
        r.check("replay leaves every count unchanged", counts() == before, "counts changed")
        r.check("replay landing empty after archive", FileTree.names(landing).isEmpty,
          FileTree.names(landing).mkString(","))
    }
  }

  /** The io and ops stages of the drain, each timed on its own over the
    * outage files and the final warehouse.
    */
  override def probe(): Unit = {
    val s = r.spans
    val (staged, loadS) = s("Sources.readOrdersJsonValidated", "io", 0) {
      val df = graft.CacheScope.pin(Sources.readOrdersJsonValidated(spark,
        gen.resolve("outage").toString).drop(Sources.CorruptCol))
      df.count()
      df
    }
    val (enriched, transformS) = s("Nested.factTransform", "ops", 0) {
      val df = graft.CacheScope.pin(Nested.factTransform(staged,
        spark.read.parquet(wh.dimCustomers), spark.read.parquet(wh.dimProducts)))
      df.count()
      df
    }
    val (_, antiJoinS) = s("Distribution.bloomAntiJoin", "ops", 0) {
      Distribution.bloomAntiJoin(enriched,
        spark.read.parquet(wh.factOrders).select("order_id"), "order_id", "order_id").count()
    }
    graft.CacheScope.release(spark)
    r.layer("io.load_s") = loadS
    r.layer("ops.fact_transform_s") = transformS
    r.layer("ops.antijoin_s") = antiJoinS
  }
}

/** `curation`: one `Curation.curate` per step (the dedup producer inline)
  * over a seeded corpus; the `doc_id % 97 == 0` slice is the held-out
  * benchmark, as in `q_curation_report`.
  */
final class Curate(r: Run) extends Workload(r) {
  private val Docs = 6000
  private var path: String = _
  private var corpus: DataFrame = _
  private var benchmark: DataFrame = _
  private val digests = mutable.ArrayBuffer.empty[String]

  private def inputDocs(n: Int): Long = (0 until n).count(_ % 97 != 0).toLong

  def generate(): Unit = path = Inputs.corpus(spark, r.work.resolve("gen"), Docs, r.seed)

  /** `curate` over the documents with `doc_id < n`, checked. */
  private def curateOnce(i: Int, n: Int, measured: Boolean): Boolean = {
    val expected = inputDocs(n)
    r.op("Curation.curate", "pipeline", i, expected, measured) {
      val (curated, report) = Curation.curate(corpus.filter(col("doc_id") < n),
        benchmark.filter(col("doc_id") < n))
      (curated, report.orderBy("stage_idx").collect(), curated.count())
    } match {
      case None => false
      case Some((curated, report, count)) =>
        val funnel = report.map(row => row.getString(1) -> row.getLong(2)).toMap
        val chain = Seq("input", "near_dup_kept", "quality_kept", "decontaminated")
          .map(s => funnel.getOrElse(s, -1L))
        val splits = Seq("train", "val", "test").map(s => funnel.getOrElse(s, -1L)).sum
        val ok = r.check(s"curate-$i funnel never increases",
          chain.forall(_ >= 0) && chain.zip(chain.tail).forall { case (a, b) => a >= b },
          report.mkString(" ")) &
          r.check(s"curate-$i input stage = corpus size", chain.head == expected,
            s"${chain.head} vs $expected") &
          r.check(s"curate-$i last stage = curated rows",
            chain.last == count && splits == count,
            s"decontaminated ${chain.last}, splits $splits, curated $count")
        if (measured) digests += digestOf(curated)
        graft.CacheScope.release(spark)
        ok
    }
  }

  private def digestOf(curated: DataFrame): String = {
    val md = MessageDigest.getInstance("SHA-256")
    curated.orderBy("doc_id").collect().foreach(row =>
      md.update((row.mkString("|") + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** The corpus read, then a first `curate` on a third of the corpus: it
    * compiles the same code paths as a full one at a third of the cost,
    * which buys a third measured step.
    */
  def warmUp(): Unit = {
    val docs = spark.read.parquet(path)
    corpus = docs.filter(col("doc_id") % 97 =!= 0)
    benchmark = docs.filter(col("doc_id") % 97 === 0)
    curateOnce(0, Docs / 3, measured = false)
  }

  def step(i: Int): Boolean = curateOnce(i + 1, Docs, measured = true)

  override def minSteps: Int = 3

  def finish(): Unit = {
    r.check("curated digest identical across reps", digests.distinct.size == 1,
      digests.mkString(","))
    r.digest = digests.headOption.map(d => s"docs=$Docs sha256=$d")
  }

  override def probe(): Unit = {
    val s = r.spans
    val ((pairs, nPairs), pairsS) = s("Dedup.nearDupPairs", "ops.text", 0) {
      val p = graft.CacheScope.pin(Dedup.nearDupPairs(corpus, k = 32, bands = 8,
        threshold = 0.5))
      (p, p.count())
    }
    val (resolved, resolveS) = s("Dedup.resolveCanonical", "ops.text", 0) {
      val c = graft.CacheScope.pin(Dedup.resolveCanonical(corpus, pairs))
      c.count()
      c
    }
    val (_, consumerS) = s("Curation.curate", "pipeline", 0) {
      val (curated, report) = Curation.curate(corpus, benchmark,
        resolvedCanon = Some(resolved))
      report.collect()
      curated.count()
    }
    val (candidates, _) = s("Dedup.minhashBandAudit", "ops.text", 0) {
      Dedup.minhashBandAudit(corpus, k = 32, bands = 8)
        .agg(sum(col("candidate_pairs"))).first().getLong(0)
    }
    graft.CacheScope.release(spark)
    r.layer("dedup.pairs_s") = pairsS
    r.layer("dedup.resolve_s") = resolveS
    r.layer("curation.consumer_s") = consumerS
    r.layer("dedup.candidates") = candidates.toDouble
    r.layer("dedup.pairs") = nPairs.toDouble
    r.layer("dedup.verify_yield") = nPairs.toDouble / math.max(1L, candidates)
  }
}
