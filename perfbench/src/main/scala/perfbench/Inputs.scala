package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.immutable.ListMap
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.datagen.DataGen

/** Seeded inputs. Every file is derived from the workload seed, so the
  * same seed gives byte-identical inputs; the program receives only the
  * files written here.
  */
object Inputs {

  /** SplitMix64 finaliser: decorrelates derived seeds. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The seed of item `i` of input stream `stream` under workload `seed`. */
  def derive(seed: Long, stream: Long, i: Long): Long =
    mix(seed ^ mix(stream * 0x100000001L + i))

  /** Expected contents of one landed orders file. Revenue sums are exact
    * 2-dp decimals of the generated `total_amount` doubles: `orderRevenue`
    * once per order, `lineRevenue` once per order line (the hourly MERGE
    * sums `total_amount` over fact lines, as the reference does).
    */
  final case class OrdersFile(name: String, path: Path, orders: Long, lines: Long,
                              orderRevenue: BigDecimal, lineRevenue: BigDecimal)

  private def money(d: Double): BigDecimal =
    BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def write(path: Path, lines: Iterator[String]): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(s".${path.getFileName}.tmp")
    val w = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
  }

  /** One DataGen NDJSON file of `n` orders whose timestamps fall in the
    * hour before `baseMs`, written under `dir` as `<name>.json`. DataGen
    * builds its rows on the driver, so collecting them runs no Spark job.
    */
  def orders(spark: SparkSession, dir: Path, name: String, n: Int, seed: Long,
             baseMs: Long): OrdersFile = {
    val rows = DataGen.orders(spark, n, seed, baseMs).collect()
    val path = dir.resolve(s"$name.json")
    write(path, rows.iterator.map { o =>
      val a = o.getStruct(6)
      json.writeValueAsString(ListMap(
        "order_id" -> o.getString(0), "customer_id" -> o.getString(1),
        "order_timestamp" -> o.getTimestamp(2).toInstant.toString,
        "items" -> o.getSeq[Row](3).map(i => ListMap("product_id" -> i.getString(0),
          "quantity" -> i.getLong(1), "unit_price" -> i.getDouble(2))),
        "total_amount" -> o.getDouble(4), "payment_status" -> o.getString(5),
        "shipping_address" -> ListMap("street" -> a.getString(0), "city" -> a.getString(1),
          "state" -> a.getString(2), "zipcode" -> a.getString(3),
          "country" -> a.getString(4))))
    })
    val lines = rows.map(_.getSeq[Row](3).size.toLong).sum
    val orderRev = rows.map(r => money(r.getDouble(4))).sum
    val lineRev = rows.map(r => money(r.getDouble(4)) * r.getSeq[Row](3).size).sum
    OrdersFile(name, path, n.toLong, lines, orderRev, lineRev)
  }

  /** The reference's dimension CSVs (1,000 customers and 100 products),
    * one header CSV file per directory; returns the two directories.
    */
  def dims(spark: SparkSession, dir: Path, seed: Long): (String, String) = {
    def csv(name: String, df: DataFrame): String = {
      val out = dir.resolve(name)
      write(out.resolve(s"$name.csv"), Iterator(df.columns.mkString(",")) ++
        df.collect().iterator.map(_.toSeq.mkString(",")))
      out.toString
    }
    (csv("customers", DataGen.customers(spark, 1000, derive(seed, 1, 0))),
      csv("products", DataGen.products(spark, 100, derive(seed, 2, 0))))
  }

  /** The documents-fixture vocabulary (all 31 distinct words of the
    * fixture corpus), so the corpus needs no fixture files.
    */
  val Vocabulary: Array[String] = Array("a", "agg", "batch", "big", "column",
    "customer", "data", "dup", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  /** The document recipe of `graft.ScaleSweep.generate` without its
    * embeddings and lineitem tables: fixture vocabulary, 8-100 words a
    * document, 40% "en", ~2% exact and ~2% near duplicates, and one
    * 50-link near-duplicate chain (the connected-components adversary).
    * Written as 8 parquet files with the fixture schema.
    */
  def corpus(spark: SparkSession, dir: Path, nDocs: Int, seed: Long): String = {
    import spark.implicits._
    val rng = new Random(seed)
    val vocab = Vocabulary
    val langs = Seq("en", "de", "fr", "es", "zh")
    def freshText(): String =
      Seq.fill(8 + rng.nextInt(93))(vocab(rng.nextInt(vocab.length))).mkString(" ")
    def perturb(text: String, p: Double): String =
      text.split(" ").map(w =>
        if (rng.nextDouble() < p) vocab(rng.nextInt(vocab.length)) else w)
        .mkString(" ")
    val texts = new Array[String](nDocs)
    val chainStart = nDocs / 2
    val chainLen = 50
    var i = 0
    while (i < nDocs) {
      val r = rng.nextDouble()
      texts(i) =
        if (i > chainStart && i < chainStart + chainLen) perturb(texts(i - 1), 0.08)
        else if (i > 0 && r < 0.02) texts(rng.nextInt(i))
        else if (i > 0 && r < 0.04) perturb(texts(rng.nextInt(i)), 0.05)
        else freshText()
      i += 1
    }
    val docs = (0 until nDocs).map { d =>
      val lang = if (rng.nextDouble() < 0.4) "en" else langs(1 + rng.nextInt(4))
      (d.toLong, texts(d), lang, s"src${rng.nextInt(20)}", texts(d).length.toLong)
    }
    val path = dir.resolve("documents.parquet").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(8).write.mode("overwrite").parquet(path)
    path
  }
}
