package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in one JVM, driven by `run.py`.
  *
  * Usage: `perfbench.Main --workload <backfill|curation> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> --out <file>`
  *
  * Writes the raw record of the run (timings, checks, and with `--trace 1`
  * spans plus Spark job/stage records) as JSON to `--out`; `run.py` turns
  * it into metrics. `--work` holds the warehouse and inputs.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Path.of(opt("work"))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      // the session configuration of graft.Bench
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      // keep every file the run writes inside its work directory
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.squelchIntendedUnpersistWarn()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val listener = if (traced) Some(new JobListener) else None
    val spans = new Spans(spark.sparkContext)
    val run = new Run(spark, spans, work, seed)
    // attaches or detaches the listener once every posted event is delivered
    def tracing(on: Boolean): Unit = listener.foreach { l =>
      if (on != run.tracing) {
        org.apache.spark.ListenerBusDrain(spark.sparkContext)
        if (on) spark.sparkContext.addSparkListener(l)
        else spark.sparkContext.removeSparkListener(l)
        run.tracing = on
      }
    }
    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> traced, "cores" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "session_s" -> sessionS)

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }

    try {
      val w: Workload = workload match {
        case "backfill" => new Backfill(run)
        case "curation" => new Curate(run)
      }
      val generateS = timed(w.generate())
      out("generate_s") = generateS
      out("warmup_s") = timed(w.warmUp())
      // JVM start to the first measured step, input generation excluded
      out("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1000.0 - generateS
      // A traced run alternates untraced and traced steps, starting
      // untraced: the listener's overhead is traced over untraced step time
      // within one process.
      val minSteps = w.minSteps
      val ((), windowS) = spans("workload", "workload", -1) {
        val t0 = System.nanoTime()
        var i = 0
        var ok = true
        while (ok && (i < minSteps || (System.nanoTime() - t0) / 1e9 < seconds)) {
          tracing(traced && i % 2 == 1)
          ok = w.step(i)
          i += 1
        }
        tracing(false)
      }
      out("window_s") = windowS
      w.finish()
      out("peak_rss_mb") = peakRssMb()
      if (traced) {
        tracing(true)
        w.probe()
        tracing(false)
      }
    } catch {
      case NonFatal(e) =>
        out("error") = e.toString
        e.printStackTrace()
    }
    listener.foreach { l =>
      tracing(false)
      out("jobs") = l.jobRecords
      out("stages") = l.stageRecords
    }
    out("spans") = spans.recorded.map(_.toMap).toSeq
    out("ops") = run.ops.toSeq
    out("checks") = run.checks.toSeq
    out("layer") = run.layer.toMap
    run.digest.foreach(out("digest") = _)
    out("attempted") = run.attempted
    out("failed") = math.min(run.attempted, run.thrown + run.failedChecks)
    spark.stop()
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Path.of(opt("out")), mapper.writeValueAsString(out.toMap))
  }

  /** The JVM's peak resident set size (VmHWM), in MiB. */
  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Path.of("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}
