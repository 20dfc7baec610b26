package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** A driver-side span: a timed call made by the benchmark. `parent` is the
  * enclosing span's id ("" at the top); `op` is the tick or call index.
  * Times are epoch milliseconds with sub-millisecond precision, on the
  * same clock as Spark's listener events.
  */
final case class Span(id: String, name: String, layer: String, parent: String,
                      op: Int, start: Double, end: Double) {
  def toMap: Map[String, Any] = Map("id" -> id, "name" -> name, "layer" -> layer,
    "parent" -> parent, "op" -> op, "start" -> start, "end" -> end)
}

/** Records spans in memory. Each span's id is set as a Spark local
  * property for its duration, so the listener can attach the jobs a call
  * submits to the call that submitted them.
  */
final class Spans(sc: SparkContext) {
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  private var next = 0
  private var stack: List[String] = Nil
  val recorded: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  /** Runs `body` inside a span; returns its result and wall seconds. */
  def apply[T](name: String, layer: String, op: Int)(body: => T): (T, Double) = {
    val id = s"d$next"
    next += 1
    val parent = stack.headOption.getOrElse("")
    val prev = sc.getLocalProperty(Spans.Property)
    sc.setLocalProperty(Spans.Property, id)
    stack = id :: stack
    val start = nowMs
    try {
      val r = body
      (r, (nowMs - start) / 1000.0)
    } finally {
      recorded += Span(id, name, layer, parent, op, start, nowMs)
      stack = stack.tail
      sc.setLocalProperty(Spans.Property, prev)
    }
  }
}

object Spans {
  val Property = "perfbench.span"
}

/** Per-stage task totals. Times in ms, CPU in ns, sizes in bytes. */
final class StageRec(val stageId: Int, val attempt: Int, val jobId: Int) {
  var start = -1L
  var end = -1L
  var tasks = 0
  var failedTasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
  val durations: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty

  def add(info: TaskInfo, m: TaskMetrics): Unit = {
    tasks += 1
    if (!info.successful) failedTasks += 1
    durations += info.duration
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      val gettingResult =
        if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L
      schedMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
      output += m.outputMetrics.bytesWritten
    }
  }

  def toMap: Map[String, Any] = Map("stage" -> stageId, "attempt" -> attempt,
    "job" -> jobId, "start" -> start, "end" -> end,
    "tasks" -> tasks, "failed_tasks" -> failedTasks, "run_ms" -> runMs,
    "cpu_ns" -> cpuNs, "gc_ms" -> gcMs, "sched_ms" -> schedMs,
    "shuffle_write" -> shuffleWrite, "shuffle_read" -> shuffleRead,
    "spill" -> spill, "input" -> input, "output" -> output,
    "durations" -> durations.toSeq)
}

final class JobRec(val jobId: Int, val span: String, val callSite: String,
                   val start: Long) {
  var end = -1L
  def toMap: Map[String, Any] = Map("job" -> jobId, "span" -> span,
    "callsite" -> callSite, "start" -> start, "end" -> end)
}

/** Collects job, stage and task metrics of the jobs submitted inside a
  * span. Jobs outside every span (input generation, correctness checks)
  * are ignored.
  */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val sqlCallSites = mutable.Map.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      // a nested execution reports its root's callsite
      sqlCallSites(s.executionId) =
        s.rootExecutionId.flatMap(sqlCallSites.get).getOrElse(s.description)
    }
    case _ =>
  }

  private def stage(stageId: Int, attempt: Int): Option[StageRec] =
    stageJob.get(stageId).map(job =>
      stages.getOrElseUpdate((stageId, attempt), new StageRec(stageId, attempt, job)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(Spans.Property))).foreach { span =>
      // The callsite short form of a SQL query's jobs is the description
      // of its execution: AQE and broadcast jobs run on pool threads whose
      // own stacks hold no user frame. Other jobs carry it as the name of
      // their result stage.
      val callSite = props.flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .flatMap(id => sqlCallSites.get(id.toLong))
        .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).orNull
      jobs(e.jobId) = new JobRec(e.jobId, span, callSite, e.time)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stage(e.stageId, e.stageAttemptId).foreach(_.add(e.taskInfo, e.taskMetrics))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stage(i.stageId, i.attemptNumber()).foreach { s =>
      s.start = i.submissionTime.getOrElse(-1L)
      s.end = i.completionTime.getOrElse(-1L)
    }
  }

  def jobRecords: Seq[Map[String, Any]] = synchronized(jobs.values.map(_.toMap).toSeq)
  def stageRecords: Seq[Map[String, Any]] = synchronized(stages.values.map(_.toMap).toSeq)
}
