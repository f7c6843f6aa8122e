package perfbench

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}

/** A span: one timed interval at a layer boundary. Times are epoch ms. */
final class Span(val id: Int, val parent: Int, val kind: String, val name: String,
                 val start: Double) {
  var end: Double = Double.NaN
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  def json: Map[String, Any] = Map("id" -> id, "parent" -> parent, "kind" -> kind,
    "name" -> name, "start" -> start, "end" -> Some(end).filterNot(_.isNaN), "attrs" -> attrs)
}

/** The traced run's recorder. Spans for each query and its build / plan /
  * execute phases are taken here, around calls into the program's public
  * entry points. Spark jobs and stages come off a `SparkListener`: every
  * job carries the id of the phase span that launched it as a local
  * property, so jobs fired while a query is being built are attributed to
  * its build phase. Codegen units and compile time are read from the code
  * generator's own log line, one per compiled unit. Spans stay in memory
  * until [[dump]].
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val SpanKey = "perfbench.span"
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var query: Span = _
  private var current: Span = _

  private def open(parent: Span, kind: String, name: String): Span = {
    val s = new Span(spans.size + 1, if (parent == null) 0 else parent.id, kind, name, now())
    spans += s
    s
  }

  // --- codegen: "Code generated in N ms", once per compiled unit ---------
  private var codegenUnits = 0L // guarded by this
  private var codegenMs = 0.0
  private val codegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val codegenLine = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val logCtx = LogManager.getContext(false).asInstanceOf[LoggerContext]
  private val appender = new AbstractAppender("perfbench-codegen", null, null, true,
      Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = e.getMessage.getFormattedMessage match {
      case codegenLine(ms) => Tracer.this.synchronized {
        codegenUnits += 1
        codegenMs += ms.toDouble
      }
      case _ =>
    }
  }
  appender.start()
  private val loggerConfig = new LoggerConfig(codegenLogger, Level.INFO, false)
  loggerConfig.addAppender(appender, Level.INFO, null)
  logCtx.getConfiguration.addLogger(codegenLogger, loggerConfig)
  logCtx.updateLoggers()

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }

  // --- listener: jobs, stages, task metrics -------------------------------
  private final class JobRec(val id: Int, val span: Int, val start: Long) {
    var end: Long = -1L
    var ok = true
  }
  private final class StageRec(val job: Int, val stage: Int, val attempt: Int,
                               val numTasks: Int) {
    var submit, complete = -1L
    var tasks, cpuNs, runMs, gcMs = 0L
    var shuffleWriteBytes, shuffleReadBytes, shuffleRecords, fetchWaitMs = 0L
    var inputBytes, inputRows, scanTasks, outputBytes, spillBytes, peakExecBytes = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]

  private def stage(id: Int, attempt: Int, numTasks: Int): Option[StageRec] =
    stageJob.get(id).map(j => stages.getOrElseUpdate((id, attempt), new StageRec(j, id, attempt, numTasks)))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      if (span > 0) {
        jobs(e.jobId) = new JobRec(e.jobId, span, e.time)
        e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach { j =>
        j.end = e.time
        j.ok = e.jobResult == JobSucceeded
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      stage(i.stageId, i.attemptNumber, i.numTasks).foreach(_.submit = i.submissionTime.getOrElse(-1L))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      stage(i.stageId, i.attemptNumber, i.numTasks).foreach { s =>
        s.submit = i.submissionTime.getOrElse(s.submit)
        s.complete = i.completionTime.getOrElse(-1L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) stage(e.stageId, e.stageAttemptId, 0).foreach { s =>
        s.tasks += 1
        s.cpuNs += m.executorCpuTime
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.durations += e.taskInfo.duration
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRows += m.inputMetrics.recordsRead
        if (m.inputMetrics.recordsRead > 0) s.scanTasks += 1
        s.outputBytes += m.outputMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peakExecBytes = s.peakExecBytes.max(m.peakExecutionMemory)
      }
    }
  }
  sc.addSparkListener(listener)

  // --- spans around the program's entry points ---------------------------
  private var gc0 = 0L
  private var units0 = 0L
  private var codegenMs0 = 0.0

  def openQuery(q: Query, pass: Int): Span = {
    query = open(null, "query", q.name)
    query.attrs ++= Seq("pass" -> pass, "layer" -> q.layer)
    current = query
    gc0 = gcMs()
    synchronized { units0 = codegenUnits; codegenMs0 = codegenMs }
    sc.setJobGroup(s"perfbench-${query.id}", s"perfbench ${q.name} pass $pass")
    sc.setLocalProperty(SpanKey, query.id.toString)
    query
  }

  def phase[A](name: String)(body: => A): A = {
    val s = open(query, name, s"${query.name}.$name")
    current = s
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.end = now()
      current = query
      sc.setLocalProperty(SpanKey, query.id.toString)
    }
  }

  /** Physical planning of `df` (the `plans` layer) and its shape. */
  def inspect(df: DataFrame): Unit = {
    val shape = PlanShape(df.queryExecution.executedPlan)
    current.attrs ++= shape
  }

  def closeQuery(s: Span, ok: Boolean): Unit = {
    s.end = now()
    s.attrs ++= Seq("ok" -> ok, "gc_ms" -> (gcMs() - gc0))
    synchronized {
      s.attrs ++= Seq("codegen_units" -> (codegenUnits - units0),
        "codegen_ms" -> (codegenMs - codegenMs0))
    }
    sc.clearJobGroup()
    sc.setLocalProperty(SpanKey, null)
  }

  /** Stop recording: wait for the listener bus to deliver every event,
    * then detach the listener and the codegen capture.
    */
  def stop(): Unit = {
    sc.setLocalProperty(SpanKey, null)
    org.apache.spark.perfbenchbridge.ListenerBus.drain(sc)
    sc.removeSparkListener(listener)
    logCtx.getConfiguration.removeLogger(codegenLogger)
    logCtx.updateLoggers()
    appender.stop()
  }

  /** Every span, with Spark's jobs and stages as children of the phase
    * span that launched them.
    */
  def dump(): Map[String, Any] = synchronized {
    var next = spans.size
    val jobSpan = mutable.HashMap.empty[Int, Int]
    val jobSpans = jobs.values.toSeq.map { j =>
      next += 1
      jobSpan(j.id) = next
      Map("id" -> next, "parent" -> j.span, "kind" -> "job", "name" -> s"job ${j.id}",
        "start" -> j.start.toDouble, "end" -> Some(j.end.toDouble).filter(_ >= 0),
        "attrs" -> Map("ok" -> j.ok))
    }
    val stageSpans = stages.values.toSeq.filter(_.submit >= 0).map { s =>
      next += 1
      val d = s.durations.sorted
      Map("id" -> next, "parent" -> jobSpan.getOrElse(s.job, 0), "kind" -> "stage",
        "name" -> s"stage ${s.stage}.${s.attempt}",
        "start" -> s.submit.toDouble,
        "end" -> Some(s.complete.toDouble).filter(_ >= 0),
        "attrs" -> Map(
          "num_tasks" -> s.numTasks, "tasks" -> s.tasks, "cpu_ms" -> s.cpuNs / 1e6,
          "run_ms" -> s.runMs, "gc_ms" -> s.gcMs,
          "task_max_ms" -> d.lastOption.getOrElse(0L),
          "task_median_ms" -> (if (d.isEmpty) 0L else d(d.size / 2)),
          "shuffle_write_bytes" -> s.shuffleWriteBytes, "shuffle_read_bytes" -> s.shuffleReadBytes,
          "shuffle_records" -> s.shuffleRecords, "fetch_wait_ms" -> s.fetchWaitMs,
          "scan_bytes" -> s.inputBytes, "scan_rows" -> s.inputRows, "scan_tasks" -> s.scanTasks,
          "sink_bytes" -> s.outputBytes, "spill_bytes" -> s.spillBytes,
          "peak_exec_bytes" -> s.peakExecBytes))
    }
    Map("spans" -> (spans.map(_.json).toSeq ++ jobSpans ++ stageSpans))
  }
}

/** Exchange / scan / broadcast-join counts of a physical plan, looking
  * inside adaptive plans and subqueries.
  */
object PlanShape extends AdaptiveSparkPlanHelper {
  def apply(p: SparkPlan): Seq[(String, Int)] = Seq(
    "exchanges" -> collectWithSubqueries(p) { case e: Exchange => e }.size,
    "scans" -> collectWithSubqueries(p) { case s: LeafExecNode if s.nodeName.contains("Scan") => s }.size,
    "broadcast_joins" -> collectWithSubqueries(p) {
      case j: BroadcastHashJoinExec => j
      case j: BroadcastNestedLoopJoinExec => j
    }.size)
}
