package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Explode, PosExplode}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed interval at a layer boundary. `op` is the id of
  * the operation (query, tick or push) every span of it shares. */
case class Span(id: Long, parent: Long, op: Long, layer: String,
    name: String, start: Double, end: Double) {
  def ms: Double = end - start
}

/** Records spans and per-layer counters from the benchmark's side of
  * every layer boundary: around the calls it makes into the library
  * (operation, build, action), and from Spark's own listeners
  * (Catalyst phases, SQL executions, jobs, stages, tasks, streaming
  * progress). Everything is kept in memory; [[spans]] is written out
  * when the run ends.
  *
  * Events are attributed to the operation in whose window they were
  * posted: the driver runs one operation at a time, and [[endOp]] drains
  * the listener bus before the next one starts.
  */
final class Tracer(spark: SparkSession, dataDir: String) {
  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0L
  private def newId(): Long = { nextId += 1; nextId }

  private val events = new ConcurrentLinkedQueue[AnyRef]()
  private case class Qe(qe: QueryExecution, durationNs: Long)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = events.add(e)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = events.add(e)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = events.add(e)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = events.add(e)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = events.add(e)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLExecutionStart | _: SparkListenerSQLExecutionEnd =>
        events.add(e)
      case _ => ()
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      events.add(Qe(qe, d))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }
  def detach(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    events.clear()
  }

  // --- the operation being traced ------------------------------------
  private var opId = 0L
  private var opSpan = 0L
  private var opStart = 0.0
  private var counters = mutable.Map[String, Double]()
  private def add(k: String, v: Double): Unit = counters(k) = counters(k) + v
  private val opSpans = mutable.ArrayBuffer[Span]()
  private var codegenCount0 = 0L
  private var codegenNanos0 = 0L

  def beginOp(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    events.clear()
    opId = newId(); opSpan = opId
    counters = mutable.Map[String, Double]().withDefaultValue(0.0)
    opSpans.clear()
    codegenCount0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    codegenNanos0 = CodeGenerator.compileTime
    opStart = nowMs
  }

  /** A span the benchmark itself opens around one call into the library. */
  def span[T](layer: String, name: String)(body: => T): T = {
    val start = nowMs
    try body finally opSpans += Span(newId(), opSpan, opId, layer, name, start, nowMs)
  }

  /** Close the operation; returns its per-layer counters. */
  def endOp(kind: String, name: String): Map[String, Double] = {
    val end = nowMs
    PerfbenchBus.drain(spark.sparkContext)
    spans += Span(opSpan, 0L, opId, "op", s"$kind:$name", opStart, end)
    spans ++= opSpans
    counters("codegen.compiles") =
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegenCount0).toDouble
    counters("codegen.compile_ms") = (CodeGenerator.compileTime - codegenNanos0) / 1e6
    opSpans.find(_.layer == "entry").foreach(b => counters("entry.build_ms") = b.ms)
    digest(opSpans.find(_.layer == "entry"), opSpans.find(_.layer == "action"), kind == "tick")
    counters.toMap
  }

  private val planHelper = new AdaptiveSparkPlanHelper {}

  private def digest(build: Option[Span], action: Option[Span], tick: Boolean): Unit = {
    val drained = Iterator.continually(events.poll()).takeWhile(_ != null).toSeq
    def parentAt(t: Double): Long =
      build.filter(b => t >= b.start && t <= b.end).map(_.id)
        .orElse(action.map(_.id)).getOrElse(opSpan)
    val sqlSpans = mutable.Map[Long, (Long, Double)]()   // execId -> (span id, start)
    val jobSpans = mutable.Map[Int, (Long, Long, Double)]() // jobId -> (span, parent, start)
    val stageJob = mutable.Map[Int, Int]()
    val stageSubmit = mutable.Map[Int, Double]()
    val jobIntervals = mutable.ArrayBuffer[(Double, Double)]()
    drained.foreach {
      case e: SparkListenerSQLExecutionStart =>
        sqlSpans(e.executionId) = (newId(), e.time.toDouble)
      case e: SparkListenerSQLExecutionEnd =>
        sqlSpans.get(e.executionId).foreach { case (id, st) =>
          spans += Span(id, parentAt(st), opId, "sql", s"execution ${e.executionId}",
            st, e.time.toDouble)
        }
      case e: SparkListenerJobStart =>
        val exec = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(_.toLongOption)
        val parent = exec.flatMap(sqlSpans.get).map(_._1).getOrElse(parentAt(e.time.toDouble))
        jobSpans(e.jobId) = (newId(), parent, e.time.toDouble)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
        add("exec.jobs", 1)
        if (build.exists(b => e.time >= b.start && e.time <= b.end)) add("entry.build_jobs", 1)
      case e: SparkListenerJobEnd =>
        jobSpans.get(e.jobId).foreach { case (id, parent, st) =>
          spans += Span(id, parent, opId, "job", s"job ${e.jobId}", st, e.time.toDouble)
          jobIntervals += ((st, e.time.toDouble))
        }
      case e: SparkListenerStageSubmitted =>
        e.stageInfo.submissionTime.foreach(t => stageSubmit(e.stageInfo.stageId) = t.toDouble)
      case e: SparkListenerStageCompleted =>
        val si = e.stageInfo
        for (st <- si.submissionTime; en <- si.completionTime) {
          val parent = stageJob.get(si.stageId).flatMap(jobSpans.get).map(_._1).getOrElse(opSpan)
          spans += Span(newId(), parent, opId, "stage", s"stage ${si.stageId}.${si.attemptNumber()}",
            st.toDouble, en.toDouble)
        }
      case e: SparkListenerTaskEnd =>
        add("exec.tasks", 1)
        if (!e.taskInfo.successful) add("exec.task_failures", 1)
        stageSubmit.get(e.stageId).foreach(s =>
          add("exec.sched_delay_ms", math.max(0.0, e.taskInfo.launchTime - s)))
        Option(e.taskMetrics).foreach { m =>
          add("exec.task_run_ms", m.executorRunTime.toDouble)
          add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
          add("exec.gc_ms", m.jvmGCTime.toDouble)
          add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
          add("spill.mem_bytes", m.memoryBytesSpilled.toDouble)
          add("spill.disk_bytes", m.diskBytesSpilled.toDouble)
          add("sources.scan_rows", m.inputMetrics.recordsRead.toDouble)
          add("sources.scan_bytes", m.inputMetrics.bytesRead.toDouble)
        }
      case Qe(qe, durationNs) => plan(qe, durationNs, tick)
      case p: StreamingQueryProgress => progress(p, action.map(_.id).getOrElse(opSpan))
      case _ => ()
    }
    add("exec.ms", unionMs(jobIntervals.toSeq))
  }

  /** Catalyst phases and physical-plan counters of one executed query.
    * The pipeline counters read the tick's melt plan: the points exploded
    * from the documents and the melted rows before and after the
    * completeness gate's position filter. */
  private def plan(qe: QueryExecution, durationNs: Long, tick: Boolean): Unit = {
    val parent = opSpans.find(_.layer == "action").map(_.id).getOrElse(opSpan)
    Seq("analysis", "optimization", "planning").foreach { ph =>
      qe.tracker.phases.get(ph).foreach { s =>
        add(s"plan.${ph}_ms", s.durationMs.toDouble)
        spans += Span(newId(), parent, opId, "plan", ph, s.startTimeMs.toDouble, s.endTimeMs.toDouble)
      }
    }
    val root = qe.executedPlan
    val nodes = planHelper.collectWithSubqueries(root) { case p => p }
    def metric(p: SparkPlan, k: String): Double =
      p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    add("plan.exchanges", nodes.count(_.isInstanceOf[Exchange]).toDouble)
    val underData = (paths: Seq[String]) => paths.exists(_.contains(dataDir))
    nodes.foreach {
      case s: InMemoryTableScanExec =>
        val base = planHelper.collect(s.relation.cachedPlan) {
          case f: FileSourceScanExec => underData(f.relation.location.rootPaths.map(_.toString))
        }.contains(true)
        if (base) add("cache.hits", 1)
      case f: FileSourceScanExec if underData(f.relation.location.rootPaths.map(_.toString)) =>
        add("cache.misses", 1)
      case g: GenerateExec if tick => g.generator match {
        case _: PosExplode => add("pipelines.melt_rows", metric(g, "numOutputRows"))
        case _: Explode => add("pipelines.points", metric(g, "numOutputRows"))
        case _ => ()
      }
      case f: FilterExec if tick && f.condition.references.exists(_.name == "__pos") =>
        add("pipelines.payload_rows", metric(f, "numOutputRows"))
      case w: DataWritingCommandExec if w.cmd.isInstanceOf[InsertIntoHadoopFsRelationCommand] =>
        val m = w.cmd.metrics
        def v(k: String): Double = m.get(k).map(_.value.toDouble).getOrElse(0.0)
        add("sinks.rows", v("numOutputRows"))
        add("sinks.files", v("numFiles"))
        add("sinks.bytes", v("numOutputBytes"))
        add("sinks.task_commit_ms", v("taskCommitTime"))
        add("sinks.job_commit_ms", v("jobCommitTime"))
        add("sinks.write_ms", durationNs / 1e6)
      case _ => ()
    }
  }

  private val streamPhases = Seq(
    "latestOffset" -> "stream.latest_offset_ms", "getBatch" -> "stream.get_batch_ms",
    "queryPlanning" -> "stream.query_planning_ms", "addBatch" -> "stream.add_batch_ms",
    "walCommit" -> "stream.wal_commit_ms", "commitOffsets" -> "stream.commit_offsets_ms")

  /** Streaming phase durations of one micro-batch. The progress event
    * carries durations only, so the phase spans are laid end to end from
    * the trigger's start in execution order. */
  private def progress(p: StreamingQueryProgress, parent: Long): Unit = {
    add("stream.input_rows", p.numInputRows.toDouble)
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
    var t = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    streamPhases.foreach { case (phase, key) =>
      val ms = d.getOrElse(phase, 0.0)
      add(key, ms)
      if (ms > 0) {
        spans += Span(newId(), parent, opId, "stream", phase, t, t + ms)
        t += ms
      }
    }
  }

  private def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    iv.sortBy(_._1).foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    total + cur.map { case (s, e) => e - s }.getOrElse(0.0)
  }

  /** Self time per layer: each span's duration minus the part of its
    * interval that its child spans cover. */
  def selfMs(): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = unionMs(kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.start, s.start), math.min(c.end, s.end))).filter(c => c._2 > c._1).toSeq)
        math.max(0.0, s.ms - covered)
      }.sum
    }
  }
}
