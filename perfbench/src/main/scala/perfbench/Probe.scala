package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, LogicalPlan, Window}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall-clock nanoseconds on the listener events' epoch-millisecond axis,
  * with `nanoTime` resolution between them. Re-anchored at every key start,
  * so the wall clock cannot drift away from `nanoTime` within a key.
  */
object Clock {
  @volatile private var baseMs = System.currentTimeMillis()
  @volatile private var baseNs = System.nanoTime()
  def anchor(): Unit = { baseNs = System.nanoTime(); baseMs = System.currentTimeMillis() }
  /** A `nanoTime` reading on this axis. */
  def at(ns: Long): Long = baseMs * 1000000L + (ns - baseNs)
  def now(): Long = at(System.nanoTime())
  def ofMs(ms: Long): Long = ms * 1000000L
  /** Event times are whole milliseconds, and so is the anchor. */
  val SlackNs = 2000000L
}

/** A job or stage interval seen by the listener, in epoch ns. */
final case class Interval(id: Int, name: String, start: Long, end: Long,
    parent: Int = -1)

/** What one key execution did, attributed from listener events delivered
  * while it was the current key. Keys never overlap, and the bus is
  * drained before the next key starts, so every event should land on its
  * key; `orphans` counts the ones that cannot be its own: a job end, stage
  * or task of a job that did not start in this key, or a job still open
  * when the key ends.
  */
final class KeyStats(val traced: Boolean) {
  var start = 0L
  var buildEnd = 0L
  var end = 0L
  var orphans = 0
  val jobs = ArrayBuffer.empty[Interval]
  val stages = ArrayBuffer.empty[Interval]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val stageJob = scala.collection.mutable.Map.empty[Int, Int]
  val c = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def add(name: String, v: Double): Unit = c(name) = c.getOrElse(name, 0.0) + v

  def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStart(e.jobId) = Clock.ofMs(e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId) match {
      case Some(s) => jobs += Interval(e.jobId, s"job ${e.jobId}", s, Clock.ofMs(e.time))
      case None => orphans += 1
    }
  def onStage(i: StageInfo): Unit =
    if (!owns(i.stageId)) orphans += 1
    else for (s <- i.submissionTime; f <- i.completionTime)
      stages += Interval(i.stageId, s"stage ${i.stageId} ${i.name}",
        Clock.ofMs(s), Clock.ofMs(f), stageJob(i.stageId))
  def owns(stageId: Int): Boolean = stageJob.contains(stageId)
  def close(): Unit = orphans += jobStart.size
}

/** Process-wide collector behind the listeners. An untraced key records
  * nothing; plan capture for the check pass works either way. `strays`
  * counts the events that arrive while no key is running.
  */
object Probe {
  @volatile private var current: KeyStats = _
  private val plans = ArrayBuffer.empty[QueryExecution]
  @volatile private var capturing = false
  val strays = new java.util.concurrent.atomic.AtomicInteger()

  def begin(traced: Boolean): KeyStats = {
    Clock.anchor()
    val k = new KeyStats(traced)
    k.add("codegen.compiles", -CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    current = k
    k
  }
  def end(k: KeyStats): Unit = {
    k.add("codegen.compiles", CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    current = null
    k.synchronized(k.close())
  }

  /** The query executions reported while `body` runs: the write plans that
    * the self-check and the observed pin metrics read.
    */
  def capture[T](drain: => Unit)(body: => T): (T, Seq[QueryExecution]) = {
    plans.synchronized(plans.clear())
    capturing = true
    try {
      val r = body
      drain
      (r, plans.synchronized(plans.toList))
    } finally capturing = false
  }

  private[perfbench] def withKey(f: KeyStats => Unit): Unit = {
    val k = current
    if (k == null) strays.incrementAndGet()
    else if (k.traced) k.synchronized(f(k))
  }

  def onQuery(qe: QueryExecution): Unit = {
    if (capturing) plans.synchronized(plans += qe)
    withKey { k =>
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      k.add("catalyst.analysis_s", ms("analysis") / 1e3)
      k.add("catalyst.optimization_s", ms("optimization") / 1e3)
      k.add("catalyst.planning_s", ms("planning") / 1e3)
      k.add("catalyst.queries", 1)
    }
  }

  def onCodegen(ms: Double): Unit = withKey(_.add("codegen.compile_s", ms / 1e3))

  /** Window, Generate and Aggregate nodes of a logical plan, descending
    * into subqueries and the inner plans of executed commands.
    */
  def heavyOps(plan: LogicalPlan): Map[String, Int] = {
    val out = scala.collection.mutable.Map("Window" -> 0, "Generate" -> 0, "Aggregate" -> 0)
    def walk(p: LogicalPlan): Unit = {
      p match {
        case _: Window => out("Window") += 1
        case _: Generate => out("Generate") += 1
        case _: Aggregate => out("Aggregate") += 1
        case _ =>
      }
      p.children.foreach(walk)
      p.innerChildren.foreach { case c: LogicalPlan => walk(c); case _ => }
      p.subqueries.foreach(walk)
    }
    walk(plan)
    out.toMap
  }

  /** Routes `CodeGenerator`'s "Code generated in N ms" INFO line into the
    * current key, without printing it.
    */
  def installCodegenTap(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    if (cfg.getLoggers.containsKey(name)) return
    val tap = new AbstractAppender("perfbench-codegen", null, null, true,
        Property.EMPTY_ARRAY) {
      private val Prefix = "Code generated in "
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.startsWith(Prefix))
          m.stripPrefix(Prefix).stripSuffix(" ms").trim.toDoubleOption
            .foreach(onCodegen)
      }
    }
    tap.start()
    cfg.addAppender(tap)
    val lc = new LoggerConfig(name, Level.INFO, false)
    lc.addAppender(tap, Level.INFO, null)
    cfg.addLogger(name, lc)
    ctx.updateLoggers()
  }
}

/** Registered through `spark.sql.queryExecutionListeners`, so every session
  * (the stream keys' `newSession()` clones too) reports into [[Probe]].
  */
final class QeListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Probe.onQuery(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
    Probe.onQuery(qe)
}

/** Scheduler, task and streaming-progress events from the shared bus. */
final class BusListener extends SparkListener {
  import Probe.withKey

  override def onJobStart(e: SparkListenerJobStart): Unit = withKey(_.onJobStart(e))
  override def onJobEnd(e: SparkListenerJobEnd): Unit = withKey(_.onJobEnd(e))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    withKey(_.onStage(e.stageInfo))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = withKey { k =>
    val m = e.taskMetrics
    if (!k.owns(e.stageId)) k.orphans += 1
    else k.add("scheduler.tasks", 1)
    if (m != null && k.owns(e.stageId)) {
      k.add("executor.task_run_s", m.executorRunTime / 1e3)
      k.add("executor.task_cpu_s", m.executorCpuTime / 1e9)
      k.add("executor.gc_s", m.jvmGCTime / 1e3)
      k.add("executor.deserialize_s", m.executorDeserializeTime / 1e3)
      k.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      k.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      k.add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      k.add("shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      k.add("scan.input_bytes", m.inputMetrics.bytesRead.toDouble)
      k.add("scan.input_rows", m.inputMetrics.recordsRead.toDouble)
      k.add("sink.output_bytes", m.outputMetrics.bytesWritten.toDouble)
      k.add("sink.output_rows", m.outputMetrics.recordsWritten.toDouble)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent => withKey { k =>
      val pr = p.progress
      def d(n: String) = Option(pr.durationMs.get(n)).map(_.doubleValue).getOrElse(0.0)
      k.add("streaming.batches", 1)
      k.add("streaming.trigger_ms", d("triggerExecution"))
      k.add("streaming.add_batch_ms", d("addBatch"))
      pr.stateOperators.foreach { s =>
        k.add("streaming.state_rows", s.numRowsUpdated.toDouble)
        k.add("streaming.state_commit_ms", s.commitTimeMs.toDouble)
      }
    }
    case _ =>
  }
}
