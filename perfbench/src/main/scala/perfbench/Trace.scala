package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the client thread: an operation (parent -1) or a
  * call into one engine module inside it. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      start: Long, var end: Long = -1L)

/** Spans and Spark listener counts of one traced phase.
  *
  * Spans are recorded only around the benchmark's own calls into engine
  * modules; nothing inside the engine is instrumented. Each span's id rides
  * the SparkContext local property [[Trace.SpanProp]], so every job and
  * stage submitted under it carries its id and the listeners attribute
  * their counts to it. At the end of every operation the listener bus is
  * drained, so all events of operation k are in before operation k+1
  * starts and op-level counts (Catalyst phases, AQE updates, streaming
  * progress) are attributed to the operation that was current. Everything
  * stays in memory until the phase ends.
  *
  * A disabled trace records nothing, registers no listener and sets no
  * local property: the untraced phases run the bare operation. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile private var currentOp = -1

  final class Job(val id: Int, val span: Int, val desc: String,
                  val start: Long) { var end = -1L }
  final class Stage(val id: Int, val span: Int, val numTasks: Int,
                    val json: Boolean) {
    val taskMs = mutable.ArrayBuffer.empty[Long]
    var runMs, shuffleRead, shuffleWrite, spill, input, output = 0L
    var failed = 0
  }
  final class OpCounts {
    val jobs = mutable.ArrayBuffer.empty[Job]
    val stages = mutable.LinkedHashMap.empty[Int, Stage]
    var analysisMs, optimizationMs, planningMs = 0L
    var executions, replans = 0
    val progress = mutable.ArrayBuffer.empty[
      org.apache.spark.sql.streaming.StreamingQueryProgress]
  }
  private val byOp = mutable.HashMap.empty[Int, OpCounts]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private def counts(op: Int) = byOp.getOrElseUpdate(op, new OpCounts)

  private val sparkListener = new SparkListener {
    private val jobsById = mutable.HashMap.empty[Int, Job]
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      val desc = props.flatMap(p =>
        Option(p.getProperty("spark.job.description"))).getOrElse("")
      val j = new Job(e.jobId, span, desc, e.time)
      jobsById(e.jobId) = j
      e.stageIds.foreach(stageSpan(_) = span)
      counts(currentOp).jobs += j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobsById.remove(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        val si = e.stageInfo
        val json = si.rddInfos.exists(r =>
          r.scope.exists(_.name.toLowerCase.contains("json")))
        val st = new Stage(si.stageId, stageSpan.getOrElse(si.stageId, -1),
          si.numTasks, json)
        pending.remove(si.stageId).foreach { p =>
          st.taskMs ++= p.taskMs; st.runMs = p.runMs
          st.shuffleRead = p.shuffleRead; st.shuffleWrite = p.shuffleWrite
          st.spill = p.spill; st.input = p.input; st.output = p.output
          st.failed = p.failed
        }
        counts(currentOp).stages(si.stageId) = st
      }
    private val pending = mutable.HashMap.empty[Int, Stage]
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val st = pending.getOrElseUpdate(e.stageId,
        new Stage(e.stageId, -1, 0, json = false))
      st.taskMs += e.taskInfo.duration
      if (e.reason != Success) st.failed += 1
      Option(e.taskMetrics).foreach { m =>
        st.runMs += m.executorRunTime
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.input += m.inputMetrics.bytesRead
        st.output += m.outputMetrics.bytesWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate =>
        Trace.this.synchronized { counts(currentOp).replans += 1 }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      val c = counts(currentOp)
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      c.analysisMs += ms("analysis")
      c.optimizationMs += ms("optimization")
      c.planningMs += ms("planning")
      c.executions += 1
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized { counts(currentOp).progress += e.progress }
  }

  /** Register the listeners (a traced round starts). */
  def attach(): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Deliver what is pending, then remove the listeners. */
  def detach(): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  private def drain(): Unit =
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)

  /** Time `body` as span `name` (a top-level span when no span is open). */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption
      val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1),
        currentOp, System.nanoTime())
      spans += s
      stack = s :: stack
      val sc = spark.sparkContext
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProp,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Run one operation; returns its wall seconds and, when traced, its
    * per-layer counts (resolved after the listener bus drained). */
  def op[T](id: Int, name: String, cores: Int)(body: => T)
      : (T, Double, Map[String, Double]) = {
    val gc0 = gcMs(); val jit0 = jitMs()
    currentOp = id
    val t0 = System.nanoTime()
    val r = span(name)(body)
    val wall = (System.nanoTime() - t0) / 1e9
    if (!enabled) (r, wall, Map.empty)
    else {
      drain()
      val m = synchronized(opMetrics(id, wall, cores)) ++ Map(
        "jvm.gc_s" -> (gcMs() - gc0) / 1e3,
        "jvm.jit_s" -> (jitMs() - jit0) / 1e3)
      (r, wall, m)
    }
  }

  private def opMetrics(id: Int, wall: Double, cores: Int)
      : Map[String, Double] = {
    val c = counts(id)
    val stages = c.stages.values.toSeq
    val taskS = stages.map(_.runMs).sum / 1e3
    val skew = stages.filter(_.taskMs.size >= 2).map { s =>
      val sorted = s.taskMs.sorted
      sorted.last.toDouble / math.max(1L, sorted(sorted.size / 2))
    }.foldLeft(1.0)(math.max)
    val reducers = stages.filter(_.shuffleRead > 0).map(_.numTasks).sorted
    val covered = union(c.jobs.filter(_.end >= 0).map(j => (j.start, j.end)))
    val json = stages.filter(_.json)
    val progress = c.progress.toSeq
    def dur(keys: String*) = progress.map(p =>
      keys.map(k => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum)
      .sum / 1e3
    val trigger = dur("triggerExecution")
    val labeled = c.jobs.filter(_.end >= 0).groupBy(j => phaseOf(j.desc))
      .collect { case (Some(p), js) =>
        p -> union(js.map(j => (j.start, j.end))) / 1e3 }
    val spanJobs = c.jobs.groupBy(_.span).map { case (s, js) => s -> js.size }
    Map(
      "spark.jobs" -> c.jobs.size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> stages.map(_.taskMs.size).sum.toDouble,
      "spark.task_s" -> taskS,
      "spark.core_idle_share" -> (1.0 - taskS / (wall * cores)),
      "spark.skew" -> skew,
      "spark.shuffle_read_bytes" -> stages.map(_.shuffleRead).sum.toDouble,
      "spark.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
      "spark.spill_bytes" -> stages.map(_.spill).sum.toDouble,
      "spark.input_bytes" -> stages.map(_.input).sum.toDouble,
      "spark.output_bytes" -> stages.map(_.output).sum.toDouble,
      "spark.failed_tasks" -> stages.map(_.failed).sum.toDouble,
      "catalyst.analysis_s" -> c.analysisMs / 1e3,
      "catalyst.optimization_s" -> c.optimizationMs / 1e3,
      "catalyst.planning_s" -> c.planningMs / 1e3,
      "catalyst.executions" -> c.executions.toDouble,
      "aqe.replans" -> c.replans.toDouble,
      "aqe.reduce_tasks" ->
        (if (reducers.isEmpty) 0.0 else reducers(reducers.size / 2).toDouble),
      "driver.self_s" -> math.max(0.0, wall - covered / 1e3),
      "sources.json_scans" -> json.size.toDouble,
      "sources.json_scan_tasks" -> json.map(_.taskMs.size).sum.toDouble,
      "sources.json_scan_task_s" -> json.map(_.runMs).sum / 1e3,
      "streaming.batches" -> progress.size.toDouble,
      "streaming.trigger_s" -> trigger,
      "streaming.add_batch_s" -> dur("addBatch"),
      "streaming.planning_s" -> dur("queryPlanning"),
      "streaming.offsets_s" -> dur("latestOffset", "getBatch", "getOffset"),
      "streaming.wal_s" -> dur("walCommit", "commitOffsets"),
      "streaming.state_commit_s" -> progress.flatMap(_.stateOperators)
        .map(_.commitTimeMs).sum / 1e3,
      "streaming.state_rows" -> progress.lastOption.map(
        _.stateOperators.map(_.numRowsTotal).sum.toDouble).getOrElse(0.0),
      "streaming.state_bytes" -> progress.lastOption.map(
        _.stateOperators.map(_.memoryUsedBytes).sum.toDouble).getOrElse(0.0),
      "streaming.input_rows" -> progress.map(_.numInputRows).sum.toDouble,
      "streaming.startup_s" ->
        (if (progress.isEmpty) 0.0 else math.max(0.0, wall - trigger)),
    ) ++ Phases.map(p => s"layout.phase.${p}_s" -> labeled.getOrElse(p, 0.0)) ++
      spans.filter(_.op == id).groupBy(_.name).map { case (n, ss) =>
        s"jobs@$n" -> ss.map(s => spanJobs.getOrElse(s.id, 0)).sum.toDouble }
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  /** MergeTable commit phases, by the engine's own JobLabel text. */
  val Phases = Seq("validate", "join_write", "stats", "dicts", "delta")
  def phaseOf(desc: String): Option[String] =
    if (!desc.startsWith("mergetable: ")) None
    else if (desc.contains("validate")) Some("validate")
    else if (desc.contains("write stage")) Some("join_write")
    else if (desc.contains("stats")) Some("stats")
    else if (desc.contains("dicts")) Some("dicts")
    else if (desc.contains("delta")) Some("delta")
    else None

  /** Milliseconds covered by the union of closed intervals. */
  def union(iv: collection.Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum
  def jitMs(): Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(0L)
}
