package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.streaming.runtime.IncrementalExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of a traced pass: the harness opens a span around each
  * call it makes into a layer of the engine. `parent` is the id of the
  * enclosing span (-1 at the top).
  */
final case class Span(id: Int, name: String, label: String, parent: Int,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Where the harness opens spans around its calls into the engine. */
trait Spans {
  /** Time `body` as a span named `name` (the layer call) for operation
    * `label`.
    */
  def span[T](name: String, label: String)(body: => T): T
}

/** Untraced passes: no bookkeeping at all. */
object NoSpans extends Spans {
  def span[T](name: String, label: String)(body: => T): T = body
}

/** Spans and Spark's own listener readings for the traced passes of a run.
  *
  * Everything is kept in memory. Listeners are registered only while a
  * traced pass runs and the listener bus is drained before they are read,
  * so untraced passes carry no listener and no span bookkeeping. Each traced
  * pass is reduced to one row of per-layer metrics; the run reports the
  * median row. The raw spans are written out when the run ends.
  */
class Tracer(spark: SparkSession, cores: Int) extends Spans {
  import Tracer._
  private var on = false
  private var nextId = 0
  private val stack = scala.collection.mutable.Stack[Int]()
  val spans = ArrayBuffer[Span]()
  private var passSpans = 0

  private val jobs = ArrayBuffer[Job]()
  private val tasks = ArrayBuffer[Task]()
  private var stages = 0
  private val writes = ArrayBuffer[Planned]()
  private val executions = scala.collection.mutable.Map[Long, String]()
  private var probeNs = 0L
  private val batches = ArrayBuffer[Batch]()
  val passMetrics = ArrayBuffer[Map[String, Double]]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      // a job of a SQL action (including the stage jobs adaptive execution
      // submits from other threads) is named after the action's call site,
      // "localCheckpoint at TextDedup.scala:538"; other jobs after their
      // result stage, which is created last
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val callSite = prop("spark.sql.execution.id")
        .flatMap(id => executions.get(id.toLong))
        .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
      jobs += Job(e.jobId, e.time, callSite, prop(Tracer.PhaseKey).getOrElse(""))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        Tracer.this.synchronized { executions(x.executionId) = x.description }
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += Task(e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.inputMetrics.bytesRead)
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      if (writeActions.contains(funcName)) {
        val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
        val census = Tracer.census(qe.executedPlan)
        Tracer.this.synchronized { writes += Planned(phases, census) }
      } else if (probeActions.contains(funcName) &&
          !qe.isInstanceOf[IncrementalExecution]) // a streaming micro-batch
        Tracer.this.synchronized { probeNs += durationNs }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      val b = Batch(p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum, String.valueOf(p.id), p.numInputRows)
      Tracer.this.synchronized { batches += b }
    }
  }

  /** Jobs started inside a span carry its name as their phase. */
  def span[T](name: String, label: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val sc = spark.sparkContext
      val prevPhase = sc.getLocalProperty(Tracer.PhaseKey)
      sc.setLocalProperty(Tracer.PhaseKey, name)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        sc.setLocalProperty(Tracer.PhaseKey, prevPhase)
        spans += Span(id, name, label, parent, t0, t1)
      }
    }

  /** Start a traced pass: register the listeners. */
  def begin(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    passSpans = spans.size
    on = true
  }

  /** End a traced pass of `wallS` seconds that ran from `startMs`: drain the
    * bus, unregister, and reduce what was recorded to one metrics row.
    */
  def end(startMs: Long, wallS: Double): Unit = {
    on = false
    PerfbenchBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
    synchronized {
      passMetrics += reduce(startMs, wallS, spans.drop(passSpans).toSeq)
      jobs.clear(); tasks.clear(); writes.clear(); batches.clear()
      executions.clear(); stages = 0; probeNs = 0L
    }
  }

  private def reduce(startMs: Long, wallS: Double, ss: Seq[Span])
  : Map[String, Double] = {
    def spanSum(name: String) = ss.filter(_.name == name).map(_.seconds).sum
    val pins = jobs.filter(j => Tracer.isPin(j.callSite))
    val probes = jobs.filter(j => !Tracer.isPin(j.callSite) &&
      Tracer.isProbe(j.callSite))
    def ms(x: Long) = x / 1000.0
    def mb(x: Long) = x / 1048576.0
    val endMs = startMs + (wallS * 1000).round
    // wall time of the pass during which no task ran: the scheduling floor
    val busyMs = Tracer.unionMs(
      tasks.map(t => (math.max(t.launchMs, startMs), math.min(t.finishMs, endMs))).toSeq)
    val runS = ms(tasks.map(_.runMs).sum)
    val data = batches.filter(_.inputRows > 0).toSeq
    def batchMedian(f: Batch => Long) =
      if (data.isEmpty) 0.0 else Tracer.median(data.map(b => ms(f(b))))
    // the state held at the end of the pass: the last batch of each query
    val lastPerQuery = batches.groupBy(_.query).values.map(_.last).toSeq
    Map(
      "queries.construct_s" -> spanSum("construct"),
      "queries.construct_jobs" -> jobs.count(_.phase == "construct").toDouble,
      "ops.pin_jobs" -> pins.size.toDouble,
      "ops.probe_jobs" -> probes.size.toDouble,
      "ops.probe_s" -> probeNs / 1e9,
      "plans.analyze_s" -> ms(writes.map(_.phasesMs.getOrElse("analysis", 0L)).sum),
      "plans.optimize_s" -> ms(writes.map(_.phasesMs.getOrElse("optimization", 0L)).sum),
      "plans.physical_s" -> ms(writes.map(_.phasesMs.getOrElse("planning", 0L)).sum),
      "plans.scans" -> writes.map(_.census("scans")).sum.toDouble,
      "plans.exchanges" -> writes.map(_.census("exchanges")).sum.toDouble,
      "plans.reused_exchanges" -> writes.map(_.census("reused")).sum.toDouble,
      "exec.jobs" -> jobs.size.toDouble,
      "exec.stages" -> stages.toDouble,
      "exec.tasks" -> tasks.size.toDouble,
      "exec.task_run_s" -> runS,
      "exec.task_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> ms(tasks.map(_.gcMs).sum),
      "exec.core_util" -> runS / (wallS * cores),
      "exec.shuffle_write_mb" -> mb(tasks.map(_.shuffleWrite).sum),
      "exec.shuffle_read_mb" -> mb(tasks.map(_.shuffleRead).sum),
      "exec.spill_mb" -> mb(tasks.map(_.spill).sum),
      "exec.input_mb" -> mb(tasks.map(_.input).sum),
      "exec.floor_s" -> math.max(0.0, wallS - ms(busyMs)),
      "streaming.batch_s" -> batchMedian(_.durations.getOrElse("triggerExecution", 0L)),
      "streaming.add_batch_s" -> batchMedian(_.durations.getOrElse("addBatch", 0L)),
      "streaming.plan_s" -> batchMedian(_.durations.getOrElse("queryPlanning", 0L)),
      "streaming.commit_s" -> batchMedian(b =>
        b.durations.getOrElse("commitOffsets", 0L) + b.durations.getOrElse("walCommit", 0L)),
      "streaming.state_commit_s" -> batchMedian(_.stateCommitMs),
      "streaming.state_rows" -> lastPerQuery.map(_.stateRows).sum.toDouble,
      "streaming.state_mb" -> mb(lastPerQuery.map(_.stateBytes).sum))
  }

  /** The median of each metric over the traced passes. */
  def metrics: Map[String, Double] =
    if (passMetrics.isEmpty) Map.empty
    else passMetrics.head.keys.map(k =>
      k -> Tracer.median(passMetrics.map(_(k)).toSeq)).toMap
}

object Tracer {
  private final case class Job(id: Int, startMs: Long, callSite: String,
                               phase: String, var endMs: Long = -1L)
  private final case class Task(launchMs: Long, finishMs: Long, runMs: Long,
                                cpuNs: Long, gcMs: Long, shuffleWrite: Long,
                                shuffleRead: Long, spill: Long, input: Long)
  private final case class Planned(phasesMs: Map[String, Long],
                                   census: Map[String, Int])
  private final case class Batch(durations: Map[String, Long],
                                 stateRows: Long, stateBytes: Long,
                                 stateCommitMs: Long, query: String,
                                 inputRows: Long)

  val PhaseKey = "perfbench.phase"

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Total length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  // Spark names an action after the first user-facing method on its stack
  // ("count at Graph.scala:88"): checkpoint and localCheckpoint are pins,
  // the actions below that bring data back to the caller are probes, and
  // the writes are the terminal write of an operation
  private val pinActions = Set("checkpoint", "localCheckpoint")
  private val probeActions = Set("count", "isEmpty", "collect", "take",
    "head", "first", "takeAsList", "collectAsList", "toLocalIterator",
    "reduce", "show", "tail")
  private val writeActions = Set("command", "save", "overwrite", "append",
    "insertInto", "saveAsTable")

  private def action(callSite: String) = callSite.takeWhile(_ != ' ')
  def isPin(callSite: String): Boolean = pinActions.contains(action(callSite))
  def isProbe(callSite: String): Boolean = probeActions.contains(action(callSite))

  /** Scans, exchanges and reused exchanges of an executed plan, looking
    * through adaptive plans, query stages and subqueries.
    */
  def census(plan: SparkPlan): Map[String, Int] = {
    var scans = 0
    var exchanges = 0
    var reused = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _: ReusedExchangeExec => reused += 1
      case other =>
        other match {
          case _: FileSourceScanExec | _: BatchScanExec => scans += 1
          case _: Exchange => exchanges += 1
          case _ =>
        }
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    Map("scans" -> scans, "exchanges" -> exchanges, "reused" -> reused)
  }
}
