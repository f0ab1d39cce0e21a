package perfbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.{Success, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One closed span: `parent` is -1 for a root. Times are System.nanoTime. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
                      endNs: Long, attrs: Map[String, String])

/** What the listeners saw while a span was the innermost open one. */
final class Counters {
  var jobs, stages, tasks, failedTasks = 0L
  val jobMs = mutable.ArrayBuffer.empty[Long]
  var runMs, cpuNs, gcMs = 0L
  var shuffleWriteB, shuffleReadB, spillB = 0L
  var inputB, inputRows, outputB, outputRows = 0L
  var qes, analysisMs, optimizationMs, planningMs, exchanges = 0L
  val assetScans = mutable.Set.empty[String]
  /** RDD blocks stored: block name -> (RDD id, memory + disk bytes). */
  val rddBlocks = mutable.Map.empty[String, (Int, Long)]
}

/** Spans around the harness's calls into each engine layer. Untraced
  * ([[enabled]] false) a span is just its body; traced, the innermost
  * span id rides on the `perfbench.span` local property of every job
  * submitted under it, so the `SparkListener` attributes jobs, stages and
  * tasks to it; the `QueryExecutionListener` attributes each execution to
  * the span open when its event arrives. Everything stays in memory until
  * the run writes its result.
  */
final class Tracer(sc: SparkContext, assetRoot: String) {
  @volatile var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = TrieMap.empty[Long, Counters]
  private val stack = mutable.Stack.empty[Long]
  private var nextId = 0L
  // written and read by the listener threads
  private val jobSpan = TrieMap.empty[Int, Long]
  private val jobStart = TrieMap.empty[Int, Long]
  private val stageSpan = TrieMap.empty[Int, Long]
  @volatile private var current = -1L

  private def c(span: Long): Counters = counters.getOrElseUpdate(span, new Counters)

  def apply[A](name: String, attrs: Map[String, String] = Map.empty)(body: => A): A =
    if (!enabled) body
    else {
      val id = { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(-1L)
      stack.push(id); current = id
      sc.setLocalProperty(Tracer.Key, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        // deliver this span's query-execution events while it is still
        // the innermost one; the wait counts in its parent's self time
        drain()
        spans += Span(id, parent, name, t0, t1, attrs)
        stack.pop()
        current = parent
        sc.setLocalProperty(Tracer.Key, if (parent < 0) null else parent.toString)
      }
    }

  /** Mark what runs next as untraced: the listeners skip its events. */
  def quiet(): Unit = {
    current = Tracer.Quiet
    sc.setLocalProperty(Tracer.Key, Tracer.Quiet.toString)
  }

  /** Deliver every event posted so far; call before reading [[counters]]. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(Tracer.Key)))
        .map(_.toLong).getOrElse(-1L)
      e.stageIds.foreach(stageSpan(_) = span)
      if (span == Tracer.Quiet) return
      jobSpan(e.jobId) = span
      jobStart(e.jobId) = e.time
      c(span).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val span = jobSpan.getOrElse(e.jobId, -1L)
      jobStart.remove(e.jobId).foreach(t0 => c(span).jobMs += e.time - t0)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val span = stageSpan.getOrElse(e.stageInfo.stageId, -1L)
      if (span != Tracer.Quiet) c(span).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = stageSpan.getOrElse(e.stageId, -1L)
      if (span == Tracer.Quiet) return
      val k = c(span)
      k.tasks += 1
      if (e.reason != Success) k.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        k.runMs += m.executorRunTime
        k.cpuNs += m.executorCpuTime
        k.gcMs += m.jvmGCTime
        k.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        k.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        k.spillB += m.diskBytesSpilled
        k.inputB += m.inputMetrics.bytesRead
        k.inputRows += m.inputMetrics.recordsRead
        k.outputB += m.outputMetrics.bytesWritten
        k.outputRows += m.outputMetrics.recordsWritten
      }
    }
    // attributed like query executions: to the span open at delivery
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val span = current
      val b = e.blockUpdatedInfo
      b.blockId match {
        case RDDBlockId(rdd, _) if span != Tracer.Quiet && b.storageLevel.isValid =>
          c(span).rddBlocks(b.blockId.name) = (rdd, b.memSize + b.diskSize)
        case _ =>
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  // Attributed to the span open when the event is delivered: every span
  // drains the bus before it closes, so that is the span it ran under.
  private def record(qe: QueryExecution): Unit = {
    val span = current
    if (span == Tracer.Quiet) return
    val k = c(span)
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    k.qes += 1
    k.analysisMs += ms("analysis")
    k.optimizationMs += ms("optimization")
    k.planningMs += ms("planning")
    val plan = qe.executedPlan
    k.exchanges += Tracer.plans.collectWithSubqueries(plan) {
      case e: ShuffleExchangeLike => e
    }.size
    k.assetScans ++= Tracer.plans.collectWithSubqueries(plan) {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
    }.flatten.filter(_.contains(assetRoot))
  }
}

object Tracer {
  val Key = "perfbench.span"
  /** Span id of untraced work, whose events the listeners skip. */
  val Quiet = -2L
  private object plans extends AdaptiveSparkPlanHelper
}
