package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, LeafExecNode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.command.ExecutedCommandExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Spans of one pass share `pass`; `parent` is the span
  * that was open when this one began (-1 at the top).
  */
final class Span(val id: Int, val name: String, val parent: Int, val pass: Int,
    val startMs: Long, val startNs: Long) {
  var endMs: Long = -1L
  var endNs: Long = -1L
  // Work attributed to this span itself (not to its children).
  var jobs = 0L
  var tasks = 0L
  var taskFailures = 0L
  var cpuNs = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var planScans = 0L
  var planExchanges = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Attributes Spark jobs, tasks, shuffle, spill and final-plan shape to the
  * span open when the work was submitted. Jobs carry the span id as a local
  * property, so jobs a layer call runs eagerly (pins, checkpoint rounds,
  * driver collects) land on that call. Query executions are attributed to
  * the innermost open span: every span drains the listener bus before it
  * closes, so an execution's end event is always delivered while the span
  * that ran it is still open.
  */
final class Tracer private (sc: SparkContext) extends SparkListener
    with QueryExecutionListener {

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val stageSpan = mutable.HashMap.empty[Int, Span]
  @volatile private var current: Span = _

  /** Run `body` inside a span named `name`; nested calls make child spans. */
  def span[T](name: String, pass: Int)(body: => T): T = {
    val s = synchronized {
      val sp = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
        pass, System.currentTimeMillis(), System.nanoTime())
      spans += sp
      sp
    }
    stack.push(s)
    enter(s)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      ListenerDrain(sc)
      stack.pop()
      stack.headOption match {
        case Some(p) => enter(p)
        case None =>
          current = null
          sc.setLocalProperty(Tracer.SpanProperty, null)
          sc.setJobDescription(null)
      }
    }
  }

  private def enter(s: Span): Unit = {
    current = s
    sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
    sc.setJobDescription(s"perfbench pass ${s.pass}: ${s.name}")
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val owner = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanProperty))).map(id => spans(id.toInt))
      .orElse(Option(current))
    owner.foreach { s =>
      s.jobs += 1
      e.stageIds.foreach(stageSpan(_) = s)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      s.tasks += 1
      if (e.taskInfo.failed) s.taskFailures += 1
      s.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        s.cpuNs += m.executorCpuTime
        s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val s = current
      if (s != null) {
        val (scans, exchanges) = Tracer.planShape(qe.executedPlan)
        s.planScans += scans
        s.planExchanges += exchanges
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Tracer extends AdaptiveSparkPlanHelper {
  val SpanProperty = "perfbench.span"

  private val installed = mutable.WeakHashMap.empty[SparkContext, Tracer]

  /** The session's tracer, registered on first use only: the check-then-add
    * install, so a second call never double-counts events.
    */
  def install(spark: SparkSession): Tracer = synchronized {
    val sc = spark.sparkContext
    installed.getOrElseUpdate(sc, {
      val t = new Tracer(sc)
      sc.addSparkListener(t)
      spark.listenerManager.register(t)
      t
    })
  }

  /** (scan leaves, shuffle and broadcast exchanges) of a final plan, walked
    * through adaptive query stages and subqueries. Reused exchanges are
    * neither: they read a stage another branch already ran.
    */
  def planShape(plan: SparkPlan): (Long, Long) = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    val scans = nodes.count {
      case _: ReusedExchangeExec | _: QueryStageExec | _: ExecutedCommandExec |
          _: CommandResultExec => false
      case _: LeafExecNode => true
      case _ => false
    }
    val exchanges = nodes.count(_.isInstanceOf[Exchange])
    (scans.toLong, exchanges.toLong)
  }

  /** Milliseconds of [from, to] covered by at least one interval. */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total = 0L
    var reach = from
    intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) {
          total += b - math.max(a, reach)
          reach = b
        }
      }
    total
  }
}
