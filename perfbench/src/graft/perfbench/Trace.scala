package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.BusShim
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

/** Work counters of one span (own events only; children keep theirs). */
final class Counters {
  var jobs, stages, tasks = 0L
  var inputBytes, shuffleWrite, shuffleRead, spill, cutBytes = 0L
  var cpuNs, runMs, gcMs, schedDelayMs = 0L
}

/** One recorded span: a timed call into a layer. `parent` is 0 for a root;
  * `op` identifies the op call the span belongs to (0 = none). */
final case class Span(id: Int, parent: Int, name: String, op: Int, pass: Int,
    startNs: Long, endNs: Long)

/** Marker posted into the listener bus: events that follow it, up to the
  * next marker, belong to span `id` (0 = outside any traced span). */
final case class SpanMark(id: Int) extends SparkListenerEvent

/** Attributes scheduler events to the span open when they were posted.
  * Span markers ride the same bus as the scheduler's events, and the driver
  * thread blocks on every action, so the bus order places each job's events
  * between its span's start and end markers. */
final class SpanListener extends SparkListener {
  private var current = 0
  val bySpan = mutable.HashMap.empty[Int, Counters]
  private def c = bySpan.getOrElseUpdate(current, new Counters)

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case SpanMark(id) => current = id
      case _ =>
    }
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (current != 0) c.jobs += 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { if (current != 0) c.stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (current != 0 && e.taskMetrics != null) {
      val m = e.taskMetrics
      val k = c
      k.tasks += 1
      k.inputBytes += m.inputMetrics.bytesRead
      k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      k.cpuNs += m.executorCpuTime
      k.runMs += m.executorRunTime
      k.gcMs += m.jvmGCTime
      val i = e.taskInfo
      k.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        i.gettingResultTime)
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (current != 0 && b.blockId.isRDD && b.storageLevel.isValid)
      c.cutBytes += b.memSize + b.diskSize
  }
}

/** Span recorder. Spans are kept in memory and written at exit; with
  * tracing off, `span` only runs its body. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val listener = new SpanListener
  if (enabled) sc.addSparkListener(listener)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var lastOp = 0
  private var currentOp = 0
  /** Spans are recorded only while `on`: a traced run alternates traced and
    * untraced passes to measure the tracing overhead. */
  var on = false
  /** The pass spans are recorded in. */
  var pass = 0

  /** Span around one op call; its child spans share the call's op id. */
  def op[T](name: String)(body: => T): T =
    if (!(enabled && on)) body
    else {
      val outer = currentOp
      lastOp += 1
      currentOp = lastOp
      try span(name)(body) finally currentOp = outer
    }

  def span[T](name: String)(body: => T): T =
    if (!(enabled && on)) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      BusShim.post(sc, SpanMark(id))
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        BusShim.post(sc, SpanMark(parent))
        spans += Span(id, parent, name, currentOp, pass, t0, t1)
      }
    }

  /** Counters of span `id`'s own events; call [[drain]] first. */
  def countersOf(id: Int): Counters = listener.synchronized {
    listener.bySpan.getOrElse(id, new Counters)
  }

  def drain(): Unit = if (enabled) BusShim.drain(sc)

  /** Span duration minus the time its child spans cover. */
  def selfNs(s: Span): Long =
    (s.endNs - s.startNs) -
      spans.iterator.filter(_.parent == s.id).map(c => c.endNs - c.startNs).sum
}

/** Shape counts of a frame's final (AQE) physical plan. */
final case class PlanCounts(exchanges: Int, sortAggregates: Int,
    sortMergeJoins: Int, reusedExchanges: Int)

object PlanCounts {
  val zero: PlanCounts = PlanCounts(0, 0, 0, 0)

  private def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => Iterator(r) // its child is counted where it runs
    case other => Iterator(other) ++ other.children.iterator.flatMap(nodes) ++
      other.subqueries.iterator.flatMap(nodes)
  }

  private def finalPlan(df: DataFrame): Iterator[SparkPlan] =
    nodes(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan)

  /** Files the frame's executed scans read. */
  def filesScanned(df: DataFrame): Long = finalPlan(df).collect {
    case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
  }.sum

  def of(df: DataFrame): PlanCounts =
    finalPlan(df).foldLeft(zero) { (acc, n) => n match {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike =>
        acc.copy(exchanges = acc.exchanges + 1)
      case _: ReusedExchangeExec => acc.copy(reusedExchanges = acc.reusedExchanges + 1)
      case _: SortAggregateExec => acc.copy(sortAggregates = acc.sortAggregates + 1)
      case _: SortMergeJoinExec => acc.copy(sortMergeJoins = acc.sortMergeJoins + 1)
      case _ => acc
    }}
}
