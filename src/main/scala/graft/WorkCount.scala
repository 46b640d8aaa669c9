package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graft.GraftShims

/** The Spark work one body did. Scheduler counters cover the body's jobs
  * (completed stages only, so a skipped stage is not counted); the plan
  * counts walk the AQE-final plan of every SQL execution those jobs ran in.
  * `executorCpuNs` and the byte counters vary with the data and the host;
  * the job, stage and plan counts are fixed for a given plan and input. */
final case class Work(jobs: Int, stages: Int, tasks: Int, inputBytes: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    executorCpuNs: Long, exchanges: Int, reusedExchanges: Int,
    sortMergeJoins: Int, sortAggregates: Int) {

  /** Counter name → value, in record order. */
  def fields: Seq[(String, Long)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "input_bytes" -> inputBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "executor_cpu_ns" -> executorCpuNs, "exchanges" -> exchanges,
    "reused_exchanges" -> reusedExchanges,
    "sort_merge_joins" -> sortMergeJoins, "sort_aggregates" -> sortAggregates)

  def json(keys: Set[String] = fields.map(_._1).toSet): String =
    fields.filter(f => keys(f._1)).map { case (k, v) => s""""$k":$v""" }
      .mkString("{", ",", "}")
}

object WorkCount {

  private val PhaseKey = "graft.work.phase"
  private val calls = new AtomicLong

  /** Runs `body` and counts the Spark work it started on this thread (and on
    * threads that inherit this thread's local properties, such as Spark's
    * broadcast and subquery pools). A job another thread submits meanwhile
    * is not counted.
    *
    * The count is exact: listener events arrive in post order, and every
    * event of a finished job is posted before its action returns, so once a
    * marker job submitted after `body` reaches the listener, all of the
    * body's events have too. Time `body` inside it: the flush is not part of
    * the body's cost. */
  def during[T](spark: SparkSession)(body: => T): (T, Work) = {
    val sc = spark.sparkContext
    val id = calls.incrementAndGet()
    val counter = new Counter(s"body-$id", s"marker-$id")
    val outer = sc.getLocalProperty(PhaseKey)
    sc.addSparkListener(counter)
    try {
      sc.setLocalProperty(PhaseKey, counter.token)
      val result = try body finally sc.setLocalProperty(PhaseKey, counter.marker)
      sc.parallelize(Seq(1), 1).count()
      require(counter.flushed.await(60, TimeUnit.SECONDS),
        "WorkCount: the marker job never reached the listener")
      (result, counter.work)
    } finally {
      sc.setLocalProperty(PhaseKey, outer)
      sc.removeSparkListener(counter)
    }
  }

  /** Nodes of an executed plan: through AQE wrappers and query stages, into
    * subqueries; a reused exchange is counted once, not walked again. */
  private def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => Iterator(r)
    case other => Iterator(other) ++ other.children.iterator.flatMap(nodes) ++
      other.subqueries.iterator.flatMap(nodes)
  }

  /** Counts the events of jobs whose [[PhaseKey]] is `token`; the job
    * carrying `marker` releases [[flushed]]. Called on the listener bus's
    * one thread and read after [[flushed]], so the latch orders the reads. */
  private final class Counter(val token: String, val marker: String)
      extends SparkListener {
    val flushed = new CountDownLatch(1)
    private val stageIds = mutable.Set.empty[Int]
    private val executions = mutable.Set.empty[Long]
    private var jobs, stages, tasks = 0
    private var input, shuffleRead, shuffleWrite, spill, cpuNs = 0L
    private var exchanges, reused, smj, sortAgg = 0

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).map(_.getProperty(PhaseKey)) match {
        case Some(`token`) =>
          jobs += 1
          stageIds ++= e.stageIds
          Option(e.properties.getProperty(SQLExecution.EXECUTION_ID_KEY))
            .foreach(executions += _.toLong)
        case Some(`marker`) => flushed.countDown()
        case _ =>
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (stageIds(e.stageInfo.stageId)) stages += 1

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageIds(e.stageId) && e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks += 1
        input += m.inputMetrics.bytesRead
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        cpuNs += m.executorCpuTime
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd if executions(end.executionId) =>
        GraftShims.executedPlan(end).iterator.flatMap(nodes).foreach {
          case _: ShuffleExchangeLike | _: BroadcastExchangeLike => exchanges += 1
          case _: ReusedExchangeExec => reused += 1
          case _: SortMergeJoinExec => smj += 1
          case _: SortAggregateExec => sortAgg += 1
          case _ =>
        }
      case _ =>
    }

    def work: Work = Work(jobs, stages, tasks, input, shuffleRead,
      shuffleWrite, spill, cpuNs, exchanges, reused, smj, sortAgg)
  }
}
