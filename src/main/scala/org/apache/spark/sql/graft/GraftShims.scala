package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => CDataset, ExpressionUtils, SparkSession => CSparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Bridge to `private[sql]` classic-engine internals that a custom-plan API
  * necessarily touches (the standard extension-library technique): Column →
  * Expression conversion, analyzed-plan extraction, and `Dataset.ofRows` to
  * wrap a hand-constructed LogicalPlan back into a DataFrame, checkpoint
  * release, and the executed plan a SQL-execution end event carries (for
  * [[graft.WorkCount]]). Spark 4 split `org.apache.spark.sql` into an
  * abstract API and the `classic` execution implementation. */
object GraftShims {

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[CDataset[_]].queryExecution.analyzed

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(spark.asInstanceOf[CSparkSession], plan)

  /** The executed (for AQE, final) plan of a finished SQL execution, when
    * the end event carries its query execution. */
  def executedPlan(e: SparkListenerSQLExecutionEnd): Option[SparkPlan] =
    Option(e.qe).map(_.executedPlan)

  /** Free the block-store storage behind a `localCheckpoint()`'d frame.
    *
    * `Dataset.unpersist()` is a no-op for checkpointed frames — the
    * checkpoint RDD is persisted directly on the RDD, not registered in the
    * CacheManager — so without this, every checkpoint lives for the session.
    * The checkpointed RDD IS the frame's single `LogicalRDD` leaf; this
    * unpersists it (non-blocking).
    *
    * STRICT by design: the argument must be a DIRECT `localCheckpoint()`
    * frame — a plan that is exactly one `LogicalRDD` leaf. A derived frame
    * (anything composed on top of checkpoints) throws instead of freeing:
    * sweeping every LogicalRDD leaf of a composite plan would also free
    * UNRELATED shared checkpoints reachable from it, and since checkpoint
    * lineage is truncated, that is an unrecoverable missing-block failure
    * later, not a slowdown — fail loudly here instead.
    *
    * DANGER: after freeing, the frame (and anything lazily built on it) is
    * unrecoverable. Only call on frames proven dead (e.g. the intermediate
    * rounds of an iterative loop after the next round was checkpointed). */
  def freeCheckpoint(df: DataFrame): Unit = analyzed(df) match {
    case l: org.apache.spark.sql.execution.LogicalRDD =>
      l.rdd.unpersist(blocking = false)
      // a RELIABLY checkpointed frame (`checkpoint()`, the cluster-durable
      // cut policy) holds FILES, not blocks — delete the retired round's
      // directory so the iterative loop keeps the same two-generation
      // storage plateau under either policy.
      deleteReliableFiles(df)
    case other => throw new IllegalArgumentException(
      "freeCheckpoint requires a direct localCheckpoint() frame (a single " +
        s"LogicalRDD leaf); got ${other.nodeName} — freeing through a " +
        "composite plan could unpersist unrelated shared checkpoints")
  }

  /** Delete a reliably-checkpointed frame's durable files, if any
    * (`getCheckpointFile` is None for local checkpoints and for
    * non-checkpoint frames — a no-op then). Needs NO live SparkContext:
    * the path is RDD metadata and the delete goes straight through the
    * Hadoop filesystem, which is what lets a retirement pass reclaim
    * durable storage even after its owning session was stopped. */
  def deleteReliableFiles(df: DataFrame): Unit = analyzed(df) match {
    case l: org.apache.spark.sql.execution.LogicalRDD =>
      l.rdd.getCheckpointFile.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        val sc = df.sparkSession.sparkContext
        val conf =
          if (!sc.isStopped) sc.hadoopConfiguration
          else new org.apache.hadoop.conf.Configuration()
        p.getFileSystem(conf).delete(p, true)
      }
    case _ => ()
  }
}
