package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** As-of join as a first-class Catalyst operator: custom `LogicalPlan` →
  * `SparkStrategy` → `SparkPlan`, installed by `AsOfJoinOps.ensureRegistered`
  * (route (c) of the custom-operator preference order — the composed
  * union+window formulation lives in `graft.analytics.AsOf` as route (a)).
  *
  * Semantics: for every left ("probe") row, the LATEST right ("reference")
  * row with the same key and `rightTime <= leftTime`; right columns are null
  * when no such row exists. Ties on `rightTime` resolve to the right row
  * latest in the child's (key, time, ...) sort order — callers append
  * tiebreak columns to `rightTime`'s ordering by pre-sorting semantics of
  * the physical plan (see [[AsOfJoinExec.requiredChildOrdering]]).
  *
  * Scale shape: both sides hash-partition on the key (ONE shuffle each,
  * enforced declaratively through `requiredChildDistribution`, so
  * EnsureRequirements plans the exchanges and AQE can still resize them) and
  * sort within partitions; the merge itself is a single forward scan per
  * partition — O(|left| + |right|), no per-row lookups, no state beyond one
  * buffered reference row. This is the plan a 100 TB as-of join wants.
  *
  * Keys and times must be non-null (the synthetic corpus guarantees it; a
  * production build would null-filter or null-safe the comparators).
  */
case class AsOfJoin(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    rightTiebreak: Seq[Expression]) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Planner rule: logical [[AsOfJoin]] → physical [[AsOfJoinExec]]. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt, tb) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tb) :: Nil
    case _ => Nil
  }
}

/** Sorted-merge as-of join. Children are required to arrive hash-clustered
  * by key and sorted by (key, time) — Catalyst inserts the exchanges/sorts,
  * which keeps them visible to AQE and reusable by neighboring operators. */
case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    rightTiebreak: Seq[Expression]) extends SparkPlan {

  override def children: Seq[SparkPlan] = Seq(left, right)
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override def outputPartitioning: Partitioning = left.outputPartitioning

  /** The merge streams left rows through in order, so the operator PRESERVES
    * the left child's (key, time) sort — declaring it lets Catalyst elide
    * the re-sort when a downstream operator (a window over the same key, a
    * second as-of join, a sort-merge join) wants that ordering back. */
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  /** The tiebreak columns make the within-(key,time) order deterministic:
    * among reference rows tied on time, the LAST in tiebreak order wins —
    * without this, sort ties fall back to shuffle arrival order and the
    * operator's output would not be run-stable. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(
      Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
      Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)) ++
        rightTiebreak.map(SortOrder(_, Ascending)))

  /* Per-row cost note: the key/time expressions are AttributeReferences in
   * every caller (AsOfJoinOps resolves column names to child attributes), so
   * after bindReference they are BoundReferences whose eval is a direct
   * row-accessor call — no interpreted expression-tree walk remains on the
   * merge path; whole-stage codegen would buy only the virtual-call overhead
   * here. Computed key expressions WOULD eval interpreted; callers should
   * project them into columns first. */
  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lkB = BindReferences.bindReference(leftKey, lOut)
    val ltB = BindReferences.bindReference(leftTime, lOut)
    val rkB = BindReferences.bindReference(rightKey, rOut)
    val rtB = BindReferences.bindReference(rightTime, rOut)
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val nRight = rOut.size
    val outTypes = output.map(_.dataType).toArray

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(nRight)
      val resultProj = UnsafeProjection.create(outTypes)
      val rBuf = rIter.buffered
      // Retained-match state. Child rows are reused mutable buffers
      // (UnsafeRow iterators and spill readers overwrite them on next()), so
      // the buffered match MUST be copied out — into ONE reusable UnsafeRow
      // holder (memcpy, no per-row allocation), and the retained key MUST be
      // derived from that copy, never from the transient buffer: a key
      // eval'd from the live buffer (e.g. a UTF8String view into the spill
      // reader's byte array) is silently clobbered by the next right row,
      // corrupting the matched-key comparison (AsOfSpillCheck proves it).
      val holder = new UnsafeRow(nRight)
      holder.pointTo(new Array[Byte](64), 64)
      var lastMatch: InternalRow = null
      var lastMatchKey: Any = null
      lIter.map { lrow =>
        val k = lkB.eval(lrow)
        val t = ltB.eval(lrow)
        // advance: consume right rows while key < k, or key == k with
        // time <= t; each consumed row's key is eval'd exactly once, and
        // the retained key is derived once per LEFT row after the loop
        var consumedMatch = false
        var done = false
        while (!done && rBuf.hasNext) {
          val c = keyOrd.compare(rkB.eval(rBuf.head), k)
          if (c < 0) { rBuf.next(); () }
          else if (c == 0 && timeOrd.compare(rtB.eval(rBuf.head), t) <= 0) {
            rBuf.next() match {
              case u: UnsafeRow => holder.copyFrom(u); lastMatch = holder
              case other => lastMatch = other.copy()
            }
            consumedMatch = true
          } else done = true
        }
        if (consumedMatch) lastMatchKey = rkB.eval(lastMatch)
        val matched =
          lastMatch != null && keyOrd.compare(lastMatchKey, k) == 0
        joined(lrow, if (matched) lastMatch else nullRight)
        resultProj(joined)
      }
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[SparkPlan]): SparkPlan =
    copy(left = newChildren(0), right = newChildren(1))
}

/** Column-level API over the custom operator. */
object AsOfJoinOps {

  /** Install the strategy on a session (idempotent): the one install point,
    * called by every as-of query, so any session, however built, plans it. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(AsOfJoinStrategy))
      exp.extraStrategies = exp.extraStrategies :+ AsOfJoinStrategy
  }

  /** leftDf asof-joined to rightDf: latest right row per key with
    * rightTime <= leftTime appended to every left row (nulls when none).
    * Keys/times are column names resolved against each side's analyzed plan
    * (hand-built plans skip the analyzer's name resolution, so ambiguity
    * between sides never arises). */
  def asof(leftDf: DataFrame, rightDf: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightTiebreak: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.graft.GraftShims
    val spark = leftDf.sparkSession
    ensureRegistered(spark)
    val lPlan = GraftShims.analyzed(leftDf)
    val rPlan0 = GraftShims.analyzed(rightDf)
    // Self-joins (or two frames sharing lineage) carry the SAME ExprIds on
    // both sides; the analyzer's DeduplicateRelations protects Join but not a
    // hand-built node, and overlapping ids make BindReferences silently bind
    // right-side expressions to left-side slots. Re-alias the right side with
    // fresh ExprIds whenever any id overlaps — same remedy the analyzer uses.
    val rPlan: LogicalPlan =
      if (lPlan.output.map(_.exprId).toSet
            .intersect(rPlan0.output.map(_.exprId).toSet).nonEmpty) {
        import org.apache.spark.sql.catalyst.expressions.Alias
        import org.apache.spark.sql.catalyst.plans.logical.Project
        Project(rPlan0.output.map(a => Alias(a, a.name)()), rPlan0)
      } else rPlan0
    // Resolution matches Spark's: case sensitivity follows
    // spark.sql.caseSensitive (default false — "TS" resolves "ts" here
    // like everywhere else), and duplicate-named outputs are an ERROR,
    // not a silent first-match — asof output itself carries duplicate
    // names (self-join: k,t,v,k,t,v), so a chained as-of join that fed
    // its output back in would otherwise silently key on whichever side
    // happened to come first.
    val caseSensitive =
      spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
    def res(plan: LogicalPlan, name: String): Expression = {
      def eq(a: String) = if (caseSensitive) a == name
        else a.equalsIgnoreCase(name)
      plan.output.filter(a => eq(a.name)) match {
        case Seq(one) => one
        case Seq() => throw new IllegalArgumentException(
          s"column $name not in ${plan.output.map(_.name).mkString(", ")}")
        case many => throw new IllegalArgumentException(
          s"column $name is ambiguous: ${many.size} outputs share the " +
            "name — alias the inputs before the as-of join")
      }
    }
    val (lk, rk) = (res(lPlan, leftKey), res(rPlan, rightKey))
    val (lt, rt) = (res(lPlan, leftTime), res(rPlan, rightTime))
    // PLAN-time type agreement: the exec builds its key/time orderings from
    // the LEFT types and applies them to right-side values — a hand-built
    // node skips the analyzer's implicit-cast coercion, so a mismatch would
    // surface as a mid-job ClassCastException (or, worse, a runtime-
    // compatible type comparing the wrong semantics). Fail here, by name.
    require(lk.dataType == rk.dataType,
      s"as-of key type mismatch: $leftKey is ${lk.dataType.simpleString}, " +
        s"$rightKey is ${rk.dataType.simpleString} — cast one side first")
    require(lt.dataType == rt.dataType,
      s"as-of time type mismatch: $leftTime is ${lt.dataType.simpleString}, " +
        s"$rightTime is ${rt.dataType.simpleString} — cast one side first")
    val plan = AsOfJoin(lPlan, rPlan, lk, rk, lt, rt,
      rightTiebreak.map(res(rPlan, _)))
    GraftShims.ofRows(spark, plan)
  }
}
