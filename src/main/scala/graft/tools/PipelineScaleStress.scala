package graft.tools

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Third-operating-point stress for the COMPOSED-LIFECYCLE gates — the
  * pipeline twin of [[ScaleStress]] (IVF family) and [[TextScaleStress]]
  * (shingle family). The release gate pins the seven end-to-end pipelines
  * (`q_market_pipeline`, `q_screener_pipeline`, `q_report_pipeline`,
  * `q_narrative_pipeline`, `q_election_pipeline`, `q_board_pipeline`,
  * `q_network_pipeline`) at sf0.01/sf0.1 with values
  * (DuckDB hash), identities (InvariantCheck), and AQE-final plan audits;
  * their 100×-scale claims rested on those sf0.1 plan audits plus design
  * notes. This tool manufactures a corpus `factor`× larger and re-pins
  * three things THERE, turning the scale argument into a measured curve:
  *
  *  - '''identities still hold''': the EXACT release-gate invariants
  *    ([[InvariantCheck.pipelineInvariants]] — z-sum, positive peaks,
  *    dedup cardinality, layout rescale — plus
  *    [[InvariantCheck.marketPanelRowsCheck]]'s panel reconciliation),
  *    evaluated on the blowup run's own result rows;
  *  - '''plans keep their shape''': CartesianProduct = 0, and every
  *    SortMergeJoin on the ADAPTIVE-FINAL executed plans
  *    ([[graft.PlanCheck.render]]) joins on a DESIGNED fact-fact key
  *    (orderkey / document_id) — including the pre-cut `labeledSearch`
  *    arms that the market/network lineage cuts would otherwise hide from
  *    a final-frame audit. This is the scale-honest form of the sf0.1
  *    audits' SMJ=0: at the base SF even the orders side fits the
  *    broadcast threshold, so NO join shuffles; at the blowup the
  *    fact-fact chunk join (`Tables.chunkRows`: "the only shuffle is the
  *    fact-fact equi-join") and board's doc-grain semi side MUST become
  *    shuffle joins — the regression this pin catches is a DIMENSION join
  *    or a dimension-bounded panel merge (suppkey/custkey/entity_name/
  *    week keys) degenerating to a shuffle at scale;
  *  - '''wall time stays ~linear''': each pipeline is timed at the source
  *    SF and at the blowup in the same session (warm JVM, best-of-2), and
  *    t_blowup ≤ t_base · factor · 3 — a quadratic candidate/join blowup
  *    lands at ~factor² and trips the bound immediately, while the 3×
  *    slack absorbs VM noise and per-stage constants.
  *
  * Blowup construction (pure function of (orderkey, copy) — no RNG,
  * bit-for-bit reproducible): the corpus FACTS replicate — copy k of
  * orders/lineitem remaps `o_orderkey → o_orderkey·factor + k` (copy 0 is
  * the source verbatim under the same remap) — while every dimension
  * (region/nation/customer/supplier/part/documents) ships verbatim. That
  * is the 100 TB shape: document volume grows `factor`×, the entity
  * universe, date range, and text corpus stay fixed, so scaffold
  * dimensions are constant and per-entity/per-week densities rise. Chunk
  * text assignment (`pmod(okey·7 + line, |docs|)`) lands each copy on a
  * different document, so labels and topics vary per copy instead of
  * shipping `factor` identical shards.
  *
  * '''Hot-key SKEW mode''' (round 17 — the one scale-killer class the
  * uniform remap cannot exhibit): with `skewPct = p > 0`, a deterministic
  * p% slice of the multiplied fact rows (selected per (orderkey, copy) by
  * `pmod(okey·7919 + copy, 100) < p` — whole orders route together, so
  * sentence grouping stays coherent) is re-keyed onto ONE hot orderkey
  * (= ONE hot `document_id`, since `document_id = o_orderkey`), and a
  * DISJOINT p% slice keeps its orderkey but routes `l_suppkey` onto ONE
  * hot supplier (= ONE hot `entity_name` spread across the full date
  * range). The orders side keeps every remapped copy (orphaned orders are
  * invisible to the inner fact join) and gains exactly one hot order row,
  * so the lineitem⋈orders join stays 1:N — the corpus concentrates on a
  * hot key WITHOUT a quadratic join blowup, which is precisely the 100 TB
  * failure shape (one viral document / one mega-entity holding a double-
  * digit corpus fraction). The skew sweep re-pins, per skew-sensitive
  * lifecycle (market, election, board, network, report — the doc-grain
  * flag join, the (mode, document) winners, the un-hinted (entity, day)
  * merge, both labeledSearch arms, and report's entity-keyed
  * countDistinct aggregates):
  *
  *  - identities green (same shared invariant list as the release gate);
  *  - plan shape clean (CART=0, no off-fact-key SMJ — same parser);
  *  - mitigation engaged or unnecessary: either AQE's OptimizeSkewedJoin
  *    split the hot partitions (`skew=true` on an executed SMJ) or the
  *    measured straggler ratio (max/median task duration over stages with
  *    ≥ 8 tasks) stays ≤ [[StragglerBound]] — partial aggregation is the
  *    designed first line of defense, and when it holds there is nothing
  *    for AQE to mitigate;
  *  - wall time within [[SkewWallFactor]]× of the UNIFORM blowup at the
  *    same n, timed in the same session.
  *
  * Also measured (recorded, not gated): the ElectionPipeline S8 one-scan
  * knob ([[graft.analytics.ElectionPipeline.pipelineFrame]] `oneScan`) at
  * both operating points, with a driver-side row-equality pin against the
  * two-pass shape — the documented 100 TB trade (checkpoint the kept
  * slice vs scan twice) becomes a measurement instead of a note.
  *
  * {{{
  * spark-submit --master 'local[32]' --driver-memory 16g \
  *   --class graft.tools.PipelineScaleStress <jar> \
  *   [srcDir] [factor] [outDir] [skewPct]
  * }}}
  * `skewPct = 0` (default) runs the uniform sweep over all seven
  * lifecycles; `skewPct > 0` runs the skew sweep over the five
  * skew-sensitive ones.
  */
object PipelineScaleStress {

  private val Dims =
    Seq("region", "nation", "customer", "supplier", "part", "documents")

  private val Pipelines = Seq("q_market_pipeline", "q_screener_pipeline",
    "q_report_pipeline", "q_narrative_pipeline", "q_election_pipeline",
    "q_board_pipeline", "q_network_pipeline")

  /** The lifecycles whose shuffles key on the skewed columns (document_id
    * via orderkey; entity_name via suppkey). Report joined the list in
    * round 17: its three corpus-frame aggregates are
    * countDistinct(document_id) grouped by ENTITY-keyed group keys — the
    * same exchange shape (group keys alone partition the distinct stream)
    * that serialized election's hot entity before its dedup-then-count
    * spread, so it must be measured, not presumed absorbed. */
  private val SkewPipelines = Seq("q_market_pipeline", "q_election_pipeline",
    "q_board_pipeline", "q_network_pipeline", "q_report_pipeline")

  /** Optional sweep subset (comma-separated pipeline names) — lets a very
    * expensive operating point (×100) target just the steepest scalers
    * instead of paying all seven. Unset = full list. */
  private def selected(all: Seq[String]): Seq[String] =
    sys.env.get("SPARK_GRAFT_STRESS_PIPELINES") match {
      case Some(csv) =>
        val want = csv.split(',').map(_.trim).filter(_.nonEmpty).toSet
        val unknown = want -- all.toSet
        require(unknown.isEmpty, s"unknown pipelines: $unknown")
        val sel = all.filter(want)
        println(s"[pipestress] SUBSET sweep: ${sel.mkString(", ")}")
        sel
      case None => all
    }

  /** Skew-run wall-time bound, relative to the uniform blowup at the same
    * n in the same session. 2× is the design target (the brief's "within
    * ~2× of the uniform blowup"); 2.5 is the pinned gate — election's
    * blowup walls have swung ±30% across clean sessions (BASELINE.md r16
    * A/B table), so a 2.0 pin would flake on noise the design can't
    * remove. A hot key that actually serializes a stage lands at ≥ 4-8×
    * and trips 2.5 just as decisively. */
  val SkewWallFactor = 2.5

  /** Max/median task-duration bound per stage (stages with ≥ 8 tasks) when
    * AQE skew mitigation did NOT fire. An unmitigated 25%-hot shuffle
    * partition at 32 partitions is ~8× the median task by construction
    * (25% of rows vs ~3.1% median), so 6 separates "partial aggregation
    * absorbed the skew upstream" from "one reducer ate the hot key".
    * A ratio only GATES when it is also MATERIAL — the hot task is ≥
    * [[StragglerMaterialShare]] of the pipeline's wall — and ATTRIBUTABLE:
    * the hot task must exceed 2× the same pipeline's worst task under
    * UNIFORM keys at the same n (the in-session control). A 15× ratio over
    * a 140 ms median (2.2 s task in a 27 s pipeline — election's measured
    * shape at ×10) is an overhead-dominated stage, not a serialized one,
    * and a fat task that is equally fat under uniform keys is a base-shape
    * property the uniform sweep already bounds. The metric that matters at
    * 1000 executors is whether ONE task serializes the run BECAUSE of the
    * hot key, and that is what's pinned. Both runs' worst stages are
    * printed so drifts show up in the log before they grow material. */
  val StragglerBound = 6.0

  /** See [[StragglerBound]]: a hot task gates only above this share of the
    * pipeline's wall time. */
  val StragglerMaterialShare = 0.20

  /** Deterministic fact blowup of `srcDir` into `outDir`: orders/lineitem
    * ×`factor` with the orderkey remap, dimensions verbatim. With
    * `skewPct > 0`, additionally routes a skewPct% slice of the multiplied
    * lineitem rows onto hot orderkey 1 (one hot document) and a disjoint
    * skewPct% slice onto hot suppkey 1 (one hot entity); orders gains the
    * single hot order row (scaladoc above). Hot key 1 cannot collide with
    * the remap image (`k·factor + j ≥ factor ≥ 2` for source keys ≥ 1). */
  def blowUpFacts(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int, skewPct: Int = 0): Unit = {
    require(skewPct >= 0 && skewPct <= 50, "skewPct ∈ [0, 50] (two slices)")
    val HotOrder = 1L
    val HotSupp = 1L
    def sel(key: String, k: Int) = pmod(col(key) * 7919 + lit(k), lit(100))
    def copies(src: DataFrame, key: String): DataFrame =
      (0 until factor).map { k =>
        val remapped = src.withColumn(key, col(key) * factor + k)
        if (skewPct == 0) remapped
        else {
          // selection reads the REMAPPED key, which both fact tables derive
          // identically from (source key, copy) — so an order and all of its
          // lineitems route together, and the two tables always agree
          val s = sel(key, k)
          val docSkewed = remapped.withColumn(key,
            when(s < skewPct, lit(HotOrder)).otherwise(col(key)))
          if (key == "l_orderkey")
            docSkewed.withColumn("l_suppkey",
              when(s >= skewPct && s < 2 * skewPct, lit(HotSupp))
                .otherwise(col("l_suppkey")))
          else docSkewed
        }
      }.reduce(_ union _)
    val orders = spark.read.parquet(s"$srcDir/orders.parquet")
    val ordersOut =
      if (skewPct == 0) copies(orders, "o_orderkey")
      else {
        // the copies whose children routed hot are dropped (a whole
        // (order, copy) routes together, so no children are orphaned) and
        // replaced by exactly ONE hot order row, built from the smallest
        // source order (deterministic) — the doc-skewed lineitem slice must
        // join 1:N, never N:M
        val minKey = orders.agg(min(col("o_orderkey"))).head().getLong(0)
        val hot = orders.filter(col("o_orderkey") === minKey)
          .withColumn("o_orderkey", lit(1L))
        copies(orders, "o_orderkey")
          .filter(col("o_orderkey") =!= 1L) // drop the hot-routed copies
          .union(hot)
      }
    ordersOut
      .repartition(col("o_orderkey"))
      .write.mode("overwrite").parquet(s"$outDir/orders.parquet")
    val lineitem = spark.read.parquet(s"$srcDir/lineitem.parquet")
    val liCopies = copies(lineitem, "l_orderkey")
    // Uniform mode clusters by orderkey (the established layout). Skew
    // mode must NOT: hash-clustering routes the whole hot key into one
    // ~33 MB file — UNDER maxPartitionBytes, so one scan task would carry
    // 30% of the corpus through the entire map chain, a pure probe
    // artifact (at 100 TB a hot document's bytes dwarf a 128 MB scan
    // split, so byte-based splitting always parallelizes the map side).
    // Spreading by (key, partkey, linenumber) keeps the write
    // deterministic while landing the hot key across many files, the way
    // any real multi-writer ingest would.
    (if (skewPct == 0) liCopies.repartition(col("l_orderkey"))
     else liCopies.repartition(col("l_orderkey"), col("l_partkey"),
       col("l_linenumber")))
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    Dims.foreach { t =>
      spark.read.parquet(s"$srcDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
    }
  }

  /** Best-of-2 wall time of a full collect+render run; returns the LAST
    * run's (rows, plan, schema) so identity/plan checks read what was
    * timed — re-building some pipelines just for `.schema` would re-pay
    * their eager construction stages (cuts, the layout collect). */
  /** `beforeLast` runs between the two passes — the skew sweep uses it to
    * reset the task listener so straggler stats cover ONLY the warm run
    * whose rows/plan are returned (the cold pass's page-cache-bound tasks
    * otherwise masquerade as stragglers: a first-read 11 s scan task was
    * measured against a 6 s warm wall before this hook existed). */
  private def timed(mk: => DataFrame, beforeLast: () => Unit = () => ())
      : (Double, Array[Row], String, org.apache.spark.sql.types.StructType) = {
    def once(): (Double, Array[Row], String,
        org.apache.spark.sql.types.StructType) = {
      val t0 = System.nanoTime()
      val df = mk
      val (rows, plan) = graft.PlanCheck.executedFinalPlan(df)
      val dt = (System.nanoTime() - t0) / 1e9
      graft.PlanProbe.releaseCuts()
      (dt, rows, plan, df.schema)
    }
    val a = once(); beforeLast(); val b = once()
    (math.min(a._1, b._1), b._2, b._3, b._4)
  }

  private def countNode(plan: String, node: String): Int =
    plan.linesIterator.count(_.trim.startsWith(node))

  /** Join-key ATTRIBUTE NAMES of a rendered SortMergeJoin line: the union
    * of both `[leftKeys], [rightKeys]` groups' `name#exprId` attributes,
    * with exprIds and any wrapping expressions (casts, NaN-normalizers)
    * stripped. None when the line doesn't parse — callers must treat that
    * as offending (fail loud), never as allowed. */
  private val SmjLine =
    """^SortMergeJoin(?:\(skew=true\))?\s+\[([^\]]*)\],\s*\[([^\]]*)\].*""".r
  private val AttrRef = """([A-Za-z_][A-Za-z0-9_]*)#\d+""".r

  private[graft] def smjJoinKeyNames(line: String): Option[Set[String]] =
    line match {
      case SmjLine(l, r) =>
        Some((AttrRef.findAllMatchIn(l) ++ AttrRef.findAllMatchIn(r))
          .map(_.group(1)).toSet)
      case _ => None
    }

  /** A shuffle join is DESIGNED iff its parsed key list contains a
    * fact-fact key (the chunk relation's orderkey or the doc-grain
    * document id — composite keys like (mode, document_id) distribute by
    * the fact key and belong here too). Substring-matching the whole
    * rendered line is NOT equivalent: a dimension join whose post-join
    * condition merely mentions orderkey, or an entity_name-only join whose
    * line happens to contain `peak_day`, must stay offending. */
  private val FactKeys =
    Set("l_orderkey", "o_orderkey", "orderkey", "document_id", "doc_id")

  /** Per-pipeline additional allowed shuffle-join KEY SETS, each backed by
    * a design note at the join site. Election: the panel's daily merge is
    * DELIBERATELY un-hinted (ElectionPipeline stage-3 comment — "at a
    * scale where it no longer fits [the broadcast threshold], a shuffle
    * join on (entity, day) is the right plan"); at ×10 the sparse
    * (entity, day) aggregate legitimately crosses the threshold (more
    * observed cells toward its dense bound) and AQE picks exactly that
    * join. The allowance is the EXACT (entity_name, day) key pair — an
    * entity_name-only join (a different, skew-unsafe shape) stays
    * offending. */
  private[graft] val AllowedSmj: Map[String, Set[String] => Boolean] = Map(
    "q_election_pipeline" ->
      (keys => keys == Set("entity_name", "day")))

  private[graft] def offendingSmjKeys(plan: String,
      extraAllowed: Set[String] => Boolean = _ => false): Seq[String] =
    plan.linesIterator.map(_.trim).filter(_.startsWith("SortMergeJoin"))
      .filterNot { l =>
        smjJoinKeyNames(l).exists(keys =>
          keys.exists(FactKeys) || extraAllowed(keys))
      }
      .toSeq.distinct

  /** Task-duration listener for the straggler pin: per-stage max/median
    * over completed tasks. Spark's listener bus is async — callers sleep
    * briefly after the job before reading (tool-grade flush). */
  private final class TaskStats extends SparkListener {
    private val durs =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    private val names = scala.collection.mutable.Map.empty[Int, String]
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      synchronized { durs += ((e.stageId, e.taskInfo.duration)) }
    override def onStageCompleted(
        e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      synchronized {
        // the AQE stage name is an opaque future callsite — the first
        // graft frame in the submission stack is the useful identity
        val site = e.stageInfo.details.linesIterator
          .find(_.contains("graft.")).map(_.trim).getOrElse(e.stageInfo.name)
        names(e.stageInfo.stageId) = site
      }
    def reset(): Unit = synchronized { durs.clear(); names.clear() }
    def stageName(id: Int): String =
      synchronized { names.getOrElse(id, "?") }
    /** (worst max/median ratio, its stageId, max task ms) over stages with
      * ≥ `minTasks` tasks AND a max task ≥ 1 s (sub-second stages are
      * scheduling noise, not stragglers); (1.0, -1, 0) when none qualify. */
    def worstStageRatio(minTasks: Int = 8): (Double, Int, Long) =
      synchronized {
        val qualifying = durs.groupBy(_._1).iterator.flatMap {
          case (stage, ts) if ts.size >= minTasks =>
            val sorted = ts.map(_._2).sorted
            val max = sorted.last
            val med = sorted(sorted.size / 2).max(1L)
            if (max >= 1000L) Some((max.toDouble / med, stage, max))
            else None
          case _ => None
        }.toSeq
        if (qualifying.isEmpty) (1.0, -1, 0L)
        else qualifying.maxBy(_._1)
      }
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val givenOut = args.lift(2).filter(_.nonEmpty) // "" = positional skip
    val skewPct = args.lift(3).map(_.toInt).getOrElse(0)
    val outDir = givenOut.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_pipe_stress").toString)
    val spark = graft.Session()

    val allFailures =
      try {
        if (skewPct > 0) runSkewSweep(spark, srcDir, outDir, factor, skewPct)
        else runUniformSweep(spark, srcDir, outDir, factor)
      } finally {
        spark.stop()
        // a blowup at ×25/×50 is multiple GB — never leave it behind when
        // the tool owns the directory (caller-supplied dirs are theirs)
        if (givenOut.isEmpty) {
          import scala.sys.process._
          Seq("rm", "-rf", outDir).!
          println(s"[pipestress] cleaned generated blowup dir $outDir")
        }
      }
    if (allFailures.nonEmpty) {
      allFailures.foreach(f => System.err.println(s"[pipestress] FAIL $f"))
      sys.exit(1)
    }
  }

  /** The release sweep: all seven lifecycles at base + uniform blowup. */
  private def runUniformSweep(spark: SparkSession, srcDir: String,
      outDir: String, factor: Int): Seq[String] = {
    blowUpFacts(spark, srcDir, outDir, factor)
    val n = spark.read.parquet(s"$outDir/lineitem.parquet").count()
    val nBase = spark.read.parquet(s"$srcDir/lineitem.parquet").count()
    println(s"[pipestress] blowup ready: $srcDir ×$factor → $outDir " +
      s"(chunks $nBase → $n)")

    val pipelines = selected(Pipelines)
    val qs = graft.SparkEntry.queries
    // JVM/codegen warm-up so the first timed base run isn't charged for it
    qs(pipelines.head)(spark, srcDir).count()
    graft.PlanProbe.releaseCuts()

    val failures = pipelines.flatMap { name =>
      val (tBase, _, _, _) = timed(qs(name)(spark, srcDir))
      val (tBig, rows, plan, schema) = timed(qs(name)(spark, outDir))
      val smj = countNode(plan, "SortMergeJoin")
      val badSmj =
        offendingSmjKeys(plan, AllowedSmj.getOrElse(name, _ => false))
      val cart = countNode(plan, "CartesianProduct")
      val bound = tBase * factor * 3
      println(f"[pipestress] $name%-22s base=$tBase%7.2fs ×$factor=" +
        f"$tBig%7.2fs (bound ${bound}%.2f) rows=${rows.length} " +
        s"SMJ=$smj (off-key ${badSmj.size}) CART=$cart")
      val invFail = invariantFailures(spark, name, rows, schema,
        s"at ×$factor")
      val planFail =
        if (badSmj.isEmpty && cart == 0) Nil
        else Seq(s"$name: AQE-final plan at ×$factor has CART=$cart, " +
          s"off-fact-key shuffle joins:\n${badSmj.mkString("\n")}\n$plan")
      val timeFail =
        if (rows.isEmpty) Seq(s"$name: empty result at ×$factor")
        else if (tBig <= bound) Nil
        else Seq(f"$name: $tBig%.2fs at ×$factor exceeds ~linear bound " +
          f"$bound%.2fs (base $tBase%.2fs) — superlinear blowup")
      invFail ++ planFail ++ timeFail
    }

    val armFailures = auditSearchArms(spark, outDir, s"×$factor")

    // S8 shape A/B (recorded, not gated on time — CutProbe owns
    // the interleaved decision measurement): time BOTH pipelineFrame
    // shapes explicitly, whatever the registered default is, and PIN their
    // row equality at the blowup — the knob must never change values
    val electionKnobFailures: Seq[String] =
      if (!pipelines.contains("q_election_pipeline")) Nil
      else try {
        def sortKey(r: Row) = r.toSeq.map(String.valueOf).mkString("|")
        val E = graft.analytics.ElectionPipeline
        val (t2Base, _, _, _) =
          timed(E.pipelineFrame(spark, srcDir, oneScan = false))
        val (t2Big, twoRows, _, _) =
          timed(E.pipelineFrame(spark, outDir, oneScan = false))
        val (t1Base, _, _, _) =
          timed(E.pipelineFrame(spark, srcDir, oneScan = true))
        val (t1Big, oneRows, _, _) =
          timed(E.pipelineFrame(spark, outDir, oneScan = true))
        println(f"[pipestress] election S8 A/B: two-pass base=$t2Base%.2fs " +
          f"×$factor=$t2Big%.2fs; one-scan base=$t1Base%.2fs " +
          f"×$factor=$t1Big%.2fs")
        if (oneRows.map(sortKey).sorted.sameElements(
            twoRows.map(sortKey).sorted)) Nil
        else Seq(s"election one-scan knob changed VALUES at ×$factor " +
          s"(${oneRows.length} vs ${twoRows.length} rows)")
      } catch {
        // The A/B is a RECORDED probe of the rejected-vs-registered shapes,
        // not a gate: the registered two-pass shape already ran (and was
        // gated) in the main sweep above. An arm exceeding the session's
        // memory envelope at an extreme factor is itself a measurement —
        // the first observed instance was the one-scan arm's corpus-
        // fraction checkpoint OOMing at ×100 under a 24g heap while
        // two-pass completed — so it is reported loudly but does not fail
        // a sweep whose own pins all held.
        case e: Throwable =>
          graft.PlanProbe.releaseCuts()
          println(s"[pipestress] election S8 A/B DID NOT COMPLETE at " +
            s"×$factor — recorded as an operating-envelope result, not a " +
            s"sweep failure: ${e.getClass.getSimpleName}: ${e.getMessage}")
          Nil
      }

    val out = failures ++ armFailures ++ electionKnobFailures
    if (out.isEmpty)
      println(s"[pipestress] all ${pipelines.size} composed-lifecycle " +
        s"scale pins hold at ×$factor (n=$n chunks)")
    out
  }

  /** The skew sweep: the skew-sensitive lifecycles ([[SkewPipelines]]) at
    * uniform vs hot-key blowup, same n, same session (scaladoc above). */
  private def runSkewSweep(spark: SparkSession, srcDir: String,
      outDir: String, factor: Int, skewPct: Int): Seq[String] = {
    // Scale AQE's skew-split trigger to the PROBE's data size: the hot
    // fact-fact partition at ×10 is ~90 MB of shuffle — a serializing 9 s
    // task here, but below the 256 MB default threshold that is tuned for
    // cluster-sized partitions (where the same hot key would be GBs and
    // split automatically). Lowering threshold+advisory to probe scale
    // lets the sweep OBSERVE the mitigation that production would get,
    // instead of reporting "mitigation absent" purely because the gate
    // corpus is small. Applied to uniform AND skew timings in-session, so
    // the wall comparison stays fair.
    spark.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "32m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
    val uniDir = s"$outDir/uniform"
    val skewDir = s"$outDir/skew"
    blowUpFacts(spark, srcDir, uniDir, factor)
    blowUpFacts(spark, srcDir, skewDir, factor, skewPct)
    val n = spark.read.parquet(s"$skewDir/lineitem.parquet").count()
    val hot = spark.read.parquet(s"$skewDir/lineitem.parquet")
      .filter(col("l_orderkey") === 1L).count()
    val hotEnt = spark.read.parquet(s"$skewDir/lineitem.parquet")
      .filter(col("l_suppkey") === 1L).count()
    println(f"[pipestress] skew blowup ready: ×$factor skew=$skewPct%% → " +
      f"$skewDir (n=$n, hot-doc rows=$hot = ${100.0 * hot / n}%.1f%%, " +
      f"hot-entity rows=$hotEnt = ${100.0 * hotEnt / n}%.1f%%)")

    val pipelines = selected(SkewPipelines)
    val stats = new TaskStats
    spark.sparkContext.addSparkListener(stats)
    val qs = graft.SparkEntry.queries
    qs(pipelines.head)(spark, srcDir).count() // warm-up
    graft.PlanProbe.releaseCuts()

    val failures = pipelines.flatMap { name =>
      def drainReset(): Unit = {
        Thread.sleep(500) // drain the prior pass's async listener events
        stats.reset()
      }
      val (tUni, _, _, _) =
        timed(qs(name)(spark, uniDir), beforeLast = drainReset)
      Thread.sleep(500)
      val (ratioU, stageU, maxMsU) = stats.worstStageRatio()
      val uniSite = stats.stageName(stageU)
      val (tSkew, rows, plan, schema) =
        timed(qs(name)(spark, skewDir), beforeLast = drainReset)
      Thread.sleep(500) // listener-bus flush (async events)
      val (ratio, stage, maxMs) = stats.worstStageRatio()
      val skewSplit = plan.contains("skew=true")
      val badSmj =
        offendingSmjKeys(plan, AllowedSmj.getOrElse(name, _ => false))
      val cart = countNode(plan, "CartesianProduct")
      val bound = tUni * SkewWallFactor
      val hotShare = maxMs / 1000.0 / tSkew
      println(f"[pipestress] $name%-22s uni=$tUni%7.2fs skew=$tSkew%7.2fs " +
        f"(bound $bound%.2f) rows=${rows.length} skewJoin=$skewSplit " +
        f"straggler uni=$ratioU%.1f× (max ${maxMsU}ms " +
        f"'$uniSite') skew=$ratio%.1f× (stage $stage " +
        f"'${stats.stageName(stage)}', max ${maxMs}ms = " +
        f"${hotShare * 100}%.0f%% of wall) " +
        s"off-key ${badSmj.size} CART=$cart")
      val invFail = invariantFailures(spark, name, rows, schema,
        s"at ×$factor skew=$skewPct%")
      val planFail =
        if (badSmj.isEmpty && cart == 0) Nil
        else Seq(s"$name: skewed AQE-final plan has CART=$cart, " +
          s"off-fact-key shuffle joins:\n${badSmj.mkString("\n")}\n$plan")
      // a straggler gates only when it is (1) unmitigated, (2) a real
      // outlier, (3) a material fraction of wall, AND (4) ATTRIBUTABLE to
      // the skew — the same pipeline's uniform run at the same n is the
      // control; a fat task that exists identically under uniform keys
      // (a big build-side, a spine agg) is a base-shape property, not a
      // hot-key failure
      val mitigationFail =
        if (skewSplit || ratio <= StragglerBound ||
          hotShare < StragglerMaterialShare ||
          maxMs <= 2 * maxMsU) Nil
        else Seq(f"$name: no AQE skew split AND straggler ratio " +
          f"$ratio%.1f× > $StragglerBound with a MATERIAL hot task " +
          f"(${maxMs}ms = ${hotShare * 100}%.0f%% of wall vs uniform max " +
          f"${maxMsU}ms, stage $stage '${stats.stageName(stage)}') — one " +
          "reducer ate the hot key")
      val timeFail =
        if (rows.isEmpty) Seq(s"$name: empty result under skew")
        else if (tSkew <= bound) Nil
        else Seq(f"$name: skew wall $tSkew%.2fs exceeds " +
          f"$SkewWallFactor× uniform ($tUni%.2fs) at the same n")
      invFail ++ planFail ++ mitigationFail ++ timeFail
    }

    val armFailures =
      auditSearchArms(spark, skewDir, s"×$factor skew=$skewPct%")

    val out = failures ++ armFailures
    if (out.isEmpty)
      println(s"[pipestress] all ${pipelines.size} skew-sensitive " +
        s"lifecycles hold at ×$factor with $skewPct% hot-key skew " +
        s"(n=$n chunks)")
    out
  }

  /** Re-assert the release gate's own identities over a timed run's rows
    * (a local frame — no recompute). ALL invariants registered for the
    * pipeline run (a pipeline may pin several — `groupBy`, not a
    * last-wins map). */
  private def invariantFailures(spark: SparkSession, name: String,
      rows: Array[Row], schema: org.apache.spark.sql.types.StructType,
      ctx: String): Seq[String] = {
    val byName = InvariantCheck.pipelineInvariants.groupBy(_._1)
    val columnFails = byName.getOrElse(name, Nil).flatMap {
      case (_, column, ok, desc) =>
        val local = spark.createDataFrame(
          new java.util.ArrayList[Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(rows.toSeq).asJava),
          schema)
        val v = local.selectExpr(column).head().get(0)
        if (ok(v)) { println(s"[pipestress] OK $name invariant: $desc"); Nil }
        else Seq(s"$name: $column = $v VIOLATES '$desc' $ctx")
    }
    columnFails ++ (name match {
      // the three gates whose identities live in driver-side row checks
      // rather than a self-verifying column — same sharing rule: the
      // blowup asserts EXACTLY what the release gate asserts
      case "q_market_pipeline" =>
        InvariantCheck.marketPanelRowsCheck(rows, "[pipestress]").toSeq
      case "q_screener_pipeline" =>
        InvariantCheck.screenerRowsCheck(rows, "[pipestress]").toSeq
      case "q_report_pipeline" =>
        InvariantCheck.reportRowsCheck(rows, "[pipestress]").toSeq
      case _ => Nil
    })
  }

  /** The lineage cuts hide the labeledSearch arms from the final-frame
    * audits — audit both arms' executed plans directly at the blowup. */
  private def auditSearchArms(spark: SparkSession, dir: String,
      ctx: String): Seq[String] = Seq(
    "labeledSearch(market)" ->
      (() => graft.analytics.MarketPipeline.labeledSearch(spark, dir)),
    "labeledSearch(network)" ->
      (() => graft.analytics.MarketPipeline.labeledSearch(spark, dir,
        graft.graph.NetworkPipeline.NetworkWatchlist))
  ).flatMap { case (label, mk) =>
    val (rows, plan) = graft.PlanCheck.executedFinalPlan(mk())
    graft.PlanProbe.releaseCuts()
    val smj = countNode(plan, "SortMergeJoin")
    val badSmj = offendingSmjKeys(plan)
    val cart = countNode(plan, "CartesianProduct")
    println(s"[pipestress] $label rows=${rows.length} SMJ=$smj " +
      s"(off-key ${badSmj.size}) CART=$cart")
    if (badSmj.isEmpty && cart == 0 && rows.nonEmpty) Nil
    else Seq(s"$label: rows=${rows.length} CART=$cart $ctx " +
      s"(expected nonempty, no cartesian, no off-fact-key shuffle " +
      s"joins):\n${badSmj.mkString("\n")}\n$plan")
  }
}
