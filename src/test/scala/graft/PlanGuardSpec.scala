package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-regression guard: pins the "plans you'd want at 100×" properties of
  * every registered query so future edits can't silently trade a bounded
  * broadcast for an unbounded nested-loop, or lose a pushed-down cap.
  *
  * This looks at PLANS, not results — the correctness gate (Verify + DuckDB)
  * owns values; this spec owns asymptotics. Every plan here is built in
  * [[PlanProbe]] plan-only mode, which (a) makes building a query FREE —
  * the iterative connected-components queries otherwise run their full loop
  * at construction time, and the sketch pipelines eagerly materialize their
  * lineage-cut checkpoints — and (b) widens guard COVERAGE: with checkpoints
  * skipped, the guard sees the whole pipeline instead of opaque RDD-scan
  * leaves, so a regression upstream of a cut can't hide from the sweep. */
class PlanGuardSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"
  // the registry's bench/gate broadcast threshold, so plans match theirs
  override protected def sparkOverrides = Session.registryConf

  /** Build (not execute) a plan with checkpoints skipped and iterative
    * loops replaced by structural rounds — results are NOT valid here. */
  private def probe[T](f: => T): T = PlanProbe.planOnly.withValue(true)(f)

  /** Queries allowed to contain a nested-loop/cartesian join because the
    * non-equi side is a PROVABLY BOUNDED broadcast (documented at each site):
    * a sampled query slice, a fixed centroid set, a top-k peak set, or a
    * scaffold dimension — none of which grow with the corpus. Adding a query
    * here requires the same boundedness argument in its Scaladoc. */
  private val boundedBroadcastAllowlist: Set[String] = Set(
    "q_embed_cosine_topk",     // 25 sampled query vectors, broadcast
    "q_embed_neardup",         // sampled probe slice, broadcast
    "q_peak_lag",              // top-k peak sets per series, broadcast
    "q_peaks_topk",            // same peak sets
    "q_scaffold_month_entity", // months × entities scaffold (both tiny dims)
    "q_exposure_panel",        // same scaffold shape
    "q_market_pipeline",       // weeks × top-6 basket scaffold (stage 6 —
                               // both sides dimension-bounded aggregates,
                               // see MarketPipeline scale notes)
    "q_narrative_pipeline",    // union-weeks × 3 sources scaffold + the
                               // 1-row lag ride-along (all dimension-
                               // bounded aggregates of the label pivot)
    "q_election_pipeline",     // days × entities daily-volume scaffold
                               // (both tiny dims; edges merge is equi)
    "q_board_pipeline",        // quarters × 3 modes scaffold
    "q_index_align_ffill",     // dense date spine × series ids
    "q_smooth_kernel",         // finite kernel offsets (≤ 9 rows)
    "q_ml_kmeans_ivf",         // k≈n/16 broadcast centroids (scale-adaptive)
    "q_embed_centroids",       // 10 label-centroids (confusion report)
    "q_embed_ivf_assign",      // same label-centroid set
    "q_embed_ivf_search",      // 10 broadcast centroids (probe stage)
    "q_embed_ivf_recall",      // centroids + sampled brute-force query slice
    "q_embed_neardup_ivf",     // hierarchical quantizer: the ONLY vector
                               // broadcast is the O(√n) super set (plus
                               // singleton stats); fine scoring and the
                               // pair join are hash equi-joins — pinned
                               // below and by InvariantCheck's super bound
    "q_embed_neardup_ivf_bucketed", // plan-only mode routes through the
                               // same computed quantizer path (building the
                               // bucketed table is an eager job the plan
                               // sweep must not pay), so the same O(√n)
                               // super-set broadcast appears
    "q_semantic_dedup",        // same quantizer broadcasts feeding the CC loop
    "q_media_features",        // fixed 8-slot feature positions
    "q_similarity_topk",       // single broadcast query vector
    "q_search_modes",          // three fixed mode rows
    "q_asof_join",             // union+window route: scalar bound subquery
    "q_cost_estimate",         // single-row cost model join
    "q_bm25",                  // single-row corpus-stats (df/avgdl) broadcast
    "q_unigram_logprob",       // single-row corpus-total broadcast
    "q_seq_pack",              // single-row derived shard-count broadcast
    "q_seq_pack_tok",          // same singleton (packShardCount)
    "q_seq_pack_ffd",          // same singleton
    "q_pack_manifest",         // same singleton
    "q_pack_fill")             // same singleton, both policies

  test("no unbounded nested-loop or cartesian joins in any registered plan") {
    val offenders = probe {
      Registry.all.flatMap { q =>
        val plan = q.run(spark, dir).queryExecution.executedPlan.toString
        val hasNlj = plan.contains("CartesianProduct") ||
          plan.contains("BroadcastNestedLoopJoin")
        if (hasNlj && !boundedBroadcastAllowlist.contains(q.name)) Some(q.name)
        else None
      }
    }
    assert(offenders.isEmpty,
      s"nested-loop joins outside the bounded-broadcast allowlist: " +
        s"${offenders.mkString(", ")} — either fix the join to an equi-join " +
        "or document the boundedness and extend the allowlist")
  }

  test("allowlist carries no dead entries (every name is a registered query)") {
    val names = Registry.all.map(_.name).toSet
    val dead = boundedBroadcastAllowlist.filterNot(names.contains)
    assert(dead.isEmpty, s"allowlist entries not in the registry: $dead")
  }

  test("chunk star joins broadcast the entity dimensions") {
    // the chunk relation joins lineitem against supplier/customer/part dims;
    // at every SF the dim side is orders of magnitude smaller, so the plan
    // must be a broadcast-hash join — a shuffle join here would add two
    // full-fact exchanges at 100 TB
    val plan = probe(SparkEntry.queries("q_counts_sector_company")(spark, dir)
      .queryExecution.executedPlan.toString)
    assert(plan.contains("BroadcastHashJoin"),
      "expected the chunk star join to broadcast its dimension side")
    assert(!plan.contains("CartesianProduct"))
  }

  test("entity batching joins the batch dim as a broadcast equi-join") {
    // Q8's entity→batch assignment must reach the scan as a broadcast-hash
    // equi-join on the exploded role key — an OR-condition join (entity_id =
    // eid OR other = eid OR part = eid) would plan as a nested-loop join and
    // re-scan the fact per batch at 100 TB
    val plan = probe(SparkEntry.queries("q_entity_batching")(spark, dir)
      .queryExecution.executedPlan.toString)
    assert(plan.contains("BroadcastHashJoin"),
      "expected the entity->batch dim to broadcast")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      "the role-key explode must keep the batch match an equi-join")
  }

  test("n-gram Jaccard plan keeps the shingle df-cap before the self-join") {
    // the df <= 50 semi-join filter bounds the worst shingle's candidate
    // pairs at τ²/2 — losing it reintroduces the quadratic hot-key tail
    val optimized = probe(SparkEntry.queries("q_ngram_jaccard")(spark, dir)
      .queryExecution.optimizedPlan.toString)
    assert(optimized.contains("LeftSemi"),
      "df-cap semi-join missing from the n-gram Jaccard plan")
    assert(optimized.contains("<= 50"),
      "df <= 50 cap filter missing from the n-gram Jaccard plan")
  }

  test("decontamination joins the benchmark gram set as a broadcast") {
    // eval-suite n-gram sets are tiny next to a corpus; a shuffle join here
    // would add a full corpus-side gram exchange at 100 TB — pinned for
    // both the self-derived gate (n=4) and the external-fixture variant
    // at production width (n=13)
    for (q <- Seq("q_decontaminate", "q_decontaminate_ext")) {
      val plan = probe(SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString)
      assert(plan.contains("BroadcastHashJoin"),
        s"$q: benchmark gram join must be a broadcast hash join")
    }
  }

  test("unigram logprob joins pre-aggregated term counts, never raw tokens") {
    // the vocab join must consume (doc_id, w, c_dw) term counts — joining
    // the raw token explode would shuffle one row per token occurrence,
    // i.e. the full token stream through one stop-word-skewed exchange
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, Join, LogicalPlan}
    def exposesExplode(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => false // aggregation bounds the join input
      case _: Generate => true   // raw explode reaches the join
      case other => other.children.exists(exposesExplode)
    }
    val offending = probe {
      SparkEntry.queries("q_unigram_logprob")(spark, dir)
        .queryExecution.optimizedPlan.collect {
          case j: Join if j.children.exists(exposesExplode) => j
        }
    }
    assert(offending.isEmpty,
      "a join consumes the raw token explode — pre-aggregate per-doc term " +
        "counts so the shuffle carries distinct (doc, term) rows")
  }

  test("top-k per group gets the WindowGroupLimit pushdown") {
    // Spark plans rank-filter windows as Partial+Final WindowGroupLimit —
    // a map-side top-k so the shuffle carries at most k rows per group
    // instead of every row. The pushdown only fires for the
    // row_number/rank/dense_rank + `<= k` filter shape; this pins that the
    // query keeps that shape (a rewrite via e.g. collect_list+slice or a
    // post-window sort would silently lose it).
    val plan = probe(SparkEntry.queries("q_topk_per_group")(spark, dir)
      .queryExecution.executedPlan.toString)
    assert(plan.contains("WindowGroupLimit"),
      "expected the rank filter to push down as WindowGroupLimit")
  }

  test("sequence packing windows per shard — no global sort feeds the pack") {
    // the running sum must run on Exchange hashpartitioning(shard) + local
    // sort, so shards pack in parallel; a rangepartitioning BELOW the
    // window would mean the whole corpus serializes through a global sort
    // (the plan prints top-down: the presentation ORDER BY's range exchange
    // is legitimate and sits above the Window node — so the check is that
    // the LAST range exchange, if any, still sits above the window; indexOf
    // alone would pass a plan with a legitimate exchange on top AND an
    // offending one below). Pinned for both token-count variants: the swap
    // point must not change the pack's distribution shape.
    for (q <- Seq("q_seq_pack", "q_seq_pack_tok")) {
      val plan = probe(SparkEntry.queries(q)(spark, dir)
        .queryExecution.executedPlan.toString)
      assert(plan.contains("hashpartitioning(shard"),
        s"$q: pack running-sum must partition by shard")
      val windowIdx = plan.indexOf("Window")
      val lastRangeIdx = plan.lastIndexOf("rangepartitioning")
      assert(windowIdx >= 0, s"$q: expected a Window node in the pack plan")
      assert(lastRangeIdx < windowIdx,
        s"$q: a rangepartitioning below the window globally sorts the corpus")
    }
  }

  test("FFD packing distributes by shard (one exchange, no global sort)") {
    // the flatMapGroups bin-packer must key its exchange on the shard hash
    // so shards pack in parallel; any rangepartitioning in this plan would
    // mean a global sort snuck into what should be a grouped map
    val plan = probe(graft.text.CorpusOps.ffdAssignments(spark, dir)
      .queryExecution.executedPlan.toString)
    assert(plan.contains("hashpartitioning"),
      "FFD packer must hash-partition its shard groups")
    assert(!plan.contains("rangepartitioning"),
      "FFD packer plan must not contain a global sort")
  }

  test("executed-mode spot check: the band self-join past a real checkpoint") {
    // the rest of this spec sweeps in plan-only mode, where checkpoints are
    // skipped — so planning over LogicalRDD leaves (whose stats differ from
    // file relations) is never exercised. This one query runs for REAL: the
    // MinHash signature checkpoint feeds the band self-join, and the join
    // must stay a keyed equi-join (never a nested loop) in the
    // post-checkpoint planning regime too.
    val qe = SparkEntry.queries("q_minhash_lsh")(spark, dir).queryExecution
    val plan = qe.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "band self-join degenerated to a nested loop over a checkpointed frame")
    assert(plan.contains("Scan ExistingRDD"),
      "expected the checkpointed signature RDD in the executed plan — if " +
        "checkpointing moved, point this spot check at the new cut")
  }

  test("IVF fine assignment joins super-cells — no broadcast side ∝ n") {
    // the hierarchical two-level assignment must reach fine centroids
    // through the s_id equi-join (vec_cell ⋈ cent_cell) and re-join
    // centroid vectors by c_id — the round-7 regression shape (all k ≈ n/16
    // centroids riding one broadcast nested-loop argmax) would leave no
    // s_id join key in the plan. Size-boundedness of what IS broadcast
    // (the O(√n) super set) is InvariantCheck's ivf_supers bound; this
    // pins the structure.
    val plan = probe(graft.sim.SimilarityOps
      .ivfAssignments(spark, dir).queryExecution.optimizedPlan.toString)
    assert(plan.contains("s_id"),
      "expected the super-cell (s_id) equi-join in the IVF assignment plan")
    // the fine candidate join keys must appear as join conditions, not
    // inside a nested-loop filter over a full centroid broadcast
    assert(!plan.contains("CartesianProduct"),
      "IVF assignment contains an unhinted cartesian product")
  }

  test("executed-mode spot check: q_dup_clusters' CC joins past real checkpoints") {
    // the CC loop localCheckpoints its label/edge frames every round; in
    // plan-only mode those cuts are skipped, so — like the band-join check
    // above — the post-checkpoint planning regime (joins over LogicalRDD
    // leaves with RDD stats) is only covered by running one CC-backed query
    // for REAL. The propagation joins must stay keyed hash joins over the
    // checkpointed frames, never a nested loop.
    val qe = SparkEntry.queries("q_dup_clusters")(spark, dir).queryExecution
    val plan = qe.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "a CC propagation join degenerated to a nested loop over a " +
        "checkpointed frame")
    assert(plan.contains("Scan ExistingRDD"),
      "expected checkpointed CC frames in the executed plan — if " +
        "checkpointing moved, point this spot check at the new cut")
  }

  test("exact dedup shuffles digests, not document text") {
    // one probe block is enough: PlanProbe only matters while the DataFrame
    // (and its eager checkpoints) would be CONSTRUCTED, not at plan-toString
    probe {
      val qe = SparkEntry.queries("q_dedup_exact")(spark, dir).queryExecution
      assert(qe.executedPlan.toString.contains("md5") ||
        qe.optimizedPlan.toString.contains("md5"),
        "dedup should aggregate on a digest so the shuffle carries 32 B/row")
    }
  }
}
