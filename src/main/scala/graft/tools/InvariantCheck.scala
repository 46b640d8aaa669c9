package graft.tools

import org.apache.spark.sql.SparkSession

/** Scale-up invariant checker: runs every SELF-VERIFYING gate (the queries
  * whose oracle pins a mismatch count to zero or a bound to TRUE) at an
  * arbitrary SF and asserts the pinned invariant from the result row itself.
  *
  * The DuckDB gate runs at sf0.01; this tool exists to show the invariants
  * are properties of the ALGORITHMS, not of the corpus size — run it at
  * sf0.1 (10× the gate) or any larger SF:
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 /opt/spark/bin/spark-submit \
  *   --master 'local[32]' --driver-memory 16g \
  *   --class graft.tools.InvariantCheck <jar>
  * }}}
  *
  * Exits 0 printing one OK line per invariant; exits 1 naming violations.
  * Budget ~15 min at sf0.1 on a contended box — the MLlib
  * approxSimilarityJoin inside q_ml_minhash_neardup dominates; this is a
  * per-release deep check, not a per-commit gate.
  */
object InvariantCheck {

  /** query name → (column to read, predicate on its value, description).
    * Lazy: the initializer references [[pipelineInvariants]], which is
    * declared below it. */
  private lazy val invariants: Seq[(String, String, Any => Boolean, String)] =
    Seq[(String, String, Any => Boolean, String)](
    ("q_mask_multi", "n_mismatch", v => v == 0L,
      "multi-span mask UDF == column-expression twin on every row"),
    ("q_mask_roundtrip", "n_mismatch", v => v == 0L,
      "mask->unmask round-trip == direct splice on every row"),
    ("q_label_batched", "n_mismatch", v => v == 0L,
      "batched-prompt labels == codegen stub labels on every row"),
    ("q_media_features", "n_mismatch", v => v == 0L,
      "partition-wise decode == codegen byte-arithmetic twin on every row"),
    ("q_ml_kmeans_ivf", "n_mismatch", v => v == 0L,
      "KMeans assignment == independent nearest-centroid loop on every vector"),
    ("q_ml_minhash_neardup", "n_dist_mismatch", v => v == 0L,
      "MLlib LSH candidate Jaccard == independent sorted-merge recompute"),
    ("q_embed_quantize", "all_within_bound", v => v == true,
      "int8 dequantization error < scale/127 on every vector"),
    // aggregated across rows: the gate emits one approx_ok per source group
    ("q_quantile_gate", "min(cast(approx_ok as int))", v => v == 1,
      "approx_percentile p50 within 5% of exact p50 for every source"),
    // law-of-large-numbers check on the hash split: at any real SF the
    // md5-bucket membership must land within 5 points of the 80/10/10 target
    ("q_hash_split",
      "min(cast(abs(pct - case when split = 'train' then 0.8 else 0.1 end)" +
        " < 0.05 as int))",
      v => v == 1,
      "hash-split proportions within 5 points of 80/10/10 at scale"),
    // exactly one keep-min survivor per semantic duplicate cluster — a
    // broken CC labeling or survivor policy shows up as a count mismatch
    ("q_semantic_dedup",
      "count(DISTINCT cluster) - sum(cast(keep as long))",
      v => v == 0L,
      "exactly one keep-min survivor per semantic cluster"),
    // composed-lifecycle invariants (round 15) — each gate emits its own
    // self-verifying column(s), pinned TRUE by the oracle at sf0.01 and
    // re-asserted here at scale (and at the PipelineScaleStress blowup
    // points, which share this list)
  ) ++ pipelineInvariants

  /** The composed-lifecycle column invariants, shared with
    * [[PipelineScaleStress]] so the blowup points assert EXACTLY what the
    * release gate asserts — a re-implementation could silently drift. */
  private[tools] val pipelineInvariants
      : Seq[(String, String, Any => Boolean, String)] = Seq(
    // narrative: per-source z-scores sum to ~0 over the dense range (the
    // true sum is identically 0; 1e-3 absorbs per-point 1e-6 rounding)
    ("q_narrative_pipeline", "min(cast(z_sum_ok as int))", v => v == 1,
      "per-source narrative z-scores sum to ~0 over the dense week range"),
    // election: a dense zero-filled daily panel's per-entity peak must be
    // positive (every edge entity has ≥1 kept row) — an overzealous
    // zero-fill or a scaffold that misses the active days trips it
    ("q_election_pipeline", "min(cast(peak_volume > 0 as int))", v => v == 1,
      "every election-panel entity has a positive daily volume peak"),
    // board: first-wins dedup keeps ONE row per document, so distinct kept
    // entities can never exceed kept documents in any (mode, quarter) cell
    ("q_board_pipeline", "min(cast(n_docs >= n_entities as int))",
      v => v == 1,
      "board dedup keeps <= one entity per document per quarter cell"),
    // network: the layout's rescale invariants hold on the composed chain
    ("q_network_pipeline", "min(cast(in_range and axis_max_ok as int))",
      v => v == 1,
      "network layout coordinates rescaled to [-1, 1] with max exactly 1"))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session()
    val qs = graft.SparkEntry.queries
    val tableFailures = invariants.flatMap { case (name, column, ok, desc) =>
      try {
        // selectExpr, not select: lets an invariant aggregate over a
        // multi-row gate (e.g. min over per-group booleans) while plain
        // column names keep working for the single-row gates
        val v = qs(name)(spark, sfDir).selectExpr(column).head().get(0)
        if (ok(v)) { println(s"[invariant] OK $name: $desc"); None }
        else Some(s"$name: $column = $v VIOLATES '$desc'")
      } catch {
        case e: Throwable => Some(s"$name: failed to run: ${e.getMessage}")
      } finally graft.PlanProbe.releaseCuts() // per-invariant boundary:
      // under cutPolicy=disk the cuts registry holds strong refs, so a
      // ~15-min sweep without releases would grow block-store usage
      // monotonically instead of plateauing per unit of work
    }
    // Pointer-jumping round bound: the synthetic chain graph has diameter
    // min(nDocs, ChainBucket)-1, and the CC loop must resolve it in
    // O(log₂ d) rounds — a linear-propagation regression (broken pointer
    // jump) would converge correctly but in O(d) rounds, which only this
    // bound catches. Slack +4 covers the final no-change detection round
    // and small constants.
    val ccFailure: Option[String] = try {
      val (chain, rounds) =
        graft.text.CorpusOps.chainClustersWithRounds(spark, sfDir)
      val n = chain.count()
      val diameter =
        math.min(n, graft.text.CorpusOps.ChainBucket.toLong) - 1
      // log2 guard: diameter < 2 (0-2 doc corpora) needs no doubling rounds
      // at all — without the guard log(0) = -Inf poisons the bound
      val bound =
        (if (diameter >= 2)
          math.ceil(math.log(diameter.toDouble) / math.log(2.0)).toInt
        else 0) + 4
      if (rounds <= bound) {
        println(s"[invariant] OK q_cc_chain: $rounds rounds for diameter " +
          s"$diameter (bound $bound)")
        None
      } else Some(s"q_cc_chain: $rounds rounds VIOLATES the O(log d) bound " +
        s"$bound for diameter $diameter - pointer jumping is not engaging")
    } catch {
      case e: Throwable => Some(s"q_cc_chain: failed to run: ${e.getMessage}")
    } finally graft.PlanProbe.releaseCuts()
    // Sequence-packing conservation: every document is packed exactly once
    // — the manifests' doc counts and token fills must sum to the corpus
    // totals (a dropped or double-packed doc breaks training-data audits).
    val packFailure: Option[String] = try {
      val manifest = qs("q_pack_manifest")(spark, sfDir)
        .selectExpr("CAST(sum(n_docs) AS LONG) AS d",
          "CAST(sum(sum_toks) AS LONG) AS t").head()
      val corpus = spark.read
        .parquet(s"$sfDir/documents.parquet")
        .selectExpr("count(*) AS d",
          "CAST(sum(ceil(n_chars / 4.0)) AS LONG) AS t").head()
      if (manifest.getLong(0) == corpus.getLong(0) &&
        manifest.getLong(1) == corpus.getLong(1)) {
        println(s"[invariant] OK q_pack_manifest: ${manifest.getLong(0)} " +
          s"docs / ${manifest.getLong(1)} tokens conserved across packs")
        None
      } else Some(s"q_pack_manifest: manifests carry ${manifest.getLong(0)} " +
        s"docs/${manifest.getLong(1)} toks but corpus has " +
        s"${corpus.getLong(0)}/${corpus.getLong(1)} - packing lost or " +
        "duplicated documents")
    } catch {
      case e: Throwable => Some(s"q_pack_manifest: failed to run: ${e.getMessage}")
    }
    // FFD packing: same conservation law as the manifest (every doc packed
    // exactly once), plus the bin-capacity law — no pack holding MORE than
    // one doc may exceed the budget (an oversize single doc legitimately
    // overflows its own pack; two docs sharing an overfull pack means the
    // first-fit scan placed into a bin without room).
    val ffdFailure: Option[String] = try {
      val ffd = graft.text.CorpusOps.ffdAssignments(spark, sfDir)
      val tot = ffd.selectExpr("count(*) AS d", "CAST(sum(toks) AS LONG) AS t")
        .head()
      val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
        .selectExpr("count(*) AS d",
          "CAST(sum(ceil(n_chars / 4.0)) AS LONG) AS t").head()
      val overfull = ffd.groupBy("shard", "pack_id")
        .agg(org.apache.spark.sql.functions.expr("sum(toks)").as("pt"),
          org.apache.spark.sql.functions.expr("count(*)").as("nd"))
        .where(s"pt > ${graft.text.CorpusOps.PackBudget} AND nd > 1")
        .count()
      if (tot.getLong(0) == corpus.getLong(0) &&
        tot.getLong(1) == corpus.getLong(1) && overfull == 0L) {
        println(s"[invariant] OK q_seq_pack_ffd: ${tot.getLong(0)} docs / " +
          s"${tot.getLong(1)} tokens conserved, 0 overfull multi-doc packs")
        None
      } else Some(s"q_seq_pack_ffd: docs ${tot.getLong(0)}/" +
        s"${corpus.getLong(0)} toks ${tot.getLong(1)}/${corpus.getLong(1)} " +
        s"overfull_multidoc=$overfull - FFD lost/duplicated docs or " +
        "overpacked a bin")
    } catch {
      case e: Throwable => Some(s"q_seq_pack_ffd: failed to run: ${e.getMessage}")
    }
    val ivfShapeFailure = ivfShapeCheck(spark, sfDir)
    val ivfSuperFailure = ivfSupersCheck(spark, sfDir)
    // IVF pair recall vs ground truth: the nprobe=2 multi-assignment must
    // recover nearly all true near-dup pairs (cos ≥ 0.35) that the O(n²)
    // brute-force sweep finds — the quantitative form of "the unsampled
    // scale path is a valid substitute for all-pairs". Asserted at the
    // requested SF AND at sf0.01: different n → different k and super
    // count → different Voronoi geometry, so a quantizer regression that
    // happens to pass at one operating point can't slip through.
    val recallDirs = sfDir +: {
      val sibling = new java.io.File(new java.io.File(sfDir).getParent,
        "sf0.01").getPath
      if (sibling != sfDir && new java.io.File(sibling).isDirectory)
        Seq(sibling) else Seq.empty
    }
    val ivfRecallFailures = recallDirs.flatMap(ivfRecallCheck(spark, _))
    // Persisted-IVF lifecycle at the release gate: the full
    // build → append (with a deliberate duplicate-retry replay) →
    // dedup-compact → search cycle on the REAL corpus at this SF.
    // IvfIndexSpec pins each piece at fixture scale; this is the only place
    // the whole maintenance loop runs end-to-end on driver data. Asserts:
    // (1) appended copies surface at cos≈1 for their source queries,
    // (2) a replayed (at-least-once) append batch does not perturb ranked
    // results, (3) dedup compaction reclaims the replay exactly and
    // preserves search bit-identity, (4) the compacted zone is back to one
    // file per bucket directory.
    val ivfLifecycleFailure: Option[String] = try {
      import org.apache.spark.sql.functions.col
      val S = graft.sim.SimilarityOps
      val idxPath = java.nio.file.Files.createTempDirectory("ivf_gate")
      val idx = idxPath.toString
      try {
      S.buildIvfIndex(spark, sfDir, idx)
      val built = spark.read.parquet(s"$idx/lists").count()
      val sources = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .filter(col("vec_id") % 40 === 0)
      val nCopies = sources.count()
      val copies = sources
        .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
      S.appendToIvfIndex(spark, idx, copies)
      def ranked() = S.searchIvfIndex(spark, idx, sources, nprobe = 3, k = 5)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
      val once = ranked()
      // every source query must see its appended copy at cos≈1 — OR have
      // its whole top-k saturated at cos≈1, the one case that can evict
      // the copy legitimately (a planted exact-duplicate cluster of ≥ k
      // smaller-id vectors wins every tiebreak; such a corpus is valid)
      val byQuery = once.groupBy(_._1)
      val copiesSeen = byQuery.count { case (q, rs) =>
        rs.exists(r => r._2 == q + 10000000L && math.abs(r._3 - 1.0) < 1e-6) ||
          (rs.size >= 5 && rs.forall(r => math.abs(r._3 - 1.0) < 1e-6)) }
      S.appendToIvfIndex(spark, idx, copies) // the at-least-once replay
      val afterReplay = spark.read.parquet(s"$idx/lists").count()
      val twice = ranked()
      graft.sources.SourceOps.compactPartitions(spark, s"$idx/lists",
        Seq("bucket"), col("bucket").isNotNull, dedupKeys = Seq("vec_id"))
      val compacted = spark.read.parquet(s"$idx/lists").count()
      val post = ranked()
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$idx/lists"))
      val filesPerBucket =
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala.filter(_.toString.endsWith(".parquet"))
            .toList.groupBy(_.getParent.getFileName.toString)
            .view.mapValues(_.size).toMap
        } finally walk.close()
      val copyOk = copiesSeen == nCopies
      val replayOk = afterReplay == built + 2 * nCopies && twice == once
      val compactOk = compacted == built + nCopies && post == once
      val layoutOk = filesPerBucket.nonEmpty &&
        filesPerBucket.values.forall(_ == 1)
      if (copyOk && replayOk && compactOk && layoutOk) {
        println(s"[invariant] OK ivf_lifecycle: built $built, appended " +
          s"$nCopies copies x2 (replay), compacted back to " +
          s"${built + nCopies}; copies searchable at cos~1, ranked results " +
          "bit-identical across replay and compaction, 1 file/bucket")
        None
      } else Some(s"ivf_lifecycle: copy_seen=$copiesSeen/$nCopies " +
        s"replay(count=$afterReplay vs ${built + 2 * nCopies}, " +
        s"identical=${twice == once}) compact(count=$compacted vs " +
        s"${built + nCopies}, identical=${post == once}) " +
        s"files/bucket=${filesPerBucket.values.toSeq.distinct.sorted} - " +
        "the build->append->compact->search cycle broke on real data")
      } finally {
        // gate hygiene: don't leave a full sf-scale index zone in /tmp on
        // every release run
        import scala.jdk.CollectionConverters._
        val w = java.nio.file.Files.walk(idxPath)
        try w.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
        finally w.close()
      }
    } catch {
      case e: Throwable =>
        Some(s"ivf_lifecycle: failed to run: ${e.getMessage}")
    } finally graft.PlanProbe.releaseCuts()
    // Composed-lifecycle accounting at scale (round 14): the §3.1 panel's
    // dense-scaffold + reconciliation identities and the §3.2 score
    // matrix's accounting identity, asserted at the requested SF — the
    // hash gate pins the VALUES at sf0.01 and the specs pin these
    // invariants at sf0.001; this proves they are SF-invariant.
    // Both pipeline results are dimension-bounded (≤ weeks × top-6 and
    // ≤ |watchlist| rows at ANY SF), so collect each ONCE and assert every
    // identity driver-side — one Spark action per pipeline instead of one
    // per identity, and a 0-row result degrades to a readable diagnostic
    // rather than a null-aggregate surprise.
    val marketFailure: Option[String] =
      marketPanelCheck(spark, sfDir, "[invariant]")
    val screenerFailure: Option[String] = try {
      screenerRowsCheck(qs("q_screener_pipeline")(spark, sfDir).collect(),
        "[invariant]")
    } catch {
      case e: Throwable =>
        Some(s"q_screener_pipeline: failed to run: ${e.getMessage}")
    } finally graft.PlanProbe.releaseCuts()
    // §3.3 report pipeline (round 16): the mean-normalization and
    // magnitude-banding identities on the collected (dimension-bounded)
    // result — the same driver-side pattern as the market/screener checks
    val reportFailure: Option[String] = try {
      reportRowsCheck(qs("q_report_pipeline")(spark, sfDir).collect(),
        "[invariant]")
    } catch {
      case e: Throwable =>
        Some(s"q_report_pipeline: failed to run: ${e.getMessage}")
    } finally graft.PlanProbe.releaseCuts()
    val failures = tableFailures ++ ccFailure ++ packFailure ++ ffdFailure ++
      ivfShapeFailure ++ ivfSuperFailure ++ ivfRecallFailures ++
      ivfLifecycleFailure ++ marketFailure ++ screenerFailure ++ reportFailure
    spark.stop()
    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println(s"[invariant] FAIL $f"))
      sys.exit(1)
    }
    println(s"[invariant] all ${invariants.size + 9 + recallDirs.size} " +
      s"invariants hold at $sfDir")
  }

  /** The §3.2 score matrix's accounting identities on an already-collected
    * result: leaf counts and parent rollups both sum to the composite, one
    * row per company. Expectations derive from the SAME tree the pipeline
    * derives its columns from — a fixture change adapts here instead of
    * dying on an unresolved hard-coded column. Shared with
    * [[PipelineScaleStress]]. */
  private[tools] def screenerRowsCheck(
      rows: Array[org.apache.spark.sql.Row], tag: String): Option[String] = {
    val tree = graft.model.ThemeTree.fixture
    val parentOf = graft.model.ThemeTree.labelToParent(tree)
    val leaves = graft.model.ThemeTree.leaves(tree).map(_.label)
    val parents = leaves.map(parentOf).distinct
    val bad = rows.count { r =>
      val comp = r.getAs[Long]("composite_score")
      leaves.map(l => r.getAs[Long](l)).sum != comp ||
        parents.map(p => r.getAs[Long](s"${p}_score")).sum != comp }
    val names = rows.map(_.getAs[String]("entity_name"))
    val dup = names.length - names.distinct.length
    if (bad == 0 && dup == 0 && rows.nonEmpty) {
      println(s"$tag OK q_screener_pipeline: ${rows.length} " +
        "companies, leaf and parent rollups both sum to the composite")
      None
    } else Some(s"q_screener_pipeline: n=${rows.length} " +
      s"bad_accounting=$bad dup_companies=$dup - the tree->matrix " +
      "composition broke at scale")
  }

  /** The §3.3 report panel's identities on an already-collected result:
    * per-theme attention scores are MEAN-NORMALIZED (they average to ~1
    * within every theme — `attention = n_docs / avg(n_docs) over theme`,
    * so the mean is identically 1; 1e-3 absorbs the per-row 1e-6
    * rounding), the magnitude band is the pure n_docs function
    * (High ≥ 100 > Medium ≥ 30 > Low), and the response fallback is total
    * (never null). Shared with [[PipelineScaleStress]]. */
  private[tools] def reportRowsCheck(
      rows: Array[org.apache.spark.sql.Row], tag: String): Option[String] = {
    val badMean = rows.groupBy(_.getAs[String]("theme")).count {
      case (_, rs) =>
        math.abs(rs.map(_.getAs[Double]("attention_score")).sum /
          rs.length - 1.0) > 1e-3
    }
    val badBand = rows.count { r =>
      val n = r.getAs[Long]("n_docs")
      val expected = if (n >= 100) "High" else if (n >= 30) "Medium"
        else "Low"
      r.getAs[String]("magnitude") != expected
    }
    val nullResp = rows.count(r => r.isNullAt(r.fieldIndex("response")))
    if (rows.nonEmpty && badMean == 0 && badBand == 0 && nullResp == 0) {
      println(s"$tag OK q_report_pipeline: ${rows.length} rows, " +
        "per-theme attention means ~ 1, magnitude bands consistent, " +
        "responses total")
      None
    } else Some(s"q_report_pipeline: n=${rows.length} " +
      s"themes_off_mean=$badMean bad_magnitude=$badBand " +
      s"null_responses=$nullResp - the report composition broke at scale")
  }

  /** The §3.1 panel's dense-scaffold + reconciliation identities, asserted
    * driver-side on the collected (dimension-bounded) result — shared with
    * [[PipelineScaleStress]] exactly like [[pipelineInvariants]]. */
  private[tools] def marketPanelCheck(spark: SparkSession, sfDir: String,
      tag: String): Option[String] = try {
    marketPanelRowsCheck(
      graft.SparkEntry.queries("q_market_pipeline")(spark, sfDir).collect(),
      tag)
  } catch {
    case e: Throwable =>
      Some(s"q_market_pipeline: failed to run: ${e.getMessage}")
  } finally graft.PlanProbe.releaseCuts()

  /** The identity assertions over an already-collected panel — split out so
    * [[PipelineScaleStress]] can reuse its timed run's rows instead of
    * executing the pipeline a second time. */
  private[tools] def marketPanelRowsCheck(
      rows: Array[org.apache.spark.sql.Row], tag: String): Option[String] = {
    val weeks = rows.map(_.getAs[String]("week")).distinct
    val comps = rows.map(_.getAs[String]("entity_name")).distinct
    // W-MON period labels end on Mondays
    val mondaysOk = weeks.forall(w =>
      java.time.LocalDate.parse(w).getDayOfWeek ==
        java.time.DayOfWeek.MONDAY)
    val netOk = rows.forall(r => r.getAs[Long]("net_exposure") ==
      r.getAs[Long]("positive_exp") - r.getAs[Long]("negative_exp"))
    // the weekly counts and the basket totals are two aggregations of
    // the SAME labeled frame — they must reconcile per company
    val unreconciled = rows.groupBy(_.getAs[String]("entity_name"))
      .count { case (_, rs) =>
        rs.map(r => r.getAs[Long]("positive_exp") +
          r.getAs[Long]("negative_exp")).sum !=
          rs.head.getAs[Long]("basket_total") }
    if (rows.nonEmpty && rows.length == weeks.length * comps.length &&
        comps.length <= 6 && mondaysOk && netOk && unreconciled == 0) {
      println(s"$tag OK q_market_pipeline: dense ${weeks.length}x" +
        s"${comps.length} W-MON panel, weekly counts reconcile to the " +
        "basket totals")
      None
    } else Some(s"q_market_pipeline: rows=${rows.length} " +
      s"weeks=${weeks.length} companies=${comps.length} " +
      s"mondays_ok=$mondaysOk net_ok=$netOk unreconciled=$unreconciled " +
      "- the basket->panel composition broke at scale")
  }

  // ---- IVF scale pins, shared with graft.tools.ScaleStress (which runs
  // them at a synthetic third operating point beyond sf0.01/sf0.1) ----

  /** IVF quantizer scale shape: k must GROW with the corpus
    * (k ≈ n/targetBucket from the hash-seed pick) and cells must stay
    * ~targetBucket-sized, so within-cell candidate work Σ bucket² stays
    * LINEAR in n — a fixed-k regression (the round-6 weak finding) blows
    * straight through these caps at 10× the oracle's SF. */
  private[tools] def ivfShapeCheck(spark: SparkSession,
      sfDir: String): Option[String] = try {
    val tb = graft.sim.SimilarityOps.IvfTargetBucket.toLong
    // per-TABLE shape: every one of the IvfTables independent quantizers
    // must have a scaling k and bounded cells — the worst table is
    // asserted, so one degenerate table can't hide behind the union
    val row = graft.sim.SimilarityOps.ivfAssignments(spark, sfDir)
      .where("pr = 1").groupBy("tbl", "bucket").count()
      .groupBy("tbl")
      .agg(org.apache.spark.sql.functions.expr("count(*)").as("k"),
        org.apache.spark.sql.functions.expr("CAST(max(count) AS LONG)")
          .as("mx"),
        org.apache.spark.sql.functions
          .expr("CAST(sum(count * count) AS LONG)").as("ss"))
      .selectExpr("CAST(min(k) AS LONG)", "CAST(max(mx) AS LONG)",
        "CAST(max(ss) AS LONG)", "CAST(count(*) AS LONG)").head()
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    val (k, mx, ss, nt) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
    val kOk = k >= n / (4L * tb)
    val mxOk = mx <= 8L * tb
    val ssOk = ss <= 8L * n * tb
    val ntOk = nt == graft.sim.SimilarityOps.IvfTables.toLong
    if (kOk && mxOk && ssOk && ntOk) {
      println(s"[invariant] OK ivf_quantizer: $nt tables, worst-table " +
        s"k=$k for n=$n (target ${n / tb}), max_bucket=$mx " +
        s"(cap ${8L * tb}), sum_sq=$ss (cap ${8L * n * tb})")
      None
    } else Some(s"ivf_quantizer: n=$n tables=$nt worst k=$k " +
      s"max_bucket=$mx sum_sq=$ss VIOLATES scale shape (need all " +
      s"${graft.sim.SimilarityOps.IvfTables} tables, k >= n/${4L * tb}, " +
      s"max <= ${8L * tb}, sum b^2 <= 8*n*$tb per table) - a quantizer table " +
      "stopped scaling with the corpus")
  } catch {
    case e: Throwable => Some(s"ivf_quantizer: failed to run: ${e.getMessage}")
  }

  /** Hierarchical-assignment broadcast bound: the two-level IVF assignment
    * may broadcast ONLY the super set, whose size must stay O(√n)
    * (expected √(n/16) = √n/4) — a regression back to broadcasting the
    * k ≈ n/16 centroid set (the round-7 flat argmax, n²/16 dots and an
    * O(n)-row broadcast) blows through this cap immediately. */
  private[tools] def ivfSupersCheck(spark: SparkSession,
      sfDir: String): Option[String] = try {
    val vs = graft.sim.SimilarityOps.vectorsFor(spark, sfDir)
    val counts = (0 until graft.sim.SimilarityOps.IvfTables)
      .map(t => graft.sim.SimilarityOps.supersOf(vs, t).count())
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    val cap = math.max(8L, 2L * math.ceil(math.sqrt(n.toDouble)).toLong)
    if (counts.forall(c => c >= 1L && c <= cap)) {
      println(s"[invariant] OK ivf_supers: per-table super counts " +
        s"${counts.mkString("/")} for n=$n (O(sqrtn) cap $cap) - no " +
        "assignment broadcast side ~ n")
      None
    } else Some(s"ivf_supers: per-table super counts " +
      s"${counts.mkString("/")} for n=$n VIOLATE the O(sqrtn) broadcast " +
      s"bound [1, $cap] - a level-1 quantizer stopped being sublinear")
  } catch {
    case e: Throwable => Some(s"ivf_supers: failed to run: ${e.getMessage}")
  }

  /** IVF pair recall as (hit pairs, true pairs) against the brute-force
    * ground truth. */
  private def ivfRecallCounts(spark: SparkSession,
      dir: String): (Long, Long) = {
    val bf = graft.sim.SimilarityOps.bruteForcePairs(spark, dir)
    val ivf = graft.sim.SimilarityOps.ivfCosinePairs(spark, dir)
      .select("id_a", "id_b")
    (bf.join(ivf, Seq("id_a", "id_b"), "left_semi").count(), bf.count())
  }

  /** IVF pair recall vs ground truth at one dir: the nprobe=2
    * multi-assignment must recover ≥ 0.8 of the true near-dup pairs
    * (cos ≥ 0.35) the O(n²) brute-force sweep finds. */
  private[tools] def ivfRecallCheck(spark: SparkSession,
      dir: String): Option[String] = try {
    val (nHit, nBf) = ivfRecallCounts(spark, dir)
    val recall = if (nBf == 0) 1.0 else nHit.toDouble / nBf
    if (nBf > 0 && recall >= 0.8) {
      println(f"[invariant] OK ivf_recall[$dir]: $nHit/$nBf pairs = " +
        f"$recall%.3f >= 0.8 floor")
      None
    } else Some(f"ivf_recall[$dir]: $nHit of $nBf brute-force pairs = " +
      f"$recall%.3f VIOLATES the 0.8 floor (or no ground-truth pairs " +
      "exist to measure)")
  } catch {
    case e: Throwable =>
      Some(s"ivf_recall[$dir]: failed to run: ${e.getMessage}")
  }
}
