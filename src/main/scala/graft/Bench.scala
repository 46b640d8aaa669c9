package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line.
  *
  * Noise protocol: the host VM shows extreme run-to-run noise (the same query
  * has measured 5 s and 165 s — multi-minute I/O + CPU-steal windows). Two
  * mitigations, both aimed at that failure mode rather than ordinary jitter:
  *
  *  - THREE full INTERLEAVED passes (all queries pass 1, then all pass 2,
  *    then all pass 3) with the per-query MINIMUM reported. Interleaving
  *    matters: back-to-back reps of one query both land inside a contention
  *    window and best-of-N learns nothing; spacing the reps a full pass apart
  *    means a window must persist across the whole run to poison a query's
  *    every rep. Pass 1 doubles as JIT/codegen warm-up.
  *  - A constant-work CALIBRATION query (a fixed in-memory aggregate that
  *    never touches disk) timed once per pass and reported per-pass as
  *    `calibration`. Its cost is invariant by construction, so any blow-up
  *    between passes timestamps a contended window and tells a reader which
  *    pass (and how badly) was poisoned — turning "the number looks slow"
  *    into an auditable measurement.
  */
object Bench {

  /** The frozen sets in run order, each keyed by its JSON key. `queries` is
    * the headline: one representative per operator family (full coverage is
    * Verify's job; benching all ~60 registered queries would measure harness
    * overhead, not the engine), and the only set summed into `total`. Every
    * later set is a showcase block timed with the same interleaved protocol
    * and its own calibration samples, run after the sets before it so their
    * numbers stay round-over-round comparable; the `_rNN` suffix is the
    * round a set's operators were first benched (BASELINE.md). */
  val sets: Seq[(String, Seq[String])] = Seq(
    "queries" -> Seq(
      "q1_agg",                  // grouped aggregate on the raw fact table
      "q_counts_sector_company", // chunk-row star join + groupBy
      "q_pivot_scores",          // label + pivot matrix
      "q_basket",                // multi-join basket assembly
      "q_topk_per_group",        // window top-k
      "q_dedup_exact",           // hash-aggregate dedup
      "q_zscore_series",         // window z-score time series
      "q_scaffold_month_entity", // dense scaffold cross join
      "q_comention_edges",       // graph self-join
      "q_query_algebra",         // composed predicate scan
      "q_minhash_lsh",           // sketch + band join dedup
      "q_embed_cosine_topk",     // ANN brute-force baseline
      "q_sessionize",            // gap session windows
      "q_hierarchical_summary"), // partial/final summarize shape
    "extras" -> Seq(
      "q_asof_plan",         // custom Catalyst sorted-merge as-of join
      "q_asof_join",         // composed union+window as-of route (same oracle)
      "q_embed_ivf_search",  // probe → bucket-scan → top-k ANN path
      "q_ngram_jaccard",     // df-capped shingle self-join
      "q_simhash",           // 60-bit banded fingerprint dedup
      "q_dup_clusters",      // LSH candidates + iterative connected components
      "q_cc_chain",          // CC in the high-diameter multi-round regime
      "q_corpus_pipeline"),  // composed gate→cluster-keep-one→scrub→split chain
    "extras_r10" -> Seq(
      "q_chunk_split",       // fixed-window chunker (map-only explode)
      "q_entity_batching",   // Q8 one-scan fan-out + broadcast batch dim
      "q_wrap_truncate",     // P8 wrap UDF + codegen truncation window
      "q_embed_neardup_ivf"), // hierarchical 8-table OR-amplified IVF near-dup
    "extras_r13" -> Seq(
      "q_report_pipeline"),  // §3.3 composed search→label→score→coalesce chain
    "extras_r14" -> Seq(
      "q_market_pipeline",   // §3.1 search→dedup→mask→label→basket→panel chain
      "q_screener_pipeline"), // §3.2 tree→search→label→score-matrix chain
    "extras_r15" -> Seq(
      "q_narrative_pipeline", // cross-source pivot→z→smooth→align→peaks chain
      "q_election_pipeline",  // topics explode→scaffold→bipartite-degree chain
      "q_board_pipeline",     // search modes→first-wins dedup→quarterly chain
      "q_network_pipeline"))  // §3.1 graph arm: roles→co-mention→layout chain

  /** A set's calibration key in the full record. */
  private def calibrationKey(set: String): String =
    if (set == "queries") "calibration" else s"calibration_$set"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session(overrides = Session.registryConf)
    def once(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() } catch {
        case t: Throwable =>
          // A failed query must NOT silently shrink the total (which would
          // read as a speedup): log it and surface it in the JSON line.
          System.err.println(s"[bench] FAILED $name: ${t.getClass.getName}: ${t.getMessage}")
          return -1.0
      } finally PlanProbe.releaseCuts() // no-op unless cutPolicy=disk
      (System.nanoTime() - t0) / 1e9
    }
    // Constant-work calibration: ~32M-row in-memory range aggregate, no I/O.
    // Materialized via head(), NOT count(): count() re-aggregates to
    // count(1) and column pruning deletes the sum arithmetic entirely,
    // leaving an empty-body range loop that measures nothing.
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 32L * 1000 * 1000, 1, 32)
        .selectExpr("sum(id * 3 % 7) as s").head()
      (System.nanoTime() - t0) / 1e9
    }
    val qs0 = SparkEntry.queries
    // a registry-subset run filters each set down to its registered queries
    val present: Seq[(String, Seq[String])] =
      sets.map { case (k, names) => k -> names.filter(qs0.contains) }
    val passes = 3
    // times(name) accumulates one entry per pass; -1 marks a failed rep
    val times = scala.collection.mutable.Map(
      present.flatMap(_._2).map(_ -> List.empty[Double]): _*)
    // headline passes run FIRST and alone — extras must not perturb the
    // page-cache/GC conditions of headline reps 2-3, or `total` stops being
    // comparable to rounds benched before extras existed; each later set
    // repeats the same interleaved protocol (with its own calibration
    // samples) after the previous set completes. An EMPTY set skips its
    // calibration samples: probes guarding zero queries are pure overhead,
    // and the JSON gets an empty calibration list.
    def runBlock(names: Seq[String]): Seq[Double] =
      if (names.isEmpty) Seq.empty
      else (1 to passes).map { _ =>
        val c = calibrate()
        names.foreach { name => times(name) :+= once(name, qs0(name)) }
        c
      }
    // (set key, its queries, its calibration samples), in run order
    val blocks: Seq[(String, Seq[String], Seq[Double])] =
      present.map { case (k, names) => (k, names, runBlock(names)) }
    def minOf(name: String): Double = {
      val ok = times(name).filter(_ >= 0)
      if (ok.isEmpty) -1.0 else ok.min
    }
    def kv(k: String, v: String): String = "\"" + k + "\":" + v
    // Locale.ROOT: the f-interpolator is locale-sensitive and would emit
    // comma decimals (broken JSON) on comma-decimal default locales
    def fmt3(x: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))
    val setsJson = blocks.map { case (k, names, _) =>
      kv(k, names.map(n => kv(n, minOf(n).toString)).mkString("{", ",", "}"))
    }.mkString(",")
    // every set participates in failure gating exactly like the headline —
    // a broken or unregistered showcase operator must not exit 0. The rep
    // gate is ANY failed rep, not all-reps-failed: a query that succeeds
    // on pass 1 and OOMs on passes 2-3 still has a valid best-of (minOf
    // ≥ 0), and gating on minOf alone would ship the intermittent crash
    // with failures:[] and exit 0
    val failed = sets.flatMap(_._2).filterNot(qs0.contains) ++
      present.flatMap(_._2).filter(n => times(n).exists(_ < 0))
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val calibJson = blocks.map { case (k, _, cs) =>
      kv(calibrationKey(k), cs.map(fmt3).mkString("[", ",", "]"))
    }.mkString(",")
    val total = blocks.head._2.map(minOf).filter(_ >= 0).sum

    // ---- machine-readable drift verdicts --------------------------------
    // Automates the adjudication BASELINE.md prescribes in prose: compare
    // each query to the checked-in steady-state table
    // (bench_steady_state.json), gate comparability on that pass's
    // calibration sample, and flag ONLY structural violations (≥2× steady
    // on ≥2 calibration-clean passes) — single-sample excursions are the
    // documented VM noise and report as "noise", not regressions.
    def resolveRepoFile(name: String): String =
      if (java.nio.file.Files.isReadable(java.nio.file.Paths.get(name))) name
      else try {
        // fall back to the repo root relative to the packaged jar
        // (target/scala-2.13/<jar> → ../../../<name>)
        java.nio.file.Paths.get(getClass.getProtectionDomain.getCodeSource
            .getLocation.toURI)
          .getParent.getParent.getParent.resolve(name).toString
      } catch { case _: Throwable => name }
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BASELINE",
      resolveRepoFile("bench_steady_state.json"))
    val steady: Map[String, Double] = try {
      BenchDrift.parseSteady(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(baselinePath)), "UTF-8"))
    } catch { case _: Throwable => Map.empty[String, Double] }
    // Run-level contention factor: median clean-best/steady ratio across
    // every baselined query in the run. The structural bound scales by it,
    // so an IO-contended window that slows EVERY query uniformly (while
    // the small CPU-bound calibration probe stays clean) can't mass-flag
    // false regressions — a real regression is localized and stands out
    // against the median. Computed before adjudication; emitted as
    // "run_ratio" so readers see the contention the verdicts discounted.
    // COMPOSITION NOTE: when a round ADDS a block here (r15 added
    // extras_r14/extras_r15), the first run after the change computes
    // run_ratio over a different query population than the persisted
    // record it is compared against — environmentVerdict's one boundary
    // run is a comparability blip, not environment drift (recorded in
    // BASELINE.md round 16; the two-consecutive-runs rule absorbs it).
    val runRatio = BenchDrift.runRatio(blocks.flatMap { case (_, names, cs) =>
      names.flatMap(n => BenchDrift.cleanBestRatio(steady.get(n), times(n), cs))
    })
    // Adjudication rules live in BenchDrift (unit-tested by
    // BenchDriftSpec); status + JSON computed ONCE per query so
    // drift_structural can never disagree with the per-query rows.
    def driftOf(name: String, cs: Seq[Double]): (String, String) = {
      val ts = times(name)
      val status = BenchDrift.status(steady.get(name), ts, cs, runRatio)
      (status, kv(name, "{" + kv("steady", fmt3(steady.getOrElse(name, -1.0))) +
        "," + kv("best", fmt3(minOf(name))) +
        "," + kv("samples", ts.map(fmt3).mkString("[", ",", "]")) +
        ",\"status\":\"" + status + "\"}"))
    }
    val drift: Seq[(String, (String, String))] = blocks.flatMap {
      case (_, names, cs) => names.map(n => n -> driftOf(n, cs))
    }
    val driftJson = drift.map(_._2._2).mkString("{", ",", "}")
    val structural = drift.collect { case (n, ("structural", _)) => n }
    val structuralJson = structural.map("\"" + _ + "\"").mkString("[", ",", "]")
    val baselineTag = if (steady.isEmpty) "missing" else baselinePath
    val runRatioStr = fmt3(runRatio)

    // Persistent-contention escalation: the record file carries the LAST
    // run's run_ratio, so two consecutive contended runs (>1.5) become an
    // explicit "degraded" verdict — runRatio's documented uniform-slowdown
    // blind spot is machine-adjudicated instead of shrugged off twice.
    // The record is accepted as prior evidence only when its boot_id
    // matches this boot (parseRunRatio): a record that rode in with a git
    // checkout carries another machine/time's weather and must read as
    // first-strike, not strike two.
    val recordPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_RECORD",
      resolveRepoFile("bench_last_run.json"))
    val bootId = BenchDrift.bootId
    val prevRatio = try {
      BenchDrift.parseRunRatio(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(recordPath)), "UTF-8"), bootId)
    } catch { case _: Throwable => None }
    val envVerdict = BenchDrift.environmentVerdict(prevRatio, runRatio)

    val record = s"""{"metric":"total","value":$total,"unit":"sec",$setsJson,"failures":$failedJson,"passes":$passes,$calibJson,"drift":$driftJson,"drift_structural":$structuralJson,"run_ratio":$runRatioStr,"environment":"$envVerdict","boot_id":"$bootId","drift_baseline":"$baselineTag","sf":"$sfDir"}"""
    // Persist the full record: the driver's tail capture keeps only the
    // compact trailing line, so per-query history would otherwise live
    // only in prose. A write failure (read-only checkout, container FS)
    // must not fail the bench — the record is a convenience copy of the
    // stdout line, not the measurement.
    try java.nio.file.Files.write(java.nio.file.Paths.get(recordPath),
      (record + "\n").getBytes("UTF-8"))
    catch { case t: Throwable =>
      System.err.println(s"[bench] record write failed ($recordPath): $t") }
    println(record)
    // The harness that records this run keeps only the LAST ~2000 chars of
    // stdout; the full record above can exceed that (the r11 drift payload
    // did, leaving the round's total unrecoverable from the capture). A
    // compact trailing summary guarantees any tail capture ends with a
    // parseable record carrying the headline total.
    // The compact line also carries every timed query's best-of-3 (all
    // sets, 3 decimals), so the tail capture alone satisfies the stdout
    // contract {"metric","value","unit","queries","sf"}; `value` stays the
    // headline-set total for round-over-round comparability. (~1.4 kB,
    // still inside a 2000-char tail as the final line.)
    val totalCompact = fmt3(total)
    val allQsJson = present.flatMap(_._2).map(n => kv(n, fmt3(minOf(n))))
      .mkString("{", ",", "}")
    println(s"""{"metric":"total_compact","value":$totalCompact,"unit":"sec","queries":$allQsJson,"failures":$failedJson,"drift_structural":$structuralJson,"run_ratio":$runRatioStr,"environment":"$envVerdict","sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
