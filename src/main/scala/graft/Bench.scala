package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints its JSON record.
  *
  * Noise protocol: the host VM shows extreme run-to-run noise (the same query
  * has measured 5 s and 165 s — multi-minute I/O + CPU-steal windows). Each
  * set runs THREE full INTERLEAVED passes (all queries pass 1, then all
  * pass 2, then all pass 3) and reports the per-query MINIMUM. Interleaving
  * matters: back-to-back reps of one query both land inside a contention
  * window and best-of-N learns nothing; spacing the reps a full pass apart
  * means a window must persist across the whole run to poison a query's
  * every rep. Pass 1 doubles as JIT/codegen warm-up.
  *
  * Wall time says how long; it cannot say whether a plan changed. The full
  * record carries each query's [[Work]] from its last pass (jobs, stages,
  * tasks, bytes, CPU and AQE-final plan counts), and BenchProfileSpec gates
  * the deterministic counts against the checked-in `bench_profile.json`.
  */
object Bench {

  /** The frozen sets in run order, each keyed by its JSON key. `queries` is
    * the headline: one representative per operator family (full coverage is
    * Verify's job; benching all ~60 registered queries would measure harness
    * overhead, not the engine), and the only set summed into `total`. Every
    * later set is a showcase block timed with the same interleaved protocol,
    * run after the sets before it so their numbers stay round-over-round
    * comparable; the `_rNN` suffix is the round a set's operators were first
    * benched (BASELINE.md). */
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

  /** One timed `count()` of a query on `sfDir` and the work it did. The
    * clock stops before [[WorkCount]]'s flush. */
  private[graft] def once(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => DataFrame): (Double, Work) =
    WorkCount.during(spark) {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count()
      finally PlanProbe.releaseCuts() // no-op unless cutPolicy=disk
      (System.nanoTime() - t0) / 1e9
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session(overrides = Session.registryConf)
    val qs0 = SparkEntry.queries
    // None when the query failed. A failed query must NOT silently shrink
    // the total (which would read as a speedup): it is logged and surfaced
    // in the JSON line.
    def attempt(name: String): Option[(Double, Work)] =
      try Some(once(spark, sfDir, qs0(name)))
      catch { case t: Throwable =>
        System.err.println(s"[bench] FAILED $name: ${t.getClass.getName}: ${t.getMessage}")
        None
      }
    // a registry-subset run filters each set down to its registered queries
    val present: Seq[(String, Seq[String])] =
      sets.map { case (k, names) => k -> names.filter(qs0.contains) }
    val passes = 3
    // times(name) accumulates one entry per pass; -1 marks a failed rep
    val times = scala.collection.mutable.Map(
      present.flatMap(_._2).map(_ -> List.empty[Double]): _*)
    val profile = scala.collection.mutable.Map.empty[String, Work]
    // headline passes run FIRST and alone — extras must not perturb the
    // page-cache/GC conditions of headline reps 2-3, or `total` stops being
    // comparable to rounds benched before extras existed; each later set
    // repeats the same interleaved protocol after the previous set completes
    for ((_, names) <- present; _ <- 1 to passes; name <- names)
      attempt(name) match {
        case Some((t, w)) => times(name) :+= t; profile(name) = w
        case None => times(name) :+= -1.0
      }
    def minOf(name: String): Double = {
      val ok = times(name).filter(_ >= 0)
      if (ok.isEmpty) -1.0 else ok.min
    }
    def kv(k: String, v: String): String = "\"" + k + "\":" + v
    // Locale.ROOT: the f-interpolator is locale-sensitive and would emit
    // comma decimals (broken JSON) on comma-decimal default locales
    def fmt3(x: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(x))
    val setsJson = present.map { case (k, names) =>
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
    val profileJson = present.flatMap(_._2).flatMap(n => profile.get(n)
      .map(w => kv(n, w.json()))).mkString("{", ",", "}")
    val total = present.head._2.map(minOf).filter(_ >= 0).sum

    val record = s"""{"metric":"total","value":$total,"unit":"sec",$setsJson,"failures":$failedJson,"passes":$passes,"profile":$profileJson,"sf":"$sfDir"}"""
    // Persist the full record: the driver's tail capture keeps only the
    // compact trailing line. A write failure (read-only checkout, container
    // FS) must not fail the bench — the record is a convenience copy of the
    // stdout line, not the measurement.
    val recordPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_RECORD",
      graft.sources.SourceOps.repoFile("bench_last_run.json"))
    try java.nio.file.Files.write(java.nio.file.Paths.get(recordPath),
      (record + "\n").getBytes("UTF-8"))
    catch { case t: Throwable =>
      System.err.println(s"[bench] record write failed ($recordPath): $t") }
    println(record)
    // The harness that records this run keeps only the LAST ~2000 chars of
    // stdout, which the full record exceeds. A compact trailing line with
    // every timed query's best-of-3 (all sets, 3 decimals) guarantees any
    // tail capture ends with a parseable record satisfying the stdout
    // contract {"metric","value","unit","queries","sf"}; `value` stays the
    // headline-set total for round-over-round comparability.
    val allQsJson = present.flatMap(_._2).map(n => kv(n, fmt3(minOf(n))))
      .mkString("{", ",", "}")
    println(s"""{"metric":"total_compact","value":${fmt3(total)},"unit":"sec","queries":$allQsJson,"failures":$failedJson,"sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
