package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Oracle, Q}
import graft.label.Labeler

/** Cross-source narrative-mining lifecycle (`Narrative_Miners/src/tool.py`,
  * traced in SURVEY.md §3) composed as ONE gated DataFrame pipeline — the
  * time-series sibling of [[MarketPipeline]] (§3.1) / [[ScreenerPipeline]]
  * (§3.2) / [[graft.report.ReportPipeline]] (§3.3). Every stage is
  * individually hash-gated (`q_resample_weekly`, `q_zscore_series`,
  * `q_smooth_kernel`, `q_index_align_ffill`, `q_peaks_topk`, `q_peak_lag`
  * shapes); this query gates the COMPOSITION — the per-source series
  * boundaries, the pivot→resample→z→smooth chaining, the cross-source
  * alignment, and the peaks the lag derives from — so cross-stage contract
  * drift surfaces as a red CORRECTNESS row.
  *
  * Stage map (reference line → gated building block → here):
  *  1. load three mining-result sources with a `Source_Type` stamp
  *     (`load_results`, `tool.py:10-26`; the reference concatenates three
  *     Excel workbooks) → one labeled chunk scan with the document_type →
  *     display-name stamp: the three "files" are slices of one table, so
  *     the 3-way union is a CASE projection on a single scan, not three
  *     scans (the S6→S7 workbook round-trip of this input shape is pinned
  *     as a frame-equality spec in NarrativePipelineSpec, keeping the gate
  *     side-effect-free);
  *  2. per-label weekly pivot + resample (`prepare_narrative_data`,
  *     `tool.py:34-36`; `q_resample_weekly` shape) → ONE (source, week,
  *     label) hash aggregate; every downstream per-source series is derived
  *     by summing the per-label pivot over labels — exactly
  *     `pivot_table(...).resample('W').sum()` — so a pivot drift is visible
  *     in every output row;
  *  3. per-source weekly z-score over the DENSE week range
  *     (`calculate_source_scores`, `tool.py:56-70`: `resample('W')` makes
  *     the index contiguous and missing weeks count 0 BEFORE the mean/std;
  *     `q_zscore_series` shape) → dense per-source scaffold, zero-fill,
  *     sample-std z with the zero-variance guard;
  *  4. Gaussian smoothing (`gaussian_filter1d(..., sigma=2)`, `tool.py:68`)
  *     → the engine's documented finite-kernel stand-in [1,2,3,2,1]
  *     renormalized at the series edges (`q_smooth_kernel` shape, SURVEY.md
  *     §7.4 item 6);
  *  5. cross-source index align + ffill + zero-fill
  *     (`visualize_cross_source_narratives`, `tool.py:79-88`: union of the
  *     three indexes, `sort_index().fillna(method='ffill').fillna(0)`;
  *     `q_index_align_ffill` shape) → union-week × source scaffold, last
  *     ignoreNulls window, leading gaps → 0;
  *  6. top-3 peaks per source + news↔filing peak lag (`generate_summary`,
  *     `tool.py:690-719`: `nlargest(3)` on the smoothed series, nearest
  *     filing peak by |days| per news peak, SIGNED (filing − news) lag,
  *     mean; `q_peaks_topk`/`q_peak_lag` shapes) → row_number top-3 with
  *     the first-occurrence tiebreak (score desc, week asc — pandas
  *     nlargest keeps the earliest index on ties), nearest by
  *     (|days|, filing week) — deterministic where the reference's `min`
  *     is iteration-order-dependent on ties — and the signed mean rides
  *     along every output row;
  *  7. summary attributes (`tool.py:698-711`): per-source top narrative
  *     (`value_counts().idxmax()` → max_by with the count-desc/label-desc
  *     tiebreak, `q_majority_label`'s convention) and total mentions.
  *
  * Scale shape: ONE corpus scan feeds ONE (source × week × label) hash
  * aggregate (map-side partial, ≤ |sources|·|weeks|·|labels| rows at any
  * corpus size); the pivot is LINEAGE-CUT (round 17) so every later stage
  * reads the materialized ~1k-row frame — the r15 assumption that
  * ReusedExchange would dedup the pivot across its consumers was refuted
  * by an executed-plan dump at ×10 (seven distinct lineitem⋈orders
  * SortMergeJoins in one action; only scan-side exchanges reuse), and the
  * cut measured 2.5× faster there (`tools/CutProbe q_narrative_pipeline`, BASELINE.md
  * round 17). Windows, scaffolds, peak sets, and the lag cross join are
  * all driver-negligible with broadcast merges. Nothing shuffles the
  * corpus but the one groupBy — now enforced by the cut rather than
  * assumed of the optimizer.
  *
  * Release invariant (InvariantCheck + the oracle's TRUE pin): per-source
  * z-scores sum to ~0 over the source's own dense range (|Σz| < 1e-3
  * absorbs the 1e-6 per-point rounding; the true sum is identically 0) —
  * emitted as `z_sum_ok` on every row.
  */
object NarrativePipeline {

  /** document_type → the reference's Source_Type display names
    * (`tool.py:733-735`). */
  private[graft] val SourceNames: Seq[(String, String)] = Seq(
    "news" -> "News Media",
    "transcripts" -> "Earnings Calls",
    "filings" -> "SEC Filings")

  private val SourceNameOf: Map[String, String] = SourceNames.toMap

  private def sourceStamp: Column =
    SourceNames.tail.foldLeft(
      when(col("document_type") === SourceNames.head._1,
        lit(SourceNames.head._2))) { case (acc, (dt, name)) =>
      acc.when(col("document_type") === dt, lit(name))
    }

  /** Stage 1+2: labeled scan → (source, week, label) pivot counts.
    * Week bucket = the engine's ISO Monday-start week label
    * (`q_resample_weekly`'s convention). */
  private[graft] def labelPivot(s: SparkSession, d: String): DataFrame =
    // reads document_type/timestamp (orders) and label (text) only — the
    // supplier/customer dims are eliminated by RI (Tables.chunkRowsPruned)
    Labeler.withStubLabels(graft.model.Tables.chunkRowsPruned(s, d,
      withOrders = true, withText = true))
      .withColumn("source_type", sourceStamp)
      .groupBy(col("source_type"),
        date_trunc("week", col("timestamp_utc")).cast("date").as("wk"),
        col("label"))
      .agg(count(lit(1)).as("lcnt"))

  /** The smoothing kernel of `q_smooth_kernel` over an already-dense
    * series column, partitioned by source. */
  private def smoothCol(v: Column, w: org.apache.spark.sql.expressions
      .WindowSpec): Column = {
    def tap(off: Int, weight: Double): (Column, Column) = {
      val x = off match {
        case 0 => v
        case n if n < 0 => lag(v, -n).over(w)
        case n => lead(v, n).over(w)
      }
      (when(x.isNotNull, x * weight).otherwise(lit(0.0)),
        when(x.isNotNull, lit(weight)).otherwise(lit(0.0)))
    }
    val taps = Seq(-2 -> 1.0, -1 -> 2.0, 0 -> 3.0, 1 -> 2.0, 2 -> 1.0)
      .map { case (o, wt) => tap(o, wt) }
    round(taps.map(_._1).reduce(_ + _) / taps.map(_._2).reduce(_ + _), 6)
  }

  /** The gated pipeline frame. `cut = true` lineage-cuts the (source,
    * week, label) pivot — a DIMENSION-BOUNDED frame (≤ |sources|·|weeks|·
    * |labels| ≈ 1k rows at any corpus size), so unlike election's rejected
    * corpus-fraction cut this materialization cannot grow with the corpus.
    * The r15 note ("ReusedExchange dedups the pivot, a cut is a wash at
    * sf0.1") was HALF wrong: a round-17 executed-plan dump at the ×10
    * blowup shows reuse does NOT engage across the pivot's seven
    * consumers — SEVEN distinct lineitem⋈orders SortMergeJoins execute in
    * one action (only the scan-side exchanges dedup). The wash at sf0.1 is
    * real (fixed costs dominate there); at blowup scale the 7× fact join
    * dominates and the cut wins — measured crossover in BASELINE.md round
    * 17, which sets the registered default below. */
  private[graft] def pipelineFrame(s: SparkSession, d: String,
      cut: Boolean): DataFrame = {
      // stage 1+2: one scan → the per-label weekly pivot (knob above).
      val base =
        if (cut) graft.PlanProbe.cut(labelPivot(s, d))
        else labelPivot(s, d)
      // per-source weekly counts = the pivot summed over labels
      val weekly = base.groupBy(col("source_type"), col("wk"))
        .agg(sum(col("lcnt")).as("cnt"))
      // stage 3: dense per-source week scaffold (resample('W') semantics:
      // contiguous weeks, missing weeks count 0 BEFORE the z-score)
      val bounds = weekly.groupBy(col("source_type"))
        .agg(min(col("wk")).as("mn"), max(col("wk")).as("mx"))
      val dense = bounds.select(col("source_type"),
        explode(sequence(col("mn"), col("mx"), expr("INTERVAL 7 DAY")))
          .as("wk"))
      val filled = dense.join(weekly, Seq("source_type", "wk"), "left")
        .na.fill(0L, Seq("cnt"))
      val sw = Window.partitionBy(col("source_type"))
      val z = filled
        .withColumn("mu", avg(col("cnt")).over(sw))
        .withColumn("sd", stddev_samp(col("cnt")).over(sw))
        .withColumn("z",
          when(col("sd").isNull || col("sd") === 0.0, lit(0.0))
            .otherwise(round((col("cnt") - col("mu")) / col("sd"), 6)))
      // stage 4: finite-kernel smoothing per source over the dense weeks
      val so = Window.partitionBy(col("source_type")).orderBy(col("wk"))
      val smoothed = z.withColumn("score_own", smoothCol(col("z"), so))
      // stage 5: union-of-indexes alignment, ffill, leading zeros. The
      // scaffold and the smoothed frame are both dimension-bounded
      // (≤ |weeks| × 3 rows at ANY corpus size) — broadcast the merge side
      // explicitly; post-aggregation sizes are opaque to the planner.
      val weeksUnion = dense.select(col("wk")).distinct()
      val sources = bounds.select(col("source_type"))
      val wff = Window.partitionBy(col("source_type")).orderBy(col("wk"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val aligned = weeksUnion.crossJoin(broadcast(sources))
        .join(broadcast(smoothed.select(col("source_type"), col("wk"),
          col("score_own"))), Seq("source_type", "wk"), "left")
        .withColumn("score",
          coalesce(last(col("score_own"), ignoreNulls = true).over(wff),
            lit(0.0)))
      // stage 6: top-3 peaks per source on the smoothed series (pre-align,
      // the reference peaks on news_score/filing_score directly), then the
      // signed news→filing mean lag
      val pw = Window.partitionBy(col("source_type"))
        .orderBy(col("score_own").desc, col("wk").asc)
      val peaks = smoothed.withColumn("rk", row_number().over(pw))
        .filter(col("rk") <= 3)
      val newsPeaks = peaks
        .filter(col("source_type") === SourceNameOf("news"))
        .select(col("wk").as("news_wk"))
      val filingPeaks = peaks
        .filter(col("source_type") === SourceNameOf("filings"))
        .select(col("wk").as("filing_wk"))
      // ≤ 3×3 pairs at any corpus size; global agg yields exactly one row
      // (NULL mean) even when a source has no peaks, so the ride-along
      // cross join can never zero out the panel
      val lagRow = newsPeaks.crossJoin(broadcast(filingPeaks))
        .select(col("news_wk"),
          datediff(col("filing_wk"), col("news_wk")).as("lag_days"),
          abs(datediff(col("filing_wk"), col("news_wk"))).as("ad"),
          col("filing_wk"))
        .groupBy(col("news_wk"))
        .agg(min_by(col("lag_days"), struct(col("ad"), col("filing_wk")))
          .as("nearest_lag"))
        .agg(round(avg(col("nearest_lag")), 4).as("avg_news_filing_lag_days"))
      // stage 7: per-source top narrative + total mentions — both derived
      // from the SAME pivot frame (value_counts = the pivot summed over
      // weeks), plus the z-sum release invariant
      val lbl = base.groupBy(col("source_type"), col("label"))
        .agg(sum(col("lcnt")).as("n"))
      val top = lbl.groupBy(col("source_type"))
        .agg(max_by(col("label"), struct(col("n"), col("label")))
          .as("top_label"),
          sum(col("n")).as("total_mentions"))
      val zOk = z.groupBy(col("source_type"))
        .agg((abs(sum(col("z"))) < 1e-3).as("z_sum_ok"))
      aligned
        .join(broadcast(top), Seq("source_type"))
        .join(broadcast(zOk), Seq("source_type"))
        .crossJoin(broadcast(lagRow))
        .select(date_format(col("wk"), "yyyy-MM-dd").as("week"),
          col("source_type"), col("score"), col("top_label"),
          col("total_mentions"), col("z_sum_ok"),
          col("avg_news_filing_lag_days"))
        .orderBy(col("week"), col("source_type"))
  }

  private val qNarrativePipeline = Q(
    "q_narrative_pipeline",
    (s, d) => pipelineFrame(s, d, cut = true),
    Some {
      // every Scala-side name reaches the SQL through sqlLit — the display
      // names contain spaces today and could contain quotes tomorrow; one
      // definition (SourceNames) feeds both the Column stamp and the oracle
      val stampCase = SourceNames.map { case (dt, name) =>
        s"WHEN document_type = ${Oracle.sqlLit(dt)} " +
          s"THEN ${Oracle.sqlLit(name)}"
      }.mkString("CASE ", "\n         ", " END")
      val newsLit = Oracle.sqlLit(SourceNameOf("news"))
      val filingsLit = Oracle.sqlLit(SourceNameOf("filings"))
      s"""WITH ${Oracle.chunkCte},
         |stamped AS (
         |  SELECT *,
         |    $stampCase
         |      AS source_type,
         |    ${Oracle.labelCase} AS label
         |  FROM chunk
         |),
         |base AS (
         |  SELECT source_type, CAST(date_trunc('week', timestamp_utc) AS DATE) AS wk,
         |         label, count(*) AS lcnt
         |  FROM stamped GROUP BY 1, 2, 3
         |),
         |weekly AS (
         |  SELECT source_type, wk, sum(lcnt) AS cnt FROM base GROUP BY 1, 2
         |),
         |bounds AS (
         |  SELECT source_type, min(wk) AS mn, max(wk) AS mx
         |  FROM weekly GROUP BY 1
         |),
         |dense AS (
         |  SELECT source_type,
         |         CAST(unnest(generate_series(CAST(mn AS TIMESTAMP),
         |           CAST(mx AS TIMESTAMP), INTERVAL 7 DAY)) AS DATE) AS wk
         |  FROM bounds
         |),
         |filled AS (
         |  SELECT d.source_type, d.wk, COALESCE(w.cnt, 0) AS cnt
         |  FROM dense d
         |  LEFT JOIN weekly w ON w.source_type = d.source_type AND w.wk = d.wk
         |),
         |z AS (
         |  SELECT *,
         |    CASE WHEN stddev_samp(cnt) OVER sw IS NULL
         |           OR stddev_samp(cnt) OVER sw = 0 THEN 0.0
         |         ELSE round((cnt - avg(cnt) OVER sw)
         |                    / stddev_samp(cnt) OVER sw, 6) END AS z
         |  FROM filled
         |  WINDOW sw AS (PARTITION BY source_type)
         |),
         |sm AS (
         |  SELECT *,
         |    round(
         |      (COALESCE(lag(z, 2) OVER so * 1.0, 0)
         |       + COALESCE(lag(z, 1) OVER so * 2.0, 0)
         |       + z * 3.0
         |       + COALESCE(lead(z, 1) OVER so * 2.0, 0)
         |       + COALESCE(lead(z, 2) OVER so * 1.0, 0))
         |      /
         |      (CASE WHEN lag(z, 2) OVER so IS NULL THEN 0 ELSE 1.0 END
         |       + CASE WHEN lag(z, 1) OVER so IS NULL THEN 0 ELSE 2.0 END
         |       + 3.0
         |       + CASE WHEN lead(z, 1) OVER so IS NULL THEN 0 ELSE 2.0 END
         |       + CASE WHEN lead(z, 2) OVER so IS NULL THEN 0 ELSE 1.0 END),
         |      6) AS score_own
         |  FROM z
         |  WINDOW so AS (PARTITION BY source_type ORDER BY wk)
         |),
         |weeks_union AS (SELECT DISTINCT wk FROM dense),
         |sources AS (SELECT source_type FROM bounds),
         |scored AS (
         |  SELECT s.source_type, wu.wk,
         |    COALESCE(last_value(sm.score_own IGNORE NULLS) OVER (
         |      PARTITION BY s.source_type ORDER BY wu.wk
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0)
         |      AS score
         |  FROM weeks_union wu
         |  CROSS JOIN sources s
         |  LEFT JOIN sm ON sm.source_type = s.source_type AND sm.wk = wu.wk
         |),
         |peaks AS (
         |  SELECT source_type, wk FROM sm
         |  QUALIFY row_number() OVER (PARTITION BY source_type
         |                             ORDER BY score_own DESC, wk ASC) <= 3
         |),
         |nearest AS (
         |  SELECT news_wk, lag_days FROM (
         |    SELECT n.wk AS news_wk,
         |           date_diff('day', n.wk, f.wk) AS lag_days,
         |           abs(date_diff('day', n.wk, f.wk)) AS ad,
         |           f.wk AS fwk
         |    FROM peaks n JOIN peaks f
         |      ON n.source_type = $newsLit
         |     AND f.source_type = $filingsLit
         |  )
         |  QUALIFY row_number() OVER (PARTITION BY news_wk
         |                             ORDER BY ad, fwk) = 1
         |),
         |lag_avg AS (
         |  SELECT round(avg(lag_days), 4) AS avg_news_filing_lag_days
         |  FROM nearest
         |),
         |lbl AS (
         |  SELECT source_type, label, sum(lcnt) AS n FROM base GROUP BY 1, 2
         |),
         |top AS (
         |  SELECT source_type, label AS top_label,
         |         CAST(sum(n) OVER (PARTITION BY source_type) AS BIGINT)
         |           AS total_mentions
         |  FROM lbl
         |  QUALIFY row_number() OVER (PARTITION BY source_type
         |                             ORDER BY n DESC, label DESC) = 1
         |)
         |SELECT strftime(sc.wk, '%Y-%m-%d') AS week, sc.source_type, sc.score,
         |       t.top_label, t.total_mentions, TRUE AS z_sum_ok,
         |       la.avg_news_filing_lag_days
         |FROM scored sc
         |JOIN top t ON t.source_type = sc.source_type
         |CROSS JOIN lag_avg la
         |ORDER BY week, sc.source_type""".stripMargin
    })

  def queries: Seq[Q] = Seq(qNarrativePipeline)
}
