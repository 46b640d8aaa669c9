package graft.analytics

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Oracle, Q}
import graft.model.Tables

/** Board/management-monitoring lifecycle
  * (`Board_Management_Monitoring/src/tool.py`, traced in SURVEY.md §3)
  * composed as ONE gated DataFrame pipeline — the search-mode-comparison
  * sibling of the other composed lifecycles. Every stage is individually
  * hash-gated (`q_search_modes`, `q_doc_dedup_first`, `q_quarter_counts`
  * shapes); this query gates the COMPOSITION — the three mode streams'
  * membership, the per-mode first-wins document dedup (including WHICH row
  * wins), and the common quarterly axis the mode comparison is plotted on —
  * so cross-stage contract drift surfaces as a red CORRECTNESS row.
  *
  * Stage map (reference line → gated building block → here):
  *  1. strict / relaxed / relaxed_post search modes (`tool.py:121-157,
  *     267-288`; `q_search_modes` semantics): strict = primary ∧ secondary
  *     at chunk level, relaxed = primary only, relaxed_post = primary at
  *     chunk level ∧ secondary anywhere in the document → ONE pass over the
  *     primary-filtered scan with a mode-membership array explode (a row
  *     fans out to every mode it satisfies — the reference runs the three
  *     searches separately, and the exploded stream is exactly their
  *     concatenation), plus one doc-grain semi-side for the post-filter;
  *  2. ordered first-wins document dedup per mode (`deduplicate_results`,
  *     `tool.py:291-310`; `q_doc_dedup_first`'s D3 shape) → one min_by hash
  *     aggregate per (mode, document) over the stream's total order — the
  *     kept row's ENTITY feeds the output (distinct kept entities per
  *     quarter), so a dedup that keeps the wrong row re-hashes the result,
  *     not just the row count;
  *  3. quarterly scaffold + counts (`convert_quarter_to_date` /
  *     `get_common_quarter_ticks` / `prepare_quarterly_counts`,
  *     `tool.py:357-384, 400-402`; `q_quarter_counts` shape) → common
  *     quarter axis from the union of modes (the reference's shared ticks),
  *     dense quarter × mode scaffold, zero-filled per-quarter document
  *     counts with the pandas `to_period('Q')` label and quarter-start
  *     date.
  *
  * Scale shape (round 16): the primary conjunct filters the one scan
  * (pushed to the parquet reader), and the per-(mode, document) first-wins
  * winners are computed as DOC-GRAIN aggregates on that scan — one
  * groupBy(document_id) carrying two 4-field ordering structs with
  * map-side partial min, so no text column ever crosses a shuffle. The
  * doc-grain 'has-secondary' side is the only second pass, and its join
  * is doc-grain × doc-grain (it used to land on the full chunk-grain
  * stream — the ×50 blowup measured that shape at 9.6× wall per 50× data;
  * the doc-grain form roughly halves the ×25/×50 points). The ≤3-way
  * mode explode happens
  * AFTER aggregation on |documents| rows. Everything downstream is
  * dimension-bounded (≤ |quarters|·3 rows at any corpus size): the
  * quarterly counts frame's exchange is reused by the zero-fill join and
  * the common quarter axis (ReusedExchange within the one action) and the
  * scaffold merges broadcast explicitly.
  */
object BoardPipeline {

  private[graft] val Modes = Seq("relaxed", "relaxed_post", "strict")

  /** The board pipeline frame with the counts-cut A/B knob (round 18,
    * VERDICT item 4): `cut = true` lineage-cuts the per-(mode, quarter)
    * counts aggregate — a DIMENSION-BOUNDED frame (≤ |quarters|·3 rows) —
    * so the zero-fill join and the quarter axis read the materialization
    * instead of each re-executing the pruned corpus aggregate. Values
    * identical either way; CutProbe q_board_pipeline pins row equality and
    * measures the crossover per operating point. */
  private[graft] def pipelineFrame(s: SparkSession, d: String,
      cut: Boolean): org.apache.spark.sql.DataFrame = {
      import s.implicits._
      // Stages 1+2 fused at DOCUMENT grain (round 16, PipelineScaleStress
      // finding: the pre-r16 shape joined the doc-grain 'has-secondary'
      // flag onto the full chunk-grain stream and measured 9.6× wall per
      // 50× data; the doc-grain aggregate form halved the ×25/×50 points).
      // r17 rewrite of stages 1+2 — same values (same gate, same oracle):
      // ONE corpus pass instead of two. The doc-grain 'has-secondary' flag
      // (the relaxed_post post-filter) rides the SAME aggregate as the
      // winners — max(contains(text,'part')) over all of a document's rows
      // — instead of a second scan + distinct + doc-grain join, and the
      // winners become conditional mins (min ignores the when()'s nulls).
      // Documents with no customer row (r null) are exactly the docs the
      // old customer-filtered shape never aggregated; the filter drops
      // them.
      // The relation is pruned to orders + documents: the winners need only
      // timestamp (orders), text (documents) and lineitem-derived keys, so
      // the supplier/customer dims are eliminated by RI
      // ([[Tables.chunkRowsPruned]]). The ordering-struct min itself is
      // KEPT as-is: the tiebreak genuinely reaches the entity_id /
      // part_entity_id STRING fields ((orderkey, linenumber) repeats in
      // this corpus), so a fixed-width argmin encoding would have to
      // reproduce decimal-string lexicographic order — not worth the
      // contract surface while the aggregate's input is one scan.
      val c = Tables.chunkRowsPruned(s, d, withOrders = true, withText = true)
      val ord = struct(col("timestamp_utc"), col("sentence_id"),
        col("entity_id"), col("part_entity_id"))
      val isCust = col("text").contains("customer")
      val isPart = col("text").contains("part")
      val perDoc = c
        .groupBy(col("document_id"))
        .agg(
          min(when(isCust, ord)).as("r"),
          min(when(isCust && isPart, ord)).as("st"),
          max(isPart).as("doc_has_part"))
        .filter(col("r").isNotNull)
      // mode membership at doc grain: a document contributes its relaxed
      // winner to 'relaxed' always, its strict winner to 'strict' when one
      // exists, and its relaxed winner to 'relaxed_post' when the doc-level
      // flag holds — exactly the reference's three searches deduped
      val kept = perDoc
        .withColumn("k", explode(filter(array(
          struct(lit("relaxed").as("mode"), col("r").as("w"),
            lit(true).as("keep")),
          struct(lit("strict").as("mode"), col("st").as("w"),
            col("st").isNotNull.as("keep")),
          struct(lit("relaxed_post").as("mode"), col("r").as("w"),
            col("doc_has_part").as("keep"))),
          x => x.getField("keep"))))
        .select(col("k.mode").as("mode"), col("document_id"),
          col("k.w.timestamp_utc").as("ts"),
          col("k.w.entity_id").as("kept_entity"))
      // stage 3: common quarter axis across modes, dense × 3 modes,
      // zero-filled counts. All merge sides are dimension-bounded
      // aggregates — broadcast explicitly.
      // the zero-fill join and the quarter axis both re-read this frame
      // (≤ |quarters|·3 rows at any corpus size). r17 correction to the
      // r16 note: ReusedExchange does NOT dedup the re-read — consumers
      // prune different columns (the axis reads qd alone), specializing
      // the aggregate subtrees, so each consumer re-executes the pruned
      // corpus aggregate. An explicit lineage cut here was MEASURED WORSE
      // at sf0.1 (best 3.43 s uncut vs 5.09 s cut, r17); the r18
      // crossover probe measured the cut winning from ×10 up, so the
      // registered query gates it on corpus size (`cut` below,
      // Tables.beyondCutCrossover).
      // The axis derives from counts, not kept: min/max quarter is the
      // same either way (every kept row lands in some counts cell).
      val counts0 = kept
        .groupBy(col("mode"), date_trunc("quarter", col("ts")).as("qd"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("kept_entity")).as("n_entities"))
      val counts = if (cut) graft.PlanProbe.cut(counts0) else counts0
      val quarters = counts
        .agg(min(col("qd")).as("mn"), max(col("qd")).as("mx"))
        .select(explode(sequence(col("mn"), col("mx"),
          expr("INTERVAL 3 MONTH"))).as("qd"))
      val modes = Modes.toDF("mode")
      quarters.crossJoin(broadcast(modes))
        .join(broadcast(counts), Seq("mode", "qd"), "left")
        .na.fill(0L, Seq("n_docs", "n_entities"))
        .select(
          concat(year(col("qd")).cast("string"), lit("Q"),
            quarter(col("qd")).cast("string")).as("quarter"),
          date_format(col("qd"), "yyyy-MM-dd").as("quarter_date"),
          col("mode"), col("n_docs"), col("n_entities"))
        .orderBy(col("mode"), col("quarter"))
  }

  private val qBoardPipeline = Q(
    "q_board_pipeline",
    // size-gated cut (r18): uncut at gate scale (r17 measured 3.43 s vs
    // 5.09 s cut; this round's sf0.1 probe is a wash), cut beyond the
    // measured ×10 crossover (15.1 → 10.7 s at ×10; CutProbe,
    // Tables.beyondCutCrossover).
    (s, d) => pipelineFrame(s, d, cut = Tables.beyondCutCrossover(s, d)),
    Some {
      val modesList = Modes.map(Oracle.sqlLit).mkString(", ")
      s"""WITH ${Oracle.chunkCte},
         |stream AS (
         |  SELECT *, 'strict' AS mode FROM chunk
         |  WHERE contains(text, 'customer') AND contains(text, 'part')
         |  UNION ALL
         |  SELECT *, 'relaxed' FROM chunk WHERE contains(text, 'customer')
         |  UNION ALL
         |  SELECT *, 'relaxed_post' FROM chunk
         |  WHERE contains(text, 'customer') AND document_id IN (
         |    SELECT DISTINCT document_id FROM chunk
         |    WHERE contains(text, 'part'))
         |),
         |ranked AS (
         |  SELECT mode, document_id, timestamp_utc AS ts, entity_id,
         |         row_number() OVER (PARTITION BY mode, document_id
         |           ORDER BY timestamp_utc, sentence_id, entity_id,
         |                    part_entity_id) AS rn
         |  FROM stream
         |),
         |kept AS (
         |  SELECT mode, document_id, ts, entity_id AS kept_entity
         |  FROM ranked WHERE rn = 1
         |),
         |counts AS (
         |  SELECT mode, date_trunc('quarter', ts) AS qd,
         |         count(*) AS n_docs,
         |         count(DISTINCT kept_entity) AS n_entities
         |  FROM kept GROUP BY 1, 2
         |),
         |bounds AS (
         |  SELECT min(date_trunc('quarter', ts)) AS mn,
         |         max(date_trunc('quarter', ts)) AS mx
         |  FROM kept
         |),
         |quarters AS (
         |  SELECT unnest(generate_series(mn, mx, INTERVAL 3 MONTH)) AS qd
         |  FROM bounds
         |),
         |modes AS (SELECT unnest([$modesList]) AS mode)
         |SELECT CAST(year(q.qd) AS VARCHAR) || 'Q' ||
         |         CAST(quarter(q.qd) AS VARCHAR) AS quarter,
         |       strftime(q.qd, '%Y-%m-%d') AS quarter_date,
         |       m.mode,
         |       COALESCE(c.n_docs, 0) AS n_docs,
         |       COALESCE(c.n_entities, 0) AS n_entities
         |FROM quarters q
         |CROSS JOIN modes m
         |LEFT JOIN counts c ON c.mode = m.mode AND c.qd = q.qd
         |ORDER BY m.mode, quarter""".stripMargin
    })

  def queries: Seq[Q] = Seq(qBoardPipeline)
}
