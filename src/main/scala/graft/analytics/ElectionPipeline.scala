package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Oracle, Q}
import graft.label.Labeler
import graft.model.Tables

/** Election-monitor lifecycle (`Election_Monitor/src/visualization_tools.py`,
  * traced in SURVEY.md §3) composed as ONE gated DataFrame pipeline — the
  * topic-network sibling of the other composed lifecycles. Every stage is
  * individually hash-gated (`q_topics_explode`, `q_scaffold_month_entity`,
  * `q_bipartite_degree`, `q_majority_label` shapes); this query gates the
  * COMPOSITION — the label restriction both arms share, the COMP/blacklist
  * topic filtering feeding the edge aggregation, the dense daily scaffold
  * the per-entity peak stats derive from, and the topic degree filter — so
  * cross-stage contract drift surfaces as a red CORRECTNESS row.
  *
  * Stage map (reference line → gated building block → here):
  *  1. labeled results restricted to the monitored label pair
  *     (`obtain_company_topic_links(df, labels, ...)`,
  *     `visualization_tools.py:573-612`: `df.label.isin(labels)`) → stub
  *     labels over the full chunk relation, kept ∈ {P, N};
  *  2. topics explode with the COMP-type filter and the topic blacklist
  *     (`:577-606`; `q_topics_explode` shape) → zip the parallel
  *     (topics_type, topics) arrays, drop COMP entries, explode, drop
  *     blacklisted topics — the blacklist deliberately includes a value
  *     with a space to keep the oracle's literal escaping honest;
  *  3. daily volume scaffold (`:271-284`: full date × entity reindex of
  *     `sentence_id: nunique`, zeros filled; `q_scaffold_month_entity` /
  *     `q_index_align_ffill` shapes) → dense day × entity panel over the
  *     kept frame's [min, max] days, distinct-sentence volume, zero-fill;
  *     the per-entity summary (peak day with the max-volume/earliest-day
  *     tiebreak, peak volume, zero-day count) rides along every edge row,
  *     so a scaffold-density drift re-hashes the whole result;
  *  4. entity–topic edges (`:608-613`: `groupby(rp_entity_id, topics)` with
  *     `sentence_id: nunique` + majority label `value_counts().idxmax()`;
  *     `q_bipartite_degree`'s A10 convention: count desc, label desc) →
  *     one hash aggregate per arm;
  *  5. topic degree filter (`:675-693`: keep topics linked to > 2 distinct
  *     entities — `topic_sizes.entity_name.gt(2)`) → semi-join against the
  *     qualifying-topic set.
  *
  * Scale shape: exactly TWO corpus passes — one (entity, topic, label)
  * hash aggregate for the edge arm (the topics explode fans out ≤ 2 per
  * row, the non-COMP topic arity; the arm reads the ORDERS-FREE sentence
  * projection [[Tables.sentenceTopicRows]], so it is map-only up to its
  * dedup exchange — see the stage-2 note in [[pipelineFrame]]) and one
  * (entity, day) aggregate for the panel arm. Every downstream stage
  * re-reads one of those two
  * dimension-bounded frames (≤ |entities|·|topics|·|labels| and
  * ≤ |entities|·|days| rows at any corpus size), and each frame's shuffle
  * exchange is deduplicated across its readers by ReusedExchange within
  * the single action — measured at sf0.1, this beats separate
  * per-derivation aggregates. The S8 one-scan alternative (materialize
  * the projected kept slice once, derive both arms from it) is one flag
  * away in [[pipelineFrame]]: it wins ~15% at sf0.1 but loses 1.5× at
  * the ×50 blowup — a measured crossover, documented there; two-pass is
  * the shape that holds at 100 TB (no corpus-sized materialization).
  * The summary merge and the degree
  * semi-join broadcast explicitly — the fact table never shuffles past
  * the two groupBys.
  */
object ElectionPipeline {

  /** The monitored label pair (the reference passes two labels whose
    * majority decides the node color, `visualization_tools.py:636-640`). */
  private val MonitoredLabels = Seq("P", "N")

  /** Topic blacklist (`topic_blacklist` param, `:573`): live fixture
    * values — one SECT topic and one REGI topic containing a space, so the
    * blacklist stage provably drops rows AND exercises literal escaping. */
  private[graft] val TopicBlacklist = Seq("NATION_3", "MIDDLE EAST")

  /** The gated pipeline frame. `oneScan = true` selects the S8 shape the
    * scale notes document: checkpoint the shared kept slice PROJECTED to
    * the six columns both arms read and derive BOTH the topics-explode
    * arm and the daily-volume arm from the materialized cut — the corpus
    * is scanned once instead of twice, at the price of materializing the
    * projected kept slice (a label-filtered fraction of the corpus, NOT
    * dimension-bounded — but narrow: no text, no span arrays). Values are
    * identical either way (the daily arm's columns are the same
    * projections in both relations; CutProbe q_election_pipeline pins row
    * equality).
    * The shape is a measured CROSSOVER: r15 measured a FULL-WIDTH cut at
    * 10 s vs 4.9 s two-pass and rejected it; r16's projected cut wins at
    * sf0.1 (CutProbe q_election_pipeline: 8.5-10.5 s vs 10.0-11.3 s), is
    * noise-dominated at ×10/×25, and loses 1.5× at the ×50 blowup
    * (PipelineScaleStress A/B: 58.7 s vs 39.2 s — the cut materializes a
    * constant fraction of the corpus, which overtakes the saved pruned
    * re-scan). The registered gate keeps the two-pass shape (the winner
    * at 100 TB); this knob plus the probe keep the A/B re-runnable at
    * any operating point. */
  private[graft] def pipelineFrame(s: SparkSession, d: String,
      oneScan: Boolean): DataFrame = {
      // stage 1 (one-scan shape only): labeled full-relation scan,
      // monitored labels only, cut to the projected kept slice. The
      // two-pass shape never touches this frame — its topics arm builds
      // from the orders-free projection below, and its daily arm reads the
      // plain chunk relation.
      lazy val kept = graft.PlanProbe.cut(
        Labeler.withStubLabels(Tables.chunkRowsFull(s, d))
          .filter(col("label").isin(MonitoredLabels: _*))
          .select(col("entity_name"), col("sentence_id"), col("label"),
            col("timestamp_utc"), col("topics"), col("topics_type")))
      // stage 2: COMP-filtered, blacklist-filtered topics explode. The
      // two-pass arm derives it from [[Tables.sentenceTopicRows]] — the
      // orders join is ELIMINATED (its scaladoc: every column this arm
      // reads is header-free; COMP, the one orders-derived topic, is
      // exactly what this stage filters OUT in both shapes, and SECT/REGI
      // are broadcast-dim columns). That makes the arm MAP-ONLY up to the
      // dedup exchange, so a hot document's rows spread across scan splits
      // instead of serializing in one hash(orderkey) join partition — the
      // ×25 hot-key probe measured the joined shape at a 14.8 s single
      // task (29% of wall, 4.6× the uniform control) that AQE cannot
      // split (multi-consumer reused fact exchange). Values are identical
      // either way: the one-scan row-equality pin (spec + probe + stress)
      // and the unchanged DuckDB oracle both gate it.
      val exploded =
        if (oneScan)
          kept
            .select(col("entity_name"), col("sentence_id"), col("label"),
              explode(filter(
                zip_with(col("topics_type"), col("topics"),
                  (tt, t) => struct(tt.as("tt"), t.as("topic"))),
                x => x.getField("tt") =!= "COMP")).as("t"))
            .select(col("entity_name"), col("sentence_id"), col("label"),
              col("t.topic").as("topic"))
            .filter(!col("topic").isin(TopicBlacklist: _*))
        else
          Labeler.withStubLabels(Tables.sentenceTopicRows(s, d))
            .filter(col("label").isin(MonitoredLabels: _*))
            .select(col("entity_name"), col("sentence_id"), col("label"),
              explode(array(col("entity_sector"), col("entity_industry")))
                .as("topic"))
            .filter(!col("topic").isin(TopicBlacklist: _*))
      // stage 4: ONE corpus pass at (entity, topic, label) grain — weight
      // and majority label both derive from it, and the shared aggregate's
      // shuffle exchange is deduplicated across the two derivations (and
      // the degree filter's re-read) by ReusedExchange within the one
      // action, so the scan + explode run once. Measured at sf0.1: this
      // shape 4.9 s vs 5.6 s for separate weight/majority aggregates and
      // 10 s with a localCheckpoint cut (the cut splits the plan into
      // jobs that can no longer share the exchange).
      // weight = Σ_label distinct-sentence counts ≡ the reference's
      // per-(entity, topic) nunique BECAUSE the label is a pure function
      // of the sentence text (labels partition sentences); the oracle
      // deliberately keeps the reference's (entity, topic)-grain
      // count(DISTINCT), so if that functional dependency ever broke the
      // gate goes red instead of silently drifting semantics
      // (ElectionPipelineSpec pins the dependency too).
      // countDistinct is computed as an explicit two-stage spread rather
      // than the built-in distinct aggregate: Spark's single-distinct plan
      // exchanges on the GROUP keys alone, so a hot entity routes its
      // entire sentence stream to the few reducers owning its
      // (entity, topic, label) groups — the ×10 hot-entity skew probe
      // measured that as an 11.5 s single task (45% of the pipeline wall,
      // 10× the median). Deduplicating on (group keys + sentence_id) FIRST
      // puts sentence_id in the exchange key (uniform spread however hot
      // the entity), and the follow-up count/sum is partial-aggregatable,
      // so the skew collapses map-side. Values are identical (ds = rows
      // surviving the dedup per group; cnt = Σ per-sentence row counts);
      // the second exchange carries ≤ #partitions · |groups| partial rows.
      val etl = exploded
        .groupBy(col("entity_name"), col("topic"), col("label"),
          col("sentence_id"))
        .agg(count(lit(1)).as("rows_per_sentence"))
        .groupBy(col("entity_name"), col("topic"), col("label"))
        .agg(count(lit(1)).as("ds"),
          sum(col("rows_per_sentence")).as("cnt"))
      val w = etl.groupBy(col("entity_name"), col("topic"))
        .agg(sum(col("ds")).as("weight"))
      val maj = etl.groupBy(col("entity_name"), col("topic"))
        .agg(max_by(col("label"), struct(col("cnt"), col("label")))
          .as("major_label"))
      // both sides are ≤ |entities|·|topics| aggregates — broadcast the
      // majority side explicitly (post-agg sizes are opaque to the planner)
      val edges = w.join(broadcast(maj), Seq("entity_name", "topic"))
      // stage 5: topics linked to > 2 distinct entities. The qualifying
      // set is ≤ |topics| rows — broadcast the semi-join side.
      val hubs = edges.groupBy(col("topic"))
        .agg(countDistinct(col("entity_name")).as("deg"))
        .filter(col("deg") > 2)
        .select(col("topic"))
      val keptEdges = edges.join(broadcast(hubs), Seq("topic"), "left_semi")
      // stage 3: dense day × entity volume panel → per-entity summary.
      // All three frames are dimension-bounded aggregates; broadcast the
      // merge sides (post-aggregation sizes are opaque to the planner).
      // the bounds, the entity set, and the panel join all re-read this
      // aggregate (≤ |entities|·|days| rows) — ReusedExchange shares its
      // shuffle, same argument as etl. In the two-pass shape the daily arm
      // needs no topic arrays, so it reads the plain chunk relation rather
      // than relying on the optimizer to prune the span/topic projections;
      // in the one-scan shape it reads the SAME materialized kept slice
      // (identical projections, so identical values).
      val dailyBase =
        if (oneScan) kept
        else Labeler.withStubLabels(Tables.chunkRowsPruned(s, d,
          withOrders = true, withSupplier = true, withText = true))
          .filter(col("label").isin(MonitoredLabels: _*))
      val daily = dailyBase
        .groupBy(col("entity_name"),
          date_trunc("day", col("timestamp_utc")).cast("date").as("day"))
        .agg(countDistinct(col("sentence_id")).as("vol"))
      val days = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
        .select(explode(sequence(col("mn"), col("mx"),
          expr("INTERVAL 1 DAY"))).as("day"))
      val ents = daily.select(col("entity_name")).distinct()
      // broadcast the DAY spine (|days| rows — truly bounded), not the
      // entity-keyed sides: ents is |entities| and daily is
      // |entities|·|days| — both grow with the corpus's entity universe,
      // and a forced broadcast there would hit Spark's broadcast hard cap
      // at large SFs. The daily merge is left UN-hinted: AQE broadcasts it
      // at gate scale from its actual size, and at a scale where it no
      // longer fits, a shuffle join on (entity, day) is the right plan.
      val panel = ents.crossJoin(broadcast(days))
        .join(daily, Seq("entity_name", "day"), "left")
        .na.fill(0L, Seq("vol"))
      val stats = panel.groupBy(col("entity_name"))
        .agg(
          date_format(min_by(col("day"), struct(-col("vol"), col("day"))),
            "yyyy-MM-dd").as("peak_day"),
          max(col("vol")).as("peak_volume"),
          sum(when(col("vol") === 0, 1L).otherwise(0L)).as("n_zero_days"))
      keptEdges.join(broadcast(stats), Seq("entity_name"))
        .select(col("entity_name"), col("topic"), col("weight"),
          col("major_label"), col("peak_day"), col("peak_volume"),
          col("n_zero_days"))
        .orderBy(col("entity_name"), col("topic"))
  }

  private val qElectionPipeline = Q(
    "q_election_pipeline",
    // two-pass shape: the winning side of a MEASURED CROSSOVER (round 16,
    // BASELINE.md). The projected one-scan cut wins consistently at sf0.1
    // (CutProbe q_election_pipeline: 8.5-10.5 s vs 10.0-11.3 s), is
    // noise-dominated at the ×10/×25 blowups, and LOSES decisively at
    // ×50 (PipelineScaleStress: 58.7 s vs 39.2 s) — the cut's
    // corpus-fraction materialization overtakes the saved column-pruned
    // re-scan as the corpus grows. Two-pass is the default: no
    // corpus-sized materialization (block-store footprint; an
    // executor-loss liability under the local cut policy) for a ~1 s
    // gate-scale win that inverts at scale. pipelineFrame(oneScan =
    // true) keeps the A/B one flag away; values identical (spec + probe +
    // stress pin row equality).
    (s, d) => pipelineFrame(s, d, oneScan = false),
    Some {
      val labelsIn = MonitoredLabels.map(Oracle.sqlLit).mkString(", ")
      val blacklistIn = TopicBlacklist.map(Oracle.sqlLit).mkString(", ")
      s"""WITH ${Oracle.chunkCte},
         |${Oracle.chunkFullCte},
         |kept AS (
         |  SELECT * FROM (
         |    SELECT *, ${Oracle.labelCase} AS label FROM chunk_full)
         |  WHERE label IN ($labelsIn)
         |),
         |exploded AS (
         |  SELECT entity_name, sentence_id, label, topics[i] AS topic
         |  FROM kept, unnest(generate_series(1, len(topics))) AS t(i)
         |  WHERE topics_type[i] <> 'COMP'
         |    AND topics[i] NOT IN ($blacklistIn)
         |),
         |w AS (
         |  SELECT entity_name, topic, count(DISTINCT sentence_id) AS weight
         |  FROM exploded GROUP BY 1, 2
         |),
         |maj AS (
         |  SELECT entity_name, topic, label AS major_label FROM (
         |    SELECT entity_name, topic, label, count(*) AS cnt
         |    FROM exploded GROUP BY 1, 2, 3
         |  )
         |  QUALIFY row_number() OVER (PARTITION BY entity_name, topic
         |                             ORDER BY cnt DESC, label DESC) = 1
         |),
         |edges AS (
         |  SELECT w.entity_name, w.topic, w.weight, maj.major_label
         |  FROM w JOIN maj ON w.entity_name = maj.entity_name
         |                 AND w.topic = maj.topic
         |),
         |hubs AS (
         |  SELECT topic FROM edges
         |  GROUP BY topic HAVING count(DISTINCT entity_name) > 2
         |),
         |daily AS (
         |  SELECT entity_name,
         |         CAST(date_trunc('day', timestamp_utc) AS DATE) AS day,
         |         count(DISTINCT sentence_id) AS vol
         |  FROM kept GROUP BY 1, 2
         |),
         |bounds AS (SELECT min(day) AS mn, max(day) AS mx FROM daily),
         |days AS (
         |  SELECT CAST(unnest(generate_series(CAST(mn AS TIMESTAMP),
         |    CAST(mx AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
         |  FROM bounds
         |),
         |ents AS (SELECT DISTINCT entity_name FROM daily),
         |panel AS (
         |  SELECT e.entity_name, dy.day, COALESCE(da.vol, 0) AS vol
         |  FROM days dy CROSS JOIN ents e
         |  LEFT JOIN daily da ON da.entity_name = e.entity_name
         |                    AND da.day = dy.day
         |),
         |peak AS (
         |  SELECT entity_name, strftime(day, '%Y-%m-%d') AS peak_day,
         |         vol AS peak_volume
         |  FROM panel
         |  QUALIFY row_number() OVER (PARTITION BY entity_name
         |                             ORDER BY vol DESC, day ASC) = 1
         |),
         |zeros AS (
         |  SELECT entity_name,
         |         CAST(sum(CASE WHEN vol = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS n_zero_days
         |  FROM panel GROUP BY 1
         |),
         |stats AS (
         |  SELECT p.entity_name, p.peak_day, p.peak_volume, z.n_zero_days
         |  FROM peak p JOIN zeros z ON p.entity_name = z.entity_name
         |)
         |SELECT e.entity_name, e.topic, e.weight, e.major_label,
         |       s.peak_day, s.peak_volume, s.n_zero_days
         |FROM edges e
         |JOIN hubs h ON e.topic = h.topic
         |JOIN stats s ON s.entity_name = e.entity_name
         |ORDER BY e.entity_name, e.topic""".stripMargin
    })

  def queries: Seq[Q] = Seq(qElectionPipeline)
}
