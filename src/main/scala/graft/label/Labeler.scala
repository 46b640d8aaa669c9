package graft.label

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

/** The LLM-classification surface of the reference
  * (`AI_Cost_Cutting_Market_Analysis/src/labeling.py:141-324`), re-expressed as
  * a pluggable classifier interface plus the deterministic rule-based stub used
  * offline.
  *
  * The reference's cost-driven design rules are preserved structurally:
  *  - dedup before the expensive call (`labeling.py:263-264`) →
  *    [[labelDeduped]] dedups on (entity_id, text), classifies only unique
  *    pairs, then joins labels back to all rows;
  *  - batch-in/batch-out contract (`chunk_size` rows per prompt) → the
  *    [[ExternalClassifier]] trait takes an iterator of rows per partition, so
  *    a real HTTP client with batching/semaphore/retry drops in without
  *    touching the plan;
  *  - post-hoc consistency guard (`labeling.py:379`) → [[guarded]].
  */
object Labeler {

  /** Batch classifier contract: one call per partition, rows in/rows out.
    * Implementations MUST be deterministic pure functions of the input for the
    * correctness gate to hold (SURVEY.md §7.4 item 7).
    */
  trait ExternalClassifier extends Serializable {
    def classify(rows: Iterator[(String, String)]): Iterator[(String, String, String, String)]
    /** Identity of this classifier for the [[labelWithCache]] result cache:
      * rows are valid hits only for the classifier that produced them, so a
      * cache path reused across classifier versions re-labels instead of
      * silently serving the old version's labels. Override when the class
      * name doesn't capture the version (e.g. a prompt-templated LLM
      * client: include the prompt/model revision). */
    def cacheKey: String = getClass.getName
  }

  /** Deterministic rule stub standing in for the LLM labeler. Rules are
    * SQL-expressible (see [[graft.Oracle.labelCase]]) so DuckDB can replicate
    * them. P/A/N/U mirror the reference's provider/adopter/negative/unclear
    * label alphabet.
    */
  /** The stub rules over an arbitrary text column — the reference labels
    * MASKED text (`labeling.py:307-312` passes `masked_text`), so composed
    * pipelines apply the same rule set to the mask stage's output while the
    * standalone gates label the raw chunk text. One rule definition either
    * way. */
  def labelColOn(text: Column): Column =
    when(text.contains("slow") && text.contains("merge"), lit("N"))
      .when(text.contains("fast"), lit("P"))
      .when(text.contains("stream"), lit("A"))
      .otherwise(lit("U"))

  def motivationColOn(text: Column): Column =
    when(text.contains("slow") && text.contains("merge"),
      concat(lit("negative: "), substring(text, 1, 40)))
      .when(text.contains("fast"),
        concat(lit("positive: "), substring(text, 1, 40)))
      .when(text.contains("stream"),
        concat(lit("adopter: "), substring(text, 1, 40)))
      .otherwise(lit("unclear"))

  val labelCol: Column = labelColOn(col("text"))

  val motivationCol: Column = motivationColOn(col("text"))

  /** One-pass conditional count `sum(when(c === v, 1L))` — the exposure/
    * score-count idiom shared by the basket, panel, and pipeline
    * aggregates; its DuckDB twin is
    * `CAST(sum(CASE WHEN c = 'v' THEN 1 ELSE 0 END) AS BIGINT)`. One
    * definition keeps the Spark/oracle pairing in lockstep. */
  def countOf(c: Column, v: String): Column =
    sum(when(c === v, 1L).otherwise(0L))

  /** Column-expression fast path: label + motivation inline (whole-stage
    * codegen; no shuffle, no barrier). Used when the classifier is the stub. */
  def withStubLabels(df: DataFrame): DataFrame =
    df.withColumn("label", labelCol).withColumn("motivation", motivationCol)

  /** The labeled-chunk derivation every A-family analytics query builds on
    * (Relational + Baskets) — ONE definition, so a change to the labeling
    * entry point cannot desynchronize the two families. */
  def labeledChunks(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    withStubLabels(graft.model.Tables.chunkRows(s, d))

  /** Content digest used as the merge-back join key in every labeling path:
    * the label side carries (entity_id, md5(text)) instead of the raw text,
    * so the join shuffles and compares a 32-char key where it would
    * otherwise ship and compare whole chunk texts on the label side — the
    * same digest-for-identity trust the exact-dedup family already places
    * in md5. */
  private def textKey(c: Column): Column = md5(c.cast("binary"))

  /** Join `labeled` (entity_id, __tk, label, motivation) back onto every
    * row of `df` by (entity_id, digest(text)). */
  private def mergeBack(df: DataFrame, labeled: DataFrame): DataFrame =
    df.withColumn("__tk", textKey(col("text")))
      .join(labeled, Seq("entity_id", "__tk"), "left")
      .drop("__tk")

  /** Full external-classifier path: dedup (entity_id, text) → classify unique
    * pairs via mapPartitions barrier → broadcast-join labels back (D6 in
    * SURVEY.md §2.4). At scale the unique side is orders of magnitude smaller
    * than the chunk table — exactly why the reference dedups before calling.
    */
  def labelDeduped(df: DataFrame, clf: ExternalClassifier): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val unique = df.select(col("entity_id"), col("text"))
      .dropDuplicates("entity_id", "text")
      .as[(String, String)]
    // lineage cut on the labeled frame: without it, every ACTION over the
    // returned plan (count then write, a task retry, an AQE recompute)
    // re-invokes the expensive external classifier — the exact spend the
    // dedup-before-the-call rule exists to bound. The cut executes the
    // classify stage eagerly, exactly once per call; plan-only sweeps skip
    // it (cut ≡ identity there, so no external calls during plan audits).
    val labeled = graft.PlanProbe.cut(unique
      .mapPartitions(rows => clf.classify(rows))
      .toDF("entity_id", "text", "label", "motivation")
      .select(col("entity_id"), textKey(col("text")).as("__tk"),
        col("label"), col("motivation")))
    mergeBack(df, labeled)
  }

  /** First 40 Unicode CODE POINTS — matching SQL `substring(text, 1, 40)`
    * semantics exactly ([[motivationCol]] is this rule's Column twin, and
    * the gate proves they agree): `String.take(40)` counts UTF-16 code
    * units, which on supplementary-plane text truncates shorter AND can
    * split a surrogate pair into a malformed lone surrogate. */
  private def take40Cp(text: String): String =
    text.substring(0,
      text.offsetByCodePoints(0,
        math.min(40, text.codePointCount(0, text.length))))

  /** The stub's rule set as one plain function — the SINGLE Scala-side
    * definition behind both classifier stubs below (the Column twins
    * [[labelCol]]/[[motivationCol]] deliberately remain a separate,
    * gate-pinned rendering: q_label_batched exists to prove the two
    * mechanisms agree). */
  private[graft] def stubRule(text: String): (String, String) =
    if (text.contains("slow") && text.contains("merge"))
      ("N", "negative: " + take40Cp(text))
    else if (text.contains("fast")) ("P", "positive: " + take40Cp(text))
    else if (text.contains("stream")) ("A", "adopter: " + take40Cp(text))
    else ("U", "unclear")

  /** The stub as an [[ExternalClassifier]] — used to exercise the
    * mapPartitions path with results identical to [[withStubLabels]]. */
  object StubClassifier extends ExternalClassifier {
    def classify(rows: Iterator[(String, String)]): Iterator[(String, String, String, String)] =
      rows.map { case (entityId, text) =>
        val (label, motivation) = stubRule(text)
        (entityId, text, label, motivation)
      }
  }

  /** Fixed schema of the cache parquet. Reading WITH this schema (instead of
    * inferring) makes an empty cache directory — which an append of zero rows
    * to a previously nonexistent path can create — read as an empty frame
    * rather than fail schema inference. `clf` records which classifier
    * produced the row ([[ExternalClassifier.cacheKey]]); legacy cache files
    * written before the column existed read as clf=NULL, never match any
    * classifier, and are thus DISTRUSTED — their keys re-label and re-append
    * under the current identity (a self-healing migration; the dead rows
    * stay but are filtered out of every lookup). */
  private val cacheSchema = org.apache.spark.sql.types.StructType(
    Seq("entity_id", "text", "label", "motivation", "clf").map(
      org.apache.spark.sql.types.StructField(_,
        org.apache.spark.sql.types.StringType)))

  /** S10: cache-aside labeling (`labeling.py:78-104` — md5-keyed result
    * cache checked before every API call). The cache is a persisted parquet
    * map table keyed by (entity_id, text); only cache MISSES reach the
    * classifier, new results are appended, and all rows get their labels via
    * a join. At 100 TB the cache join is a plain equi-join the optimizer
    * places; the expensive external stage sees only the novel pairs. */
  def labelWithCache(df: DataFrame, clf: ExternalClassifier,
      cachePath: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val unique = df.select(col("entity_id"), col("text"))
      .dropDuplicates("entity_id", "text")
    // Cache-existence probe via the Hadoop FileSystem API — works on any
    // distributed FS the path points at, not just the driver's local disk.
    val path = new org.apache.hadoop.fs.Path(cachePath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cached: DataFrame =
      if (fs.exists(path)) spark.read.schema(cacheSchema).parquet(cachePath)
      else Seq.empty[(String, String, String, String, String)]
        .toDF("entity_id", "text", "label", "motivation", "clf")
    // rows are hits only for THIS classifier: a reused path across
    // classifier versions must re-label, not serve the old labels
    val mine = cached.filter(col("clf") === clf.cacheKey)
    val misses = unique.join(mine.select(col("entity_id"), col("text")),
      Seq("entity_id", "text"), "left_anti")
    val fresh = misses.as[(String, String)]
      .mapPartitions(rows => clf.classify(rows))
      .toDF("entity_id", "text", "label", "motivation")
      .withColumn("clf", lit(clf.cacheKey))
    // Unconditional append: exactly ONE execution of the classify stage (an
    // isEmpty probe before the write would run the expensive external calls
    // twice on a cold cache); an empty append is a no-op-cost footer write.
    fresh.write.mode("append").parquet(cachePath)
    // Concurrent appenders racing on the same misses can leave duplicate
    // (entity_id, text) rows in the cache; a plain join on such a cache
    // would FAN OUT the output. Dedup on read makes the join safe under any
    // append history. The survivor is min(struct(label, motivation)) — the
    // pair stays PAIRED (independent min(label)/min(motivation) could stitch
    // two rows) and the pick is DETERMINISTIC across runs, where an
    // unordered first() could flip between equally-valid duplicates (for a
    // deterministic classifier they agree anyway; this makes the contract
    // hold even for one that doesn't). The lookup aggregates only the
    // WORKING SET (semi-join on df's unique keys first): a long-lived cache
    // holding millions of historical keys must not be md5-hashed and
    // shuffled wholesale to label a frame that touches a handful.
    val lookup = spark.read.schema(cacheSchema).parquet(cachePath)
      .filter(col("clf") === clf.cacheKey)
      .join(unique, Seq("entity_id", "text"), "left_semi")
      .groupBy(col("entity_id"), textKey(col("text")).as("__tk"))
      .agg(min(struct(col("label"), col("motivation"))).as("__lm"))
      .select(col("entity_id"), col("__tk"),
        col("__lm.label").as("label"),
        col("__lm.motivation").as("motivation"))
    mergeBack(df, lookup)
  }

  /** Post-hoc consistency guard (L2): a non-U label must be backed by a
    * motivation that is not "unclear" — and a NULL motivation (a classifier
    * returning a label with no rationale at all, or a merge-back miss) is
    * just as unbacked as an explicit "unclear", so it demotes too. */
  def guarded(df: DataFrame): DataFrame =
    df.withColumn("label",
      when(col("motivation").isNull || col("motivation") === "unclear",
        lit("U")).otherwise(col("label")))

  // ---- batched-prompt contract (`labeling.py:141-224`) ----

  /** The reference packs `chunk_size` (10-50) rows into ONE prompt, receives
    * an id-keyed JSON object, and merges results back by id; a malformed
    * response falls back to U/unclear for every row of that batch rather than
    * failing the job. This trait is that call shape: one [[classifyBatch]]
    * invocation per `chunkSize` rows. */
  trait BatchedClassifier extends Serializable {
    def chunkSize: Int
    /** One external call: batch of (row_id, text) → raw response text,
      * expected to be a JSON object {row_id: {label, motivation}} possibly
      * wrapped in markdown code fences. */
    def classifyBatch(rows: Seq[(String, String)]): String
  }

  /** Scrub markdown fences + language tag the way the reference does
    * (`labels.py:142-160`), then parse the id-keyed result object. Returns
    * None on any malformed input → caller applies the batch-level fallback. */
  def parseBatchResponse(raw: String): Option[Map[String, (String, String)]] = {
    import org.json4s._
    // strip only the WRAPPING fences (anchored at the ends) + language tag:
    // a global replace("```", "") would corrupt JSON string values that
    // legitimately contain backtick runs
    val scrubbed = raw.trim
      .replaceAll("(?s)^```\\s*(?i:json)?\\s*", "")
      // a bare leading `json` tag with NO fence (some models emit the tag
      // alone) — safe to strip unconditionally because a valid response
      // body must start with `{`
      .replaceAll("^(?i:json)\\s*", "")
      .replaceAll("(?s)\\s*```$", "")
      .trim
    scala.util.Try {
      org.json4s.jackson.JsonMethods.parse(scrubbed) match {
        case JObject(fields) =>
          fields.collect {
            case (id, JObject(body)) =>
              val m = body.toMap
              val label = m.get("label").collect { case JString(x) => x }
              val mot = m.get("motivation").collect { case JString(x) => x }
              id -> (label.getOrElse("U"), mot.getOrElse("unclear"))
          }.toMap
        case _ => throw new IllegalArgumentException("not a JSON object")
      }
    }.toOption
  }

  /** Full batched-prompt path: dedup (entity_id, text) → group `chunkSize`
    * rows per external call inside each partition → id-keyed parse with
    * malformed-batch fallback → join labels back. Call count is
    * Σ_partitions ⌈rows_p / chunkSize⌉ (== ⌈unique / chunkSize⌉ on a single
    * partition); pass an accumulator to observe it. */
  def labelBatchedPrompt(df: DataFrame, clf: BatchedClassifier,
      calls: Option[LongAccumulator] = None): DataFrame = {
    // fail at the driver, by name — a zero/negative chunk size would
    // otherwise surface as rows.grouped's opaque repeated TASK failure
    require(clf.chunkSize >= 1,
      s"chunkSize must be at least 1, got ${clf.chunkSize}")
    val spark = df.sparkSession
    import spark.implicits._
    val unique = df.select(col("entity_id"), col("text"))
      .dropDuplicates("entity_id", "text")
      // row_id hashes a JSON struct rendering, not a delimiter join:
      // concat_ws("|", ...) is ambiguous — ("a|b","c") and ("a","b|c")
      // would share an id and silently swap labels within a batch
      .withColumn("row_id",
        md5(to_json(struct(col("entity_id"), col("text")))))
      .as[(String, String, String)]
    // lineage cut, same rationale as labelDeduped: the documented
    // Σ⌈rows_p/chunkSize⌉ call-count contract must hold for the CALL, not
    // per downstream action/retry/recompute — the cut runs the batch stage
    // eagerly exactly once (plan-only sweeps skip it: cut ≡ identity there)
    val labeled = graft.PlanProbe.cut(unique.mapPartitions { rows =>
      rows.grouped(clf.chunkSize).flatMap { batch =>
        calls.foreach(_.add(1))
        val resp = clf.classifyBatch(batch.map(r => (r._3, r._2)))
        val parsed = parseBatchResponse(resp).getOrElse(Map.empty)
        batch.map { case (eid, text, rid) =>
          val (l, m) = parsed.getOrElse(rid, ("U", "unclear"))
          (eid, text, l, m)
        }
      }
    }.toDF("entity_id", "text", "label", "motivation")
      .select(col("entity_id"), textKey(col("text")).as("__tk"),
        col("label"), col("motivation")))
    mergeBack(df, labeled)
  }

  /** L7: retry/backoff decorator around any [[BatchedClassifier]] — the
    * reference wraps every API call in a bounded-retry loop with exponential
    * backoff (`labeling.py:106-127`, 3-5 attempts). Both the schedule and the
    * sleeper are injected functions so tests assert the exact schedule with
    * zero wall-clock; production uses the defaults. Retries wrap the CALL
    * only — a malformed-but-delivered response is not an error (the parse
    * fallback in [[labelBatchedPrompt]] owns that case), matching the
    * reference's separation of transport failures from bad content.
    *
    * The decorator composes transparently: it IS a BatchedClassifier, so the
    * whole labeling plan (dedup → batch → parse → merge-back) is unchanged
    * and labels are identical whenever the inner classifier eventually
    * succeeds within the attempt budget. */
  final class RetryingClassifier(
      inner: BatchedClassifier,
      maxAttempts: Int = 4,
      // capped at 60 s: an uncapped 250·2^(n-1) schedule reaches multi-hour
      // sleeps within 20 attempts and OVERFLOWS the shift at 64, turning a
      // transport error into Thread.sleep(negative)'s IllegalArgumentException
      backoffMs: Int => Long =
        attempt => math.min(250L << math.min(attempt - 1, 30), 60000L),
      sleep: Long => Unit = Thread.sleep) extends BatchedClassifier {
    require(maxAttempts >= 1, "maxAttempts must be at least 1")
    def chunkSize: Int = inner.chunkSize
    def classifyBatch(rows: Seq[(String, String)]): String = {
      var attempt = 1
      while (true) {
        try return inner.classifyBatch(rows)
        catch {
          case scala.util.control.NonFatal(e) =>
            if (attempt >= maxAttempts) throw e
            sleep(backoffMs(attempt))
            attempt += 1
        }
      }
      throw new IllegalStateException("unreachable")
    }
  }

  /** The stub as a [[BatchedClassifier]]: renders a real JSON response (via
    * json4s, same as a service would) so the parse path is exercised
    * end-to-end, fenced the way LLM responses usually arrive. */
  object StubBatchedClassifier extends BatchedClassifier {
    val chunkSize = 25
    def classifyBatch(rows: Seq[(String, String)]): String = {
      import org.json4s.JsonDSL._
      import org.json4s.jackson.JsonMethods
      val obj = rows.map { case (id, text) =>
        val (label, motivation) = stubRule(text)
        id -> (("label" -> label) ~ ("motivation" -> motivation))
      }.foldLeft(org.json4s.JObject()) { case (acc, (k, v)) =>
        org.json4s.JObject(acc.obj :+ (k -> (v: org.json4s.JValue)))
      }
      "```json\n" + JsonMethods.compact(JsonMethods.render(obj)) + "\n```"
    }
  }

  /** Row-by-row agreement of two labelings of the same chunk rows, as one
    * row (n_rows, n_mismatch). Rows pair 1:1 on the chunk key plus a per-key
    * row number: the key is not unique when the generator emits a
    * full-duplicate lineitem row (sf0.001 has one such pair), and pairing
    * among full duplicates is arbitrary and harmless since identical rows
    * carry identical text. The join is FULL OUTER, so a row only one side
    * has (a batched-path fanout or drop) counts in n_rows and as a mismatch
    * instead of vanishing. */
  private[graft] def compareLabels(viaExpr: DataFrame,
      viaBatch: DataFrame): DataFrame = {
    val key = Seq("sentence_id", "entity_id", "part_entity_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key.map(col): _*).orderBy(col("sentence_id"))
    def side(df: DataFrame, prefix: String) =
      df.select(key.map(col) ++ Seq(col("label").as(prefix + "label"),
          col("motivation").as(prefix + "motivation")): _*)
        .withColumn("__rn", row_number().over(w))
    side(viaExpr, "").join(side(viaBatch, "b_"), key :+ "__rn", "full_outer")
      .agg(count(lit(1)).as("n_rows"),
        // null-SAFE comparison: a merge-back miss or a one-sided row leaves
        // a NULL, and `label =!= NULL` is NULL — when(NULL) would count it
        // as a MATCH
        sum(when(!(col("label") <=> col("b_label"))
          || !(col("motivation") <=> col("b_motivation")), 1L)
          .otherwise(0L))
          .as("n_mismatch"))
  }

  /** Driver gate for the batched-prompt path: batch → JSON response → parse →
    * merge-back must agree with the whole-stage-codegen stub expression on
    * every chunk row. Oracle pins n_rows to the chunk count, mismatches to 0. */
  private val qLabelBatched = graft.Q(
    "q_label_batched",
    (s, d) => {
      // reads keys + text only — header/name dims eliminated by RI
      val base = graft.model.Tables.chunkRowsPruned(s, d, withText = true)
      compareLabels(withStubLabels(base),
        labelBatchedPrompt(base, StubBatchedClassifier))
    },
    Some(
      """SELECT (SELECT count(*) FROM lineitem) AS n_rows,
        |       CAST(0 AS BIGINT) AS n_mismatch""".stripMargin))

  /** L2 gate, non-vacuous: the stub is internally consistent (label U ⇔
    * motivation "unclear"), so the guard would never fire on raw stub output.
    * This query INJECTS inconsistencies (every sentence_id ending in '3' gets
    * its motivation blanked to "unclear", simulating a classifier returning a
    * label without backing rationale) and verifies the guard demotes exactly
    * those rows to 'U' — the post-guard label distribution plus the pinned
    * invariant that no non-U label survives with an "unclear" motivation. */
  private val qLabelGuard = graft.Q(
    "q_label_guard",
    (s, d) => {
      val base = withStubLabels(
        graft.model.Tables.chunkRowsPruned(s, d, withText = true))
        .withColumn("motivation",
          when(substring(col("sentence_id"), -1, 1) === "3", lit("unclear"))
            .otherwise(col("motivation")))
      guarded(base)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("label") =!= "U" && col("motivation") === "unclear", 1L)
            .otherwise(0L)).as("n_inconsistent"))
        .orderBy(col("label"))
    },
    Some(
      s"""${graft.Oracle.labeledCte},
         |blanked AS (
         |  SELECT * REPLACE (
         |    CASE WHEN substr(sentence_id, length(sentence_id), 1) = '3'
         |         THEN 'unclear' ELSE motivation END AS motivation)
         |  FROM labeled
         |),
         |guarded AS (
         |  SELECT * REPLACE (
         |    CASE WHEN motivation IS NULL OR motivation = 'unclear'
         |         THEN 'U' ELSE label END AS label)
         |  FROM blanked
         |)
         |SELECT label, count(*) AS n_rows,
         |       CAST(sum(CASE WHEN label <> 'U' AND motivation = 'unclear'
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_inconsistent
         |FROM guarded GROUP BY label ORDER BY label""".stripMargin))

  def queries: Seq[graft.Q] = Seq(qLabelBatched, qLabelGuard)
}
