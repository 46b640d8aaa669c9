package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.label.Labeler
import graft.model.Tables

/** Batched-prompt classifier contract (`labeling.py:141-224`): chunk_size
  * rows per external call, id-keyed JSON parse, malformed-batch fallback. */
class LabelerBatchedSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("call count is ceil(unique / chunk_size) on a single partition") {
    // exact call-count arithmetic needs a known partition layout: the dedup
    // inside labelBatchedPrompt shuffles, so pin shuffle partitions to 1 for
    // the duration of this test
    val uniqueRows = Tables.chunkRows(spark, dir)
      .select(col("entity_id"), col("text"))
      .dropDuplicates("entity_id", "text").collect()
    import spark.implicits._
    val onePart = spark.sparkContext
      .parallelize(uniqueRows.toSeq.map(r => (r.getString(0), r.getString(1))), 1)
      .toDF("entity_id", "text")
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val calls = spark.sparkContext.longAccumulator("clf_calls")
    try Labeler.labelBatchedPrompt(onePart, Labeler.StubBatchedClassifier,
      Some(calls)).count()
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val expected = math.ceil(uniqueRows.length.toDouble /
      Labeler.StubBatchedClassifier.chunkSize).toLong
    assert(calls.value == expected, s"calls=${calls.value} expected=$expected")
  }

  test("batched path equals the column-expression stub on every row") {
    val base = Tables.chunkRows(spark, dir)
    val viaBatch = Labeler.labelBatchedPrompt(base, Labeler.StubBatchedClassifier)
      .select(col("sentence_id"), col("entity_id"), col("part_entity_id"),
        col("label"), col("motivation"))
    val viaExpr = Labeler.withStubLabels(base)
      .select(col("sentence_id"), col("entity_id"), col("part_entity_id"),
        col("label"), col("motivation"))
    assert(viaBatch.exceptAll(viaExpr).isEmpty &&
      viaExpr.exceptAll(viaBatch).isEmpty)
  }

  test("q_label_batched's comparison counts a batched-side fanout row") {
    import spark.implicits._
    val cols = Seq("sentence_id", "entity_id", "part_entity_id", "label",
      "motivation")
    val expr = Seq(("s1", "e1", "p1", "P", "m1"), ("s2", "e1", "p1", "N", "m2"),
      ("s2", "e2", "p2", "U", "unclear")).toDF(cols: _*)
    def counts(batched: org.apache.spark.sql.DataFrame) = {
      val r = Labeler.compareLabels(expr, batched).head()
      (r.getLong(0), r.getLong(1))
    }
    assert(counts(expr) == ((3L, 0L)))
    // one batched row emitted twice: the extra row must show up, not be
    // paired away by the join
    assert(counts(expr.union(expr.filter(col("sentence_id") === "s1"))) ==
      ((4L, 1L)))
  }

  test("malformed batch response falls back to U/unclear for the whole batch") {
    object Garbage extends Labeler.BatchedClassifier {
      val chunkSize = 10
      def classifyBatch(rows: Seq[(String, String)]): String =
        "I'm sorry, I can't help with that."
    }
    val out = Labeler.labelBatchedPrompt(Tables.chunkRows(spark, dir), Garbage)
    assert(out.filter(col("label") =!= "U" || col("motivation") =!= "unclear")
      .isEmpty)
    assert(out.count() == Tables.chunkRows(spark, dir).count())
  }

  test("retry decorator: transient failures converge with the right schedule") {
    // flaky stub: every batch's FIRST delivery attempt throws, the second
    // succeeds. The classifier is serialized into tasks, so driver-side
    // counters would only see a deserialized copy's state (same pitfall as
    // the counting classifier above) — all observability goes through
    // accumulators, which DO survive the round trip; the per-batch "failed
    // already?" map is task-local by design (a batch never leaves its task).
    val attempts = spark.sparkContext.longAccumulator("attempts")
    val successes = spark.sparkContext.longAccumulator("successes")
    val sleepsAcc = spark.sparkContext.collectionAccumulator[Long]("sleeps")
    class Flaky extends Labeler.BatchedClassifier {
      val chunkSize = 10
      @transient private lazy val failedOnce =
        new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
      def classifyBatch(rows: Seq[(String, String)]): String = {
        attempts.add(1)
        val key = rows.map(_._1).mkString("|")
        if (failedOnce.putIfAbsent(key, true) == null)
          throw new java.io.IOException("simulated 429")
        val resp = Labeler.StubBatchedClassifier.classifyBatch(rows)
        successes.add(1)
        resp
      }
    }
    val retrying = new Labeler.RetryingClassifier(new Flaky, maxAttempts = 4,
      backoffMs = a => 100L << (a - 1), sleep = ms => { sleepsAcc.add(ms); () })
    val base = Tables.chunkRows(spark, dir)
    val out = Labeler.labelBatchedPrompt(base, retrying)
      .select(col("sentence_id"), col("entity_id"), col("part_entity_id"),
        col("label"), col("motivation"))
    val expected = Labeler.withStubLabels(base)
      .select(col("sentence_id"), col("entity_id"), col("part_entity_id"),
        col("label"), col("motivation"))
    // labels identical to the never-failing path
    assert(out.exceptAll(expected).isEmpty && expected.exceptAll(out).isEmpty)
    // every batch cost exactly 2 attempts (1 failure + 1 success)...
    val nBatches = successes.value.longValue
    assert(nBatches > 0 && attempts.value.longValue == 2 * nBatches)
    // ...and exactly one backoff sleep per batch, all at the attempt-1 tier
    val slept = new scala.collection.mutable.ArrayBuffer[Long]()
    sleepsAcc.value.forEach(ms => slept += ms)
    assert(slept.size == nBatches && slept.forall(_ == 100L))
  }

  test("retry decorator: a permanent failure rethrows after maxAttempts") {
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    object Dead extends Labeler.BatchedClassifier {
      val chunkSize = 10
      def classifyBatch(rows: Seq[(String, String)]): String = {
        attempts.incrementAndGet()
        throw new java.io.IOException("simulated outage")
      }
    }
    val sleeps = new scala.collection.mutable.ArrayBuffer[Long]()
    val retrying = new Labeler.RetryingClassifier(Dead, maxAttempts = 3,
      backoffMs = a => 100L << (a - 1), sleep = sleeps += _)
    val ex = intercept[java.io.IOException] {
      retrying.classifyBatch(Seq(("id1", "some text")))
    }
    assert(ex.getMessage == "simulated outage")
    assert(attempts.get() == 3)           // initial + 2 retries
    assert(sleeps.toSeq == Seq(100L, 200L)) // exponential schedule, no sleep after final
  }

  test("parseBatchResponse handles fences, ids, and partial bodies") {
    val ok = Labeler.parseBatchResponse(
      """```json
        |{"a": {"label": "P", "motivation": "m1"},
        | "b": {"label": "N"}}
        |```""".stripMargin)
    assert(ok.contains(Map("a" -> ("P", "m1"), "b" -> ("N", "unclear"))))
    assert(Labeler.parseBatchResponse("[1,2,3]").isEmpty)
    assert(Labeler.parseBatchResponse("nope").isEmpty)
  }

  test("parseBatchResponse strips only WRAPPING fences, not interior backticks") {
    // a motivation legitimately containing a backtick run must survive —
    // a global replace("```", "") would silently corrupt the value
    val ok = Labeler.parseBatchResponse(
      "```json\n{\"a\": {\"label\": \"P\", \"motivation\": \"uses ``` fences\"}}\n```")
    assert(ok.contains(Map("a" -> ("P", "uses ``` fences"))))
    // unfenced and tag-less-fence forms still parse
    assert(Labeler.parseBatchResponse("{\"a\": {\"label\": \"P\"}}")
      .contains(Map("a" -> ("P", "unclear"))))
    assert(Labeler.parseBatchResponse("```\n{\"a\": {\"label\": \"P\"}}\n```")
      .contains(Map("a" -> ("P", "unclear"))))
  }

  test("stubRule truncates motivation by code points, matching its " +
      "Column twin's substring semantics") {
    // 45 astral-plane chars then the trigger word: substring(text,1,40)
    // takes 40 CODE POINTS; String.take(40) would take 40 UTF-16 units
    // (20 chars) and split a surrogate pair at the boundary
    val text = "😀" * 45 + " fast"
    val (label, motivation) = Labeler.stubRule(text)
    assert(label == "P")
    val body = motivation.stripPrefix("positive: ")
    assert(body.codePointCount(0, body.length) == 40)
    assert(body == "😀" * 40)
  }

  test("stub Column twin ≡ classifier path on astral-plane text") {
    // the q_label_batched gate proves the two stub renderings agree on the
    // (ASCII) corpus; this pins the same equivalence where the semantics
    // could diverge — Spark's substring counts code points, and stubRule
    // must match it exactly
    import spark.implicits._
    val df = Seq(
      ("e1", "😀" * 45 + " fast"),
      ("e2", "𐍈𐍈 slow " + "😺" * 50 + " merge"),
      ("e3", "🚀 stream " + "x" * 60),
      ("e4", "plain ascii fast text that is comfortably past forty chars"))
      .toDF("entity_id", "text")
    val viaColumns = Labeler.withStubLabels(df)
      .select("entity_id", "label", "motivation")
    val viaClassifier = Labeler.labelDeduped(df, Labeler.StubClassifier)
      .select("entity_id", "label", "motivation")
    assert(viaColumns.exceptAll(viaClassifier).isEmpty
      && viaClassifier.exceptAll(viaColumns).isEmpty,
      "stub renderings diverged on supplementary-plane text")
  }

  test("parseBatchResponse strips a bare leading json tag without a fence") {
    // some models emit the language tag alone — 'json\n{...}' with no ```
    assert(Labeler.parseBatchResponse("json\n{\"a\": {\"label\": \"P\"}}")
      .contains(Map("a" -> ("P", "unclear"))))
    assert(Labeler.parseBatchResponse("JSON {\"a\": {\"label\": \"N\"}}")
      .contains(Map("a" -> ("N", "unclear"))))
    // but an interior 'json' key is untouched
    assert(Labeler.parseBatchResponse("{\"json\": {\"label\": \"P\"}}")
      .contains(Map("json" -> ("P", "unclear"))))
  }

  test("default backoff schedule is capped and never overflows") {
    val clf = new Labeler.RetryingClassifier(Labeler.StubBatchedClassifier)
    // reach into the default via a fresh instance's behavior: construct the
    // default function directly, as documented
    val default: Int => Long =
      a => math.min(250L << math.min(a - 1, 30), 60000L)
    assert(default(1) == 250L && default(2) == 500L && default(3) == 1000L)
    assert(default(9) == 60000L, "cap must engage before the schedule explodes")
    assert((60 to 100).forall(a => default(a) == 60000L),
      "large attempt numbers must not overflow the shift into negatives")
    assert(clf.chunkSize == Labeler.StubBatchedClassifier.chunkSize)
  }

  test("guard demotes NULL motivations like explicit 'unclear'") {
    import spark.implicits._
    val df = Seq(("e1", "P", "positive: x"), ("e2", "A", null),
      ("e3", "N", "unclear"), ("e4", "U", null))
      .toDF("entity_id", "label", "motivation")
    val out = Labeler.guarded(df).select("entity_id", "label")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("e1" -> "P", "e2" -> "U", "e3" -> "U", "e4" -> "U"))
  }
}
