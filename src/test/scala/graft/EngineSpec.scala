package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.label.Labeler
import graft.model.Tables

/** Engine invariants on the sf0.001 fixtures (order-insensitive properties
  * per SURVEY.md §5: dedup idempotence, pivot row-sum = group count, scaffold
  * completeness, classifier-path equivalence). */
class EngineSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("mapPartitions classifier path equals the column-expression stub") {
    val viaExpr = Labeler.withStubLabels(Tables.chunkRows(spark, dir))
      .select(col("sentence_id"), col("entity_id"), col("part_entity_id"),
        col("label"), col("motivation"))
    val viaClf = Labeler
      .labelDeduped(Tables.chunkRows(spark, dir), Labeler.StubClassifier)
      .select(col("sentence_id"), col("entity_id"), col("part_entity_id"),
        col("label"), col("motivation"))
    assert(viaExpr.exceptAll(viaClf).isEmpty && viaClf.exceptAll(viaExpr).isEmpty)
  }

  test("cache-aside labeling hits the classifier only for novel pairs") {
    val cacheDir = java.nio.file.Files.createTempDirectory("labelcache")
      .resolve("labels").toString
    // classifier instances are serialized into tasks — a plain counter would
    // increment a deserialized copy; an accumulator survives the round trip
    val calls = spark.sparkContext.longAccumulator("clf_calls")
    object CountingClf extends Labeler.ExternalClassifier {
      def classify(rows: Iterator[(String, String)]) = {
        val buf = rows.toSeq
        calls.add(buf.size)
        Labeler.StubClassifier.classify(buf.iterator)
      }
    }
    val chunk = Tables.chunkRows(spark, dir)
    val first = Labeler.labelWithCache(chunk, CountingClf, cacheDir)
    assert(first.filter(col("label").isNull).isEmpty)
    val after1 = calls.value.longValue
    assert(after1 > 0)
    val second = Labeler.labelWithCache(chunk, CountingClf, cacheDir)
    assert(second.filter(col("label").isNull).isEmpty)
    assert(calls.value.longValue == after1) // every pair served from the cache
    val expr = Labeler.withStubLabels(chunk)
      .select(col("sentence_id"), col("entity_id"), col("part_entity_id"),
        col("label"))
    val viaCache = second
      .select(col("sentence_id"), col("entity_id"), col("part_entity_id"),
        col("label"))
    assert(expr.exceptAll(viaCache).isEmpty && viaCache.exceptAll(expr).isEmpty)
  }

  test("duplicate cache rows (concurrent appends) cannot fan out the output") {
    val cacheDir = java.nio.file.Files.createTempDirectory("labelcache2")
      .resolve("labels").toString
    val chunk = Tables.chunkRows(spark, dir)
    val nIn = chunk.count()
    val first = Labeler.labelWithCache(chunk, Labeler.StubClassifier, cacheDir)
    assert(first.count() == nIn)
    // simulate a racing job that appended the SAME (entity_id, text) results:
    // duplicate every cache row, then label again — a join against the
    // un-deduped cache would return 2x rows
    val dup = spark.read.parquet(cacheDir)
    dup.write.mode("append").parquet(cacheDir)
    val second = Labeler.labelWithCache(chunk, Labeler.StubClassifier, cacheDir)
    assert(second.count() == nIn)
    assert(second.filter(col("label").isNull).isEmpty)
  }

  test("cache rows are valid only for the classifier that wrote them") {
    // a cache path reused across classifier versions must RE-LABEL, not
    // silently serve the previous version's labels
    val cacheDir = java.nio.file.Files.createTempDirectory("labelcache3")
      .resolve("labels").toString
    val chunk = Tables.chunkRows(spark, dir)
    Labeler.labelWithCache(chunk, Labeler.StubClassifier, cacheDir)
    val callsX = spark.sparkContext.longAccumulator("clfx_calls")
    object ClfX extends Labeler.ExternalClassifier {
      def classify(rows: Iterator[(String, String)]) = rows.map { r =>
        callsX.add(1); (r._1, r._2, "X", "x-motivation")
      }
    }
    val out = Labeler.labelWithCache(chunk, ClfX, cacheDir)
    assert(callsX.value.longValue > 0,
      "a different classifier must re-label despite the warm cache")
    assert(out.filter(col("label") =!= "X").isEmpty,
      "served labels must come from ClfX's rows, not the stub's")
    // the stub's own rows are still intact hits for the stub
    val again = Labeler.labelWithCache(chunk, Labeler.StubClassifier, cacheDir)
    assert(again.filter(col("label") === "X").isEmpty)
  }

  test("a legacy cache without classifier identity is distrusted") {
    val cacheDir = java.nio.file.Files.createTempDirectory("labelcache4")
      .resolve("labels").toString
    val chunk = Tables.chunkRows(spark, dir)
    Labeler.labelWithCache(chunk, Labeler.StubClassifier, cacheDir)
    // rewrite the cache in the pre-identity 4-column layout
    val legacy = spark.read.parquet(cacheDir)
      .select("entity_id", "text", "label", "motivation")
    val tmp = java.nio.file.Files.createTempDirectory("legacy")
      .resolve("data").toString
    legacy.write.parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(cacheDir), true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(cacheDir))
    val calls = spark.sparkContext.longAccumulator("legacy_calls")
    object CountingClf extends Labeler.ExternalClassifier {
      def classify(rows: Iterator[(String, String)]) = {
        val buf = rows.toSeq
        calls.add(buf.size)
        Labeler.StubClassifier.classify(buf.iterator)
      }
    }
    val out = Labeler.labelWithCache(chunk, CountingClf, cacheDir)
    assert(calls.value.longValue > 0,
      "identity-less rows must re-label, not serve as hits")
    assert(out.filter(col("label").isNull).isEmpty)
  }

  test("scaffold completeness: |rows| == |months| x |entities|") {
    val panel = SparkEntry.queries("q_scaffold_month_entity")(spark, dir)
    val c = Tables.chunkRows(spark, dir)
    val nEntities = c.select(col("entity_name")).distinct().count()
    val bounds = c.agg(
      date_format(min(col("timestamp_utc")), "yyyy-MM").as("mn"),
      date_format(max(col("timestamp_utc")), "yyyy-MM").as("mx")).head
    val Array(y0, m0) = bounds.getString(0).split("-").map(_.toInt)
    val Array(y1, m1) = bounds.getString(1).split("-").map(_.toInt)
    val nMonths = (y1 - y0) * 12 + (m1 - m0) + 1
    assert(panel.count() == nMonths.toLong * nEntities)
  }

  test("pivot row-sum (composite score) equals plain group count") {
    val pivot = SparkEntry.queries("q_pivot_scores")(spark, dir)
    val counts = Tables.chunkRows(spark, dir)
      .groupBy(col("entity_name")).agg(count(lit(1)).as("cnt"))
    val joined = pivot.join(counts, Seq("entity_name"))
      .filter(col("composite_score") =!= col("cnt"))
    assert(joined.isEmpty)
  }

  test("exact dedup is idempotent") {
    val once = SparkEntry.queries("q_dedup_exact")(spark, dir)
    assert(once.count() == once.dropDuplicates().count())
  }

  test("approx distinct within 10% of exact") {
    // the query itself now emits the accuracy gate: every sector row must
    // carry within_10pct = true and an exact count > 0 (10% = 5σ for the
    // 2%-rsd sketch — a 5% bound would flake ~1/4 of fresh datasets)
    val out = SparkEntry.queries("q_approx_distinct")(spark, dir)
    assert(out.filter(!col("within_10pct") || col("exact_docs") <= 0).isEmpty)
    assert(out.count() > 0)
  }

  test("exposure panel is a complete scaffold with consistent totals") {
    val panel = SparkEntry.queries("q_exposure_panel")(spark, dir)
    assert(panel.filter(col("total_exposure") =!=
      col("positive_exp") + col("negative_exp")).isEmpty)
    val perMonth = panel.groupBy(col("month")).agg(count(lit(1)).as("n"))
      .select(countDistinct(col("n")).as("d")).head.getLong(0)
    assert(perMonth == 1L) // every month has the same #companies
  }

  test("flagship entry returns rows and respects top-5 bound") {
    val df = SparkEntry.flagship(spark, dir)
    assert(df.count() > 0)
    val over = df.groupBy(col("month")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 5)
    assert(over.isEmpty)
  }
}
