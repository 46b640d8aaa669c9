package graft.tools

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one ×N corpus writer behind the scale tools ([[ScaleStress]],
  * [[TextScaleStress]], [[PipelineScaleStress]], [[CutProbe]]).
  *
  * [[corpus]] writes EVERY table of a source dir into a dir `factor`×
  * larger. Each table is a pure function of (key, copy) — no RNG — so two
  * runs are bit-identical, and a tool re-run on the same dir measures the
  * same corpus:
  *
  *  - '''orders/lineitem''': copy k remaps `o_orderkey → o_orderkey·factor
  *    + k` (copy 0 is the source under the same remap). The entity universe
  *    and date range stay fixed, so scaffold dimensions are constant and
  *    per-entity/per-week densities rise — the 100 TB shape. With
  *    `skewPct = p > 0` a deterministic p% slice of the multiplied rows
  *    (selected per (orderkey, copy) by `pmod(okey·7919 + copy, 100) < p`,
  *    so whole orders route together) is re-keyed onto ONE hot orderkey
  *    (= one hot `document_id`), and a DISJOINT p% slice keeps its orderkey
  *    but routes `l_suppkey` onto ONE hot supplier (= one hot
  *    `entity_name`). Orders keeps every non-hot copy plus exactly one hot
  *    order row, so lineitem⋈orders stays 1:N — one viral document / one
  *    mega-entity without a quadratic join.
  *  - '''documents''': copy k gets `doc_id·factor + k`; copy 0 is the
  *    source text, copy k > 0 drops ~5% of its words via the fract(sin·const)
  *    hash. Copy↔source Jaccard ≈ 0.8 over 3-word shingles, so every source
  *    with enough words contributes `factor·(factor−1)/2` ground-truth
  *    duplicate pairs. Source doc ids are dense from 0, so the blown-up ids
  *    stay dense and |documents|/|lineitem| keeps the source's ratio — the
  *    chunk text assignment `pmod(l_orderkey·7 + l_linenumber, |documents|)`
  *    ([[graft.model.Tables]]) assumes both.
  *  - '''embeddings''': copy k gets `vec_id·factor + k`; copy 0 is the
  *    source vector, copy k > 0 adds `jitter · rms(v)` per element with
  *    jitter the fract(sin·const) hash in [-0.2, 0.2]. Copies stay near
  *    their source (cos ≈ 0.98) while every Voronoi boundary moves, so the
  *    quantizer faces a new geometry rather than `factor` identical shards.
  *  - '''every other table''' (dimensions, events): copied file for file.
  */
object Blowup {

  /** Hot keys of the skew mode. Key 1 cannot collide with the remap image
    * (`key·factor + k ≥ factor ≥ 2` for source keys ≥ 1). */
  val HotOrder = 1L
  val HotSupp = 1L

  /** Writes the ×`factor` corpus of `srcDir` into `outDir` (rules above);
    * tables already in `outDir` are overwritten. */
  def corpus(spark: SparkSession, srcDir: String, factor: Int,
      outDir: String, skewPct: Int = 0): Unit = {
    require(factor >= 1, s"factor $factor < 1")
    require(skewPct >= 0 && skewPct <= 50, "skewPct ∈ [0, 50] (two slices)")
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new Path(srcDir)
    val tables = src.getFileSystem(conf).listStatus(src)
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).sorted
    require(tables.contains("orders.parquet") &&
      tables.contains("lineitem.parquet"), s"$srcDir holds no fact tables")
    def read(t: String) = spark.read.parquet(s"$srcDir/$t")
    def write(df: DataFrame, t: String) =
      df.write.mode("overwrite").parquet(s"$outDir/$t")
    tables.foreach {
      case "orders.parquet" =>
        write(orders(read("orders.parquet"), factor, skewPct)
          .repartition(col("o_orderkey")), "orders.parquet")
      case "lineitem.parquet" =>
        val li = factCopies(read("lineitem.parquet"), "l_orderkey", factor,
          skewPct)
        // Skew mode must NOT cluster by orderkey: hash-clustering routes
        // the whole hot key into one file under maxPartitionBytes, so one
        // scan task would carry the hot slice through the whole map chain
        // — a probe artifact (a real hot document's bytes span many scan
        // splits). (key, partkey, linenumber) stays deterministic and
        // spreads the hot key across files.
        write(
          if (skewPct == 0) li.repartition(col("l_orderkey"))
          else li.repartition(col("l_orderkey"), col("l_partkey"),
            col("l_linenumber")),
          "lineitem.parquet")
      case "documents.parquet" =>
        write(documents(read("documents.parquet"), factor)
          .repartition(col("doc_id")), "documents.parquet")
      case "embeddings.parquet" =>
        write(embeddings(read("embeddings.parquet"), factor)
          .repartition(col("vec_id")), "embeddings.parquet")
      case t =>
        val to = new Path(outDir, t)
        val fs = to.getFileSystem(conf)
        fs.delete(to, true)
        FileUtil.copy(src.getFileSystem(conf), new Path(src, t), fs, to,
          false, conf)
    }
  }

  /** Runs `body` on `given`, or on a new temp dir named `prefix*` that is
    * deleted once `body` returns or throws — a ×25 corpus is several GB. A
    * dir the caller passed in is never deleted: it is theirs to reuse. */
  def inDir[A](given: Option[String], prefix: String)(body: String => A): A = {
    val out = given.getOrElse(
      java.nio.file.Files.createTempDirectory(prefix).toString)
    try body(out)
    finally if (given.isEmpty) {
      FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
        .delete(new Path(out), true)
      println(s"[blowup] cleaned generated blowup dir $out")
    }
  }

  /** Copies 0..factor−1 of a fact table with `key` remapped; in skew mode
    * the doc-hot and entity-hot slices are routed (scaladoc above). The
    * selection reads the REMAPPED key, which both fact tables derive
    * identically from (source key, copy), so an order and all of its
    * lineitems route together. */
  private def factCopies(src: DataFrame, key: String, factor: Int,
      skewPct: Int): DataFrame =
    (0 until factor).map { k =>
      val remapped = src.withColumn(key, col(key) * factor + k)
      if (skewPct == 0) remapped
      else {
        val s = pmod(col(key) * 7919 + lit(k), lit(100))
        val docSkewed = remapped.withColumn(key,
          when(s < skewPct, lit(HotOrder)).otherwise(col(key)))
        if (key == "l_orderkey")
          docSkewed.withColumn("l_suppkey",
            when(s >= skewPct && s < 2 * skewPct, lit(HotSupp))
              .otherwise(col("l_suppkey")))
        else docSkewed
      }
    }.reduce(_ union _)

  /** In skew mode the order copies whose lineitems routed hot are dropped
    * (no children are orphaned) and replaced by ONE hot order row built
    * from the smallest source order, so the hot slice joins 1:N. */
  private def orders(src: DataFrame, factor: Int, skewPct: Int): DataFrame =
    if (skewPct == 0) factCopies(src, "o_orderkey", factor, 0)
    else {
      val minKey = src.agg(min(col("o_orderkey"))).head().getLong(0)
      val hot = src.filter(col("o_orderkey") === minKey)
        .withColumn("o_orderkey", lit(HotOrder))
      factCopies(src, "o_orderkey", factor, skewPct)
        .filter(col("o_orderkey") =!= HotOrder)
        .union(hot)
    }

  private def documents(src: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { k =>
      if (k == 0)
        src.select((col("doc_id") * factor).as("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars"))
      else {
        val dropped = expr(
          s"""array_join(filter(split(text, '\\\\s+'), (w, i) ->
             |  sin(doc_id * 12.9898 + $k * 78.233 + i * 0.37719)
             |    * 43758.5453
             |  - floor(sin(doc_id * 12.9898 + $k * 78.233 + i * 0.37719)
             |          * 43758.5453) >= 0.05), ' ')""".stripMargin)
        src.select((col("doc_id") * factor + k).as("doc_id"),
            dropped.as("text"), col("lang"), col("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      }
    }.reduce(_ union _)

  private def embeddings(src: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { k =>
      if (k == 0)
        src.select((col("vec_id") * factor).as("vec_id"), col("embedding"),
          col("label"))
      else src
        .withColumn("rms", expr(
          "sqrt(aggregate(embedding, CAST(0 AS DOUBLE), " +
            "(a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) " +
            "/ size(embedding))"))
        .select((col("vec_id") * factor + k).as("vec_id"),
          expr(
            s"""transform(embedding, (x, i) -> CAST(
               |  x + (sin(vec_id * 12.9898 + $k * 78.233 + i * 0.37719)
               |         * 43758.5453
               |       - floor(sin(vec_id * 12.9898 + $k * 78.233
               |                   + i * 0.37719) * 43758.5453)
               |       - 0.5) * 0.4 * rms
               |  AS FLOAT))""".stripMargin).as("embedding"),
          col("label"))
    }.reduce(_ union _)
}
