package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Third-operating-point stress for the IVF sketch-family O-claims.
  *
  * The release gate pins recall and candidate-volume linearity at sf0.01
  * (n=500) and sf0.1 (n=2000) — two Voronoi geometries. This tool
  * manufactures a THIRD, larger point (default 10× sf0.1 → n=20000, the
  * sf1-equivalent slice) by deterministically blowing up the real
  * embeddings table, then re-runs the three scale pins there
  * ([[InvariantCheck.ivfShapeCheck]] — k grows with n, cells stay
  * ~targetBucket, Σ bucket² ≤ 8·n·targetBucket;
  * [[InvariantCheck.ivfSupersCheck]] — O(√n) broadcast bound;
  * [[InvariantCheck.ivfRecallCheck]] — ≥0.8 pair recall vs the O(n²)
  * brute force). Three measured points turn the "candidate volume stays
  * linear" argument into a curve.
  *
  * Blowup construction (pure function of (vec_id, copy, element) — no
  * RNG, so the run is reproducible bit-for-bit): copy k of vector v gets
  * `v_i + jitter · rms(v)` where jitter is the classic fract(sin·const)
  * hash in [-0.2, 0.2]. Copies stay near their source (cos ≈ 0.98 — real
  * near-dup structure at the new scale) while perturbing every Voronoi
  * boundary, so the quantizer faces a genuinely new geometry rather than
  * 10 identical shards.
  *
  * {{{
  * spark-submit --master 'local[32]' --driver-memory 16g \
  *   --class graft.tools.ScaleStress <jar> [srcDir] [factor] [outDir]
  * }}}
  */
object ScaleStress {

  /** Deterministic jittered blowup of `srcDir/embeddings.parquet` into
    * `outDir/embeddings.parquet` with `factor`× the rows. Copy 0 is the
    * source verbatim (ids remapped to `vec_id·factor` so all ids stay
    * unique and deterministic). */
  def blowUp(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int): Unit = {
    val src = spark.read.parquet(s"$srcDir/embeddings.parquet")
    def copy(k: Int): DataFrame =
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
    (0 until factor).map(copy).reduce(_ union _)
      .repartition(col("vec_id"))
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val outDir = args.lift(2).getOrElse(
      java.nio.file.Files.createTempDirectory("graft_scale_stress").toString)
    val spark = graft.Session()

    blowUp(spark, srcDir, outDir, factor)
    val n = spark.read.parquet(s"$outDir/embeddings.parquet").count()
    println(s"[stress] blowup ready: $srcDir ×$factor → $outDir (n=$n)")

    val failures =
      InvariantCheck.ivfShapeCheck(spark, outDir).toSeq ++
        InvariantCheck.ivfSupersCheck(spark, outDir) ++
        InvariantCheck.ivfRecallCheck(spark, outDir)
    spark.stop()
    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println(s"[stress] FAIL $f"))
      sys.exit(1)
    }
    println(s"[stress] all 3 IVF scale pins hold at n=$n ($outDir)")
  }
}
