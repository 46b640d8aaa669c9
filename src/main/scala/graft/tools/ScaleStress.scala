package graft.tools

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
  * The corpus is [[Blowup.corpus]]'s: its embeddings are jittered copies
  * that stay near their source while every Voronoi boundary moves.
  *
  * {{{
  * spark-submit --master 'local[32]' --driver-memory 16g \
  *   --class graft.tools.ScaleStress <jar> [srcDir] [factor] [outDir]
  * }}}
  */
object ScaleStress {

  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = graft.Session()
    val (n, failures) =
      try Blowup.inDir(args.lift(2), "graft_scale_stress") { outDir =>
        Blowup.corpus(spark, srcDir, factor, outDir)
        val n = spark.read.parquet(s"$outDir/embeddings.parquet").count()
        println(s"[stress] blowup ready: $srcDir x$factor -> $outDir (n=$n)")
        (n, InvariantCheck.ivfShapeCheck(spark, outDir).toSeq ++
          InvariantCheck.ivfSupersCheck(spark, outDir) ++
          InvariantCheck.ivfRecallCheck(spark, outDir))
      } finally spark.stop()
    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println(s"[stress] FAIL $f"))
      sys.exit(1)
    }
    println(s"[stress] all 3 IVF scale pins hold at n=$n")
  }
}
