package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Larger-operating-point stress for the TEXT near-dup family — the
  * shingle-based twin of [[ScaleStress]] (which curves the IVF embedding
  * path). The release gate pins the MinHash-LSH and df-capped n-gram
  * Jaccard shapes at sf0.01/sf0.1 (500 / 5,000 docs); this tool
  * manufactures a corpus `factor`× larger with KNOWN duplicate structure
  * and re-pins, turning "the candidate volume stays bounded and the
  * sketches still find near-dups" into measured evidence at a scale the
  * checked-in testdata never reaches.
  *
  * The corpus is [[Blowup.corpus]]'s: each source document's copies drop
  * ~5% of its words, so copy↔source Jaccard ≈ 0.8 and copy↔copy ≈ 0.65 —
  * real near-dup structure, with `factor·(factor−1)/2` ground-truth
  * duplicate pairs per source with enough words.
  *
  * Three pins at the blown-up corpus:
  *
  *  - '''LSH recall''': ≥ 0.8 of the ground-truth cluster pairs (sources
  *    with ≥ 12 words — shorter docs have too few shingles for a stable
  *    signature, matching the batch path's own empty-signature rule) must
  *    surface as MinHash band-bucket candidates. Falsifies a band/hash
  *    regression that silently stops finding duplicates at scale.
  *  - '''LSH candidate volume''': Σ bucket² ≤ n·(4·factor + 64). The
  *    constructed clusters themselves account for ≤ 4·factor·n (a cluster
  *    of `factor` docs sharing all 4 bands contributes 4·factor² per
  *    source); the +64 covers background collisions. Falsifies a
  *    stop-key: one degenerate signature shared by Θ(n) docs blows the
  *    bound immediately.
  *  - '''n-gram top-k fidelity''': the registered `q_ngram_jaccard`
  *    (df-capped, τ=50) run verbatim at the new scale must fill its
  *    top-20 with SAME-CLUSTER pairs at Jaccard ≥ 0.4 — cluster shingles
  *    have df ≈ factor ≪ τ, so the cap must keep them while shedding the
  *    corpus-wide stop-shingles. Falsifies both a cap-wiring break (the
  *    join would quadratically flood on stop-shingles long before
  *    returning) and a representation bug that buries true near-dups.
  *
  * {{{
  * spark-submit --master 'local[32]' --driver-memory 16g \
  *   --class graft.tools.TextScaleStress <jar> [srcDir] [factor] [outDir]
  * }}}
  */
object TextScaleStress {

  /** Ground-truth cluster recall of the MinHash band candidates; also
    * returns the measured numbers for the curve record. Candidates come
    * from [[graft.text.TextOps.lshCandidatePairsFrom]] — the SHIPPED
    * definition, so the recall evidence always measures the query that
    * runs in production, not a re-implementation that could drift. Pass
    * `bands` when the caller also reads the band table (shares one
    * shingle→minhash build across checks). */
  def lshRecallCheck(s: SparkSession, d: String, factor: Int,
      floor: Double = 0.8,
      bands: Option[org.apache.spark.sql.DataFrame] = None)
      : (Seq[String], String) = {
    val cand = graft.text.TextOps.lshCandidatePairsFrom(
      bands.getOrElse(graft.text.TextOps.bandTable(s, d)))
    val eligible = s.read.parquet(s"$d/documents.parquet")
      .filter(pmod(col("doc_id"), lit(factor)) === 0 &&
        size(split(col("text"), "\\s+")) >= 12)
      .select(floor_div(col("doc_id"), factor).as("src"))
    val nEligible = eligible.count()
    val truthTotal = nEligible * factor * (factor - 1) / 2
    val foundTruth = cand
      .withColumn("sa", floor_div(col("doc_a"), factor))
      .filter(col("sa") === floor_div(col("doc_b"), factor))
      .join(eligible, col("sa") === col("src"), "left_semi")
      .count()
    val recall = if (truthTotal == 0) 1.0 else foundTruth.toDouble / truthTotal
    val msg = f"lsh_recall=$recall%.4f ($foundTruth/$truthTotal over " +
      s"$nEligible eligible sources)"
    (if (recall >= floor) Nil
     else Seq(f"LSH cluster recall $recall%.4f < $floor ($msg)"), msg)
  }

  private def floor_div(c: org.apache.spark.sql.Column, by: Int) =
    floor(c / by).cast("long")

  /** Σ bucket² bound over the band table — the no-stop-key pin. */
  def lshVolumeCheck(s: SparkSession, d: String, factor: Int,
      bands: Option[org.apache.spark.sql.DataFrame] = None)
      : (Seq[String], String) = {
    val n = s.read.parquet(s"$d/documents.parquet").count()
    val sumSq = bands.getOrElse(graft.text.TextOps.bandTable(s, d))
      .groupBy(col("band"), col("key")).agg(count(lit(1)).as("b"))
      .agg(sum(col("b") * col("b"))).head().getLong(0)
    val bound = n * (4L * factor + 64)
    val msg = s"lsh_sum_b2=$sumSq n=$n bound=$bound " +
      f"(ratio=${sumSq.toDouble / n}%.1f per doc)"
    (if (sumSq <= bound) Nil
     else Seq(s"LSH sum b^2=$sumSq exceeds $bound - stop-key signature ($msg)"),
      msg)
  }

  /** The registered df-capped n-gram query, verbatim, at the new scale:
    * its top-20 must be honest near-dups — full 20 rows, every pair at
    * Jaccard ≥ 0.4, and at least 5 same-FAMILY pairs (same source-text
    * digest: the base corpus legitimately contains exact-duplicate
    * documents — the reason `q_dedup_exact` exists — so copies of two
    * identical sources are true near-dups across cluster ids).
    *
    * Same-family is a floor, not a purity requirement, because the df cap
    * is CORPUS-RELATIVE and duplication shifts it: at factor f, a shingle
    * shared by more than τ/f base sources crosses τ and leaves the
    * representation, so at 10× every ≥6-source shingle is gone and two
    * UNRELATED docs whose surviving capped sets coincide honestly report
    * Jaccard 1.0 (measured: 11/20 such pairs at 10×, 9/20 same-family).
    * That is the cap doing its job — suppressing corpus-common shingles.
    * While the cap still admits ≥5-source shingles (5·f ≤ τ) the query
    * runs at its gate defaults; past that point the DEFAULT representation
    * degenerates by construction (measured at 25× with τ=50: documents
    * retain ~0.1 shingles, the top-20 is Jaccard-1.0 ties on 1-2-shingle
    * sets, 1/20 same-family — and a bare min-intersection floor over the
    * starved sets returns an EMPTY top-20, there is nothing left to rank),
    * so the tool engages the PRODUCTION pairing documented at
    * [[graft.text.TextOps.ShingleDfCapConf]]: the duplication-scaled df
    * cap (τ = 10·f readmits the shingles duplicated sources actually
    * share) plus the min-intersection floor (kills coincidence ties) —
    * and pins the SAME family floor there: the fidelity point is
    * load-bearing at every factor, not waived at high duplication. */
  def ngramTopCheck(s: SparkSession, d: String,
      factor: Int): (Seq[String], String) = {
    // past 5·f > τ the default cap starves the representation; scale the
    // cap with the KNOWN duplication factor and floor pair support at 5 —
    // true copies then share tens of surviving shingles, coincidence ties
    // share 1-2, a wide margin on both sides
    val native = 5 * factor <= graft.text.TextOps.ShingleDfCap
    val (dfCap, minInter) =
      if (native) (graft.text.TextOps.ShingleDfCap, 1) else (10 * factor, 5)
    // the tuned operating point goes through the parameterized builder —
    // the gated q_ngram_jaccard is oracle-locked to the defaults and
    // refuses session-conf overrides (r13 advice: a conf leak would
    // false-red a gated run, so the conf path no longer exists)
    val top =
      graft.text.TextOps.ngramJaccardTop(s, d, dfCap, minInter).collect()
    val family = s.read.parquet(s"$d/documents.parquet")
      .filter(pmod(col("doc_id"), lit(factor)) === 0)
      .select(floor_div(col("doc_id"), factor).as("src"),
        md5(col("text")).as("fam"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val lowJ = top.count(_.getAs[Double]("jaccard") < 0.4)
    val sameFam = top.count { r =>
      val a = r.getAs[Long]("doc_a"); val b = r.getAs[Long]("doc_b")
      family.get(a / factor) == family.get(b / factor)
    }
    val minJ = if (top.isEmpty) 0.0
      else top.map(_.getAs[Double]("jaccard")).min
    val msg = f"ngram_top=${top.length} min_jaccard=$minJ%.3f " +
      s"low_jaccard=$lowJ same_family=$sameFam/20 " +
      s"df_cap=$dfCap min_inter=$minInter"
    (if (top.length == 20 && lowJ == 0 && sameFam >= 5) Nil
     else Seq(s"n-gram top-20 not honest near-dups ($msg)"), msg)
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = graft.Session()
    val (n, failures) =
      try Blowup.inDir(args.lift(2), "graft_text_stress") { outDir =>
        Blowup.corpus(spark, srcDir, factor, outDir)
        val n = spark.read.parquet(s"$outDir/documents.parquet").count()
        println(s"[textstress] blowup ready: $srcDir x$factor -> $outDir " +
          s"(n=$n)")
        // ONE band-table build (its internal cut makes it reusable) shared
        // by both LSH checks — the shingle→minhash job dominates the cost
        val bands = Some(graft.text.TextOps.bandTable(spark, outDir))
        val (f1, m1) = lshRecallCheck(spark, outDir, factor, bands = bands)
        println(s"[textstress] $m1")
        val (f2, m2) = lshVolumeCheck(spark, outDir, factor, bands)
        println(s"[textstress] $m2")
        val (f3, m3) = ngramTopCheck(spark, outDir, factor)
        println(s"[textstress] $m3")
        (n, f1 ++ f2 ++ f3)
      } finally spark.stop()
    if (failures.nonEmpty) {
      failures.foreach(f => System.err.println(s"[textstress] FAIL $f"))
      sys.exit(1)
    }
    println(s"[textstress] all 3 text near-dup scale pins hold at n=$n")
  }
}
