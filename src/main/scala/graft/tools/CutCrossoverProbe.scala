package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Interleaved A/B of the five lineage-cut knobs round 17 REVERTED at gate
  * scale (board counts, month×entity scaffold, exposure panel, semi/anti
  * membership — OPTIMIZATION_r17.md negative result 2): each query re-runs
  * a PRUNED corpus pass per consumer of a shared dimension-bounded frame,
  * and at sf0.1 that re-run was measured cheaper than a localCheckpoint's
  * fixed cost. The narrative pivot cut (which saved SEVEN fact joins) wins
  * at blowup scale, so VERDICT round-17 item 4 asks for the crossover of
  * these five: at what corpus size does one checkpoint become cheaper than
  * 1-2 extra pruned passes?
  *
  * Protocol (same as [[NarrativeCutProbe]]): interleave the two shapes
  * (A B A B …) so contention drift hits both arms equally, pin their row
  * equality, report best-of. With `factor > 1` the probe manufactures a
  * [[PipelineScaleStress.blowUpFacts]] uniform blowup (facts ×factor, dims
  * verbatim — the 100 TB shape) in a temp dir and measures there.
  *
  * {{{
  * spark-submit --master 'local[32]' --driver-memory 16g \
  *   --class graft.tools.CutCrossoverProbe <jar> [sfDir] [rounds] [factor]
  * }}}
  */
object CutCrossoverProbe {

  private def shapes: Seq[(String, (SparkSession, String, Boolean) => DataFrame)] =
    Seq(
      ("q_scaffold_month_entity",
        graft.analytics.TimeSeriesOps.scaffoldFrame),
      ("q_exposure_panel", graft.analytics.Baskets.exposurePanelFrame),
      ("q_semi_membership", graft.analytics.Baskets.semiMembershipFrame),
      ("q_anti_membership", graft.analytics.Baskets.antiMembershipFrame),
      ("q_board_pipeline", graft.analytics.BoardPipeline.pipelineFrame))

  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val rounds = args.lift(1).map(_.toInt).getOrElse(3)
    val factor = args.lift(2).map(_.toInt).getOrElse(1)
    val spark = SparkSession.builder()
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val (dir, generated) =
      if (factor <= 1) (srcDir, None)
      else {
        val out = java.nio.file.Files
          .createTempDirectory("graft_cut_crossover").toString
        PipelineScaleStress.blowUpFacts(spark, srcDir, out, factor)
        println(s"[cutprobe] blowup ready: $srcDir ×$factor → $out")
        (out, Some(out))
      }

    var anyMismatch = false
    try {
      shapes.foreach { case (name, mk) =>
        def run(cut: Boolean) = {
          val t0 = System.nanoTime()
          val rows = mk(spark, dir, cut).collect()
          graft.PlanProbe.releaseCuts()
          ((System.nanoTime() - t0) / 1e9, rows)
        }
        run(cut = false) // warm-up, discarded
        val (uncut, cut) = (1 to rounds).map { _ =>
          (run(cut = false), run(cut = true))
        }.unzip
        def sorted(rows: Array[org.apache.spark.sql.Row]) =
          rows.map(_.toString).sorted
        val expected = sorted(uncut.head._2)
        val eq = (uncut ++ cut).forall(r => sorted(r._2).sameElements(expected))
        if (!eq) anyMismatch = true
        def fmt(ts: Seq[(Double, Array[org.apache.spark.sql.Row])]) =
          ts.map(t => f"${t._1}%.3f").mkString(",")
        println(f"[cutprobe] $name%-26s ×$factor%-3d values_equal=$eq " +
          f"uncut=[${fmt(uncut)}] best=${uncut.map(_._1).min}%.3f " +
          f"cut=[${fmt(cut)}] best=${cut.map(_._1).min}%.3f")
      }
    } finally {
      spark.stop()
      generated.foreach { out =>
        import scala.sys.process._
        Seq("rm", "-rf", out).!
        println(s"[cutprobe] cleaned generated blowup dir $out")
      }
    }
    if (anyMismatch) sys.exit(1)
  }
}
