package graft.tools

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Interleaved A/B of the shape knobs behind the lineage-cut decisions: each
  * shape builds one query's frame with its knob off (arm A) and on (arm B).
  *
  *  - `q_election_pipeline` (`oneScan`): two pruned passes vs one labeled
  *    full-relation scan (decision recorded in ElectionPipeline).
  *  - `q_narrative_pipeline` (`cut`): the (source, week, label) pivot feeds
  *    seven consumers, so without the cut each re-executes the fact join.
  *  - `q_scaffold_month_entity`, `q_exposure_panel`, `q_semi_membership`,
  *    `q_anti_membership`, `q_board_pipeline` (`cut`): a checkpoint of a
  *    dimension-bounded frame vs 1-2 extra pruned corpus passes; the
  *    crossover is what `Tables.beyondCutCrossover` gates on.
  *
  * Protocol: one discarded warm-up of arm A, then `rounds` rounds of A B, so
  * contention drift hits both arms equally; every round's rows, both arms,
  * must equal the first A round's (exit 1 otherwise). Prints every sample
  * and each arm's best. With `factor > 1` the probe measures a
  * [[PipelineScaleStress.blowUpFacts]] uniform blowup (facts ×factor, dims
  * verbatim) made in a temp dir and deleted afterwards. `shapes` is a
  * comma-separated subset of the names above (default: all).
  *
  * {{{
  * spark-submit --master 'local[32]' --driver-memory 16g \
  *   --class graft.tools.CutProbe <jar> <sfDir> [rounds] [factor] [shapes]
  * }}}
  */
object CutProbe {

  /** (shape, knob, frame builder taking the knob's value). */
  private val shapes
      : Seq[(String, String, (SparkSession, String, Boolean) => DataFrame)] =
    Seq(
      ("q_election_pipeline", "oneScan",
        graft.analytics.ElectionPipeline.pipelineFrame),
      ("q_narrative_pipeline", "cut",
        graft.analytics.NarrativePipeline.pipelineFrame),
      ("q_scaffold_month_entity", "cut",
        graft.analytics.TimeSeriesOps.scaffoldFrame),
      ("q_exposure_panel", "cut", graft.analytics.Baskets.exposurePanelFrame),
      ("q_semi_membership", "cut",
        graft.analytics.Baskets.semiMembershipFrame),
      ("q_anti_membership", "cut",
        graft.analytics.Baskets.antiMembershipFrame),
      ("q_board_pipeline", "cut", graft.analytics.BoardPipeline.pipelineFrame))

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: CutProbe <sfDir> [rounds] [factor] [shape,...]")
    val srcDir = args(0)
    val rounds = args.lift(1).map(_.toInt).getOrElse(3)
    val factor = args.lift(2).map(_.toInt).getOrElse(1)
    val picked = args.lift(3).fold(shapes) { arg =>
      val names = arg.split(",").toSeq
      val unknown = names.filterNot(n => shapes.exists(_._1 == n))
      require(unknown.isEmpty, s"unknown shape ${unknown.mkString(",")}; " +
        s"known: ${shapes.map(_._1).mkString(",")}")
      shapes.filter(s => names.contains(s._1))
    }
    val spark = graft.Session()

    val (dir, generated) =
      if (factor <= 1) (srcDir, None)
      else {
        val out = java.nio.file.Files
          .createTempDirectory("graft_cut_probe").toString
        PipelineScaleStress.blowUpFacts(spark, srcDir, out, factor)
        println(s"[cutprobe] blowup ready: $srcDir ×$factor → $out")
        (out, Some(out))
      }

    var anyMismatch = false
    try {
      picked.foreach { case (name, knob, mk) =>
        def run(on: Boolean) = {
          val t0 = System.nanoTime()
          val rows = mk(spark, dir, on).collect()
          graft.PlanProbe.releaseCuts()
          ((System.nanoTime() - t0) / 1e9, rows)
        }
        run(on = false) // warm-up, discarded
        val (off, on) = (1 to rounds).map { _ =>
          (run(on = false), run(on = true))
        }.unzip
        def sorted(rows: Array[Row]) = rows.map(_.toString).sorted
        val expected = sorted(off.head._2)
        val eq = (off ++ on).forall(r => sorted(r._2).sameElements(expected))
        if (!eq) anyMismatch = true
        def fmt(ts: Seq[(Double, Array[Row])]) =
          s"[${ts.map(t => f"${t._1}%.3f").mkString(",")}] " +
            f"best=${ts.map(_._1).min}%.3f"
        println(f"[cutprobe] $name%-26s ×$factor%-3d values_equal=$eq " +
          s"$knob=false:${fmt(off)} $knob=true:${fmt(on)}")
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
