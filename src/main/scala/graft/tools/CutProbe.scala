package graft.tools

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Interleaved A/B of the size-gated lineage cuts: each shape builds one
  * query's frame uncut (arm A) and cut (arm B). The five shapes —
  * `q_scaffold_month_entity`, `q_exposure_panel`, `q_semi_membership`,
  * `q_anti_membership`, `q_board_pipeline` — each checkpoint a
  * dimension-bounded frame vs 1-2 extra pruned corpus passes; the
  * crossover is what `Tables.beyondCutCrossover` gates on.
  *
  * Protocol: one discarded warm-up of arm A, then `rounds` rounds of A B, so
  * contention drift hits both arms equally; every round's rows, both arms,
  * must equal the first A round's (exit 1 otherwise). Prints every sample
  * and each arm's best. With `factor > 1` the probe measures a uniform
  * [[Blowup.corpus]] made in a temp dir and deleted afterwards. `shapes` is
  * a comma-separated subset of the names above (default: all).
  *
  * {{{
  * spark-submit --master 'local[32]' --driver-memory 16g \
  *   --class graft.tools.CutProbe <jar> <sfDir> [rounds] [factor] [shapes]
  * }}}
  */
object CutProbe {

  /** (shape, frame builder taking the cut switch). */
  private val shapes
      : Seq[(String, (SparkSession, String, Boolean) => DataFrame)] = Seq(
    ("q_scaffold_month_entity", graft.analytics.TimeSeriesOps.scaffoldFrame),
    ("q_exposure_panel", graft.analytics.Baskets.exposurePanelFrame),
    ("q_semi_membership", graft.analytics.Baskets.semiMembershipFrame),
    ("q_anti_membership", graft.analytics.Baskets.antiMembershipFrame),
    ("q_board_pipeline", graft.analytics.BoardPipeline.pipelineFrame))

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

    // every shape runs, even after a mismatch
    def probe(dir: String): Boolean = picked.map { case (name, mk) =>
      def run(cut: Boolean) = {
        val t0 = System.nanoTime()
        val rows = mk(spark, dir, cut).collect()
        graft.PlanProbe.releaseCuts()
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      run(cut = false) // warm-up, discarded
      val (off, on) = (1 to rounds).map { _ =>
        (run(cut = false), run(cut = true))
      }.unzip
      def sorted(rows: Array[Row]) = rows.map(_.toString).sorted
      val expected = sorted(off.head._2)
      val eq = (off ++ on).forall(r => sorted(r._2).sameElements(expected))
      def fmt(ts: Seq[(Double, Array[Row])]) =
        s"[${ts.map(t => f"${t._1}%.3f").mkString(",")}] " +
          f"best=${ts.map(_._1).min}%.3f"
      println(f"[cutprobe] $name%-26s x$factor%-3d values_equal=$eq " +
        s"cut=false:${fmt(off)} cut=true:${fmt(on)}")
      eq
    }.forall(identity)

    val allEqual =
      try {
        if (factor <= 1) probe(srcDir)
        else Blowup.inDir(None, "graft_cut_probe") { out =>
          Blowup.corpus(spark, srcDir, factor, out)
          println(s"[cutprobe] blowup ready: $srcDir x$factor -> $out")
          probe(out)
        }
      } finally spark.stop()
    if (!allEqual) sys.exit(1)
  }
}
