package graft.tools

/** Dev probe: IVF pair recall vs the brute-force ground truth at one or
  * more data dirs — the fast inner loop for quantizer tuning.
  * InvariantCheck owns the release gate (same computation plus the shape
  * and super-set bounds); this exists so a recall experiment doesn't pay
  * for the full invariant sweep.
  *
  * {{{ sbt "runMain graft.tools.RecallProbe [dir ...]" }}}
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    val spark = graft.Session(overrides = graft.Session.registryConf)
    dirs.foreach { d =>
      // same computation as the release gate, by construction
      val (nHit, nBf) = InvariantCheck.ivfRecallCounts(spark, d)
      val r = if (nBf == 0) 1.0 else nHit.toDouble / nBf
      println(f"[recall] $d: $nHit/$nBf = $r%.3f")
    }
    spark.stop()
  }
}
