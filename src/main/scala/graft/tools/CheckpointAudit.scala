package graft.tools

/** Block-store leak audit for the checkpoint lifecycle under REPEATED
  * invocation: the connected-components loop localCheckpoints every round
  * and frees superseded cuts as it goes (`GraftShims.freeCheckpoint`), and
  * each new invocation retires the previous invocation's final cut — so a
  * long session (Bench's 3 passes, Verify's full registry, a notebook)
  * must hold a bounded PLATEAU of persistent RDDs, not grow by one final
  * label set per call.
  *
  * This runs the two CC-backed queries (`q_dup_clusters` — LSH candidate
  * graph — and `q_semantic_dedup` — IVF embedding graph) N times
  * alternating, snapshotting the persistent-RDD census after each run, and
  * FAILS (exit 1) if any post-first-run census exceeds the plateau
  * established by run 1. Run 1 itself legitimately adds blocks: the
  * session-lifetime shared sketch checkpoints plus each family's one live
  * final cut.
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.CheckpointAudit"
  * }}}
  */
object CheckpointAudit {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val n = args.headOption.map(_.toInt).getOrElse(3)
    val spark = graft.Session()
    val qs = graft.SparkEntry.queries

    // freeCheckpoint unpersists non-blocking; poll until the census stops
    // moving so async block removal can't fake a leak (or hide one)
    def census(): (Int, Long) = {
      var last = (-1, -1L)
      var stable = 0
      var waited = 0
      while (stable < 3 && waited < 100) {
        val rdds = spark.sparkContext.getPersistentRDDs
        val cur = (rdds.size,
          spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum)
        if (cur == last) stable += 1 else { stable = 0; last = cur }
        Thread.sleep(100); waited += 1
      }
      last
    }

    val snapshots = (1 to n).map { i =>
      qs("q_dup_clusters")(spark, sfDir).count()
      qs("q_semantic_dedup")(spark, sfDir).count()
      val (cnt, mem) = census()
      println(s"[ckpt-audit] after run $i: $cnt persistent RDDs, " +
        f"${mem / 1024.0 / 1024.0}%.1f MiB")
      (cnt, mem)
    }
    spark.stop()
    val plateau = snapshots.head
    val leaks = snapshots.zipWithIndex.drop(1).filter { case ((c, m), _) =>
      c > plateau._1 || m > plateau._2 * 11 / 10 // 10% slack on byte sizes
    }
    if (leaks.nonEmpty) {
      leaks.foreach { case ((c, m), i) =>
        System.err.println(s"[ckpt-audit] FAIL run ${i + 1}: $c RDDs / " +
          s"$m B exceeds the run-1 plateau ${plateau._1} RDDs / " +
          s"${plateau._2} B — checkpoints accumulate across invocations")
      }
      sys.exit(1)
    }
    println(s"[ckpt-audit] OK: storage plateaus at ${plateau._1} persistent " +
      s"RDDs across $n repeated invocations of both CC-backed queries")
  }
}
