package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sim.SimilarityOps

/** Pins the CLUSTER-portable standing near-dup index contract
  * (`spark.graft.nearDupIndexDir` + the Hadoop-FS corpus fingerprint):
  *
  *  - conf set → the index lands under the conf dir at a
  *    fingerprint-derived subpath, and a committed zone is REUSED without
  *    rebuilding even after the per-JVM memo is lost (a fresh driver
  *    against a standing corpus pays zero quantizer cost);
  *  - corpus regenerated → the fingerprint changes, so the memo/zone can
  *    never serve stale assignments;
  *  - a TORN zone (part-files, no commit marker) is distrusted and
  *    rebuilt, same as SourceOps.cached's checkpoint rule.
  */
class NearDupIndexSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def withIndexDir[T](base: String)(f: => T): T =
    try {
      spark.conf.set("spark.graft.nearDupIndexDir", base)
      f
    } finally {
      spark.conf.unset("spark.graft.nearDupIndexDir")
      SimilarityOps.resetNearDupIndexMemo()
    }

  /** Sorted (name, length, mtime) listing of the zone's assignment files —
    * unchanged listing ⇔ no rebuild touched the zone. */
  private def listing(zone: String): Seq[(String, Long, Long)] = {
    val d = new java.io.File(s"$zone/assignments")
    d.listFiles().toSeq.map(f => (f.getName, f.length, f.lastModified))
      .sortBy(_._1)
  }

  test("conf-directed zone: durable location, reused across memo loss") {
    val base = java.nio.file.Files.createTempDirectory("ndix").toString
    withIndexDir(base) {
      SimilarityOps.resetNearDupIndexMemo()
      val zone = SimilarityOps.nearDupIndexFor(spark, dir).get
      assert(zone.startsWith(base),
        s"conf must direct the zone under $base, got $zone")
      val built = listing(zone)
      assert(built.nonEmpty)
      // simulate a NEW driver JVM: the memo is gone, only the durable zone
      // (and its commit marker) survives — the resolve must rediscover it,
      // not rebuild (file listing, lengths, and mtimes all unchanged)
      SimilarityOps.resetNearDupIndexMemo()
      val again = SimilarityOps.nearDupIndexFor(spark, dir).get
      assert(again == zone)
      assert(listing(zone) == built,
        "a committed zone must be reused, not rebuilt")
    }
  }

  test("regenerated corpus changes the fingerprint and the zone") {
    val corpus = java.nio.file.Files.createTempDirectory("ndcorp").toString
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    emb.write.parquet(s"$corpus/embeddings.parquet")
    val fp1 = SimilarityOps.corpusFingerprint(spark, corpus)
    val base = java.nio.file.Files.createTempDirectory("ndix2").toString
    withIndexDir(base) {
      SimilarityOps.resetNearDupIndexMemo()
      val zone1 = SimilarityOps.nearDupIndexFor(spark, corpus).get
      // regenerate: same rows, but new part-file names/mtimes — exactly the
      // scenario where a stale index must NOT be served
      emb.write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
      val fp2 = SimilarityOps.corpusFingerprint(spark, corpus)
      assert(fp2 != fp1, "fingerprint must track the file metadata")
      SimilarityOps.resetNearDupIndexMemo()
      val zone2 = SimilarityOps.nearDupIndexFor(spark, corpus).get
      assert(zone2 != zone1,
        "a regenerated corpus must land in a fresh zone")
    }
  }

  test("a torn (uncommitted) zone is rebuilt, not trusted") {
    val base = java.nio.file.Files.createTempDirectory("ndix3").toString
    val fp = SimilarityOps.corpusFingerprint(spark, dir)
    val asg = java.nio.file.Paths.get(s"$base/nd_$fp/assignments")
    java.nio.file.Files.createDirectories(asg)
    java.nio.file.Files.writeString(
      asg.resolve("part-00000.snappy.parquet"), "torn garbage")
    withIndexDir(base) {
      SimilarityOps.resetNearDupIndexMemo()
      val zone = SimilarityOps.nearDupIndexFor(spark, dir).get
      // the rebuild must have replaced the garbage with a committed write
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$zone/assignments/_SUCCESS")))
      val n = spark.read.parquet(s"$zone/assignments").count()
      assert(n > 0)
    }
  }

  test("pruner deletes only PROVABLY stale zones and crashed builds") {
    val corpus = java.nio.file.Files.createTempDirectory("ndcorp2").toString
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    emb.write.parquet(s"$corpus/embeddings.parquet")
    val base = java.nio.file.Files.createTempDirectory("ndix4").toString
    withIndexDir(base) {
      SimilarityOps.resetNearDupIndexMemo()
      // zone 1: current corpus → must be KEPT
      val keepZone = SimilarityOps.nearDupIndexFor(spark, dir).get
      // zone 2: then regenerate its corpus → must be deleted_regenerated
      SimilarityOps.nearDupIndexFor(spark, corpus)
      emb.write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
      // zone 3: corpus deleted outright → deleted_corpus_gone
      val corpus3 =
        java.nio.file.Files.createTempDirectory("ndcorp3").toString
      emb.write.parquet(s"$corpus3/embeddings.parquet")
      SimilarityOps.resetNearDupIndexMemo()
      SimilarityOps.nearDupIndexFor(spark, corpus3)
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(corpus3), true)
      // torn zone (uncommitted nd_*) and a stale .build_ sibling
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$base/nd_torn/assignments"))
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$base/.build_nd_x_y"))
      // a manifest-less committed zone must be KEPT (unprovable)
      val blind = java.nio.file.Paths.get(s"$base/nd_blind/assignments")
      java.nio.file.Files.createDirectories(blind)
      java.nio.file.Files.writeString(blind.resolve("_SUCCESS"), "")
      // a foreign file in the dir is not ours to touch
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$base/README"), "not a zone")

      val report =
        SimilarityOps.pruneNearDupZones(spark, base, staleBuildMs = 0)
          .toMap
      assert(report(keepZone.split('/').last) == "kept")
      assert(report.values.count(_ == "deleted_regenerated") == 1)
      assert(report.values.count(_ == "deleted_corpus_gone") == 1)
      assert(report("nd_torn") == "deleted_torn")
      assert(report(".build_nd_x_y") == "deleted_stale_build")
      assert(report("nd_blind") == "kept")
      assert(!report.contains("README"))
      // the kept zone is still committed and readable; deleted ones gone
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$keepZone/assignments/_SUCCESS")))
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$base/nd_torn")))
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$base/README")))
    }
  }

  test("an absent fingerprint resolves to None: compute-direct, never " +
      "memoized, never durable") {
    // a transient listing IOException (fp="absent") must not key ANY
    // persistent artifact: a memoized "$d@absent" entry could outlive a
    // corpus regeneration and be served stale, a shared nd_absent zone
    // would collide across DIFFERENT corpora, and an unkeyed driver-local
    // temp build would be silently near-empty on a real cluster. The
    // caller computes the pairs directly instead (oracle pins the routes
    // equal).
    val base = java.nio.file.Files.createTempDirectory("ndix5").toString
    withIndexDir(base) {
      SimilarityOps.resetNearDupIndexMemo()
      assert(SimilarityOps.resolveNearDupIndex(spark, dir, "absent").isEmpty)
      val left = new java.io.File(base).list()
      assert(left == null || left.isEmpty,
        s"durable dir must stay untouched, found: ${left.mkString(",")}")
    }
    // conf unset: same None, and nothing is memoized under the absent key
    SimilarityOps.resetNearDupIndexMemo()
    assert(SimilarityOps.resolveNearDupIndex(spark, dir, "absent").isEmpty)
    // a real fingerprint afterwards still resolves and builds normally
    assert(SimilarityOps.nearDupIndexFor(spark, dir).nonEmpty)
  }

  test("flipping the index-dir conf mid-session switches modes instead " +
      "of serving the other mode's cached location") {
    SimilarityOps.resetNearDupIndexMemo()
    val temp = SimilarityOps.nearDupIndexFor(spark, dir).get // temp mode
    val base = java.nio.file.Files.createTempDirectory("ndix8").toString
    withIndexDir(base) {
      val durable = SimilarityOps.nearDupIndexFor(spark, dir).get
      assert(durable.startsWith(base) && durable != temp,
        s"conf flip must re-resolve into the durable dir, got $durable")
    }
  }

  test("a lost publish race adopts the winner's zone and strands no build") {
    // Hadoop rename(src, dst) with dst an EXISTING directory moves src
    // INTO dst and returns true (HDFS + local FS) — so a loser cannot
    // detect the race from the return value. The resolver must re-probe:
    // delete its own deposited build and serve the winner's zone intact.
    val base = java.nio.file.Files.createTempDirectory("ndix6").toString
    val fp = SimilarityOps.corpusFingerprint(spark, dir)
    val zoneDir = java.nio.file.Paths.get(s"$base/nd_$fp")
    withIndexDir(base) {
      SimilarityOps.resetNearDupIndexMemo()
      SimilarityOps.publishRaceHook = () => {
        // the winner publishes a committed zone while our build is in
        // flight (between buildNearDupIndex and the rename)
        val asg = zoneDir.resolve("assignments")
        java.nio.file.Files.createDirectories(asg)
        java.nio.file.Files.writeString(asg.resolve("_SUCCESS"), "")
        java.nio.file.Files.writeString(
          asg.resolve("part-winner.parquet"), "winner")
      }
      try {
        val zone = SimilarityOps.nearDupIndexFor(spark, dir).get
        assert(zone == s"$base/nd_$fp")
        assert(java.nio.file.Files.exists(
          zoneDir.resolve("assignments").resolve("part-winner.parquet")),
          "the winner's committed zone must be adopted intact")
        def names(p: java.nio.file.Path): Seq[String] = {
          val l = p.toFile.list(); if (l == null) Nil else l.toSeq
        }
        assert(!names(java.nio.file.Paths.get(base))
            .exists(_.startsWith(".build_nd_")),
          "no top-level loser build may remain")
        assert(!names(zoneDir).exists(_.startsWith(".build_nd_")),
          "a build deposited inside the winner's zone must be cleaned")
      } finally SimilarityOps.publishRaceHook = () => ()
    }
  }

  test("pruner reclaims stale loser debris inside a committed zone") {
    // a loser that crashed between its deposited-inside rename and its own
    // cleanup leaves .build_nd_* debris INSIDE the committed zone — the one
    // place the top-level scan can't see
    val base = java.nio.file.Files.createTempDirectory("ndix7").toString
    val zone = java.nio.file.Paths.get(s"$base/nd_blind2")
    java.nio.file.Files.createDirectories(zone.resolve("assignments"))
    java.nio.file.Files.writeString(
      zone.resolve("assignments").resolve("_SUCCESS"), "")
    java.nio.file.Files.createDirectories(zone.resolve(".build_nd_x_y"))
    Thread.sleep(20) // let mtime fall strictly behind `now` for the 0ms rule
    val report =
      SimilarityOps.pruneNearDupZones(spark, base, staleBuildMs = 0).toMap
    assert(report("nd_blind2") == "kept")
    assert(report("nd_blind2/.build_nd_x_y") == "deleted_stale_build")
    assert(!java.nio.file.Files.exists(zone.resolve(".build_nd_x_y")))
    assert(java.nio.file.Files.exists(
      zone.resolve("assignments").resolve("_SUCCESS")))
  }

  test("fingerprint resolves through the Hadoop FS API and is null-safe") {
    assert(SimilarityOps.corpusFingerprint(spark, "/nonexistent/corpus")
      == "absent")
    // local path still fingerprints (scheme-less → local FS)
    assert(SimilarityOps.corpusFingerprint(spark, dir) != "absent")
  }

  // ------------------------------------------------------- object stores
  // publishDurableZone documents that on rename-is-copy stores the publish
  // is NOT atomic. These cases drive the publish through CopyRenameFileSystem
  // (copyfs: — deep-copy rename, markers last, crash injectable) to pin the
  // documented contract: loser-adopts-winner or a LOUD failure — never a
  // silently torn zone that passes for committed.

  private def withCopyFs[T](f: String => T): T = {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.copyfs.impl", "graft.CopyRenameFileSystem")
    val localBase = java.nio.file.Files.createTempDirectory("ndix_os").toString
    CopyRenameFileSystem.reset()
    try f(localBase) finally CopyRenameFileSystem.reset()
  }

  test("rename-is-copy store: a crash mid-publish fails loudly, leaves no " +
      "committed zone, and the retry rebuilds a complete one") {
    withCopyFs { localBase =>
      val base = s"copyfs:$localBase"
      val fp = SimilarityOps.corpusFingerprint(spark, dir)
      val localZone = java.nio.file.Paths.get(s"$localBase/nd_$fp")
      withIndexDir(base) {
        SimilarityOps.resetNearDupIndexMemo()
        // tear the copy before ANY data file lands: the destination may
        // exist (directories are created first) but must never carry a
        // commit marker — markers are ordered last by construction
        CopyRenameFileSystem.crashAfterDataFiles = Some(0)
        intercept[java.io.IOException] {
          SimilarityOps.nearDupIndexFor(spark, dir)
        }
        assert(!java.nio.file.Files.exists(
          localZone.resolve("assignments").resolve("_SUCCESS")) &&
          !java.nio.file.Files.exists(
            localZone.resolve("assignments").resolve("_GRAFT_COMMITTED")),
          "a torn publish must not leave a zone that looks committed")
        // retry on a healthy store: the torn destination is distrusted,
        // cleared, and republished COMPLETE
        CopyRenameFileSystem.reset()
        SimilarityOps.resetNearDupIndexMemo()
        val zone = SimilarityOps.nearDupIndexFor(spark, dir).get
        assert(zone == s"$base/nd_$fp")
        assert(java.nio.file.Files.exists(
          localZone.resolve("assignments").resolve("_SUCCESS")),
          "the retry must publish a committed zone")
        assert(spark.read.parquet(s"$zone/assignments").count() > 0,
          "the republished assignments must be complete and readable")
      }
    }
  }

  test("rename-is-copy store: a lost race still adopts the winner intact") {
    withCopyFs { localBase =>
      val base = s"copyfs:$localBase"
      val fp = SimilarityOps.corpusFingerprint(spark, dir)
      val localZone = java.nio.file.Paths.get(s"$localBase/nd_$fp")
      withIndexDir(base) {
        SimilarityOps.resetNearDupIndexMemo()
        SimilarityOps.publishRaceHook = () => {
          val asg = localZone.resolve("assignments")
          java.nio.file.Files.createDirectories(asg)
          java.nio.file.Files.writeString(asg.resolve("_SUCCESS"), "")
          java.nio.file.Files.writeString(
            asg.resolve("part-winner.parquet"), "winner")
        }
        try {
          val zone = SimilarityOps.nearDupIndexFor(spark, dir).get
          assert(zone == s"$base/nd_$fp")
          assert(java.nio.file.Files.exists(
            localZone.resolve("assignments").resolve("part-winner.parquet")),
            "the winner's committed zone must be adopted intact")
          def names(p: java.nio.file.Path): Seq[String] = {
            val l = p.toFile.list(); if (l == null) Nil else l.toSeq
          }
          assert(!names(java.nio.file.Paths.get(localBase))
              .exists(_.startsWith(".build_nd_")),
            "no top-level loser build may remain")
          assert(!names(localZone).exists(_.startsWith(".build_nd_")),
            "a build copy-deposited inside the winner's zone must be cleaned")
        } finally SimilarityOps.publishRaceHook = () => ()
      }
    }
  }
}
