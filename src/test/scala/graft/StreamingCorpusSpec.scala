package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.CorpusStream

/** Stream ≡ batch for the stateless corpus ingestion gate: every document
  * must leave the stream scrubbed, flagged, and split-routed exactly as the
  * batch projection computes it. */
class StreamingCorpusSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"
  override protected def sparkOverrides = Map("spark.sql.warehouse.dir" ->
    java.nio.file.Files.createTempDirectory("graft_stream_wh").toString)

  test("streaming corpus gate equals the batch projection once drained") {
    val staged = java.nio.file.Files.createTempDirectory("docs_stream")
    java.nio.file.Files.createSymbolicLink(
      staged.resolve("documents.parquet"),
      java.nio.file.Paths.get(s"$dir/documents.parquet"))
    val gated = CorpusStream.gatedDocuments(
      CorpusStream.readStream(spark, staged.toString))
    // a pure projection must add no stateful operators to the stream plan
    val query = gated.writeStream
      .format("memory")
      .queryName("gated_docs")
      .outputMode("append")
      .start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("gated_docs")
      val batch = CorpusStream.gatedBatch(spark, dir)
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty,
        "stream and batch gate outputs must be identical")
    } finally query.stop()
  }

  test("watermarked streaming exact-dedup equals batch dedup, bounded state") {
    // stage the SAME corpus file twice — the redelivered-ingest scenario the
    // dedup exists for: every document arrives (at least) twice and exactly
    // one copy per content fingerprint may survive. Redelivered copies carry
    // the same doc_id-derived ingest_ts, so all duplicates land INSIDE one
    // watermark horizon — the regime where stream ≡ batch holds exactly
    // (past-horizon duplicates are deliberately kept by the stream gate;
    // see dedupedDocuments' scaladoc)
    val staged = java.nio.file.Files.createTempDirectory("docs_dedup_stream")
    for (name <- Seq("delivery_a.parquet", "delivery_b.parquet"))
      java.nio.file.Files.createSymbolicLink(
        staged.resolve(name),
        java.nio.file.Paths.get(s"$dir/documents.parquet"))
    val deduped = CorpusStream.dedupedDocuments(
      CorpusStream.readStream(spark, staged.toString))
    val query = deduped.writeStream
      .format("memory")
      .queryName("deduped_docs")
      .outputMode("append")
      .start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("deduped_docs")
      val batch = CorpusStream.dedupedBatch(spark, staged.toString)
      val nBatch = batch.count()
      assert(nBatch > 0)
      assert(streamed.count() == nBatch,
        "stream dedup must keep exactly one row per fingerprint, like batch")
      assert(streamed.select("fp").exceptAll(batch.select("fp")).isEmpty &&
        batch.select("fp").exceptAll(streamed.select("fp")).isEmpty,
        "stream and batch must keep the same fingerprint set")
      // bounded state: one dedup state operator, whose row count can never
      // exceed the distinct-fingerprint count (eviction keys it on the
      // watermark horizon, not the stream history)
      val stateOps = query.recentProgress.flatMap(_.stateOperators)
      assert(stateOps.nonEmpty, "expected a streaming dedup state operator")
      assert(stateOps.map(_.numRowsTotal).max <= nBatch,
        "dedup state must be bounded by the distinct-fingerprint count")
    } finally query.stop()
  }

  test("streaming corpus health panel equals the batch windowed aggregate") {
    val staged = java.nio.file.Files.createTempDirectory("docs_stats_stream")
    java.nio.file.Files.createSymbolicLink(
      staged.resolve("documents.parquet"),
      java.nio.file.Paths.get(s"$dir/documents.parquet"))
    val stats = CorpusStream.corpusStatsStream(
      CorpusStream.readStream(spark, staged.toString))
    val query = stats.writeStream
      .format("memory")
      .queryName("corpus_stats_stream")
      .outputMode("complete")
      .start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("corpus_stats_stream")
      val batch = CorpusStream.corpusStatsBatch(spark, dir)
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty,
        "drained stream health panel must equal the batch windowed aggregate")
    } finally query.stop()
  }

  test("per-row bigram gate equals the batch explode+aggregate verdicts") {
    // the stateless gate computes top_bigram_frac INSIDE the row (array
    // lambdas, zero state) while the batch path explodes and aggregates —
    // the two mechanisms must reach identical fractions and verdicts on
    // every document, or stream and batch curation would diverge
    import org.apache.spark.sql.functions.col
    val cols = Seq("doc_id", "dup_word_frac", "top_bigram_frac", "keep")
    val gate = graft.text.CorpusOps
      .statelessGate(graft.model.Tables.documents(spark, dir))
      .select(cols.map(col): _*)
    val agg = SparkEntry.queries("q_repetition_filter")(spark, dir)
      .select(cols.map(col): _*)
    assert(gate.count() > 0)
    assert(gate.exceptAll(agg).isEmpty && agg.exceptAll(gate).isEmpty,
      "per-row and explode+aggregate bigram stats must be identical")
  }

  test("streaming contamination gate equals the batch decontamination join") {
    val grams = CorpusStream.benchGrams(spark)
    assert(grams.nonEmpty, "eval-set fixture must yield 13-grams")
    val staged = java.nio.file.Files.createTempDirectory("docs_decon_stream")
    java.nio.file.Files.createSymbolicLink(
      staged.resolve("documents.parquet"),
      java.nio.file.Paths.get(s"$dir/documents.parquet"))
    val gated = CorpusStream.contaminationGate(
      CorpusStream.readStream(spark, staged.toString), grams)
    val query = gated.writeStream
      .format("memory")
      .queryName("decon_docs")
      .outputMode("append")
      .start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("decon_docs")
      // batch twin #1: the same projection over the batch table
      val batch = CorpusStream.contaminationGate(
        graft.model.Tables.documents(spark, dir), grams)
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).isEmpty &&
        batch.exceptAll(streamed).isEmpty,
        "stream and batch contamination flags must be identical")
      // batch twin #2: the stream gate's hit counts must agree with the
      // broadcast-join decontamination query on every flagged doc
      // (same n-gram width, same eval set, different mechanism)
      val joinCounts = SparkEntry.queries("q_decontaminate_ext")(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val gateCounts = streamed.filter(org.apache.spark.sql.functions.col("n_hits") > 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gateCounts == joinCounts,
        "stream gate hit counts must match the broadcast-join operator")
      // pure projection ⇒ no state operators at all
      assert(query.recentProgress.flatMap(_.stateOperators).forall(_.numRowsTotal == 0),
        "contamination gate must be stateless")
    } finally query.stop()
  }

  test("in-row MinHash bands equal the batch explode+groupBy band table") {
    import org.apache.spark.sql.functions._
    val inRow = graft.model.Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(graft.text.TextOps.inRowBands(col("text"))).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    val batch = graft.text.TextOps.bandTable(spark, dir)
    assert(inRow.count() > 0)
    assert(inRow.exceptAll(batch).isEmpty && batch.exceptAll(inRow).isEmpty,
      "the stateless in-row signature must match the batch signature exactly")
  }

  test("streaming near-dup gate flags re-fetched docs against the corpus") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // new arrivals: two exact re-fetches of corpus docs (every band must
    // match), one near-copy (original text + one appended word — shares
    // most shingles; whether a band agrees is down to this fixed
    // corpus/hash, so it is left unasserted), and two novel documents that
    // share no shingles with the corpus
    val corpus = graft.model.Tables.documents(spark, dir)
      .orderBy(col("doc_id")).limit(3)
      .select(col("doc_id"), col("text")).collect()
    val arrivals = Seq(
      (100001L, corpus(0).getString(1), "en", "recrawl", 1L),
      (100002L, corpus(1).getString(1), "en", "recrawl", 1L),
      (100003L, corpus(2).getString(1) + " appendix", "en", "recrawl", 1L),
      (100004L, "zq xv qj wk vx kz jq zx nine ten eleven twelve", "en", "novel", 1L),
      (100005L, "entirely unrelated fresh content nothing shared here at all", "en", "novel", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val staged = java.nio.file.Files.createTempDirectory("neardup_stream")
    // land as a single flat file (the file stream lists plain files, like
    // the symlinked fixtures above): write to a scratch dir, move the part
    val scratch = java.nio.file.Files.createTempDirectory("neardup_scratch")
    arrivals.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
    val partFile = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(scratch).iterator().asScala
        .find(_.toString.endsWith(".parquet"))
        .getOrElse(fail("no part file written"))
    }
    java.nio.file.Files.copy(partFile, staged.resolve("batch0.parquet"))

    val bands = graft.text.TextOps.bandTable(spark, dir)
    val gate = CorpusStream.nearDupCandidates(
      CorpusStream.readStream(spark, staged.toString), bands)
    val query = gate.writeStream
      .format("memory")
      .queryName("neardup_candidates")
      .outputMode("append")
      .start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("neardup_candidates")
      val streamPairs = streamed.distinct()
      // batch twin: same function over a batch read of the same arrivals
      val batchPairs = CorpusStream.nearDupCandidates(
        spark.read.schema(CorpusStream.docSchema)
          .parquet(staged.toString), bands).distinct()
      assert(streamPairs.exceptAll(batchPairs).isEmpty &&
        batchPairs.exceptAll(streamPairs).isEmpty,
        "stream and batch candidate pairs must be identical")
      val flagged = streamPairs.select(col("new_doc_id"))
        .distinct().as[Long].collect().toSet
      // exact re-fetches MUST be caught, and each must pair with its source
      assert(flagged.contains(100001L) && flagged.contains(100002L))
      val p1 = streamPairs.filter(col("new_doc_id") === 100001L)
        .select(col("corpus_doc_id")).as[Long].collect().toSet
      assert(p1.contains(corpus(0).getLong(0)),
        s"re-fetch of doc ${corpus(0).getLong(0)} must pair with it, got $p1")
      // novel docs must pass untouched
      assert(!flagged.contains(100004L) && !flagged.contains(100005L),
        s"novel docs falsely flagged: $flagged")
      // stream-static join is stateless — no streaming state operators
      assert(query.recentProgress.flatMap(_.stateOperators).forall(_.numRowsTotal == 0),
        "near-dup gate must be stateless")
    } finally query.stop()
  }

  test("bucketed band table: standing side of the near-dup join is exchange-free") {
    import org.apache.spark.sql.functions.col
    // the scale shape TextOps.landBandTable promises: the standing corpus
    // band table — which grows with the corpus and is NOT broadcastable —
    // must NOT re-shuffle on every micro-batch; only the tiny arriving
    // batch may. Asserted on the EXECUTED micro-batch plan.
    graft.text.TextOps.landBandTable(spark, dir, "bands_bucketed", 8)
    // force the sort-merge path: at sf0.001 the table would broadcast and
    // the exchange-elision claim would pass vacuously
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // arrivals: the whole corpus re-fetched under fresh ids, so every
      // doc must pair with its original and the candidate set can't be
      // vacuously empty
      val staged = java.nio.file.Files.createTempDirectory("neardup_bucketed")
      val scratch = java.nio.file.Files.createTempDirectory("neardup_b_scratch")
      graft.model.Tables.documents(spark, dir)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val partFile = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(scratch).iterator().asScala
          .find(_.toString.endsWith(".parquet"))
          .getOrElse(fail("no part file written"))
      }
      java.nio.file.Files.copy(partFile, staged.resolve("batch0.parquet"))
      val gate = CorpusStream.nearDupCandidates(
        CorpusStream.readStream(spark, staged.toString),
        spark.table("bands_bucketed"))
      val query = gate.writeStream
        .format("memory").queryName("neardup_bucketed_sink")
        .outputMode("append").start()
      try {
        query.processAllAvailable()
        // the micro-batch join executes inside the stream; its physical
        // plan is what query.explain() prints (foreachBatch would only
        // show the post-join ExistingRDD handed to the sink)
        val baos = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(baos, true, "UTF-8")) {
          query.explain()
        }
        // AQE explain prints Final AND Initial plans — assert on the
        // EXECUTED (final) one only
        val plan = baos.toString("UTF-8").split("== Initial Plan ==")(0)
        assert(plan.contains("SortMergeJoin"),
          s"expected a shuffled join with broadcast disabled:\n$plan")
        assert(plan.contains("Bucketed: true") &&
          plan.contains("SelectedBucketsCount: 8 out of 8"),
          s"band-table scan should come up bucketed:\n$plan")
        val nExchanges = "Exchange hashpartitioning".r
          .findAllMatchIn(plan).length
        assert(nExchanges == 1,
          s"expected exactly ONE exchange (the tiny stream side; the " +
            s"standing band table must join pre-shuffled), got $nExchanges:\n$plan")

        // the bucketed layout changes the plan, never the answer: same
        // candidate pairs as the unbucketed batch twin on the same arrivals
        val streamed = spark.table("neardup_bucketed_sink").distinct()
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val expected = CorpusStream.nearDupCandidates(
          spark.read.schema(CorpusStream.docSchema).parquet(staged.toString),
          graft.text.TextOps.bandTable(spark, dir))
          .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(streamed == expected,
          "bucketed and plain band tables must yield identical candidates")
        assert(streamed.nonEmpty,
          "re-ingesting the corpus under fresh ids must flag every doc")
      } finally query.stop()
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }
}
