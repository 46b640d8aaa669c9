package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SourceOps

class SourceOpsSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("csv sheet sink/source round-trips a result table") {
    val tmp = java.nio.file.Files.createTempDirectory("sheets").toString
    val basket = SparkEntry.queries("q_basket")(spark, dir)
    SourceOps.writeSheet(basket, tmp, "basket")
    val back = SourceOps.readSheet(spark, tmp, "basket")
    assert(back.count() == basket.count())
    assert(back.columns.sorted.sameElements(basket.columns.sorted))
    val a = basket.select(col("entity_name"), col("total_exposure"))
    val b = back.select(col("entity_name"), col("total_exposure").cast("long"))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("quoted newlines survive the sheet round-trip and the workbook " +
      "reader's banner offsets") {
    import spark.implicits._
    // a text cell containing a newline is ONE record under the CSV
    // grammar; a physical-line split would shear it into two malformed
    // rows (and shift the workbook reader's banner/header offsets)
    val tmp = java.nio.file.Files.createTempDirectory("sheets_nl").toString
    val df = Seq(("a", "Revenue fell;\nmargins too", 1L),
      ("b", "plain", 2L)).toDF("K", "Note", "N")
    SourceOps.writeSheet(df, tmp, "notes")
    val back = SourceOps.readSheet(spark, tmp, "notes")
    assert(back.count() == 2)
    assert(back.filter(col("Note").contains("\nmargins")).count() == 1)
    // the banner'd workbook-sheet shape with an embedded newline in row 1
    val f = java.nio.file.Paths.get(tmp, "banner.csv")
    java.nio.file.Files.writeString(f,
      "Narrative Mining Results\n,Entity,Note,Date\n" +
        "0,Acme,\"line one\nline two\",2024-01-05\n" +
        "1,Globex,plain,2024-02-10\n")
    val wb = SourceOps.readWorkbookSheet(spark, f.toString, "news")
    assert(wb.count() == 2)
    assert(wb.filter(col("Note").contains("\nline two")).count() == 1)
    assert(wb.columns.toSet == Set("Entity", "Note", "Date", "Source_Type"))
  }

  test("workbook sheet reader applies header=1 + Unnamed-drop quirks") {
    // layout a real result sheet arrives in (tool.py:10-26): banner line,
    // header with a spreadsheet index column, then data
    val tmp = java.nio.file.Files.createTempDirectory("wb")
    val f = tmp.resolve("results.csv")
    java.nio.file.Files.writeString(f,
      """Narrative Mining Results - Q3,,,,
        |Unnamed: 0,Company,Date,Score,
        |0,Acme,2024-01-05,3,
        |1,Globex,2024-02-10,7,
        |""".stripMargin)
    val df = SourceOps.readWorkbookSheet(spark, f.toString, "News")
    assert(df.columns.toSeq == Seq("Company", "Date", "Score", "Source_Type"))
    assert(df.count() == 2)
    assert(df.schema("Date").dataType.typeName == "date")
    assert(df.filter(col("Source_Type") =!= "News").isEmpty)
    assert(df.filter(col("Company") === "Acme" && col("Score") === 3).count() == 1)
  }

  test("stage checkpoint builds once, then reads back") {
    val tmp = java.nio.file.Files.createTempDirectory("ckpt").toString
    var builds = 0
    def build = {
      builds += 1
      SparkEntry.queries("q_label_distribution")(spark, dir)
    }
    val first = SourceOps.cached(spark, tmp, "labels")(build)
    val second = SourceOps.cached(spark, tmp, "labels")(build)
    assert(builds == 1)
    assert(first.exceptAll(second).isEmpty && second.exceptAll(first).isEmpty)
  }

  test("stage checkpoint distrusts an uncommitted (torn) write") {
    // simulate a rebuild killed mid-write: part-files on disk, no _SUCCESS
    val tmp = java.nio.file.Files.createTempDirectory("ckpt_torn")
    val stage = tmp.resolve("labels")
    java.nio.file.Files.createDirectories(stage)
    java.nio.file.Files.writeString(
      stage.resolve("part-00000.snappy.parquet"), "torn garbage")
    var builds = 0
    def build = {
      builds += 1
      SparkEntry.queries("q_label_distribution")(spark, dir)
    }
    val df = SourceOps.cached(spark, tmp.toString, "labels")(build)
    assert(builds == 1, "a torn checkpoint must be rebuilt, not trusted")
    assert(df.count() > 0)
    // and the rebuilt (committed) checkpoint is then served without rebuild
    SourceOps.cached(spark, tmp.toString, "labels")(build)
    assert(builds == 1)
  }

  test("stage checkpoint survives a marksuccessfuljobs=false deployment") {
    // with Hadoop _SUCCESS markers disabled, graft's own sidecar (written
    // by cached() after the parquet write) must carry the commit signal —
    // otherwise every call would silently rebuild, defeating the cache
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs",
      false)
    try {
      val tmp = java.nio.file.Files.createTempDirectory("ckpt_nomark")
      var builds = 0
      def build = {
        builds += 1
        SparkEntry.queries("q_label_distribution")(spark, dir)
      }
      SourceOps.cached(spark, tmp.toString, "labels")(build)
      assert(!java.nio.file.Files.exists(tmp.resolve("labels/_SUCCESS")),
        "precondition: this deployment writes no Hadoop marker")
      SourceOps.cached(spark, tmp.toString, "labels")(build)
      assert(builds == 1,
        "the sidecar must make the marker-less checkpoint reusable")
    } finally hconf.setBoolean(
      "mapreduce.fileoutputcommitter.marksuccessfuljobs", true)
  }

  test("commit probe trusts only job-level markers, never bare part-files") {
    // deployments with mapreduce.fileoutputcommitter.marksuccessfuljobs=
    // false never write _SUCCESS — but a part-file is NOT a substitute
    // signal (v2 committers publish part-files at TASK commit, so a job
    // killed mid-way leaves visible part-files of a torn write). graft's
    // own sidecar, written by markCommitted after df.write returns, is the
    // job-level signal there.
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val tmp = java.nio.file.Files.createTempDirectory("nomark")
    val stage = tmp.resolve("labels")
    java.nio.file.Files.createDirectories(stage)
    def p(s: java.nio.file.Path) = new org.apache.hadoop.fs.Path(s.toString)
    assert(!SourceOps.committedDir(fs, p(stage)),
      "an empty dir is not a commit")
    java.nio.file.Files.writeString(
      stage.resolve("part-00000.snappy.parquet"), "x")
    assert(!SourceOps.committedDir(fs, p(stage)),
      "task-committed part-files without a job marker are a torn write")
    SourceOps.markCommitted(fs, p(stage))
    assert(SourceOps.committedDir(fs, p(stage)),
      "the sidecar is the job-level commit signal")
    // Hadoop's own marker also counts (the markers-on default path)
    val stage2 = tmp.resolve("labels2")
    java.nio.file.Files.createDirectories(stage2)
    java.nio.file.Files.writeString(stage2.resolve("_SUCCESS"), "")
    assert(SourceOps.committedDir(fs, p(stage2)))
    assert(!SourceOps.committedDir(fs, p(tmp.resolve("absent"))),
      "a missing dir must probe false, not throw")
  }

  test("workbook sheet reader parses quoted headers with commas") {
    val tmp = java.nio.file.Files.createTempDirectory("wb_q")
    val f = tmp.resolve("results.csv")
    java.nio.file.Files.writeString(f,
      """Banner,,,
        |id,"Revenue, Net",Date
        |1,100,2024-01-05
        |2,250,2024-02-10
        |""".stripMargin)
    val df = SourceOps.readWorkbookSheet(spark, f.toString, "News")
    assert(df.columns.toSeq
      == Seq("id", "Revenue, Net", "Date", "Source_Type"))
    assert(df.filter(col("id") === 1).select(col("Revenue, Net"))
      .head().get(0).toString == "100")
  }

  test("compactPartitions preserves zero-padded string partition values") {
    import spark.implicits._
    val zone = java.nio.file.Files.createTempDirectory("zone_pad").toString
    val df = Seq(("00123", 1L), ("00123", 2L), ("7", 3L))
      .toDF("source", "n")
    SourceOps.writePartitioned(df, zone, Seq("source"))
    // appends fragment the partition (the compaction motivation)
    Seq(("00123", 4L)).toDF("source", "n")
      .write.mode("append").partitionBy("source").parquet(zone)
    SourceOps.compactPartitions(spark, zone, Seq("source"),
      col("source") === "00123")
    // the padded directory was REWRITTEN in place — not duplicated into a
    // normalized source=123 sibling (type inference would read 00123 as
    // the int 123 and dynamic overwrite would then miss the original dir)
    val dirs = new java.io.File(zone).listFiles().map(_.getName)
      .filter(_.startsWith("source=")).sorted.toSeq
    assert(dirs == Seq("source=00123", "source=7"), dirs.toString)
    val back = spark.read.parquet(zone)
    assert(back.count() == 4)
    assert(back.filter(col("source") === "00123").count() == 3)
  }
}
