package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.util.LongAccumulator

import graft.{PlanProbe, SparkEntry}
import graft.analytics.MarketPipeline
import graft.label.Labeler
import graft.model.Tables
import graft.sim.SimilarityOps
import graft.sources.SourceOps
import graft.streaming.EmbeddingStream

/** Closed-loop benchmark driver: one client, one op at a time.
  *
  * {{{
  * PerfBench <workload> <inputsDir> <workDir> <warmupPasses> <measuredPasses>
  *           <ceilingSeconds> <trace 0|1> <record.json>
  * }}}
  *
  * Runs the workload's set-up, `warmupPasses` warm-up passes, then exactly
  * `measuredPasses` measured passes, and writes a raw record (timings,
  * counters, store sizes, environment) for `run.py` to check and summarize.
  * The pass counts are fixed, so how much work a run measures does not
  * depend on how fast the program is; the measured passes must fit in
  * `ceilingSeconds`, or the run fails. Every timed action materializes the
  * whole result.
  */
object PerfBench {

  /** One timed op call. */
  final case class Sample(pass: Int, op: String, seconds: Double,
      buildS: Double, actionS: Double, rows: Long, plan: PlanCounts)

  def main(argv: Array[String]): Unit = {
    val Array(workload, inputs, work, warmupArg, measuredArg, ceilingArg, traceArg,
      recordPath) = argv
    val warmupPasses = warmupArg.toInt
    val measuredPasses = measuredArg.toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext, traceArg == "1")
    val w: Workload = workload match {
      case "batch" => new Batch(spark, inputs, tracer)
      case "ingest_rw" => new IngestRw(spark, inputs, work, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val t1 = System.nanoTime()
    w.setUp()
    val storesS = (System.nanoTime() - t1) / 1e9
    val t2 = System.nanoTime()
    (0 until warmupPasses).foreach(w.pass(_, traced = false))
    val warmupS = (System.nanoTime() - t2) / 1e9
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // measured passes; a traced run alternates traced and untraced passes,
    // traced first, so the record carries the tracing overhead: with an odd
    // pass count the traced passes flank the untraced ones
    val ceilingS = ceilingArg.toDouble
    val m0 = System.nanoTime()
    def elapsedS = (System.nanoTime() - m0) / 1e9
    val passWall = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    var m = 0
    while (m < measuredPasses && elapsedS <= ceilingS) {
      val p = warmupPasses + m
      val traced = tracer.enabled && m % 2 == 0
      tracer.on = traced
      tracer.pass = p
      val s = System.nanoTime()
      tracer.span("pass") { w.pass(p, traced) }
      passWall += ((p, traced, (System.nanoTime() - s) / 1e9))
      tracer.on = false
      m += 1
    }
    val measuredS = elapsedS
    if (measuredS > ceilingS)
      w.failures += f"measured passes took $measuredS%.1f s, over the $ceilingS%.0f s " +
        s"ceiling ($m of $measuredPasses passes run)"
    w.finish()
    tracer.drain()

    val peakRssMb = procStatusKb("VmHWM") / 1024.0
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
    val env = Map[String, Any](
      "nproc" -> cpus,
      "master" -> spark.sparkContext.master,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "jdk_version" -> System.getProperty("java.version"),
      "fact_bytes" -> Map(inputs -> Tables.factBytes(spark, inputs)),
      "beyond_cut_crossover" -> Tables.beyondCutCrossover(spark, inputs))
    val spans = tracer.spans.map { s =>
      val c = tracer.countersOf(s.id)
      Map[String, Any]("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "op" -> s.op, "pass" -> s.pass, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_s" -> tracer.selfNs(s) / 1e9, "jobs" -> c.jobs,
        "stages" -> c.stages, "tasks" -> c.tasks,
        "input_bytes" -> c.inputBytes, "shuffle_write_bytes" -> c.shuffleWrite,
        "shuffle_read_bytes" -> c.shuffleRead, "spill_bytes" -> c.spill,
        "cut_bytes" -> c.cutBytes, "executor_cpu_s" -> c.cpuNs / 1e9,
        "executor_run_s" -> c.runMs / 1e3, "gc_s" -> c.gcMs / 1e3,
        "scheduler_delay_s" -> c.schedDelayMs / 1e3)
    }
    val record = Map[String, Any](
      "workload" -> workload,
      "env" -> env,
      "setup_s" -> setupS,
      "setup" -> Map("session_s" -> sessionS, "stores_s" -> storesS,
        "warmup_s" -> warmupS),
      "measured_s" -> measuredS,
      "warmup_passes" -> warmupPasses,
      "measured_passes" -> measuredPasses,
      "passes" -> passWall.map { case (i, tr, s) =>
        Map("pass" -> i, "traced" -> tr, "wall_s" -> s) },
      "samples" -> w.samples.map(s => Map[String, Any](
        "pass" -> s.pass, "op" -> s.op,
        "s" -> s.seconds, "build_s" -> s.buildS, "action_s" -> s.actionS,
        "rows" -> s.rows, "exchanges" -> s.plan.exchanges,
        "sort_aggregates" -> s.plan.sortAggregates,
        "sort_merge_joins" -> s.plan.sortMergeJoins,
        "reused_exchanges" -> s.plan.reusedExchanges)),
      "failures" -> w.failures,
      "attempted" -> w.attempted,
      "extra" -> w.extra,
      "results_dir" -> w.resultsDir,
      "spans" -> spans,
      "peak_rss_mb" -> peakRssMb,
      "heap_peak_mb" -> heapPeakMb)
    Files.writeString(Paths.get(recordPath),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(record))
    w.close()
    spark.stop()
  }

  private def procStatusKb(key: String): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    catch { case _: java.io.IOException => 0.0 }
}

/** A workload: set-up, then passes over a fixed op list. */
abstract class Workload(val spark: SparkSession, val tracer: Tracer,
    inputs: String) {
  import PerfBench.Sample

  /** Where collected results are written for the oracle check. */
  val resultsDir: String = Paths.get(inputs).resolveSibling("results").toString

  val samples = mutable.ArrayBuffer.empty[Sample]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  /** Workload-specific raw data for the record (checks, store sizes). */
  val extra = mutable.LinkedHashMap.empty[String, Any]

  def setUp(): Unit = ()
  def pass(p: Int, traced: Boolean): Unit
  def finish(): Unit = ()
  def close(): Unit = ()

  protected def fail(what: String): Unit = failures += what

  /** Time one op call: `build` constructs the frame (including any eager
    * jobs), the action collects every row and column of it. */
  protected def timed(p: Int, op: String)(
      build: => DataFrame): Option[(DataFrame, Array[Row])] = {
    attempted += 1
    val t0 = System.nanoTime()
    try tracer.op(op) {
      val df = tracer.span("driver.build")(build)
      val t1 = System.nanoTime()
      val rows = tracer.span("driver.action")(df.collect())
      val t2 = System.nanoTime()
      val plan = if (tracer.on) PlanCounts.of(df) else PlanCounts.zero
      samples += Sample(p, op, (t2 - t0) / 1e9, (t1 - t0) / 1e9,
        (t2 - t1) / 1e9, rows.length, plan)
      Some((df, rows))
    } catch {
      case e: Exception =>
        fail(s"$op pass $p: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    } finally PlanProbe.releaseCuts()
  }

  /** Time a side-effecting op (a write or a stream batch). */
  protected def timedUnit(p: Int, op: String)(
      body: => Unit): Boolean = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      tracer.op(op)(body)
      samples += Sample(p, op, (System.nanoTime() - t0) / 1e9, 0.0,
        (System.nanoTime() - t0) / 1e9, 0L, PlanCounts.zero)
      true
    } catch {
      case e: Exception =>
        fail(s"$op pass $p: ${e.getClass.getSimpleName}: ${e.getMessage}")
        false
    }
  }

  protected def dirBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  protected def dataFiles(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet")).toLong
      finally s.close()
    }
  }

  /** Write a collected result (outside the timed call) for the oracle. */
  protected def dump(df: DataFrame, rows: Array[Row], path: String): Unit =
    spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
      .write.mode("overwrite").parquet(path)

  /** Order-independent digest of a result, for pass-to-pass comparison. */
  protected def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    rows.map(_.toString).sorted.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** Batch queries on one seeded corpus: the market lifecycle, the graph
  * co-mention edges, the corpus n-gram self-join and the report wrap /
  * truncate step. Each result is collected whole; the first pass's result
  * is written out for the DuckDB oracle check, and every later pass must
  * reproduce it exactly. */
final class Batch(spark0: SparkSession, inputs: String, tracer0: Tracer)
    extends Workload(spark0, tracer0, inputs) {

  val ops: Seq[String] = Seq("q_market_pipeline", "q_comention_edges",
    "q_ngram_jaccard", "q_wrap_truncate")
  private val queries = SparkEntry.queries
  private val firstDigest = mutable.HashMap.empty[String, String]

  def pass(p: Int, traced: Boolean): Unit = {
    ops.foreach { q =>
      timed(p, q)(queries(q)(spark, inputs)).foreach {
        case (df, rows) =>
          val d = digest(rows)
          firstDigest.get(q) match {
            case None =>
              firstDigest(q) = d
              // the oracle compares this dump; written outside the timed call
              dump(df, rows, s"$resultsDir/$q")
            case Some(d0) if d0 != d => fail(s"$q pass $p: result differs from pass 0")
            case _ =>
          }
      }
    }
    if (traced) {
      // per-layer probes, outside the op list: the chunk-row relation every
      // lifecycle reads, and the market search → dedup → mask → label prefix
      timedUnit(p, "model.chunk_rows") {
        Tables.chunkRowsPruned(spark, inputs, withOrders = true,
          withSupplier = true, withText = true)
          .write.format("noop").mode("overwrite").save()
      }
      timed(p, "label.labeled_search")(
        MarketPipeline.labeledSearch(spark, inputs))
    }
  }

  override def finish(): Unit = {
    val oracle = SparkEntry.oracleSql
    extra("oracle_sql") = ops.flatMap(q => oracle.get(q).map(q -> _)).toMap
    ops.filterNot(oracle.contains).foreach(q => fail(s"$q: no oracle SQL"))
  }
}

/** The classifier the ingest workload labels with: the engine's stub rule,
  * counting every call so cache hits are measurable. */
final class CountingClassifier(calls: LongAccumulator)
    extends Labeler.ExternalClassifier {
  def classify(rows: Iterator[(String, String)]): Iterator[(String, String, String, String)] =
    rows.map { case (entityId, text) =>
      calls.add(1)
      val (label, motivation) = Labeler.stubRule(text)
      (entityId, text, label, motivation)
    }
  override def cacheKey: String = "perfbench.CountingClassifier.v1"
}

/** Rounds of ingest against persisted stores: each round labels a new
  * chunk-row slice through the label cache, lands new vectors that the
  * index-maintenance stream appends to the IVF lists, runs a fixed number of
  * searches and compacts the lists zone. */
final class IngestRw(spark0: SparkSession, inputs: String, work: String,
    tracer0: Tracer) extends Workload(spark0, tracer0, inputs) {

  val Searches = 2
  val NProbe = 3
  val K = 5
  private val indexDir = s"$work/ivf"
  private val listsDir = s"$indexDir/lists"
  private val cacheDir = s"$work/label_cache"
  private val landing = Paths.get(s"$work/landing")
  private val streamCk = s"$work/stream_ck"
  private val calls = spark.sparkContext.longAccumulator("classifier_calls")
  private val clf = new CountingClassifier(calls)
  private var stream: StreamingQuery = _
  private val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val searchResults = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def roundDir(r: Int) = s"$inputs/ingest/round_${"%03d".format(r)}"

  override def setUp(): Unit = {
    SimilarityOps.buildIvfIndex(spark, inputs, indexDir)
    Files.createDirectories(landing)
    stream = EmbeddingStream.indexStream(
      EmbeddingStream.readStream(spark, landing.toString), indexDir, streamCk)
  }

  def pass(p: Int, traced: Boolean): Unit = {
    val dir = roundDir(p)
    if (!Files.exists(Paths.get(dir))) {
      fail(s"round $p: no generated input (raise the round count)")
      return
    }
    val listsBytes0 = dirBytes(listsDir)
    val cacheBytes0 = dirBytes(cacheDir)
    val calls0 = calls.value

    // 1. label the slice through the cache
    val slice = spark.read.parquet(s"$dir/slice.parquet")
    var labelRows = -1L
    timed(p, "label.with_cache")(
      Labeler.labelWithCache(slice, clf, cacheDir)
        .select("sentence_id", "entity_id", "text", "label", "motivation"))
      .foreach { case (_, rows) =>
        labelRows = rows.length
        val bad = rows.count { r =>
          (r.getString(3), r.getString(4)) != Labeler.stubRule(r.getString(2))
        }
        if (bad > 0) fail(s"label round $p: $bad rows differ from the stub rule")
      }
    val misses = calls.value - calls0

    // 2. the new vectors land; the maintenance stream appends them
    Files.copy(Paths.get(s"$dir/vectors.parquet"), landing.resolve(s"round_$p.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    timedUnit(p, "streaming.batch")(stream.processAllAvailable())
    val appendBytes = dirBytes(listsDir) - listsBytes0

    // 3. searches against the grown index
    val qs = spark.read.parquet(s"$dir/queries.parquet").collect()
    val qSchema = spark.read.parquet(s"$dir/queries.parquet").schema
    qs.take(Searches).foreach { q =>
      val qdf = spark.createDataFrame(java.util.List.of(q), qSchema)
      timed(p, "sim.search")(
        SimilarityOps.searchIvfIndex(spark, indexDir, qdf, NProbe, K))
        .foreach { case (df, rows) =>
          searchResults += Map("round" -> p, "q_id" -> q.getLong(0),
            "files_scanned" -> (if (traced) PlanCounts.filesScanned(df) else -1L),
            "hits" -> rows.map(r => Seq(r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq)
        }
    }

    // 4. maintenance: collapse append files, drop duplicate vectors
    timedUnit(p, "sources.compact") {
      SourceOps.compactPartitions(spark, listsDir, Seq("bucket"), lit(true),
        dedupKeys = Seq("vec_id"))
    }
    rounds += Map("round" -> p, "traced" -> traced, "label_rows" -> labelRows,
      "classifier_calls" -> misses,
      "lists_files" -> dataFiles(listsDir),
      "append_bytes" -> appendBytes,
      "cache_bytes_delta" -> (dirBytes(cacheDir) - cacheBytes0),
      "checkpoint_bytes" -> dirBytes(streamCk))
  }

  override def finish(): Unit = {
    extra("index_dir") = indexDir
    extra("label_cache_dir") = cacheDir
    extra("lists_bytes") = dirBytes(listsDir)
    extra("label_cache_bytes") = dirBytes(cacheDir)
    extra("nprobe") = NProbe
    extra("k") = K
    extra("rounds") = rounds.toSeq
    extra("searches") = searchResults.toSeq
  }

  override def close(): Unit = if (stream != null) {
    stream.stop()
    stream.awaitTermination()
  }
}
