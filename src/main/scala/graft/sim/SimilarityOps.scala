package graft.sim

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Q
import graft.model.Tables

/** Similarity search over the embedding column (`Array[Float]`):
  * brute-force cosine top-k (baseline), threshold near-dup pairs, sign-LSH
  * bucketing and IVF-style coarse assignment (the scale paths).
  *
  * Numeric determinism across engines:
  *  - floats are cast to double BEFORE any arithmetic (lossless);
  *  - every reduction is an explicit left-to-right fold (`aggregate` in
  *    Spark, `list_reduce` in DuckDB) — same summation order, bit-equal
  *    results;
  *  - centroid aggregation pre-quantizes (`floor(x*1e6)`) so sums are exact
  *    integers, immune to shuffle-order float drift.
  *
  * Scale notes: top-k joins broadcast the (sampled) query side against the
  * corpus — the corpus is never self-joined all-pairs. The LSH/IVF variants
  * key candidate generation on bucket/centroid ids, which is the 100 TB
  * path: |pairs| ∝ Σ bucket² instead of n².
  */
object SimilarityOps {

  /** Dot product via the custom codegen expression
    * [[graft.functions.DotProduct]] — the built-in `aggregate(zip_with(...))`
    * fold is interpreted per element and was the dominant ANN cost. Same
    * left-to-right summation → same bits. Registered in [[vectors]], which
    * every query here builds on before analysis. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.dot(a, b)

  private def norm(v: Column): Column = sqrt(dot(v, v))

  /** embeddings with double-cast vector + L2 norm. Repartitioned on read:
    * the table arrives as one small parquet file = one input partition, which
    * would serialize every downstream fold (see TextOps.docShingles note). */
  private def vectors(s: SparkSession, d: String): DataFrame = {
    graft.functions.VectorExprs.register(s)
    Tables.embeddings(s, d)
      .repartition(col("vec_id"))
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", norm(col("v")))
  }

  /** Tool hook (InvariantCheck's super-set bound): the normalized vector
    * frame for a data dir. */
  private[graft] def vectorsFor(s: SparkSession, d: String): DataFrame =
    vectors(s, d)

  private val foldSql = "(acc, x) -> acc + x"
  private def listFoldSql(products: String): String =
    s"list_reduce([CAST(0 AS DOUBLE)] || $products, $foldSql)"
  private val vectorsCte: String =
    s"""e AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings
       |),
       |n AS (
       |  SELECT vec_id, label, v,
       |         sqrt(${listFoldSql("list_transform(v, x -> x * x)")}) AS nrm
       |  FROM e
       |)""".stripMargin
  private def dotSql(a: String, b: String): String =
    listFoldSql(s"list_transform(list_zip($a, $b), p -> p[1] * p[2])")

  /** Brute-force cosine top-5 per query vector (queries = sampled corpus
    * slice, broadcast against all candidates). */
  private val qCosineTopk = Q(
    "q_embed_cosine_topk",
    (s, d) => {
      val vs = vectors(s, d)
      val q = vs.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn"))
      val pairs = vs.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos",
          round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      pairs.withColumn("rk", row_number().over(w)).filter(col("rk") <= 5)
        .select(col("q_id"), col("vec_id"), col("cos"), col("rk"))
        .orderBy(col("q_id"), col("rk"))
    },
    Some(
      s"""WITH $vectorsCte,
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n
         |      WHERE vec_id % 100 = 0),
         |pairs AS (
         |  SELECT q.q_id, c.vec_id,
         |         round(${dotSql("q.qv", "c.v")} / (q.qn * c.nrm), 6) AS cos
         |  FROM q CROSS JOIN n c WHERE c.vec_id <> q.q_id
         |)
         |SELECT q_id, vec_id, cos,
         |       CAST(row_number() OVER (PARTITION BY q_id
         |                               ORDER BY cos DESC, vec_id) AS INT) AS rk
         |FROM pairs
         |QUALIFY rk <= 5
         |ORDER BY q_id, rk""".stripMargin))

  /** Embedding-cosine near-dup: sampled query slice × corpus, keep pairs with
    * cosine ≥ 0.35 (the corpus is random — 0.35 is ~p99.9). */
  private val qNearDup = Q(
    "q_embed_neardup",
    (s, d) => {
      val vs = vectors(s, d)
      val q = vs.filter(col("vec_id") % 20 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn"))
      vs.crossJoin(broadcast(q))
        .filter(col("vec_id") > col("q_id"))
        .withColumn("cos",
          round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6))
        .filter(col("cos") >= 0.35)
        .select(col("q_id"), col("vec_id"), col("cos"))
        .orderBy(col("cos").desc, col("q_id"), col("vec_id"))
        .limit(100)
    },
    Some(
      s"""WITH $vectorsCte,
         |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n
         |      WHERE vec_id % 20 = 0)
         |SELECT q.q_id, c.vec_id,
         |       round(${dotSql("q.qv", "c.v")} / (q.qn * c.nrm), 6) AS cos
         |FROM q CROSS JOIN n c WHERE c.vec_id > q.q_id
         |  AND round(${dotSql("q.qv", "c.v")} / (q.qn * c.nrm), 6) >= 0.35
         |ORDER BY cos DESC, q_id, vec_id
         |LIMIT 100""".stripMargin))

  /** Target IVF cell population for the full-corpus near-dup path: the
    * coarse quantizer's k is derived as ~n/[[IvfTargetBucket]], so expected
    * bucket size — and with it the within-bucket candidate work — stays
    * CONSTANT as the corpus grows. Shared with the MLlib KMeans twin
    * ([[graft.ml.MlOps]]). */
  private[graft] val IvfTargetBucket = 16

  /** Hierarchical-assignment probe widths: every vector/query-side item
    * probes its [[VecCellProbes]] nearest super-cells (n·S dot work per
    * probe), while seeds/centroids — the SMALL side, k rows — are
    * multi-assigned to their [[SeedCellProbes]] nearest cells (k·S work
    * per slot). Widening the centroid side is the cheap recall lever:
    * a (vector, its-near-centroid) meeting requires the two cell sets to
    * intersect, and 2×4 covers super-Voronoi boundary flips that 2×1
    * misses. */
  private[graft] val VecCellProbes = 2
  private[graft] val SeedCellProbes = 4

  /** Number of INDEPENDENT quantizer tables — OR-amplification, the LSH
    * banding trick applied to IVF: each table is a full (hash-seeded,
    * one-Lloyd-round, hierarchically-assigned) coarse quantizer under its
    * own salt, candidate pairs are the UNION of every table's within-bucket
    * pairs, and per-table miss probabilities MULTIPLY (measured near
    * independent: T=8 at per-table recall 0.32 → 0.945 union, vs 0.954
    * for perfect independence). This is the lever that makes the recall
    * floor robust to corpus geometry: a single Voronoi partition cannot
    * recall weakly-correlated near-dup pairs (directions at cos ≈ 0.35 in
    * 64-dim rank cells almost independently), but 8 independent partitions
    * bound the miss at p⁸. Work and candidate volume scale ×T — still
    * LINEAR in n (Σ bucket² ≈ T·n·targetBucket·nprobe²), the same trade
    * MinHash-LSH makes with its band count. */
  private[graft] val IvfTables = 8

  /** Default fine-level probe width — shared with [[tableCtes]]'s oracle
    * rendering, which is generated for THIS value only: a caller passing a
    * different `nprobe` gets correct Spark results but must not expect the
    * default-parameter DuckDB twin to agree. */
  private[graft] val IvfNprobe = 2

  /** Composite bucket key base for cross-table pair reporting:
    * `tbl · 2³² + c_id` (vec_ids are far below 2³²). */
  private[graft] val BucketKeyBase = 1L << 32

  /** Table `t`'s deterministic hash-sampled seed set
    * (`hash32("ivfseed:t:" + vec_id) % targetBucket == 0`, the
    * `q_hash_split` membership pattern) — a map-only pick whose expected
    * count k ≈ n/[[IvfTargetBucket]], so k GROWS WITH THE CORPUS by
    * construction; the per-table salt makes every table's partition
    * independent. */
  private def seedsOf(vs: DataFrame, t: Int): DataFrame =
    vs.filter(
      graft.text.TextOps.hash32(concat(lit(s"ivfseed:$t:"),
        col("vec_id").cast("string"))) % IvfTargetBucket === 0)
      .select(col("vec_id").as("seed_id"), col("v").as("sv"))

  /** Level-1 quantizer for the hierarchical (two-level) assignment: a
    * hash-sampled SUBSET of the seeds with modulus m₂ = max(1, ⌊√n/2⌋), so
    * the expected super count is S = k/m₂ ≈ √n/8 ≈ √k/2 — an O(√n) set,
    * the ONLY vector set any assignment stage broadcasts. (The ÷2 rather
    * than the work-optimal ÷4: slightly fewer, larger super-cells measurably
    * buy pair recall at the gate SFs — cell sharing between a vector and
    * its near-centroid is the recall-limiting event — at a ~2× constant on
    * the per-vector candidate count, same asymptotics.) Guaranteed non-empty
    * (while seeds exist) by always including the minimum seed id; at small
    * corpora m₂ = 1 and supers = seeds, degenerating to the flat single-level
    * assignment. Both the corpus size and the min-seed fallback are
    * broadcast singleton stats (zero driver actions), and the sampling is
    * salted (`ivfsuper:`) so super membership is independent of seed
    * membership within the seed set. */
  private[graft] def supersOf(vs: DataFrame, t: Int): DataFrame = {
    val seeds = seedsOf(vs, t)
    val nStat = vs.agg(count(lit(1)).as("n_total"))
    val sStat = seeds.agg(min(col("seed_id")).as("min_seed"))
    seeds.crossJoin(broadcast(nStat)).crossJoin(broadcast(sStat))
      .withColumn("m2",
        greatest(lit(1L), floor(sqrt(col("n_total")) / 2.0).cast("long")))
      .filter(
        graft.text.TextOps.hash32(concat(lit(s"ivfsuper:$t:"),
          col("seed_id").cast("string"))) % col("m2") === 0
          || col("seed_id") === col("min_seed"))
      .select(col("seed_id").as("s_id"), col("sv").as("suv"))
  }

  /** Level-1 cell lookup: each item's `p` nearest super-centroids by
    * round-6-decimal dot score (super-id tiebreak). The broadcast side is
    * the O(√n) super set — never the O(n/16) centroid set — so this is the
    * only place assignment work touches every item×super pair: O(items·√k)
    * dot products. Returns `(idCol, s_id)` rows; vectors are re-joined by
    * the caller AFTER the top-p cut so wide rows never ride the ranking
    * shuffle. */
  private def superCells(items: DataFrame, supers: DataFrame,
      idCol: String, vecCol: String, p: Int): DataFrame = {
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("sscore").desc, col("s_id"))
    items.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(supers))
      .withColumn("sscore", round(dot(col(vecCol), col("suv")), 6))
      .withColumn("spr", row_number().over(w))
      .filter(col("spr") <= p)
      .select(col(idCol), col("s_id"))
  }

  /** Scale-adaptive coarse quantizer behind the full-corpus near-dup path:
    * k = ~n/[[IvfTargetBucket]] centroids, built with zero driver actions
    * and no global sort —
    *
    *  1. SEEDS ([[seedsOf]]): expected count n/targetBucket, so k grows
    *     with the corpus (the round-6 version fixed k at the 10 data
    *     labels, leaving Σ bucket² ≈ n²/10 — a constant-factor cut, not
    *     sublinear);
    *  2. one LLOYD round, assigned HIERARCHICALLY: seeds land in their
    *     [[SeedCellProbes]] nearest super-cells ([[supersOf]], O(k·√k)
    *     work), vectors probe their [[VecCellProbes]] nearest super-cells
    *     (O(n·√k) work, O(√n) broadcast), and the fine argmax runs over
    *     only the probed cells' seeds via a hash EQUI-JOIN on the
    *     super-cell id — the round-7 flat version broadcast all k ≈ n/16
    *     seeds and did n·k = n²/16 dot products here, the last O(n²) stage
    *     in the repo. Cluster centroids are then re-estimated with the
    *     quantized-integer-sum aggregation (exact integers →
    *     order-independent → bit-equal under any shuffle schedule, and in
    *     DuckDB).
    *
    * One Lloyd round (not MLlib's 10, not zero) is the oracle-tractable
    * middle: it fixes the worst seed-sampling artifacts (a seed pair landing
    * in one true cell splits it; the re-estimation merges their mass) while
    * both steps stay expressible as deterministic SQL for the DuckDB twin.
    *
    * Returns `(c_id, cv)` centroid vectors. A vector whose probed 2
    * super-cells hold no seeds (possible only in a pathological sampling
    * tail; deterministic, oracle-mirrored) simply contributes no mass to
    * the re-estimation. */
  private def adaptiveCentroids(vs: DataFrame, supers: DataFrame,
      vecCell: DataFrame, t: Int): DataFrame = {
    val seeds = seedsOf(vs, t)
    val seedCell = superCells(seeds, supers, "seed_id", "sv", SeedCellProbes)
    // BOTH sides are multi-assigned (seeds to 4 cells, vectors to 2) — the
    // same boundary-leak fix as the fine-level nprobe=2, one level up: a
    // vector and its true nearest seed that straddle a super-Voronoi
    // boundary still meet in a shared cell. The join may emit a (vec, seed)
    // pair twice (shared cells on both probes); max_by is insensitive to
    // duplicates, so no dedup is needed here.
    val assign1 = vecCell
      .join(vs.select(col("vec_id"), col("v")), Seq("vec_id"))
      .join(seedCell.join(seeds, Seq("seed_id")), Seq("s_id"))
      .withColumn("score", round(dot(col("v"), col("sv")), 6))
      .groupBy(col("vec_id"))
      .agg(max_by(col("seed_id"), struct(col("score"), -col("seed_id")))
        .as("c0"))
    quantizedCentroids(
      assign1.join(vs, Seq("vec_id")).select(col("c0"), col("v")), "c0")
      .select(col("c0").as("c_id"), col("cv"))
  }

  /** Quantized-mean centroid re-estimation — the ONE definition of the
    * floor-1e6 exact-integer convention (long BEFORE the sum, so the
    * aggregation is order-independent at ANY scale, not just while double
    * partial sums stay under 2^53; DuckDB twins sum BIGINT the same way):
    * per-(key, dim) quantized mean, reassembled in dimension order.
    * Input must carry (`keyCol`, v); returns (`keyCol`, cv). */
  private def quantizedCentroids(df: DataFrame, keyCol: String): DataFrame =
    df.select(col(keyCol), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col(keyCol), col("pos"))
      .agg((sum(floor(col("x") * 1e6).cast("long")) / 1e6 /
        count(lit(1))).as("cx"))
      .groupBy(col(keyCol))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cx")))),
        e => e.getField("cx")).as("cv"))

  /** One table's per-vector bucket assignment against its
    * [[adaptiveCentroids]] with nprobe-way MULTI-assignment: each vector
    * lands in its `nprobe` closest cells among those of its probed
    * super-cells (`pr` = 1 is the primary/reporting cell). A true near-dup
    * pair straddling a fine Voronoi boundary still shares its
    * SECOND-closest cell with high probability, which single-assignment
    * (the one recall leak of every IVF dedup) misses; the residual
    * per-table miss is what [[IvfTables]]-way OR-amplification drives down.
    * InvariantCheck pins the resulting UNION pair recall against the
    * brute-force pair set at sf0.1 AND sf0.01 (two Voronoi geometries).
    *
    * Scale shape: centroids are placed in their [[SeedCellProbes]] nearest
    * super-cells (k·√k dots), vectors probe [[VecCellProbes]] super-cells
    * (n·√k dots against the O(√n) broadcast), and the fine scoring is a
    * hash equi-join on the super-cell id carrying ~n·2·√k candidate rows —
    * assignment is O(n·√k) end to end with no broadcast side ∝ n,
    * replacing the round-7 flat argmax (n·k = n²/16 dots, O(n)-row
    * broadcast). */
  private def tableAssignments(vs: DataFrame, t: Int,
      nprobe: Int): DataFrame = {
    // cut (localCheckpoint) the three frames the assignment REUSES —
    // supers feeds three broadcast probes, vecCell both the Lloyd round
    // and the final candidate join, cents both its super-cell placement
    // and the fine scoring. Without the cuts every reuse re-executes its
    // whole upstream quantizer per reference, ×8 tables (measured: the
    // full near-dup query dropped ~2.5× when these landed). All three are
    // deterministic and tiny (O(√n) supers, 2 ids/vector, k≈n/16
    // centroids), so the cuts are behavior-preserving and cheap to hold.
    val supers = graft.PlanProbe.cut(supersOf(vs, t))
    // one super-cell probe per table, shared by the Lloyd round and the
    // final assignment (its result is deterministic, so reuse is free)
    val vecCell = graft.PlanProbe.cut(
      superCells(vs, supers, "vec_id", "v", VecCellProbes))
    val cents = graft.PlanProbe.cut(adaptiveCentroids(vs, supers, vecCell, t))
    val centCell = superCells(cents, supers, "c_id", "cv", SeedCellProbes)
    // Centroids are multi-assigned to their 4 nearest super-cells (the
    // super-boundary twin of the fine nprobe=2): a vector whose probed
    // cells miss its true nearest centroid's PRIMARY cell still finds it
    // through the centroid's other cells. The asymmetry is deliberate —
    // an extra cell on the CENTROID side costs k·√k extra dots, an extra
    // probe on the vector side costs n·(k/S); recall per dot is far higher
    // on the centroid side. The cell overlap can emit a (vec, centroid)
    // candidate several times — distinct() before the fine ranking so
    // `pr` counts DISTINCT buckets (a duplicate would silently burn the
    // second probe slot).
    val cand = vecCell.join(centCell, Seq("s_id"))
      .select(col("vec_id"), col("c_id")).distinct()
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("score").desc, col("c_id"))
    cand
      .join(vs.select(col("vec_id"), col("v")), Seq("vec_id"))
      .join(cents, Seq("c_id"))
      .withColumn("score", round(dot(col("v"), col("cv")), 6))
      .withColumn("pr", row_number().over(w))
      .filter(col("pr") <= nprobe)
      .select(lit(t).cast("long").as("tbl"), col("vec_id"),
        col("c_id").as("bucket"), col("pr"))
  }

  /** All [[IvfTables]] tables' assignments: `(tbl, vec_id, bucket, pr)` —
    * each vector lands in its `nprobe` closest cells of EVERY table
    * (`pr` = 1 is the table's primary/reporting cell). */
  private[graft] def ivfAssignments(s: SparkSession, d: String,
      nprobe: Int = IvfNprobe): DataFrame = {
    // one materialization of the (tiny) normalized vector frame shared by
    // all 8 tables' pipelines — each table references it ~6 times
    val vs = graft.PlanProbe.cut(vectors(s, d))
    // The 8 tables are INDEPENDENT, but their lineage cuts are eager
    // mini-jobs — built sequentially they serialize 8 × 3 materializations
    // on the driver. Build them on concurrent driver threads (the standard
    // Spark pattern for independent subjobs; the scheduler interleaves
    // their stages across the executor cores) and await IN ORDER, so the
    // union — and every result — is bit-identical to the sequential build.
    // Plan-only mode stays on the calling thread: PlanProbe.planOnly is a
    // DynamicVariable (InheritableThreadLocal), whose value reaches a pool
    // thread only if that thread happens to be CREATED inside the withValue
    // scope — an unreliable contract in either direction — so the sweep
    // path must not depend on what the pool's threads see; sequential on
    // the caller, the cuts are identity and there is nothing to
    // parallelize anyway.
    val tables =
      if (graft.PlanProbe.planOnly.value)
        (0 until IvfTables).map(tableAssignments(vs, _, nprobe))
      else {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        (0 until IvfTables)
          // re-pin the CALLING thread's mode (false — we are in the else
          // branch) inside each future: a global-EC worker created inside
          // some other withValue(true) scope would otherwise inherit
          // planOnly=true and silently turn the lineage cuts into identity
          .map(t => Future(graft.PlanProbe.planOnly.withValue(false) {
            tableAssignments(vs, t, nprobe)
          }))
          .map(Await.result(_, scala.concurrent.duration.Duration.Inf))
      }
    tables.reduce(_ union _)
  }

  /** Persist the [[IvfTables]]-way multi-probe assignment index for
    * [[ivfCosinePairs]]: the 8 quantizer tables are by far the dominant
    * sweep cost (supers → Lloyd round → fine scoring per table), and their
    * output is just `(tbl, vec_id, bucket, pr)` — 16 integer-ish rows per
    * vector. A standing corpus builds this ONCE; every near-dup sweep,
    * semantic-dedup pass, or re-threshold then reads the tiny assignment
    * zone and pays only the within-cell pair join + exact verification —
    * the same build-once/query-many discipline [[buildIvfIndex]] proves
    * for search. All integer columns, so the parquet round-trip is exact
    * and a persisted-path sweep is bit-identical to the computed path
    * (CutPolicySpec + the oracle gate pin equality). */
  def buildNearDupIndex(s: SparkSession, d: String, indexDir: String): Unit = {
    val asg = new org.apache.hadoop.fs.Path(s"$indexDir/assignments")
    ivfAssignments(s, d).write.mode("overwrite").parquet(asg.toString)
    // job-level commit sidecar for deployments with _SUCCESS markers off
    graft.sources.SourceOps.markCommitted(
      asg.getFileSystem(s.sparkContext.hadoopConfiguration), asg)
  }

  /** Per-JVM memo of built near-dup indexes, keyed by corpus dir PLUS a
    * file-metadata fingerprint of its embeddings table (names, lengths,
    * mtimes): the gate queries route through this so one Verify/Bench
    * session pays the 8-table quantizer cost once and every later sweep
    * (including `q_semantic_dedup`, which consumes the same pair set)
    * reuses the persisted assignments. The fingerprint makes a
    * REGENERATED corpus at the same path rebuild instead of being served
    * stale assignments — within a JVM as well as across JVMs. */
  private val nearDupIndexMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  /** Test hook: forget per-JVM memoized index locations (the resolver
    * must then rediscover — not rebuild — a committed zone). */
  private[graft] def resetNearDupIndexMemo(): Unit = nearDupIndexMemo.clear()

  /** Test seam: runs between a zone build and its publish rename, where a
    * racing driver's publish can land. Production no-op; the spec injects a
    * winner here to pin the lost-race recovery deterministically (the
    * window is otherwise unreachable from a test). */
  private[graft] var publishRaceHook: () => Unit = () => ()

  /** File-metadata fingerprint of the corpus' embeddings table, resolved
    * through the Hadoop FileSystem API so it is meaningful on WHATEVER
    * filesystem the path's scheme names (HDFS/S3A/local) — a `java.io.File`
    * probe on an object-store corpus would return a degenerate constant and
    * the memo could serve a stale index after corpus regeneration. The
    * listing is null-guarded (`listStatus` contracts allow null / throw on
    * IO errors depending on the FS); an unreadable corpus fingerprints as
    * `absent`, so the subsequent build fails loudly at the scan instead of
    * NPE-ing here — and the resolver treats `absent` as NON-memoizable
    * (below), so an IO hiccup can never key a shared zone that a different
    * corpus' hiccup would then collide with. The digest
    * is MD5 over the corpus PATH plus the listing (not a 32-bit hashCode):
    * two corpora sharing one index dir can't collide on coincidental file
    * metadata, and the collision space is cryptographic, not 2^32. */
  private[graft] def corpusFingerprint(s: SparkSession, d: String): String = {
    val root = new org.apache.hadoop.fs.Path(s"$d/embeddings.parquet")
    try {
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      val st = fs.getFileStatus(root)
      val files =
        if (st.isDirectory) {
          val ls = fs.listStatus(root)
          if (ls == null) Array.empty[org.apache.hadoop.fs.FileStatus]
          else ls.sortBy(_.getPath.getName)
        } else Array(st)
      val listing = files.map(f =>
          s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}")
        .mkString("|")
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"$d\n$listing".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.take(16)
    } catch { case _: java.io.IOException => "absent" }
  }

  /** Zone base used when `spark.graft.nearDupIndexDir` is unset: one temp
    * directory per JVM, so sandbox runs publish through the same
    * build-aside/rename/manifest path as a configured base. */
  private[graft] lazy val nearDupTempBase: String =
    java.nio.file.Files.createTempDirectory("graft_ndidx_").toString

  /** Resolve (building if needed) the standing assignment index for corpus
    * `d`: the zone `<base>/nd_<fingerprint>`, where `base` is
    * `spark.graft.nearDupIndexDir` (a durable location shared across
    * JVMs/sessions, on whatever FS it names) or else [[nearDupTempBase]].
    * A committed zone ([[graft.sources.SourceOps.committedDir]] on its
    * `assignments` subdir) is REUSED without rebuilding, so a new driver
    * pays zero quantizer cost against an already-indexed corpus; a
    * regenerated corpus changes the fingerprint and lands in a fresh zone
    * (NearDupIndexSpec pins both behaviors).
    *
    * The memo key carries the fingerprint AND the base, so within a JVM a
    * regenerated corpus triggers rebuild rather than stale reuse — and
    * flipping `spark.graft.nearDupIndexDir` mid-session re-resolves under
    * the new base instead of serving the old base's cached location.
    *
    * Concurrency: within a JVM `computeIfAbsent` serializes builders.
    * ACROSS drivers a zone is published by building into a throwaway
    * sibling (`.build_nd_<fp>_<uuid>`) and renaming it onto the final path
    * ([[publishDurableZone]] — atomic on HDFS and local FS, and robust to
    * BOTH race outcomes of Hadoop's rename contract; on object stores whose
    * rename is copy-based the publish is not atomic — pair the conf with
    * an HDFS-compatible index location there). An `absent` fingerprint
    * (unreadable corpus at fingerprint time) resolves to None and the
    * caller COMPUTES the pairs directly — same rows (the oracle pins the
    * two routes equal), nothing persisted or memoized: a shared
    * `nd_absent` zone would be served across DIFFERENT corpora whose
    * listings ever hiccup, and a memoized `$d@absent` entry could outlive a
    * corpus regeneration. */
  private[graft] def nearDupIndexFor(s: SparkSession,
      d: String): Option[String] =
    resolveNearDupIndex(s, d, corpusFingerprint(s, d))

  /** [[nearDupIndexFor]] with the fingerprint factored out — the seam the
    * spec uses to drive the `absent` contract without having to induce a
    * real listing IOException on a readable corpus. */
  private[graft] def resolveNearDupIndex(s: SparkSession, d: String,
      fp: String): Option[String] =
    if (fp == "absent") None // compute-direct: never keyed, never persisted
    else {
      val base = s.conf.getOption("spark.graft.nearDupIndexDir")
        .getOrElse(nearDupTempBase)
      Some(nearDupIndexMemo.computeIfAbsent(s"$d@$fp@$base",
        _ => publishDurableZone(s, d, fp, base)))
    }

  /** Build-and-publish one zone at `<base>/nd_<fp>`, returning its
    * path. A committed zone is adopted without building. Publication is a
    * rename of a fully-built sibling, but the OUTCOME is re-probed rather
    * than inferred from rename's return value: when the destination
    * already exists (a racing driver published first), HDFS and the local
    * FS move the source INTO the existing directory and return TRUE — a
    * "failed publish" that doesn't look like one. So after the rename this
    * deletes any build of ours deposited inside the final zone, deletes
    * the sibling if it still exists (the rename-returned-false shape), and
    * then requires a committed zone to stand — whoever built it.
    *
    * Known residual window, accepted: between the torn-zone re-probe and
    * its delete, a racer's atomic publish can land and be deleted with the
    * torn debris — microseconds wide, self-healing (this builder then
    * publishes the SAME bit-deterministic content), and loud-transient
    * only for a third JVM that adopted the racer's path in that gap.
    * Closing it would need a lock service the deployment may not have;
    * the determinism of the build is what makes the window benign. */
  private def publishDurableZone(s: SparkSession, d: String, fp: String,
      base: String): String = {
    val conf = s.sparkContext.hadoopConfiguration
    val finalPath = new org.apache.hadoop.fs.Path(s"$base/nd_$fp")
    val fs = finalPath.getFileSystem(conf)
    def committed = graft.sources.SourceOps.committedDir(fs,
      new org.apache.hadoop.fs.Path(finalPath, "assignments"))
    if (!committed) {
      val tmp = new org.apache.hadoop.fs.Path(
        s"$base/.build_nd_${fp}_${java.util.UUID.randomUUID}")
      buildNearDupIndex(s, d, tmp.toString)
      writeZoneManifest(fs, tmp, d, fp)
      publishRaceHook() // test seam: a racing winner can publish here
      // clear a torn zone (a crashed previous builder), then publish
      if (fs.exists(finalPath) && !committed) fs.delete(finalPath, true)
      fs.mkdirs(finalPath.getParent)
      fs.rename(tmp, finalPath)
      val deposited = new org.apache.hadoop.fs.Path(finalPath, tmp.getName)
      if (fs.exists(deposited)) fs.delete(deposited, true) // lost the race
      if (fs.exists(tmp)) fs.delete(tmp, true) // rename returned false
      if (!committed) throw new IllegalStateException(
        s"could not publish near-dup index to $finalPath and no " +
          "committed zone exists there")
    }
    finalPath.toString
  }

  /** Tiny driver-side provenance record inside each zone: which
    * corpus (path) at which fingerprint built it, and when. Read back by
    * [[pruneNearDupZones]] to PROVE a zone stale before deleting it. */
  private def writeZoneManifest(fs: org.apache.hadoop.fs.FileSystem,
      zone: org.apache.hadoop.fs.Path, corpus: String, fp: String): Unit = {
    def j(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
    val out = fs.create(
      new org.apache.hadoop.fs.Path(zone, "corpus.json"), true)
    try out.write((s"""{"corpus":"${j(corpus)}","fingerprint":"$fp"""" +
      s""","built_at_ms":${System.currentTimeMillis}}""").getBytes("UTF-8"))
    finally out.close() // close even on a failed write — no leaked stream
  }

  private def readZoneManifest(fs: org.apache.hadoop.fs.FileSystem,
      zone: org.apache.hadoop.fs.Path): Option[(String, String)] = try {
    val in = fs.open(new org.apache.hadoop.fs.Path(zone, "corpus.json"))
    val buf = new java.io.ByteArrayOutputStream()
    try {
      val chunk = new Array[Byte](4096)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
    } finally in.close() // a mid-read IO error must not leak the stream
    val raw = buf.toString("UTF-8")
    val field = "\"(corpus|fingerprint)\":\"((?:[^\"\\\\]|\\\\.)*)\"".r
    val m = field.findAllMatchIn(raw).map(x => x.group(1) ->
      x.group(2).replace("\\\"", "\"").replace("\\\\", "\\")).toMap
    for (c <- m.get("corpus"); f <- m.get("fingerprint")) yield (c, f)
  } catch { case _: java.io.IOException => None }

  /** Garbage-collect the shared near-dup index dir: every corpus
    * regeneration strands its previous `nd_<fp>` zone (assignments are a
    * few ints per corpus row — tens of GB at production scale), and a
    * crashed builder strands a `.build_nd_*` sibling. Deletion is
    * staleness-PROVEN, never heuristic:
    *
    *  - a committed zone is deleted only when its manifest's corpus
    *    re-fingerprints to a DIFFERENT real digest (regenerated) or the
    *    corpus path no longer exists (`FileNotFoundException`, distinct
    *    from transient IO errors — those keep the zone);
    *  - an uncommitted `nd_*` zone is torn debris (publishes are atomic
    *    renames of committed builds) and is deleted;
    *  - a committed zone with no readable manifest can't be proven stale
    *    and is KEPT;
    *  - `.build_nd_*` dirs older than `staleBuildMs` (default 24 h) are
    *    crashed builders and are deleted; younger ones may be in flight.
    *
    * Returns (zoneName → action) for ops logging; actions are `kept`,
    * `deleted_regenerated`, `deleted_corpus_gone`, `deleted_torn`,
    * `deleted_stale_build`. */
  def pruneNearDupZones(s: SparkSession, base: String,
      staleBuildMs: Long = 24L * 3600 * 1000): Seq[(String, String)] = {
    val conf = s.sparkContext.hadoopConfiguration
    val basePath = new org.apache.hadoop.fs.Path(base)
    val fs = basePath.getFileSystem(conf)
    val entries =
      try fs.listStatus(basePath)
      catch { case _: java.io.FileNotFoundException =>
        Array.empty[org.apache.hadoop.fs.FileStatus] }
    val now = System.currentTimeMillis
    (if (entries == null) Nil else entries.toSeq).flatMap { st =>
      val name = st.getPath.getName
      def drop(action: String): (String, String) = {
        fs.delete(st.getPath, true); name -> action
      }
      // A directory's own mtime FREEZES once its direct children exist (a
      // long parquet write only touches grandchildren under
      // assignments/_temporary), so "age" must be the NEWEST mtime within
      // two levels — otherwise any build outliving staleBuildMs is deleted
      // MID-WRITE and a build that always exceeds the threshold livelocks.
      def newestMtime(p: org.apache.hadoop.fs.Path, depth: Int): Long = {
        val self = try fs.getFileStatus(p).getModificationTime
          catch { case _: java.io.IOException => 0L }
        if (depth == 0) self
        else {
          val kids = try fs.listStatus(p)
            catch { case _: java.io.IOException =>
              Array.empty[org.apache.hadoop.fs.FileStatus] }
          (if (kids == null) Array.empty[org.apache.hadoop.fs.FileStatus]
           else kids).foldLeft(self)((m, k) =>
            math.max(m, if (k.isDirectory) newestMtime(k.getPath, depth - 1)
              else k.getModificationTime))
        }
      }
      if (name.startsWith(".build_nd_")) {
        if (now - newestMtime(st.getPath, 2) > staleBuildMs)
          Seq(drop("deleted_stale_build"))
        else Seq(name -> "kept")
      } else if (name.startsWith("nd_")) {
        val committed = graft.sources.SourceOps.committedDir(fs,
          new org.apache.hadoop.fs.Path(st.getPath, "assignments"))
        if (!committed) Seq(drop("deleted_torn"))
        else {
          // a loser that crashed between its deposited-inside rename and
          // its own cleanup (publishDurableZone) leaves `.build_nd_*`
          // debris INSIDE the committed zone — the one place the
          // top-level scan can't see. The shallow dir mtime suffices
          // here (unlike top-level builds, which need newestMtime to
          // depth 2): deposited debris is a COMPLETE build whose last
          // write was the rename that set this mtime — nothing inside
          // it can still be progressing, so no deeper probe is needed.
          val inner =
            try fs.listStatus(st.getPath)
            catch { case _: java.io.IOException =>
              Array.empty[org.apache.hadoop.fs.FileStatus] }
          val debris = (if (inner == null) Nil else inner.toSeq)
            .filter(c => c.getPath.getName.startsWith(".build_nd_") &&
              now - c.getModificationTime > staleBuildMs)
            .map { c =>
              fs.delete(c.getPath, true)
              s"$name/${c.getPath.getName}" -> "deleted_stale_build"
            }
          debris ++ (readZoneManifest(fs, st.getPath) match {
            case None => Seq(name -> "kept") // unprovable — conservative
            case Some((corpus, fp)) =>
              corpusFingerprint(s, corpus) match {
                case f if f == fp => Seq(name -> "kept")
                case f if f != "absent" => Seq(drop("deleted_regenerated"))
                case _ =>
                  // "absent" folds ALL IOExceptions together; re-probe
                  // existence to tell corpus-gone (prunable) from a
                  // transient listing error (keep — never delete on doubt)
                  val gone = try {
                    val cp = new org.apache.hadoop.fs.Path(
                      s"$corpus/embeddings.parquet")
                    !cp.getFileSystem(conf).exists(cp)
                  } catch { case _: java.io.IOException => false }
                  if (gone) Seq(drop("deleted_corpus_gone"))
                  else Seq(name -> "kept")
              }
          })
        }
      } else Nil // foreign files in the index dir are not ours to touch
    }
  }

  /** Full-corpus embedding near-dup — the UNSAMPLED scale path
    * (`q_embed_neardup` bounds its work with a sampled broadcast probe
    * slice; this variant covers the whole corpus): every vector is
    * IVF-assigned to its `nprobe`=2 nearest cells of EACH of the
    * [[IvfTables]] independent SCALE-ADAPTIVE quantizers
    * (k = ~n/[[IvfTargetBucket]] per table, so cells hold ~targetBucket
    * vectors at ANY corpus size), candidate pairs exist only within a
    * shared (table, cell), and exact cosine ≥ 0.35 verifies candidates.
    * Work is Σ bucket² ≈ T·n·targetBucket·nprobe² — LINEAR in the corpus,
    * the same shape (and the same OR-amplified table union) as the
    * MinHash-LSH band join — and the cell self-join is a hash equi-join
    * carrying only (tbl, bucket, vec_id) rows; vectors are re-joined for
    * verification AFTER the pair set is deduped across tables, so the wide
    * rows never ride the candidate shuffle. The reported `bucket` is the
    * minimum composite `tbl·2³² + c_id` key among the cells that produced
    * the pair.
    *
    * `indexDir`: a zone written by [[buildNearDupIndex]] — the sweep reads
    * the persisted assignments instead of rebuilding the quantizers
    * (amortized standing-corpus mode). `None` computes them fresh. */
  private[graft] def ivfCosinePairs(s: SparkSession, d: String,
      indexDir: Option[String] = None): DataFrame = {
    val vs = vectors(s, d)
    val asg = indexDir
      .map(ix => graft.sources.SourceOps.readParquet(s, s"$ix/assignments"))
      .getOrElse(ivfAssignments(s, d))
      .withColumn("bkey", col("tbl") * BucketKeyBase + col("bucket"))
    val cand = asg
      .select(col("tbl"), col("bucket"), col("bkey"), col("vec_id").as("id_a"))
      .join(asg.select(col("tbl"), col("bucket"), col("vec_id").as("id_b")),
        Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("bkey")).as("bucket"))
    cand
      .join(vs.select(col("vec_id").as("id_a"), col("v").as("va"),
        col("nrm").as("na")), Seq("id_a"))
      .join(vs.select(col("vec_id").as("id_b"), col("v").as("vb"),
        col("nrm").as("nb")), Seq("id_b"))
      .withColumn("cos",
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= 0.35)
      .select(col("bucket"), col("id_a"), col("id_b"), col("cos"))
  }

  /** One table's DuckDB CTE chain (names suffixed `_$t`, salts matching
    * [[seedsOf]]/[[supersOf]]'s per-table salts), ending in
    * `asg_$t(vec_id, bucket)`. */
  private def tableCtes(t: Int): String = {
    val seedPred = graft.text.TextOps
      .hash32Sql(s"'ivfseed:$t:' || CAST(vec_id AS VARCHAR)")
    val superPred = graft.text.TextOps
      .hash32Sql(s"'ivfsuper:$t:' || CAST(seed_id AS VARCHAR)")
    s"""seeds_$t AS (
       |  SELECT vec_id AS seed_id, v AS sv FROM n
       |  WHERE $seedPred % $IvfTargetBucket = 0
       |),
       |sstat_$t AS (
       |  SELECT greatest(1, CAST(floor(sqrt((SELECT count(*) FROM n)) / 2.0)
       |                          AS BIGINT)) AS m2,
       |         (SELECT min(seed_id) FROM seeds_$t) AS min_seed
       |),
       |supers_$t AS (
       |  SELECT seed_id AS s_id, sv AS suv FROM seeds_$t, sstat_$t
       |  WHERE $superPred % m2 = 0 OR seed_id = min_seed
       |),
       |seed_cell_$t AS (
       |  SELECT seed_id, s_id FROM (
       |    SELECT se.seed_id, su.s_id,
       |           round(${dotSql("se.sv", "su.suv")}, 6) AS sscore
       |    FROM seeds_$t se CROSS JOIN supers_$t su
       |  )
       |  QUALIFY row_number() OVER (PARTITION BY seed_id
       |                             ORDER BY sscore DESC, s_id ASC)
       |          <= $SeedCellProbes
       |),
       |vec_cell_$t AS (
       |  SELECT vec_id, s_id FROM (
       |    SELECT n.vec_id, su.s_id,
       |           round(${dotSql("n.v", "su.suv")}, 6) AS sscore
       |    FROM n CROSS JOIN supers_$t su
       |  )
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY sscore DESC, s_id ASC)
       |          <= $VecCellProbes
       |),
       |a1_$t AS (
       |  SELECT vec_id, seed_id AS c0 FROM (
       |    SELECT vc.vec_id, sc.seed_id,
       |           round(${dotSql("nv.v", "se.sv")}, 6) AS score
       |    FROM vec_cell_$t vc
       |    JOIN n nv ON nv.vec_id = vc.vec_id
       |    JOIN seed_cell_$t sc ON sc.s_id = vc.s_id
       |    JOIN seeds_$t se ON se.seed_id = sc.seed_id
       |  )
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY score DESC, seed_id ASC) = 1
       |),
       |cdim_$t AS (
       |  SELECT a1_$t.c0, i AS pos,
       |         sum(CAST(floor(n.v[i] * 1e6) AS BIGINT)) / 1e6 / count(*) AS cx
       |  FROM a1_$t JOIN n USING (vec_id),
       |       unnest(generate_series(1, len(n.v))) AS t(i)
       |  GROUP BY a1_$t.c0, i
       |),
       |cents2_$t AS (
       |  SELECT c0 AS c_id, list(cx ORDER BY pos) AS cv
       |  FROM cdim_$t GROUP BY c0
       |),
       |cent_cell_$t AS (
       |  SELECT c_id, s_id FROM (
       |    SELECT c.c_id, su.s_id,
       |           round(${dotSql("c.cv", "su.suv")}, 6) AS sscore
       |    FROM cents2_$t c CROSS JOIN supers_$t su
       |  )
       |  QUALIFY row_number() OVER (PARTITION BY c_id
       |                             ORDER BY sscore DESC, s_id ASC)
       |          <= $SeedCellProbes
       |),
       |asg_$t AS (
       |  SELECT vec_id, c_id AS bucket FROM (
       |    SELECT cd.vec_id, cd.c_id,
       |           round(${dotSql("nv.v", "c2.cv")}, 6) AS score
       |    FROM (SELECT DISTINCT vc.vec_id, cc.c_id
       |          FROM vec_cell_$t vc
       |          JOIN cent_cell_$t cc ON cc.s_id = vc.s_id) cd
       |    JOIN n nv ON nv.vec_id = cd.vec_id
       |    JOIN cents2_$t c2 ON c2.c_id = cd.c_id
       |  )
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY score DESC, c_id ASC)
       |          <= $IvfNprobe
       |)""".stripMargin
  }

  /** DuckDB twin of [[adaptiveCentroids]] + [[ivfAssignments]] +
    * [[ivfCosinePairs]] across all [[IvfTables]] tables, ending in
    * `ivf_pairs(bucket, id_a, id_b, cos)` where `bucket` is the composite
    * `tbl·2³² + c_id` key. Compose after the `n` CTE of [[vectorsCte]]. */
  private lazy val ivfPairCtes: String = {
    val tables = (0 until IvfTables).map(tableCtes).mkString(",\n")
    val unionAsg = (0 until IvfTables).map { t =>
      s"""  SELECT x.vec_id AS id_a, y.vec_id AS id_b,
         |         $t * $BucketKeyBase + x.bucket AS bkey
         |  FROM asg_$t x
         |  JOIN asg_$t y ON x.bucket = y.bucket AND x.vec_id < y.vec_id""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""$tables,
       |cand AS (
       |  SELECT id_a, id_b, min(bkey) AS bucket FROM (
       |$unionAsg
       |  )
       |  GROUP BY id_a, id_b
       |),
       |ivf_pairs AS (
       |  SELECT c.bucket, c.id_a, c.id_b,
       |         round(${dotSql("va.v", "vb.v")} / (va.nrm * vb.nrm), 6) AS cos
       |  FROM cand c
       |  JOIN n va ON va.vec_id = c.id_a
       |  JOIN n vb ON vb.vec_id = c.id_b
       |  WHERE round(${dotSql("va.v", "vb.v")} / (va.nrm * vb.nrm), 6) >= 0.35
       |)""".stripMargin
  }

  /** TOOL ONLY (InvariantCheck's recall floor): the exact full-corpus
    * near-dup pair set via the O(n²) self-join the IVF path exists to avoid
    * — the measuring stick for [[ivfCosinePairs]]' recall, never part of a
    * production plan or a registered query. */
  private[graft] def bruteForcePairs(s: SparkSession, d: String): DataFrame = {
    val vs = vectors(s, d)
    val a = vs.select(col("vec_id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"))
    val b = vs.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"))
    a.crossJoin(broadcast(b)).filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .filter(col("cos") >= 0.35)
      .select(col("id_a"), col("id_b"))
  }

  /** Execution route for the two gate queries: persisted-assignment reuse
    * (first invocation in a JVM builds the index, later sweeps amortize
    * it — the oracle compares the SAME pair algebra either way). In
    * PLAN-ONLY mode the computed path is kept instead: building the index
    * is an eager job (which the plan sweep must not pay), and a parquet
    * scan of assignments would hide the whole quantizer pipeline from the
    * registry-wide plan guard. */
  private def gatePairs(s: SparkSession, d: String): DataFrame =
    // None index (unreadable-at-fingerprint corpus) computes directly —
    // same pairs, just unamortized; a truly-gone corpus fails at the scan
    if (graft.PlanProbe.planOnly.value) ivfCosinePairs(s, d)
    else ivfCosinePairs(s, d, nearDupIndexFor(s, d))

  /** Shared oracle for both near-dup sweep routes (computed, persisted):
    * the pair ALGEBRA is identical, only the assignment source differs, so
    * one DuckDB query gates both. */
  private lazy val nearDupOracle: String =
    s"""WITH $vectorsCte,
       |$ivfPairCtes
       |SELECT bucket, id_a, id_b, cos FROM ivf_pairs
       |ORDER BY cos DESC, id_a, id_b
       |LIMIT 100""".stripMargin

  private val qNearDupIvf = Q(
    "q_embed_neardup_ivf",
    (s, d) => gatePairs(s, d)
      .orderBy(col("cos").desc, col("id_a"), col("id_b"))
      .limit(100),
    Some(nearDupOracle))

  /** The index-free sweep (assignments computed in-plan, the route
    * plan-only mode and an `absent` fingerprint take) under the shared
    * near-dup oracle. The name is kept for registry continuity. */
  private val qNearDupIvfBucketed = Q(
    "q_embed_neardup_ivf_bucketed",
    (s, d) => ivfCosinePairs(s, d)
      .orderBy(col("cos").desc, col("id_a"), col("id_b"))
      .limit(100),
    Some(nearDupOracle))

  /** SemDeDup-style semantic dedup END-TO-END: the IVF within-bucket cosine
    * pairs become edges of a similarity graph, duplicate CLUSTERS are
    * resolved with the same distributed connected-components loop the text
    * pipeline uses ([[graft.text.CorpusOps.connectedComponents]] — min-label
    * + pointer jumping, per-round checkpoints), and the keep-min policy
    * flags one survivor per cluster. This is the embedding twin of
    * `q_dup_clusters`: transitive near-dups (A~B, B~C) collapse to one
    * cluster even though A and C never shared a bucket pair, which pairwise
    * reporting alone cannot do. Value-gated per vector by a recursive-CTE
    * min-reachable-id oracle over the identical pair set. */
  private val qSemanticDedup = Q(
    "q_semantic_dedup",
    (s, d) => {
      val pairs = gatePairs(s, d)
      val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      val verts = vectors(s, d).select(col("vec_id").as("doc_id"))
      graft.text.CorpusOps.connectedComponents(verts, edges)
        .select(col("doc_id").as("vec_id"), col("label").as("cluster"))
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("cluster"))))
        .withColumn("keep", col("vec_id") === col("cluster"))
        .orderBy(col("vec_id"))
    },
    Some(
      s"""WITH RECURSIVE $vectorsCte,
         |$ivfPairCtes,
         |edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM ivf_pairs
         |  UNION ALL SELECT id_b, id_a FROM ivf_pairs
         |),
         |reach AS (
         |  SELECT vec_id AS doc, vec_id AS r FROM embeddings
         |  UNION
         |  SELECT reach.doc, e.dst FROM reach JOIN edges e ON e.src = reach.r
         |),
         |cc AS (SELECT doc, min(r) AS cluster FROM reach GROUP BY doc)
         |SELECT doc AS vec_id, cluster,
         |       count(*) OVER (PARTITION BY cluster) AS cluster_size,
         |       doc = cluster AS keep
         |FROM cc ORDER BY vec_id""".stripMargin))

  /** Sign-LSH bucketing on the first 4 dimensions: bucket populations and the
    * candidate-pair count the bucketed join would examine (Σ n·(n-1)/2 vs the
    * brute-force n²/2). */
  private val qLshBuckets = Q(
    "q_embed_lsh_buckets",
    (s, d) => {
      val sign: Int => Column = i =>
        when(element_at(col("v"), i) > 0.0, lit("1")).otherwise(lit("0"))
      vectors(s, d)
        .withColumn("bucket", concat(sign(1), sign(2), sign(3), sign(4)))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_vecs"))
        .withColumn("candidate_pairs",
          (col("n_vecs") * (col("n_vecs") - 1) / 2).cast("long"))
        .orderBy(col("bucket"))
    },
    Some(
      s"""WITH $vectorsCte
         |SELECT bucket, count(*) AS n_vecs,
         |       CAST(count(*) * (count(*) - 1) / 2 AS BIGINT) AS candidate_pairs
         |FROM (
         |  SELECT (CASE WHEN v[1] > 0.0 THEN '1' ELSE '0' END
         |       || CASE WHEN v[2] > 0.0 THEN '1' ELSE '0' END
         |       || CASE WHEN v[3] > 0.0 THEN '1' ELSE '0' END
         |       || CASE WHEN v[4] > 0.0 THEN '1' ELSE '0' END) AS bucket
         |  FROM n
         |)
         |GROUP BY bucket ORDER BY bucket""".stripMargin))

  /** Quantized per-label centroids: per (label, dim), exact integer sum of
    * floor(x·1e6) divided back out — order-independent, hence identical under
    * any shuffle schedule. */
  private val qCentroids = Q(
    "q_embed_centroids",
    (s, d) => vectors(s, d)
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("label"), (col("pos") + 1).cast("long").as("dim"))
      .agg(sum(floor(col("x") * 1e6).cast("long")).as("sum_micro"),
        count(lit(1)).as("n"))
      // no rounding: sum_micro is an exact integer, and the two IEEE
      // divisions are bit-deterministic in any engine — rounding would
      // REINTRODUCE engine skew at exact midpoints (HALF_UP vs half-even)
      .withColumn("centroid", col("sum_micro") / 1e6 / col("n"))
      .orderBy(col("label"), col("dim")),
    Some(
      s"""WITH $vectorsCte,
         |expanded AS (
         |  SELECT label, i AS dim, v[i] AS x
         |  FROM n, unnest(generate_series(1, len(v))) AS t(i)
         |)
         |SELECT label, dim,
         |       CAST(sum(CAST(floor(x * 1e6) AS BIGINT)) AS BIGINT) AS sum_micro,
         |       count(*) AS n,
         |       sum(CAST(floor(x * 1e6) AS BIGINT)) / 1e6 / count(*) AS centroid
         |FROM expanded
         |GROUP BY label, dim
         |ORDER BY label, dim""".stripMargin))

  /** Quantized per-label centroids as one row per centroid with the vector
    * re-assembled in dimension order — the codebook of every IVF stage. */
  private def centroidVectors(vs: DataFrame): DataFrame =
    quantizedCentroids(
      vs.select(col("label").as("c_label"), col("v")), "c_label")

  /** IVF coarse pass: assign every vector to its nearest (dot-product)
    * quantized label-centroid — the 10-entry codebook scored row-locally,
    * argmax with deterministic tiebreak — and report the assignment×label
    * confusion counts. At scale this is the probe-list builder: follow-up
    * exact search touches only the assigned partition. */
  private val qIvfAssign = Q(
    "q_embed_ivf_assign",
    (s, d) => {
      val vs = withCodebook(vectors(s, d))
      vs.select(col("label"), nearestCode(col("v"), col("cb")).as("assigned"))
        .groupBy(col("label"), col("assigned"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("label"), col("assigned"))
    },
    Some(
      s"""WITH $vectorsCte,
         |expanded AS (
         |  SELECT label AS c_label, i AS pos, v[i] AS x
         |  FROM n, unnest(generate_series(1, len(v))) AS t(i)
         |),
         |cent_dims AS (
         |  SELECT c_label, pos,
         |         sum(CAST(floor(x * 1e6) AS BIGINT)) / 1e6 / count(*) AS cx
         |  FROM expanded GROUP BY c_label, pos
         |),
         |cents AS (
         |  SELECT c_label, list(cx ORDER BY pos) AS cv
         |  FROM cent_dims GROUP BY c_label
         |),
         |scored AS (
         |  SELECT n.vec_id, n.label, c.c_label,
         |         round(${dotSql("n.v", "c.cv")}, 6) AS score
         |  FROM n CROSS JOIN cents c
         |),
         |assigned AS (
         |  SELECT vec_id, label, c_label AS assigned FROM scored
         |  QUALIFY row_number() OVER (PARTITION BY vec_id
         |                             ORDER BY score DESC, c_label ASC) = 1
         |)
         |SELECT label, assigned, count(*) AS n
         |FROM assigned GROUP BY label, assigned
         |ORDER BY label, assigned""".stripMargin))

  // ---- IVF end-to-end search (probe → bucket scan → top-k) ----

  /** One codebook entry: a centroid's label and its quantized vector. */
  private case class Code(c_label: Int, cv: Seq[Double])

  /** The codebook as a column `cb: array<struct<c_label, cv>>`, computed
    * from `vs` itself as a scalar subquery, so building the frame runs no
    * job. (The subquery is projected into a column before any lambda uses
    * it: Spark does not resolve a scalar subquery inside a lambda.) */
  private def withCodebook(vs: DataFrame): DataFrame =
    vs.withColumn("cb", centroidVectors(vs)
      .agg(collect_list(struct(col("c_label"), col("cv")))).scalar())

  /** Collected codebooks of persisted indexes, keyed on the centroids path
    * and held with the leaf-file listing they were collected from — the
    * [[graft.sources.SourceOps.readParquet]] rule: an unchanged listing
    * names the same bytes. */
  private val codebookMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (graft.sources.SourceOps.Listing, Seq[Code])]()

  /** `<indexDir>/centroids` as a literal codebook column. The codebook is
    * ≤ |codebook| rows and frozen between rebuilds, so it is collected once
    * per listing and inlined into every later build, append and search
    * plan: no broadcast, no join, no job. As in `readParquet`, no job runs
    * under a lock; racing readers may both collect, and the last one wins. */
  private def persistedCodebook(s: SparkSession, indexDir: String): Column = {
    val path = s"$indexDir/centroids"
    val files = graft.sources.SourceOps.listing(s, path)
    val codes = codebookMemo.get(path) match {
      case (`files`, c) => c
      case _ =>
        val c = graft.sources.SourceOps.readParquet(s, path)
          .select(col("c_label"), col("cv")).collect()
          .map(r => Code(r.getInt(0), r.getSeq[Double](1))).toSeq
        if (files.nonEmpty) codebookMemo.put(path, (files, c))
        c
    }
    typedLit(codes)
  }

  /** Every codebook entry scored against `v`: the rounded dot, then
    * `-c_label`, so the struct order is score descending, then `c_label`
    * ascending — the ONE definition of the IVF scoring and its tiebreak,
    * shared by the in-memory search, the persisted build, the incremental
    * append and the search probes. That makes the pinned contract "an
    * appended vector lands exactly where a rebuild would put it"
    * structural rather than a convention kept in several copies. */
  private def scoredCodes(v: Column, cb: Column): Column =
    transform(cb, c => struct(round(dot(v, c.getField("cv")), 6).as("score"),
      (-c.getField("c_label")).as("neg_label"),
      c.getField("c_label").as("c_label")))

  /** The nearest codebook entry's label (row-local argmax). */
  private def nearestCode(v: Column, cb: Column): Column =
    array_max(scoredCodes(v, cb)).getField("c_label")

  /** The `nprobe` nearest codebook labels, nearest first (row-local
    * top-n over the ≤ |codebook| entries). */
  private def probedCodes(v: Column, cb: Column, nprobe: Int): Column =
    transform(slice(sort_array(scoredCodes(v, cb), asc = false), 1, nprobe),
      _.getField("c_label"))

  /** Builder shared by the search and recall gates: the complete IVF query
    * path. Every corpus vector is assigned to its nearest centroid (its
    * "bucket", an EQUI-join key); each query vector probes its `nprobe`
    * closest centroids (a row-local top-n over the codebook) and
    * exact-scores ONLY the vectors assigned to those buckets. Candidate work per query is ~ |corpus|·nprobe/|centroids|
    * instead of |corpus| — the sublinear ANN path — and the probe/bucket
    * match is a hash equi-join on the centroid id, never a nested loop over
    * the corpus. */
  private[graft] def ivfTopk(s: SparkSession, d: String, nprobe: Int, k: Int): DataFrame = {
    val vs = withCodebook(vectors(s, d))
    val corpus = vs.select(col("vec_id"), col("v"), col("nrm"),
      nearestCode(col("v"), col("cb")).as("bucket"))
    val probes = vs.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"),
        explode(probedCodes(col("v"), col("cb"), nprobe)).as("bucket"))
    val wk = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    probes.join(corpus, Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6))
      .withColumn("rk", row_number().over(wk))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id"), col("cos"), col("rk"))
  }

  /** Oracle CTEs for the IVF coarse assignment (centroids + per-vector
    * bucket) — shared by the search chain and the bucketed near-dup.
    * (lazy: referenced by queries declared ABOVE it in source order —
    * a strict val would still be null at their init time.) */
  private lazy val ivfAssignCtes: String =
    s"""expanded AS (
       |  SELECT label AS c_label, i AS pos, v[i] AS x
       |  FROM n, unnest(generate_series(1, len(v))) AS t(i)
       |),
       |cent_dims AS (
       |  SELECT c_label, pos,
       |         sum(CAST(floor(x * 1e6) AS BIGINT)) / 1e6 / count(*) AS cx
       |  FROM expanded GROUP BY c_label, pos
       |),
       |cents AS (
       |  SELECT c_label, list(cx ORDER BY pos) AS cv
       |  FROM cent_dims GROUP BY c_label
       |),
       |assigned AS (
       |  SELECT vec_id, c_label AS bucket FROM (
       |    SELECT n.vec_id, c.c_label,
       |           round(${dotSql("n.v", "c.cv")}, 6) AS score
       |    FROM n CROSS JOIN cents c
       |  )
       |  QUALIFY row_number() OVER (PARTITION BY vec_id
       |                             ORDER BY score DESC, c_label ASC) = 1
       |)""".stripMargin

  /** Shared oracle CTE chain replicating [[ivfTopk]] (nprobe=3, k=5). */
  private val ivfSqlCtes: String =
    s"""$ivfAssignCtes,
       |q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n
       |      WHERE vec_id % 100 = 0),
       |probes AS (
       |  SELECT q_id, qv, qn, c_label AS bucket FROM (
       |    SELECT q.q_id, q.qv, q.qn, c.c_label,
       |           round(${dotSql("q.qv", "c.cv")}, 6) AS qscore
       |    FROM q CROSS JOIN cents c
       |  )
       |  QUALIFY row_number() OVER (PARTITION BY q_id
       |                             ORDER BY qscore DESC, c_label ASC) <= 3
       |),
       |ivf_topk AS (
       |  SELECT q_id, vec_id, cos,
       |         CAST(row_number() OVER (PARTITION BY q_id
       |                                 ORDER BY cos DESC, vec_id) AS INT) AS rk
       |  FROM (
       |    SELECT p.q_id, c.vec_id,
       |           round(${dotSql("p.qv", "c.v")} / (p.qn * c.nrm), 6) AS cos
       |    FROM probes p
       |    JOIN (SELECT n.*, a.bucket FROM n JOIN assigned a USING (vec_id)) c
       |      ON p.bucket = c.bucket
       |    WHERE c.vec_id <> p.q_id
       |  )
       |  QUALIFY rk <= 5
       |)""".stripMargin

  /** IVF end-to-end search results (nprobe=3 of 10 centroids, top-5): the
    * whole probe → bucket-equi-join → exact-rescore path value-checked row
    * by row against DuckDB running the identical algorithm. */
  private val qIvfSearch = Q(
    "q_embed_ivf_search",
    (s, d) => ivfTopk(s, d, nprobe = 3, k = 5)
      .orderBy(col("q_id"), col("rk")),
    Some(
      s"""WITH $vectorsCte,
         |$ivfSqlCtes
         |SELECT q_id, vec_id, cos, rk FROM ivf_topk
         |ORDER BY q_id, rk""".stripMargin))

  /** Recall@5 of the IVF search against the brute-force oracle — the ANN
    * quality loop closed in-engine: both top-k sets are computed, joined,
    * and the hit fraction reported. All-integer counts and one exact IEEE
    * division keep the number bit-identical across engines. */
  private val qIvfRecall = Q(
    "q_embed_ivf_recall",
    (s, d) => {
      val vs = vectors(s, d)
      val q = vs.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qn"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("vec_id"))
      val bf = vs.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos",
          round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("q_id"), col("vec_id"))
      val ivf = ivfTopk(s, d, nprobe = 3, k = 5)
        .select(col("q_id"), col("vec_id"), lit(1L).as("hit"))
      bf.join(ivf, Seq("q_id", "vec_id"), "left")
        .agg(countDistinct(col("q_id")).as("n_queries"),
          count(lit(1)).as("n_bf"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
        .withColumn("recall",
          col("n_hits").cast("double") / col("n_bf").cast("double"))
    },
    Some(
      s"""WITH $vectorsCte,
         |$ivfSqlCtes,
         |bf AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q.q_id, c.vec_id,
         |           round(${dotSql("q.qv", "c.v")} / (q.qn * c.nrm), 6) AS cos
         |    FROM q CROSS JOIN n c WHERE c.vec_id <> q.q_id
         |  )
         |  QUALIFY row_number() OVER (PARTITION BY q_id
         |                             ORDER BY cos DESC, vec_id) <= 5
         |)
         |SELECT count(DISTINCT bf.q_id) AS n_queries,
         |       CAST(count(*) AS BIGINT) AS n_bf,
         |       CAST(sum(CASE WHEN i.q_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |       CAST(sum(CASE WHEN i.q_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |         / CAST(count(*) AS DOUBLE) AS recall
         |FROM bf LEFT JOIN ivf_topk i
         |  ON bf.q_id = i.q_id AND bf.vec_id = i.vec_id""".stripMargin))

  /** Int8 embedding quantization — the storage/bandwidth path for a 100 TB
    * vector table (4 bytes/dim → 1, with the scale per vector): per-vector
    * max-abs scaling, FLOOR-based quantization (floor is bit-deterministic
    * in both engines; `round` would reintroduce HALF_UP-vs-half-even skew at
    * exact midpoints), and the dequantization error bounded by scale/127 BY
    * CONSTRUCTION — the gate verifies that bound on every vector and pins an
    * exact integer checksum of all quantized values. */
  private val qEmbedQuantize = Q(
    "q_embed_quantize",
    (s, d) => {
      val maxabs = array_max(transform(col("v"), x => abs(x)))
      vectors(s, d)
        .withColumn("ma", maxabs)
        .withColumn("qv",
          when(col("ma") > 0.0,
            transform(col("v"), x => floor(x * 127.0 / col("ma")).cast("long")))
            .otherwise(transform(col("v"), _ => lit(0L))))
        .withColumn("err_ok",
          when(col("ma") > 0.0,
            array_max(zip_with(col("v"), col("qv"),
              (x, q) => abs(x - (q * col("ma")) / 127.0))) < col("ma") / 127.0)
            .otherwise(lit(true)))
        .agg(count(lit(1)).as("n_vecs"),
          sum(aggregate(col("qv"), lit(0L), (acc, q) => acc + q))
            .cast("long").as("q_checksum"),
          min(col("err_ok")).as("all_within_bound"))
    },
    Some(
      s"""WITH $vectorsCte,
         |quant AS (
         |  SELECT vec_id, v,
         |         list_max(list_transform(v, x -> abs(x))) AS ma,
         |         CASE WHEN list_max(list_transform(v, x -> abs(x))) > 0.0
         |              THEN list_transform(v,
         |                x -> CAST(floor(x * 127.0 /
         |                  list_max(list_transform(v, y -> abs(y)))) AS BIGINT))
         |              ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS qv
         |  FROM n
         |)
         |SELECT count(*) AS n_vecs,
         |       CAST(sum(${listFoldSql("qv").replace("CAST(0 AS DOUBLE)", "CAST(0 AS BIGINT)")}) AS BIGINT) AS q_checksum,
         |       bool_and(CASE WHEN ma > 0.0
         |         THEN list_max(list_transform(list_zip(v, qv),
         |                p -> abs(p[1] - (p[2] * ma) / 127.0))) < ma / 127.0
         |         ELSE TRUE END) AS all_within_bound
         |FROM quant""".stripMargin))

  // ---- Persisted IVF index (build once / query many) ----

  /** Build and persist the IVF index: the centroid codebook plus the
    * inverted lists, with the lists laid out as a hive-partitioned zone
    * (`bucket=` directories via
    * [[graft.sources.SourceOps.writePartitioned]]). The inverted list IS the
    * partition — so a query-time probe of `nprobe` buckets reads `nprobe`
    * directories and skips the rest at file-listing time. This is how IVF
    * actually deploys at 100 TB: the quadratic-ish build (assignment) runs
    * once in a batch job; searches amortize it forever and touch
    * `nprobe/|centroids|` of the corpus each.
    *
    * Same arithmetic as the in-memory [[ivfTopk]] path (quantized
    * centroids, rounded dots, deterministic tiebreaks), so
    * [[searchIvfIndex]] results are bit-identical to it — pinned by
    * IvfIndexSpec. */
  def buildIvfIndex(s: SparkSession, d: String, indexDir: String): Unit = {
    val vs = vectors(s, d)
    centroidVectors(vs).coalesce(1).write.mode("overwrite")
      .parquet(s"$indexDir/centroids")
    // assign against the JUST-WRITTEN codebook (parquet round-trips doubles
    // exactly), which is what appendToIvfIndex and searchIvfIndex read, so
    // build/append/search all score against the same bytes by construction
    val cb = persistedCodebook(s, indexDir)
    val lists = vs.select(col("vec_id"), col("v"), col("nrm"),
      nearestCode(col("v"), cb).as("bucket"))
    graft.sources.SourceOps.writePartitioned(lists, s"$indexDir/lists",
      Seq("bucket"))
  }

  /** Search the persisted index: each query vector probes its `nprobe`
    * closest centroids, scored row-locally against the inlined codebook,
    * and the probe set joins the inverted-list zone on the PARTITION
    * column. The scan is pruned STATICALLY: the distinct probed-bucket set
    * — bounded by the codebook size — is collected in one job and applied
    * as an `isin` partition filter, so excluded `bucket=` directories are
    * skipped at file-listing time, deterministically (dynamic partition
    * pruning would make the same cut subject to runtime benefit
    * heuristics). The probes are recomputed for the join rather than cut:
    * they are a map over the queries, which must therefore be a
    * deterministic frame. Pinned by IvfIndexSpec on the executed scan's
    * numFiles. `queries` carries raw `(vec_id, embedding)`
    * rows — the caller does not need the corpus loaded. */
  def searchIvfIndex(s: SparkSession, indexDir: String, queries: DataFrame,
      nprobe: Int, k: Int): DataFrame = {
    graft.functions.VectorExprs.register(s)
    val cb = persistedCodebook(s, indexDir)
    val probes = queries
      .select(col("vec_id").as("q_id"),
        transform(col("embedding"), x => x.cast("double")).as("qv"))
      .withColumn("qn", norm(col("qv")))
      .withColumn("bucket", explode(probedCodes(col("qv"), cb, nprobe)))
    val probedBuckets = probes.select(col("bucket")).as(Encoders.INT)
      .mapPartitions(_.toSet.iterator)(Encoders.INT)
      .collect().distinct // bounded: at most |codebook| values per partition
    val lists = graft.sources.SourceOps.readParquet(s, s"$indexDir/lists")
      .filter(col("bucket").isin(probedBuckets.toSeq: _*))
    val wk = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    lists.join(probes, Seq("bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        round(dot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6))
      .select(col("q_id"), col("vec_id"), col("cos"))
      // one exchange on q_id serves both the dedup aggregate and the rank
      .repartition(col("q_id"))
      // collapse duplicate list entries (an at-least-once append retry can
      // land a vector twice): without this a duplicate would occupy two
      // ranks and evict the true k-th neighbor; duplicates carry identical
      // scores, so max == the value and a duplicate-free zone is unchanged
      .groupBy(col("q_id"), col("vec_id")).agg(max(col("cos")).as("cos"))
      .withColumn("rk", row_number().over(wk))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("vec_id"), col("cos"), col("rk"))
  }

  /** Incremental index maintenance: assign a batch of NEW vectors against
    * the PERSISTED codebook (frozen — appends never move centroids, the
    * standard IVF discipline: a moving codebook would silently invalidate
    * every existing list assignment) and append them into the partitioned
    * list zone. Same scorer as the build ([[nearestCode]]), so an appended
    * vector lands exactly where a rebuild would put it. Pre-routing by
    * bucket keeps the append to ONE new file per touched bucket per batch;
    * a long append history is reclaimed by the standard maintenance pass
    * ([[graft.sources.SourceOps.compactPartitions]] over the lists zone).
    * Rebuild the codebook when the corpus has drifted enough that bucket
    * sizes skew (the build is the cheap part — it's one assignment pass).
    * `newVectors` carries raw `(vec_id, embedding)`; vec_id uniqueness vs
    * the existing index is the caller's contract (dedup is the ingest
    * gate's job, upstream of indexing). */
  def appendToIvfIndex(s: SparkSession, indexDir: String,
      newVectors: DataFrame): Unit = {
    graft.functions.VectorExprs.register(s)
    val cb = persistedCodebook(s, indexDir)
    newVectors
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("nrm", norm(col("v")))
      .withColumn("bucket", nearestCode(col("v"), cb))
      .repartition(col("bucket"))
      .write.mode("append").partitionBy("bucket")
      .parquet(s"$indexDir/lists")
  }

  def queries: Seq[Q] = Seq(qCosineTopk, qNearDup, qNearDupIvf,
    qNearDupIvfBucketed, qSemanticDedup, qLshBuckets, qCentroids,
    qIvfAssign, qIvfSearch, qIvfRecall, qEmbedQuantize)
}
