package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Tables

/** Schema contract for every driver-generated table, pinned against the REAL
  * testdata at all three scale factors — the generalization of
  * EventsVintageSpec's tripwire to the whole star schema. The round-8 red was
  * a silent generator dtype drift on ONE column of ONE table; this spec makes
  * the next drift, on any table, fail in-suite with a message naming the
  * column, instead of surfacing as a downstream analysis error in the driver.
  *
  * Deliberate contract notes:
  *   - `events.ts` is asserted POST-normalization (`TimestampType`) because
  *     [[Tables.events]] folds all physical vintages — that is the loader's
  *     promise to its consumers (`session_window`, watermarks, `unix_micros`).
  *   - `o_orderdate` / `l_shipdate` are asserted as the RAW parquet reading
  *     (`TimestampNTZType` under the current generator): their consumers are
  *     wall-clock functions (`date_format`, `year`, comparisons) that agree
  *     with DuckDB's naive reading, so no normalization layer exists to hide
  *     a drift — if the generator changes their physical type, this fails and
  *     the change gets handled deliberately.
  */
class TableContractSpec extends AnyFunSuite with SparkSuite {

  private val sfs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
    "/root/testdata/sf0.1")

  private val expected: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> Seq("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  private def loader(name: String): (SparkSession, String) => DataFrame =
    name match {
      case "region" => Tables.region case "nation" => Tables.nation
      case "customer" => Tables.customer case "supplier" => Tables.supplier
      case "part" => Tables.part case "orders" => Tables.orders
      case "lineitem" => Tables.lineitem case "events" => Tables.events
      case "documents" => Tables.documents
      case "embeddings" => Tables.embeddings
    }

  for (dir <- sfs; (table, cols) <- expected.toSeq.sortBy(_._1)) {
    test(s"$table schema contract holds at ${dir.split('/').last}") {
      val got = loader(table)(spark, dir).schema
        .map(f => (f.name, f.dataType match {
          // nullability / containsNull is not part of the contract
          case ArrayType(et, _) => ArrayType(et)
          case dt => dt
        }))
      assert(got == cols,
        s"$table at $dir drifted from the pinned contract:\n" +
          s"  got      $got\n  expected $cols")
    }
  }

  // sentenceTopicRows encodes a join elimination (drop lineitem⋈orders for
  // header-free consumers) whose correctness rests on referential integrity
  // of the generated corpus: every lineitem row must have a matching order
  // header. The election gate pins it transitively (one-scan ≡ two-pass);
  // this pins the projection identity DIRECTLY, so an RI break in a future
  // testdata vintage (orphan lineitems) names its root cause in-suite.
  for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
    test("sentenceTopicRows equals the chunkRows projection at " +
        dir.split('/').last) {
      val pcols = Seq("sentence_id", "entity_name", "entity_sector",
        "entity_industry", "text")
      def canon(df: DataFrame): Array[String] =
        df.select(pcols.map(org.apache.spark.sql.functions.col): _*)
          .collect().map(_.toString).sorted
      val viaJoin = canon(Tables.chunkRows(spark, dir))
      val ordersFree = canon(Tables.sentenceTopicRows(spark, dir))
      assert(ordersFree.sameElements(viaJoin),
        "the orders-free sentence projection diverged from the joined " +
          s"relation at $dir — referential integrity no longer licenses " +
          "the join elimination")
    }
  }

  // chunkRowsPruned generalizes the same RI-licensed join elimination to
  // every dimension subset (round 17). Pin the pruned projections row-equal
  // to the full relation on real testdata: each case exercises one dropped
  // dimension class (orders/fact join, supplier snowflake, customer,
  // documents). An RI break (orphan fact keys, duplicate dim keys) fails
  // HERE with the offending subset named instead of as a red oracle row.
  private val prunedCases: Seq[(String, Boolean, Boolean, Boolean, Boolean,
      Seq[String])] = Seq(
    ("lineitem-only", false, false, false, false,
      Seq("document_id", "sentence_id", "entity_id", "entity_ticker",
        "part_entity_id", "l_returnflag")),
    ("orders", true, false, false, false,
      Seq("timestamp_utc", "document_id", "sentence_id", "headline",
        "document_type", "is_reporting_entity", "other_entity_id")),
    ("supplier", false, true, false, false,
      Seq("entity_id", "entity_name", "entity_sector", "entity_industry",
        "entity_country")),
    ("documents", false, false, false, true,
      Seq("sentence_id", "entity_id", "text", "lang")),
    ("orders+customer", true, false, true, false,
      Seq("sentence_id", "other_entity_id", "other_entity_name")))

  for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01");
       (tag, o, sup, cst, txt, pcols) <- prunedCases) {
    test(s"chunkRowsPruned($tag) equals the chunkRows projection at " +
        dir.split('/').last) {
      def canon(df: DataFrame): Array[String] =
        df.select(pcols.map(org.apache.spark.sql.functions.col): _*)
          .collect().map(_.toString).sorted
      val full = canon(Tables.chunkRows(spark, dir))
      val pruned = canon(Tables.chunkRowsPruned(spark, dir,
        withOrders = o, withSupplier = sup, withCustomer = cst,
        withText = txt))
      assert(pruned.sameElements(full),
        s"chunkRowsPruned($tag) diverged from the full relation at $dir — " +
          "referential integrity no longer licenses the join elimination")
    }
  }

  // The pruned-equality family above compares chunkRowsPruned subsets
  // against chunkRows — which since r17 DELEGATES to chunkRowsPruned, so a
  // bug in a SHARED column derivation (document_id from l_orderkey, the
  // sentence_id concat, the text-assignment key) would be invisible to
  // pruned-vs-pruned comparison and surface only at the oracle gate. This
  // pins a handful of chunkRows columns against an INDEPENDENTLY
  // constructed join — raw table joins and inline expressions, no shared
  // builder code (r17 ADVICE item 3).
  test("chunkRows columns match an independently-constructed join at " +
      "sf0.001") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val nDocs = Tables.documents(spark, dir)
      .agg(max(col("doc_id"))).head().getLong(0) + 1
    val indep = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(spark, dir),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.documents(spark, dir),
        pmod(col("l_orderkey") * 7 + col("l_linenumber"), lit(nDocs))
          === col("doc_id"))
      .select(
        col("l_orderkey").cast("string").as("document_id"),
        concat(col("l_orderkey").cast("string"), lit("-"),
          col("l_linenumber").cast("string")).as("sentence_id"),
        concat(col("o_orderpriority"), lit(" order "),
          col("o_orderkey").cast("string")).as("headline"),
        col("s_name").as("entity_name"),
        col("text"))
    val pcols = Seq("document_id", "sentence_id", "headline", "entity_name",
      "text")
    def canon(df: DataFrame): Array[String] =
      df.select(pcols.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toString).sorted
    assert(canon(Tables.chunkRows(spark, dir)).sameElements(canon(indep)),
      "chunkRows diverged from the independently-constructed join — a " +
        "shared column derivation in chunkRowsPruned is wrong")
  }

  // Data contracts individual r17 rewrites lean on, pinned at every SF so a
  // generator change fails here by name:
  //  - single-digit l_linenumber licenses q_dedup_exact's numeric
  //    min(l_linenumber) ≡ lexicographic min(sentence_id) within a document;
  //  - unique o_orderkey licenses dropping timestamp_utc from dedup group
  //    keys (o_orderdate is single-valued per document);
  //  - unique s_name licenses q_basket's max(entity_sector) ≡ the
  //    sector-info indicator join (entity_name determines entity_sector).
  // The dir list additionally honors $SPARK_GRAFT_SF_DIR (r17 ADVICE
  // item 2): when the driver points bench/verify at a corpus outside the
  // fixed three, the cheap contract probes run THERE too, so a contract
  // break fails loudly at the scale actually run instead of shipping
  // wrong rows to the oracle.
  private val contractDirs = (sfs ++ sys.env.get("SPARK_GRAFT_SF_DIR")
    .filter(d => java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(d)))).distinct

  for (dir <- contractDirs) {
    test(s"r17 rewrite data contracts hold at ${dir.split('/').last}") {
      import org.apache.spark.sql.functions._
      val ln = Tables.lineitem(spark, dir)
        .agg(min(col("l_linenumber")), max(col("l_linenumber"))).head()
      assert(ln.getInt(0) >= 1 && ln.getInt(1) <= 9,
        s"l_linenumber out of the single-digit contract at $dir: $ln")
      val ok = Tables.orders(spark, dir)
        .agg(count(lit(1)), countDistinct(col("o_orderkey"))).head()
      assert(ok.getLong(0) == ok.getLong(1),
        s"o_orderkey not unique at $dir: $ok")
      val sn = Tables.supplier(spark, dir)
        .agg(count(lit(1)), countDistinct(col("s_name"))).head()
      assert(sn.getLong(0) == sn.getLong(1),
        s"s_name not unique at $dir: $sn")
    }
  }
}
