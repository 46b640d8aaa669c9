package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** MLlib-twin hardening: the estimator paths must survive corpus edge
  * cases the hand-rolled family handles by construction. */
class MlOpsSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("q_ml_minhash_neardup survives whitespace-only documents " +
      "(all-zero feature vectors would crash MinHashLSH)") {
    // clone the real corpus but blank one document's text — the exact row
    // shape that makes HashingTF emit a zero vector, which
    // approxSimilarityJoin rejects with 'Must have at least 1 nonzero
    // entry' unless the guard drops it first
    val out = java.nio.file.Files.createTempDirectory("ml_empty").toString
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val firstId = docs.orderBy("doc_id").select("doc_id").head().getLong(0)
    docs.withColumn("text",
        when(col("doc_id") === firstId, lit("   ")).otherwise(col("text")))
      .write.parquet(s"$out/documents.parquet")
    val verdict = SparkEntry.queries("q_ml_minhash_neardup")(spark, out)
      .head()
    assert(verdict.getBoolean(0), "corpus still has near-dup pairs")
    assert(verdict.getLong(1) == 0L, "exact-Jaccard recheck must agree")
  }

  test("q_ml_kmeans_ivf clamps k to the corpus size on tiny tables") {
    // 5 vectors: the old max-outside clamp asked KMeans for k=10 > n
    val out = java.nio.file.Files.createTempDirectory("ml_tiny").toString
    spark.read.parquet(s"$dir/embeddings.parquet")
      .orderBy("vec_id").limit(5)
      .write.parquet(s"$out/embeddings.parquet")
    val verdict = SparkEntry.queries("q_ml_kmeans_ivf")(spark, out).head()
    assert(verdict.getLong(0) == 5L)
    assert(verdict.getLong(1) == 0L, "every vector at its nearest centroid")
  }
}
