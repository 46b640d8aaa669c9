package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.sim.SimilarityOps

/** Streaming index maintenance — the embedding-side sibling of
  * [[CorpusStream]]'s document rungs: embedding vectors landing as parquet
  * files (the ingestion layer's output, one file per batch of newly-embedded
  * documents) are appended to the persisted IVF index per micro-batch, so
  * the index trails the corpus by one trigger interval instead of one
  * nightly rebuild.
  *
  * Mechanics: `foreachBatch` → [[SimilarityOps.appendToIvfIndex]] — each
  * micro-batch is assigned against the FROZEN persisted codebook (inlined
  * into the plan as a literal and scored row-locally; appends never move
  * centroids) and lands as one file per touched `bucket=` partition. The
  * assignment is a stateless map over the batch, so the stream holds zero
  * aggregation state at any ingest rate.
  *
  * Delivery semantics: the checkpoint gives at-least-once `foreachBatch`
  * execution — a batch retried after a mid-append crash can double-append
  * its vectors. Search tolerates this because
  * [[SimilarityOps.searchIvfIndex]] collapses duplicate `(q_id, vec_id)`
  * candidates before ranking (without that, a duplicate entry would occupy
  * two ranks and evict the true k-th neighbor); exactly-once hygiene for
  * the zone itself is the compaction pass —
  * `SourceOps.compactPartitions(..., dedupKeys = Seq("vec_id"))` removes
  * the duplicate rows while it collapses append files. Codebook rebuild
  * cadence is the same judgment as the batch path: when bucket sizes skew,
  * rebuild.
  */
object EmbeddingStream {

  /** embeddings schema as stored (see TESTDATA.md). */
  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** File-source stream over a directory of embedding parquet files. */
  def readStream(spark: SparkSession, embDir: String): DataFrame =
    spark.readStream.schema(embSchema).parquet(embDir)

  /** Start the maintenance stream: every micro-batch of new vectors is
    * appended to the persisted index at `indexDir`. */
  def indexStream(stream: DataFrame, indexDir: String,
      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        SimilarityOps.appendToIvfIndex(batch.sparkSession, indexDir, batch)
      }
      .start()
}
