package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.ext.EmbedAlgebra

/** Incrementally-maintained PCA — the streaming half of
  * [[EmbedAlgebra]]: embedding batches arrive as files, each
  * contributes its EXACT moment-matrix delta (1 + d + d(d+1)/2
  * DECIMAL rows — [[EmbedAlgebra.moments]]), and the live model is
  * fit on the driver from the merged moments. Because the moment
  * matrix is a per-key sum monoid, the served model is BIT-EQUAL to
  * a batch [[EmbedAlgebra.fitPca]] over the absorbed corpus — not an
  * approximation (the property streaming PCA algorithms like Oja's
  * rule only have asymptotically). This is the same exactness
  * argument as [[HistogramStore]]'s bucket counts, applied to second
  * moments.
  *
  * Redelivery safety is the per-batch-dir layout (a replayed batch
  * overwrites its own `batch=<id>` dir); compaction folds committed
  * deltas with the store's own sum monoid. Per batch the store grows
  * by ≤ 2145 rows regardless of batch size; the model view's cost is
  * the |batches × 2145|-row store scan plus the driver-side
  * iteration over d² integers — never the corpus. */
object PcaStore {

  /** The store: (i, j, m) moment rows, SUM merge. */
  def store(storePath: String): MonoidStore =
    MonoidStore.sums(storePath, "m")

  /** Write (or on replay, overwrite) this batch's moment delta. */
  def appendPcaBatch(spark: SparkSession, batch: DataFrame,
                     storePath: String, batchId: Long): Unit =
    store(storePath).append(EmbedAlgebra.moments(batch), batchId)

  /** The live model — exact fit over every absorbed batch. */
  def modelView(spark: SparkSession,
                storePath: String): EmbedAlgebra.PcaModel =
    EmbedAlgebra.fitFromMoments(store(storePath).merged(spark).collect())

  /** Score a frame against the live model — the serving join a
    * curation stream runs on newly-arrived embeddings (map-only, the
    * [[EmbedAlgebra.abttScore]] literal-array plan). */
  def abttView(spark: SparkSession, emb: DataFrame,
               storePath: String): DataFrame =
    EmbedAlgebra.abttScore(emb, modelView(spark, storePath))

  /** Wire the stream; `compactEvery` > 0 enables the cadenced fold
    * (see [[SkewStore.runSkewStream]]). */
  def runPcaStream(spark: SparkSession, uploadDir: String,
                   storePath: String, checkpointDir: String,
                   schema: StructType,
                   compactEvery: Int = 0): StreamingQuery =
    MonoidStore.runStream(spark, uploadDir, checkpointDir, schema,
      Seq(store(storePath)), compactEvery) { (batch, id) =>
      appendPcaBatch(spark, batch, storePath, id)
    }
}
