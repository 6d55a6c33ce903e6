package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructType}
import graft.operators.HistogramQuantiles

/** Incrementally-maintained HISTOGRAM store — the streaming half of
  * [[HistogramQuantiles]]: batches arrive as files, each contributes
  * its fixed-width (bucket, count) DELTA, and any percentile is
  * served from the merged histogram — at every point EQUAL to the
  * batch estimator over the absorbed corpus, because bucket counts
  * are a sum monoid (the property t-digest/KLL only have
  * approximately and non-deterministically).
  *
  * Redelivery safety is the per-batch-dir layout
  * ([[HeavyHittersStore]] posture): a replayed batch OVERWRITES its
  * own `batch=<id>` dir. Per batch the store grows by ≤ |touched
  * buckets| rows; the percentile view's cost is the |batches ×
  * buckets| store scan + the bounded cumulative window — never the
  * corpus. This is the Prometheus-histogram deployment shape: ship
  * bucket deltas, query quantiles from the aggregated histogram. */
object HistogramStore {

  /** One batch's (bucket, c) delta over `valueCol`. */
  def histDelta(batch: DataFrame, valueCol: String,
                width: Long = HistogramQuantiles.bucketWidth): DataFrame =
    batch.groupBy(floor(col(valueCol) / width.toDouble).cast(LongType)
        .as("bucket"))
      .agg(count(lit(1)).as("c"))

  /** The store: per-bucket count rows, SUM merge ([[MonoidStore]]
    * owns the layout/merge/compaction contract). */
  def store(storePath: String): MonoidStore = MonoidStore.sums(storePath, "c")

  /** Write (or on replay, overwrite) this batch's delta dir. */
  def appendHistBatch(spark: SparkSession, batch: DataFrame,
                      valueCol: String, storePath: String,
                      batchId: Long): Unit =
    store(storePath).append(histDelta(batch, valueCol), batchId)

  /** The live merged histogram. */
  def histogram(spark: SparkSession, storePath: String): DataFrame =
    store(storePath).merged(spark)

  /** Live percentiles — [[HistogramQuantiles.quantilesOverHistogram]]
    * over the merged store, equal to the batch estimator on the
    * absorbed corpus. */
  def quantilesView(spark: SparkSession, storePath: String): DataFrame =
    HistogramQuantiles.quantilesOverHistogram(histogram(spark, storePath))

  /** Wire the stream; `compactEvery` > 0 enables the cadenced fold
    * (see [[SkewStore.runSkewStream]]). */
  def runHistStream(spark: SparkSession, uploadDir: String,
                    valueCol: String, storePath: String,
                    checkpointDir: String, schema: StructType,
                    compactEvery: Int = 0): StreamingQuery =
    MonoidStore.runStream(spark, uploadDir, checkpointDir, schema,
      Seq(store(storePath)), compactEvery) { (batch, id) =>
      appendHistBatch(spark, batch, valueCol, storePath, id)
    }
}
