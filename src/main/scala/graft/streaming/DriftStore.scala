package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StructType}
import graft.operators.{KsDrift, PsiDrift}

/** Incrementally-maintained DRIFT MONITOR — the streaming half of the
  * [[PsiDrift]]/[[KsDrift]] pair: order batches arrive as files, each
  * contributes its per-(side, value) count DELTA, and BOTH drift
  * scores are served live from the merged counts — at every point
  * EQUAL to the batch statistic over the absorbed corpus, because a
  * contingency table is a per-key sum monoid (the [[MonoidStore]]
  * contract; exactness is what streaming sketch monitors trade away).
  *
  * ONE store serves both scores because it keys at CENTS granularity
  * — the finest either consumer needs: KS reads the counts directly;
  * PSI coarsens cents → its 10 buckets inside the view (coarsening
  * commutes with summation). The store is bounded by the VALUE DOMAIN
  * (≤6·10⁷ cents values — [[KsDrift]]'s boundedness contract), per
  * batch it grows by ≤ |distinct values in batch| rows, and replay
  * safety is the per-batch-dir overwrite layout. Compaction cadence +
  * crash recovery come from [[MonoidStore]] unchanged. */
object DriftStore {

  /** One batch's (cents, c_ref, c_cur) delta from raw order rows —
    * side assignment (the [[PsiDrift.splitDate]] cut) happens here, so
    * the store never re-reads history to re-side a row. */
  def driftDelta(batch: DataFrame): DataFrame =
    batch.select(
        when(col("o_orderdate") < lit(PsiDrift.splitDate).cast("timestamp"),
          "ref").otherwise("cur").as("side"),
        round(col("o_totalprice") * 100).cast(LongType).as("cents"))
      .groupBy("cents").agg(
        sum(when(col("side") === "ref", 1L).otherwise(0L)).as("c_ref"),
        sum(when(col("side") === "cur", 1L).otherwise(0L)).as("c_cur"))

  def store(storePath: String): MonoidStore =
    MonoidStore.sums(storePath, "c_ref", "c_cur")

  def appendDriftBatch(spark: SparkSession, batch: DataFrame,
                       storePath: String, batchId: Long): Unit =
    store(storePath).append(driftDelta(batch), batchId)

  /** The live per-value contingency table. */
  def counts(spark: SparkSession, storePath: String): DataFrame =
    store(storePath).merged(spark)

  /** Live PSI — per-bucket terms + total + alarm, ≡ the batch
    * [[PsiDrift.psiDrift]] over the absorbed rows. */
  def psiView(spark: SparkSession, storePath: String): DataFrame =
    PsiDrift.psiFromBucketCounts(counts(spark, storePath)
      .withColumn("bucket", PsiDrift.bucketOf)
      .groupBy("bucket")
      .agg(sum("c_ref").as("c_ref"), sum("c_cur").as("c_cur")))

  /** Live exact KS — one summary row, ≡ the batch
    * [[KsDrift.ksDrift]] over the absorbed rows. */
  def ksView(spark: SparkSession, storePath: String): DataFrame =
    KsDrift.ksFromCounts(counts(spark, storePath))

  /** Wire the stream; `compactEvery` > 0 enables the cadenced fold. */
  def runDriftStream(spark: SparkSession, uploadDir: String,
                     storePath: String, checkpointDir: String,
                     schema: StructType,
                     compactEvery: Int = 0): StreamingQuery =
    MonoidStore.runStream(spark, uploadDir, checkpointDir, schema,
      Seq(store(storePath)), compactEvery) { (batch, id) =>
      appendDriftBatch(spark, batch, storePath, id)
    }
}
