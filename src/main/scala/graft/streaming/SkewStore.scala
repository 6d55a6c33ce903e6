package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DecimalType, DoubleType, StructType}
import graft.operators.DqGate

/** Incrementally-maintained JOIN-KEY SKEW store — the streaming half
  * of [[graft.operators.DataQuality.qSkewProfile]], and the live feed
  * for [[DqGate.saltsFor]]'s automatic salting decision: fact batches
  * arrive as files, each contributes its per-key count DELTA, and the
  * live profile (counts summed across deltas, then the skew
  * statistics over the merged count table) is at every point EQUAL to
  * the batch profile over the absorbed corpus — per-key count
  * addition is the sum monoid.
  *
  * Redelivery safety is the per-batch-dir layout
  * ([[HeavyHittersStore]] posture): a replayed batch OVERWRITES its
  * own `batch=<id>` dir. Per batch the store grows by ≤ |batch keys|
  * rows; the view's cost is the |batches × keys| store scan, never
  * the corpus — and the CLOSED LOOP is that a long-running pipeline
  * can re-decide its join strategy per micro-batch from
  * [[skewStatsView]] without ever rescanning history.
  *
  * The one non-mergeable statistic is hhi's denominator coupling —
  * which is why the store keeps raw per-key counts (mergeable) and
  * the view computes the statistics at read time, rather than trying
  * to merge finished profiles. */
object SkewStore {

  /** The store: per-key count rows, SUM merge ([[MonoidStore]] owns
    * the layout/merge/compaction contract). */
  def store(storePath: String): MonoidStore = MonoidStore.sums(storePath, "c")

  /** One batch's per-key count delta. */
  def keyCountDelta(batch: DataFrame, keyCol: String): DataFrame =
    batch.groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("c"))

  /** Write (or on replay, overwrite) this batch's delta dir. */
  def appendKeyCountBatch(spark: SparkSession, batch: DataFrame,
                          keyCol: String, storePath: String,
                          batchId: Long): Unit =
    store(storePath).append(keyCountDelta(batch, keyCol), batchId)

  /** The live merged per-key count table. */
  def keyCounts(spark: SparkSession, storePath: String): DataFrame =
    store(storePath).merged(spark)

  /** The live skew profile — (n_keys, n_rows, max_cnt, top1_share,
    * hhi), the qSkewProfile statistics over the merged counts. */
  def skewStatsView(spark: SparkSession, storePath: String): DataFrame = {
    val dec = DecimalType(38, 0)
    keyCounts(spark, storePath)
      .agg(count(lit(1)).as("n_keys"), sum(col("c")).as("n_rows"),
        max(col("c")).as("max_cnt"),
        sum(col("c").cast(dec) * col("c")).cast(dec).as("sum_c2"))
      .select(col("n_keys"), col("n_rows"), col("max_cnt"),
        (col("max_cnt").cast(DoubleType) / col("n_rows").cast(DoubleType))
          .as("top1_share"),
        (col("sum_c2").cast(DoubleType) /
          (col("n_rows").cast(DoubleType) * col("n_rows").cast(DoubleType)))
          .as("hhi"))
  }

  /** The closed loop: the CURRENT salting decision for joining the
    * absorbed fact on this key — [[DqGate.saltsFor]] fed from the
    * live store instead of a fresh profiling pass. */
  def currentSalts(spark: SparkSession, storePath: String,
                   partitions: Int): Int = {
    val r = skewStatsView(spark, storePath).head()
    DqGate.saltsFor(DqGate.SkewStats(r.getAs[Long]("n_keys"),
      r.getAs[Long]("n_rows"), r.getAs[Long]("max_cnt"),
      r.getAs[Double]("hhi")), partitions)
  }

  /** Wire the stream. `compactEvery` > 0 folds committed deltas into
    * the base dir once per that many batches (and heals any crashed
    * fold at start-up) so a long-running stream's dir count stays
    * bounded by the cadence, not its lifetime. */
  def runSkewStream(spark: SparkSession, uploadDir: String, keyCol: String,
                    storePath: String, checkpointDir: String,
                    schema: StructType,
                    compactEvery: Int = 0): StreamingQuery =
    MonoidStore.runStream(spark, uploadDir, checkpointDir, schema,
      Seq(store(storePath)), compactEvery) { (batch, id) =>
      appendKeyCountBatch(spark, batch, keyCol, storePath, id)
    }
}
