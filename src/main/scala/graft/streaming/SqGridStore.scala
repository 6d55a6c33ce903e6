package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.ext.SqAnn

/** Incrementally-maintained SQ8 QUANTIZATION GRID — the streaming
  * half of [[graft.ext.SqAnn]]: embedding batches arrive as files,
  * each contributes its per-dimension (min, max) DELTA, and the
  * served grid is at every point EQUAL to [[SqAnn.fitGrid]] over the
  * absorbed corpus, because per-dimension extremes are a LATTICE
  * monoid (min/max — [[MonoidStore.aggReduce]]'s minCols/maxCols
  * path, exercised here as a store's whole contract rather than a
  * rider on sum columns).
  *
  * The lattice brings a property the sum stores don't have:
  * IDEMPOTENCE. min/max over duplicated rows is unchanged, so replay
  * is safe even for a batch whose dir was already compacted into the
  * base — the per-batch-dir overwrite layout is still used (uniform
  * store shape), but the safety argument no longer depends on the
  * checkpoint's no-redelivery guarantee at all. The spec asserts
  * exactly this: re-appending a COMPACTED batch leaves the grid
  * unchanged (the operation that would double-add in a sum store).
  *
  * Per batch the store grows by ≤ d rows; the grid view folds
  * |batches × d| rows — never the corpus. A production index refresh
  * reads the live grid, re-encodes with [[SqAnn.sqCodes]], and serves
  * [[SqAnn.sqScores]] — the fit never rescans absorbed history. */
object SqGridStore {

  /** One batch's per-dimension (pos, mn, mx) delta. */
  def gridDelta(batch: DataFrame): DataFrame =
    batch.select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))

  def store(storePath: String): MonoidStore =
    MonoidStore(storePath,
      MonoidStore.aggReduce(Nil, minCols = Seq("mn"), maxCols = Seq("mx")))

  def appendGridBatch(spark: SparkSession, batch: DataFrame,
                      storePath: String, batchId: Long): Unit =
    store(storePath).append(gridDelta(batch), batchId)

  /** The live grid — ≡ [[SqAnn.fitGrid]] over the absorbed corpus. */
  def gridView(spark: SparkSession, storePath: String): SqAnn.SqGrid = {
    val rows = store(storePath).merged(spark).collect()
    val d = rows.length
    val mn = new Array[Double](d); val mx = new Array[Double](d)
    rows.foreach { r =>
      val p = r.getAs[Int]("pos")
      mn(p) = r.getAs[Double]("mn"); mx(p) = r.getAs[Double]("mx")
    }
    SqAnn.SqGrid(mn, mx)
  }

  def runGridStream(spark: SparkSession, uploadDir: String,
                    storePath: String, checkpointDir: String,
                    schema: StructType,
                    compactEvery: Int = 0): StreamingQuery =
    MonoidStore.runStream(spark, uploadDir, checkpointDir, schema,
      Seq(store(storePath)), compactEvery) { (batch, id) =>
      appendGridBatch(spark, batch, storePath, id)
    }
}
