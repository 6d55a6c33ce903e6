package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.operators.HeavyHitters

/** Incrementally-maintained COUNT-MIN COUNTER store — the streaming
  * half of [[HeavyHitters]]: document batches arrive as files, each
  * contributes its (depth, bucket) counter DELTA, and the live counter
  * table (the sum across deltas) is at every point EQUAL to the batch
  * sketch pass over the absorbed corpus — counter addition is the sum
  * monoid, so any slicing or order converges.
  *
  * Sum is NOT idempotent (the one monoid here that isn't), so
  * redelivery safety comes from the PER-BATCH-DIR layout instead of
  * the merge algebra: each micro-batch owns `batch=<id>` (the
  * [[CurationStream.appendPackedBatch]] posture) and a replayed batch
  * OVERWRITES its own dir rather than double-adding. The store is
  * CONSTANT-SIZE per batch (≤ depth·width rows, ~24 576) — at any
  * corpus scale the stream ships counter deltas, never keys.
  *
  * What stays batch-time: the exact pass. Candidates from the live
  * counters prune the accumulated corpus map-only, and the exact
  * count of survivors (mass ≤ ~candidates·T) runs when a report is
  * actually wanted — the sketch's expensive corpus-wide counting is
  * the part that never rescans history. [[servedHeavy]] over
  * (live counters, absorbed corpus) ≡ the batch operator over that
  * corpus, spec-proven. */
object HeavyHittersStore {

  /** One batch's counter delta: bigrams → (d, bucket, c). */
  def counterDelta(docs: DataFrame): DataFrame =
    HeavyHitters.bigrams(docs)
      .select(posexplode(array((0 until HeavyHitters.hhDepth).map(i =>
        pmod(xxhash64(col("key"), lit(i)), lit(HeavyHitters.hhWidth))): _*))
        .as(Seq("d", "bucket")))
      .groupBy("d", "bucket").agg(count(lit(1)).as("c"))

  /** The store: (d, bucket) counter rows, SUM merge ([[MonoidStore]]
    * owns the layout/merge/compaction contract). */
  def store(storePath: String): MonoidStore = MonoidStore.sums(storePath, "c")

  /** Write (or on replay, overwrite) this batch's delta dir. */
  def appendCounterBatch(spark: SparkSession, docs: DataFrame,
                         storePath: String, batchId: Long): Unit =
    store(storePath).append(counterDelta(docs), batchId)

  /** The live counter table: sum of all absorbed deltas — equal to the
    * batch sketch pass over the absorbed corpus. */
  def counters(spark: SparkSession, storePath: String): DataFrame =
    store(storePath).merged(spark)

  /** Total absorbed key mass: every key row contributes exactly one
    * counter increment per depth, so N = Σc at any single depth. */
  def totalMass(spark: SparkSession, storePath: String): Long =
    counters(spark, storePath).filter(col("d") === 0)
      .agg(sum(col("c"))).head().getLong(0)

  /** Wire the stream; `compactEvery` > 0 enables the cadenced fold
    * (see [[SkewStore.runSkewStream]]). */
  def runCounterStream(spark: SparkSession, uploadDir: String,
                       storePath: String, checkpointDir: String,
                       schema: StructType,
                       compactEvery: Int = 0): StreamingQuery =
    MonoidStore.runStream(spark, uploadDir, checkpointDir, schema,
      Seq(store(storePath)), compactEvery) { (batch, id) =>
      appendCounterBatch(spark, batch, storePath, id)
    }

  /** Exact heavy hitters of `corpus` (the absorbed documents) served
    * from the LIVE counter store: prune with the stored estimates,
    * exact-count survivors — the same two-phase contract as the batch
    * operator, with phase 1 already paid incrementally. */
  def servedHeavy(spark: SparkSession, corpus: DataFrame,
                  storePath: String): DataFrame = {
    val n = totalMass(spark, storePath)
    val t = math.max(n / HeavyHitters.phiDenom, HeavyHitters.floorCount)
    val ctrs = counters(spark, storePath)
    val keys = HeavyHitters.bigrams(corpus)
    val pruned = (0 until HeavyHitters.hhDepth).foldLeft(
      keys.withColumns((0 until HeavyHitters.hhDepth).map(i =>
        s"b$i" -> pmod(xxhash64(col("key"), lit(i)),
          lit(HeavyHitters.hhWidth))).toMap)) {
      case (df, i) =>
        df.join(
          broadcast(ctrs.filter(col("d") === i)
            .select(col("bucket").as(s"b$i"), col("c").as(s"c$i"))),
          Seq(s"b$i"))
    }.filter(least((0 until HeavyHitters.hhDepth)
      .map(i => col(s"c$i")): _*) >= t)
    pruned.groupBy("key").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= t)
      .select(col("key").as("bigram"), col("cnt"))
  }
}
