package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.FdrBh

/** Incrementally-maintained MULTIPLE-TESTING state — the streaming
  * twin of [[FdrBh]] (q_fdr_bh): event batches arrive, each
  * contributes its per-(user, event_type) count delta, and the live
  * view recomputes the whole battery — per-type exact permutation
  * p-values and the BH verdicts — from merged state, at every point
  * EQUAL to the batch operator over the absorbed events, because the
  * count table is a per-key sum monoid and the battery is a pure
  * function of it (arms and permutation coins are md5 of the key,
  * recomputed in the view, never stored — the [[ExperimentStore]]
  * convention).
  *
  * This is what a live experiment dashboard actually needs from
  * multiple testing: as data accrues, p-values move and the BH
  * frontier moves WITH the whole battery (a metric can lose its
  * rejection when a sibling's p collapses the rank budget) — a
  * per-metric store cannot express that; the battery view can.
  *
  * Store size: |users|·|event types| rows — the ExperimentStore
  * per-user bound times a bounded type set, never event history. */
object FdrStore {

  def store(storePath: String): MonoidStore =
    MonoidStore.sums(storePath, "c")

  /** One batch's delta from raw (user_id, event_type, …) event rows. */
  def appendEventBatch(spark: SparkSession, events: DataFrame,
                       storePath: String, batchId: Long): Unit =
    store(storePath).append(
      events.groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("c")), batchId)

  /** Live battery ≡ batch [[FdrBh.fdrFromCounts]] over the absorbed
    * events. */
  def fdrView(spark: SparkSession, storePath: String): DataFrame =
    FdrBh.fdrFromCounts(store(storePath).merged(spark))
}
