package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.ext.{IsotonicCal, RaterAgreement}

/** Incrementally-maintained CALIBRATION + AGREEMENT state — the
  * streaming twin of [[IsotonicCal]] (q_isotonic_cal) and
  * [[RaterAgreement]] (q_rater_kappa): document batches arrive, each
  * contributes (a) its per-SCORE (cnt, pos) count delta and (b) its
  * 2×2 rater-verdict count delta, and the live views recompute the
  * isotonic fit and Cohen's κ from merged state — at every point
  * EQUAL to the batch operators over the absorbed corpus, because
  * both states are per-key sum monoids (the [[ConformalStore]]
  * posture) and both readouts are pure functions of them.
  *
  * This is the production shape of calibration monitoring: the curve
  * and the agreement drift as the corpus grows, and the dashboard
  * reads both without replaying scoring history. Bucket BOUNDARIES
  * are recomputed from the merged min/max at read time — a batch that
  * extends the score range re-buckets the view, not the state, which
  * is why state is per-score, not per-bucket.
  *
  * SCORING is the caller's frozen model (the [[CurationStream]]
  * offline-LM posture): the stream wiring takes a `score` function so
  * the store never trains — scores of absorbed docs must not change
  * retroactively, which is the monoid contract.
  *
  * Store size: |score domain| + 4 rows — never corpus history. */
object CalibrationStore {

  def scoreStore(path: String): MonoidStore =
    MonoidStore.sums(s"$path/scores", "cnt", "pos")

  def raterStore(path: String): MonoidStore =
    MonoidStore.sums(s"$path/raters", "c")

  /** One batch's score delta from frozen-scored (s, y) rows. */
  def appendScoredBatch(spark: SparkSession, sl: DataFrame,
                        path: String, batchId: Long): Unit =
    scoreStore(path).append(IsotonicCal.scoreGroups(sl), batchId)

  /** One batch's rater delta from (ra, rb) verdict rows. */
  def appendVerdictBatch(spark: SparkSession, v: DataFrame,
                         path: String, batchId: Long): Unit =
    raterStore(path).append(
      v.groupBy("ra", "rb").agg(count(lit(1)).as("c")), batchId)

  /** Live calibration curve ≡ batch [[IsotonicCal.isotonicFromBuckets]]
    * over the absorbed corpus. */
  def isotonicView(spark: SparkSession, path: String): DataFrame =
    IsotonicCal.isotonicFromBuckets(
      IsotonicCal.bucketTableFromGroups(scoreStore(path).merged(spark)))

  /** Live agreement ≡ batch [[RaterAgreement.kappaFromVerdicts]] over
    * the absorbed corpus. */
  def kappaView(spark: SparkSession, path: String): DataFrame =
    RaterAgreement.kappaFromCells(
      RaterAgreement.cellsFromCounts(raterStore(path).merged(spark)))

  /** Live paired-asymmetry test ≡ batch [[RaterAgreement.qMcnemar]] —
    * the same absorbed 2×2 monoid as [[kappaView]], zero new state. */
  def mcnemarView(spark: SparkSession, path: String): DataFrame =
    RaterAgreement.mcnemarFromCells(
      RaterAgreement.cellsFromCounts(raterStore(path).merged(spark)))

  /** Wire a stream of document files: each batch is scored with the
    * caller's FROZEN `score` (docs ⇒ (s, y) rows), its rater verdicts
    * are the map-only [[RaterAgreement.raterVerdicts]], and both
    * deltas land under one batch id. `compactEvery` > 0 enables the
    * cadenced fold on both stores. */
  def runCalibrationStream(spark: SparkSession, uploadDir: String,
                           storePath: String, checkpointDir: String,
                           schema: StructType,
                           score: DataFrame => DataFrame,
                           compactEvery: Int = 0): StreamingQuery =
    MonoidStore.runStream(spark, uploadDir, checkpointDir, schema,
      Seq(scoreStore(storePath), raterStore(storePath)), compactEvery) {
      (batch, id) =>
        appendScoredBatch(spark, score(batch), storePath, id)
        appendVerdictBatch(spark,
          RaterAgreement.raterVerdicts(batch), storePath, id)
    }
}
