package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.ext.Conformal

/** Incrementally-maintained CONFORMAL CALIBRATION state — the
  * streaming half of [[Conformal]]: inferred (doc_id, score, y)
  * batches arrive, each contributes its (is_cal, score, y) COUNT
  * delta, and the live view recomputes q̂ and the coverage report from
  * the merged counts — at every point EQUAL to batch
  * [[Conformal.conformal]] over the absorbed corpus, because the group
  * table is a per-key sum monoid (the [[DriftStore]] posture) and the
  * conformal quantile is a pure function of it.
  *
  * This is the production shape of conformal monitoring: the
  * calibration set GROWS as labeled data arrives, q̂ tightens with it
  * (the (n+1)(1−α) rank), and the dashboard reads coverage drift
  * without replaying inference history. Store size is bounded by the
  * score domain × 2 labels × 2 splits — never corpus history. */
object ConformalStore {

  def store(storePath: String): MonoidStore =
    MonoidStore.sums(storePath, "c")

  /** One batch's group delta from inferred (doc_id, score, y) rows
    * (the caller runs the serving classifier — the map-only
    * [[graft.ext.CorpusOps.classifyWith]] fold — inside the stream). */
  def appendInferredBatch(spark: SparkSession, inferred: DataFrame,
                          storePath: String, batchId: Long): Unit =
    store(storePath).append(Conformal.groupsOf(inferred), batchId)

  /** Live readout ≡ batch [[Conformal.conformal]] over the absorbed
    * corpus. */
  def conformalView(spark: SparkSession, storePath: String): DataFrame =
    Conformal.conformalFromGroups(store(storePath).merged(spark))

  /** Wire a stream of inferred-row files; `compactEvery` > 0 enables
    * the cadenced fold. */
  def runConformalStream(spark: SparkSession, uploadDir: String,
                         storePath: String, checkpointDir: String,
                         schema: StructType,
                         compactEvery: Int = 0): StreamingQuery =
    MonoidStore.runStream(spark, uploadDir, checkpointDir, schema,
      Seq(store(storePath)), compactEvery) { (batch, id) =>
      appendInferredBatch(spark, batch, storePath, id)
    }
}
