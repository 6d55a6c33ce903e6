package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.LinkPredict

/** Incrementally-maintained LINK-PREDICTION CANDIDATE state — the
  * streaming half of [[LinkPredict]]: batches of NEW undirected edges
  * arrive, and the store maintains per center exactly the state the
  * scoring head needs, so candidate scoring reads the store instead of
  * re-ranking the full adjacency every time:
  *
  *  - the bottom-S neighbor sample in md5(z:n) order — a rank-k
  *    MIN monoid with the KMV closure (bottom-S of unioned bottom-Ss
  *    ≡ bottom-S of the unioned neighbor sets), the same shape
  *    [[KmvStore]] proves for day sketches;
  *  - the FULL degree d — a per-center SUM of batch degree deltas,
  *    which is what keeps the Horvitz-Thompson scale factor
  *    C(d,2)/C(s,2) exact even though the sample forgets neighbors.
  *
  * CONTRACT: batches must be EDGE-DISJOINT (an append-only edge log —
  * each new edge arrives once). Redelivery of a whole batch is safe by
  * the [[MonoidStore]] per-batch-dir overwrite layout (the degree sum
  * is the non-idempotent piece, exactly the sum-monoid argument); the
  * same edge split across two DIFFERENT batch ids would double-count
  * d, the usual dedup-at-ingest requirement for any counting store.
  *
  * [[linkPredictView]] feeds the stored sample through the SAME
  * scoring head as the batch operator
  * ([[LinkPredict.scoreSampledAdjacency]]) — the spec proves it
  * row-identical to batch [[LinkPredict.linkPredict]] over the
  * absorbed edge set, under slicing, redelivery and compaction.
  *
  * At 100 TB the store is |centers| rows × (S structs + a long) —
  * never edge history; a batch's delta cost is its own per-center
  * bottom-S (map-side collect over the batch only), and the serving
  * head's cost is the sampled-wedge pipeline (≤ C(S,2) per center)
  * plus the left-anti against the full edge log. */
object LinkPredictStore {

  /** One batch's per-center delta: (z, d, sample) where `d` is the
    * batch's neighbor count and `sample` its bottom-S (h, n) structs
    * in the [[LinkPredict.neighborHash]] order. */
  def linkDelta(batch: DataFrame, sample: Int = LinkPredict.lpSample)
      : DataFrame = {
    val adj = batch.select(col("u").as("z"), col("v").as("n"))
      .unionAll(batch.select(col("v").as("z"), col("u").as("n")))
    adj
      .withColumn("h", LinkPredict.neighborHash(col("z"), col("n")))
      .groupBy("z").agg(
        count(lit(1)).as("d"),
        slice(array_sort(collect_list(struct(col("h"), col("n")))),
          1, sample).as("sample"))
  }

  /** Per-center fold: degree sums; samples re-rank to bottom-S of the
    * union (struct sort is (h, n) — identical to the batch rank). */
  private def reduce(sample: Int)(df: DataFrame): DataFrame =
    df.groupBy("z").agg(
        sum(col("d")).as("d"),
        slice(array_sort(flatten(collect_list(col("sample")))),
          1, sample).as("sample"))
      .select("z", "d", "sample")

  def store(storePath: String,
            sample: Int = LinkPredict.lpSample): MonoidStore =
    new MonoidStore(storePath, reduce(sample))

  def appendEdgeBatch(spark: SparkSession, batch: DataFrame,
                      storePath: String, batchId: Long,
                      sample: Int = LinkPredict.lpSample): Unit =
    store(storePath, sample).append(linkDelta(batch, sample), batchId)

  /** The maintained (z, n, d) sampled adjacency — the scoring head's
    * input, served without touching the adjacency again. */
  def sampledAdjacency(spark: SparkSession, storePath: String,
                       sample: Int = LinkPredict.lpSample): DataFrame =
    store(storePath, sample).merged(spark)
      .select(col("z"), col("d"), explode(col("sample")).as("sn"))
      .select(col("z"), col("sn.n").as("n"), col("d"))

  /** Live candidate readout ≡ batch [[LinkPredict.linkPredict]] over
    * the absorbed edges. `und` is the full edge log (u < v, distinct)
    * for the distance-2 left-anti — on disk in any deployment; the
    * expensive re-ranking is what the store saves, not the scan. */
  def linkPredictView(spark: SparkSession, storePath: String,
                      und: DataFrame,
                      sample: Int = LinkPredict.lpSample,
                      topK: Int = LinkPredict.lpTopK): DataFrame =
    LinkPredict.scoreSampledAdjacency(
      sampledAdjacency(spark, storePath, sample), und, sample, topK)
}
