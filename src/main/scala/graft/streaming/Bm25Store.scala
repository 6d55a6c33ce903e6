package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.ext.Bm25

/** Incrementally-maintained BM25 SERVING store — the freshness story
  * for the retrieval stack ([[Bm25]] ranks, [[graft.ext.Rrf]] fuses,
  * [[graft.ext.RetrievalEval]] grades — this keeps the lexical arm
  * CURRENT as the corpus grows): document batches arrive as files,
  * each contributes three bounded deltas, and the live scores for a
  * REGISTERED query-term set are served from the store without ever
  * rescanning absorbed documents.
  *
  * Deltas per batch (all sum-monoid or per-doc-disjoint, per-batch-dir
  * overwrite for replay safety — [[HeavyHittersStore]] posture):
  *  - stats: (n_docs, toktotal) — two longs;
  *  - dl: (doc_id, dl) — per-doc token counts (docs don't repeat
  *    across batches, the file-ingest contract);
  *  - tf: (doc_id, term, tf) for the registered terms only — the
  *    posting-list subset a serving deployment actually materializes
  *    (|docs with hits| × |terms| bounded).
  *
  * Document frequency never needs its own store: df(term) = the count
  * of tf rows for that term — exact by construction. The view then
  * assembles the IDENTICAL float expression tree as the batch
  * operator (same literals, same shape), so [[bm25View]] is
  * bit-equal to [[Bm25.bm25]] over the absorbed corpus, spec-proven.
  *
  * At 100 TB: per-batch work is the batch's own tokenize (the scan a
  * fresh file costs anywhere); the store grows by the posting subset
  * only; query cost is |store| — independent of corpus history. */
object Bm25Store {

  /** The three sub-stores, all [[MonoidStore]]s: corpus stats (two
    * global sums), per-doc lengths (docs are batch-disjoint, so SUM is
    * the identity fold), and the registered-term postings. */
  def statsStore(p: String): MonoidStore =
    MonoidStore.sums(s"$p/stats", "n", "toktotal")
  def dlStore(p: String): MonoidStore = MonoidStore.sums(s"$p/dl", "dl")
  def tfStore(p: String): MonoidStore = MonoidStore.sums(s"$p/tf", "tf")

  /** One batch's three deltas, written under their own batch dirs. */
  def appendBm25Batch(spark: SparkSession, docs: DataFrame,
                      terms: Seq[String], storePath: String,
                      batchId: Long): Unit = {
    // one tokenize feeds all three deltas; RELEASABLE checkpoint (a
    // raw localCheckpoint would pin one dead cached RDD per
    // micro-batch for the session lifetime — the round-4 leak class)
    val (toks, release) = graft.util.Checkpoints.checkpointTracked(
      docs.select(col("doc_id"),
        explode(expr(
          "filter(split(lower(text), '[^a-z0-9]+'), t -> t <> '')"))
          .as("term")))
    try {
      statsStore(storePath).append(
        docs.agg(count(lit(1)).as("n"))
          .crossJoin(toks.agg(count(lit(1)).as("toktotal"))), batchId)
      dlStore(storePath).append(
        toks.groupBy("doc_id").agg(count(lit(1)).as("dl")), batchId)
      tfStore(storePath).append(
        toks.filter(col("term").isin(terms: _*))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("tf")), batchId)
    } finally release()
  }

  /** Live BM25 scores of every absorbed document matching ≥1
    * registered term: (doc_id, n_hits, score) — the identical
    * expression tree as [[Bm25.bm25]], fed from the merged deltas. */
  def bm25View(spark: SparkSession, storePath: String): DataFrame = {
    val stats = statsStore(storePath).merged(spark)
    val dl = dlStore(storePath).merged(spark)
    // (doc_id, term) rows are batch-unique (docs never repeat), so the
    // merged store keeps one row per pair and df = rows per term
    val tf = tfStore(storePath).merged(spark)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .join(dl, "doc_id")
      .withColumn("avgdl",
        col("toktotal").cast("double") / col("n").cast("double"))
      .withColumn("idf", log(
        (col("n").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)) + lit(1.0)))
      .withColumn("s",
        col("idf") * (col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") +
            lit(Bm25.k1) * (lit(1.0 - Bm25.b) +
              lit(Bm25.b) * col("dl").cast("double") / col("avgdl"))))
      .groupBy("doc_id")
      // mirror the batch operator's ORDERED term fold exactly (the
      // bit-equality contract) — see Bm25.bm25's determinism note
      .agg(count(lit(1)).as("n_hits"),
        aggregate(array_sort(collect_list(struct(col("term"), col("s")))),
          lit(0.0), (acc, x) => acc + x.getField("s")).as("score"))
  }

  /** Wire the stream; `compactEvery` > 0 folds all three sub-stores on
    * the same cadence (see [[SkewStore.runSkewStream]]). */
  def runBm25Stream(spark: SparkSession, uploadDir: String,
                    terms: Seq[String], storePath: String,
                    checkpointDir: String, schema: StructType,
                    compactEvery: Int = 0): StreamingQuery =
    MonoidStore.runStream(spark, uploadDir, checkpointDir, schema,
      Seq(statsStore(storePath), dlStore(storePath), tfStore(storePath)),
      compactEvery) { (batch, id) =>
      appendBm25Batch(spark, batch, terms, storePath, id)
    }
}
