package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.ext.{ChaoRichness, FightinWords, Readability, TextRank}

/** Incrementally-maintained CORPUS-TEXT-STATISTICS store — the live
  * serving layer for the lexical analytics family: document batches
  * arrive as files, each contributes three bounded SUM-monoid deltas,
  * and four readouts serve from the merged state without rescanning
  * absorbed documents:
  *
  *  - wc: (source, word, c) token counts → [[chaoView]] (richness /
  *    unseen mass) and [[fightinWordsView]] (log-odds drift between
  *    the source halves);
  *  - rd: (source, n_docs, w, s, y) readability count sums →
  *    [[readabilityView]];
  *  - bg: (src, dst, w) symmetrized co-occurrence edges →
  *    [[textrankView]] (keyword ranking).
  *
  * All three deltas are per-key sums (the [[Bm25Store]] algebra);
  * replay safety comes from the per-batch-dir overwrite, compaction
  * from [[MonoidStore]]'s cadenced fold. State is VOCAB-bounded —
  * word and edge sets saturate under Heaps' law while counts grow, so
  * a long-running stream's store approaches a constant footprint, the
  * rare store whose state is sublinear in what it absorbed.
  *
  * Every view reuses the batch operator's `From*` entry verbatim, so
  * stream ≡ batch is an algebraic identity, spec-proven under
  * split-across-batches sources, replay and compaction. */
object TextStatsStore {

  def wcStore(p: String): MonoidStore = MonoidStore.sums(s"$p/wc", "c")
  def rdStore(p: String): MonoidStore =
    MonoidStore.sums(s"$p/rd", "n_docs", "n_words", "n_sentences",
      "n_syllables")
  def bgStore(p: String): MonoidStore = MonoidStore.sums(s"$p/bg", "w")

  /** One batch's three deltas under their own batch dirs. */
  def appendTextBatch(spark: SparkSession, docs: DataFrame,
                      storePath: String, batchId: Long): Unit = {
    val (d, release) = graft.util.Checkpoints.checkpointTracked(docs)
    try {
      wcStore(storePath).append(ChaoRichness.wordCounts(d)
        .withColumnRenamed("w", "word"), batchId)
      rdStore(storePath).append(Readability.perDocCounts(d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("w").as("n_words"),
          sum("s").as("n_sentences"), sum("y").as("n_syllables")),
        batchId)
      bgStore(storePath).append(TextRank.wordEdges(d), batchId)
    } finally release()
  }

  /** Live richness ≡ [[ChaoRichness.chaoRichness]]. */
  def chaoView(spark: SparkSession, storePath: String): DataFrame =
    ChaoRichness.chaoFromWordCounts(
      wcStore(storePath).merged(spark).withColumnRenamed("word", "w"))

  /** Live lexical drift ≡ [[FightinWords.fightinWords]]. */
  def fightinWordsView(spark: SparkSession, storePath: String): DataFrame =
    FightinWords.fightinFromWordCounts(wcStore(storePath).merged(spark))

  /** Live readability ≡ [[Readability.readability]]. */
  def readabilityView(spark: SparkSession, storePath: String): DataFrame =
    Readability.readabilityFromCounts(rdStore(storePath).merged(spark))

  /** Live keywords ≡ [[TextRank.textrank]]. */
  def textrankView(spark: SparkSession, storePath: String): DataFrame =
    TextRank.textrankFromEdges(bgStore(storePath).merged(spark))

  /** Wire the stream ([[Bm25Store.runBm25Stream]] posture);
    * `compactEvery` > 0 folds all three sub-stores on cadence. */
  def runTextStatsStream(spark: SparkSession, uploadDir: String,
                         storePath: String, checkpointDir: String,
                         schema: StructType,
                         compactEvery: Int = 0): StreamingQuery =
    MonoidStore.runStream(spark, uploadDir, checkpointDir, schema,
      Seq(wcStore(storePath), rdStore(storePath), bgStore(storePath)),
      compactEvery) { (batch, id) =>
      appendTextBatch(spark, batch, storePath, id)
    }
}
