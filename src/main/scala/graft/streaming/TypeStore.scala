package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.ext.{Bpe, CorpusOps, Unigram}

/** Incrementally-maintained CORPUS MODELS — the streaming half of the
  * tokenizer family: document batches arrive as files, each
  * contributes its word-type frequency delta `(word, n)` — the ONE
  * bounded surface every corpus model trains from ([[Bpe.train]],
  * [[Unigram.train]], [[CorpusOps.vocab]] all consume it) — and the
  * served models are re-fit from the merged table. Because type
  * frequencies are a per-key SUM MONOID and both trainers are
  * deterministic functions of the type table, the served BPE merge
  * list, unigram EM trace, and top-K vocab are BIT-EQUAL to a batch
  * training run over the absorbed corpus — the [[PcaStore]] exactness
  * argument applied to tokenizers. Production retraining cadence
  * becomes a view over the live store instead of a corpus re-scan:
  * per batch the stream pays one explode+partial-agg over the BATCH
  * (map-side fold to its own distinct words), and training cost rides
  * |types| — which grows sub-linearly in absorbed corpus (Heaps' law),
  * never linearly.
  *
  * The delta is the UNFILTERED explode — empty words included — so
  * each family's view applies its own batch semantics downstream
  * ([[Unigram.train]] drops empties via [[unigramTypes]]; BPE and
  * vocab keep them), keeping every view's input identical to its
  * batch twin's.
  *
  * Redelivery safety is [[MonoidStore]]'s per-batch-dir layout;
  * compaction folds committed deltas with the same sum monoid. */
object TypeStore {

  /** The store: (word, n) type-frequency rows, SUM merge. */
  def store(storePath: String): MonoidStore =
    MonoidStore.sums(storePath, "n")

  /** One batch's type-frequency delta — the exact tokenization of
    * [[Bpe.qBpeTrain]]'s type build (split on single space, count per
    * word, empties kept). */
  def typeDelta(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))

  /** Write (or on replay, overwrite) this batch's delta. */
  def appendTypesBatch(spark: SparkSession, batch: DataFrame,
                       storePath: String, batchId: Long): Unit =
    store(storePath).append(typeDelta(batch), batchId)

  /** The live merged type table over every absorbed batch. */
  def mergedTypes(spark: SparkSession, storePath: String): DataFrame =
    store(storePath).merged(spark)

  /** [[Unigram.train]]'s input semantics: empties dropped (arbitrary
    * whitespace can't mint an empty piece). */
  private def unigramTypes(types: DataFrame): DataFrame =
    types.filter(col("word") =!= "")

  /** The live BPE model — bit-equal to [[Bpe.train]] over the
    * absorbed corpus. */
  def bpeView(spark: SparkSession, storePath: String): Bpe.BpeModel =
    Bpe.train(mergedTypes(spark, storePath))

  /** The live unigram-LM model (full EM trace) — bit-equal to
    * [[Unigram.train]] over the absorbed corpus. */
  def unigramView(spark: SparkSession,
                  storePath: String): Unigram.UnigramModel =
    Unigram.train(unigramTypes(mergedTypes(spark, storePath)))

  /** The live top-K vocabulary — [[CorpusOps.vocab]]'s cut served
    * from the store (same (n desc, word) order, same K). */
  def vocabView(spark: SparkSession, storePath: String,
                topK: Int = CorpusOps.vocabTopK): DataFrame =
    mergedTypes(spark, storePath)
      .orderBy(col("n").desc, col("word")).limit(topK)

  /** Wire the stream; `compactEvery` > 0 enables the cadenced fold. */
  def runTypeStream(spark: SparkSession, uploadDir: String,
                    storePath: String, checkpointDir: String,
                    schema: StructType,
                    compactEvery: Int = 0): StreamingQuery =
    MonoidStore.runStream(spark, uploadDir, checkpointDir, schema,
      Seq(store(storePath)), compactEvery) { (batch, id) =>
      appendTypesBatch(spark, batch, storePath, id)
    }
}
