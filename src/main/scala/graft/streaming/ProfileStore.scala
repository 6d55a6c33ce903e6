package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incrementally-maintained DATA-PROFILE store — the streaming half of
  * [[graft.operators.DataQuality.qDqProfile]]: order batches arrive as
  * files and the live per-column profile (rows, nulls, min/max,
  * distinct) is a view over constant-size per-batch summaries, equal
  * at every point to a single batch pass over the absorbed corpus.
  *
  * Monoid split — each statistic rides the algebra it actually has:
  *  - n / n_null are SUM monoids (not idempotent) → redelivery safety
  *    comes from the per-batch-dir layout ([[HeavyHittersStore]]
  *    posture): a replayed batch OVERWRITES its own `batch=<id>` dir.
  *  - min/max are idempotent lattice joins — summing layout works for
  *    them trivially (min of mins, max of maxes).
  *  - distinct-count becomes the KMV bottom-k sketch (the
  *    [[KmvStore]] algebra): per-batch bottom-k rows, re-bottom-k'd
  *    at view time — KMV's merge closure makes any slicing/redelivery
  *    converge to the sketch of the union key set. EXACT per-column
  *    distinct is the one statistic that fundamentally cannot be
  *    maintained in constant state (it IS the key set) — the sketch
  *    swap is the 100 TB answer, with 1/√k error and a deterministic
  *    md5 hash so the spec can prove stream ≡ batch EXACTLY (same
  *    sketch, not just close estimates).
  *
  * Per batch the store grows by ≤ |cols| stats rows + |cols|·k sketch
  * rows — constant in batch size; the view's cost is |batches|·|cols|
  * + |cols|·k, never the corpus. */
object ProfileStore {

  val sketchK = 128

  /** The two sub-stores ([[MonoidStore]]): stats ride SUM for the
    * counts plus lattice MIN/MAX for the bounds (the non-summable
    * columns a plain sum-compaction would corrupt), and the sketch's
    * fold is the per-column bottom-k re-sketch (KMV merge closure). */
  def statsStore(p: String): MonoidStore = MonoidStore(s"$p/stats",
    MonoidStore.aggReduce(Seq("n", "n_null"), Seq("min_num", "min_str"),
      Seq("max_num", "max_str")))
  def sketchStore(p: String): MonoidStore =
    MonoidStore(s"$p/sketch", bottomK)

  private case class PCol(name: String, kind: String) // num | ts | str
  private val cols = Seq(
    PCol("o_orderkey", "num"), PCol("o_custkey", "num"),
    PCol("o_orderstatus", "str"), PCol("o_totalprice", "num"),
    PCol("o_orderdate", "ts"), PCol("o_orderpriority", "str"))

  private def numAxis(pc: PCol) = pc.kind match {
    case "num" => col(pc.name).cast(DoubleType)
    case "ts" => unix_micros(col(pc.name)).cast(DoubleType)
    case _ => lit(null).cast(DoubleType)
  }
  private def strAxis(pc: PCol) =
    if (pc.kind == "str") col(pc.name) else lit(null).cast(StringType)

  /** One batch's per-column stats delta (constant ≤ |cols| rows) — ONE
    * wide aggregate over the batch (the [[graft.operators.DataQuality
    * .qDqProfile]] single-scan shape) carved into per-column rows by
    * `stack`, instead of |cols| unioned aggregations each rescanning
    * the micro-batch. */
  def statsDelta(batch: DataFrame): DataFrame = {
    val aggs = count(lit(1)).as("n_all") +: cols.flatMap { pc => Seq(
      sum(when(col(pc.name).isNull, 1L).otherwise(0L)).as(s"nn_${pc.name}"),
      min(numAxis(pc)).as(s"mn_${pc.name}"),
      max(numAxis(pc)).as(s"mx_${pc.name}"),
      min(strAxis(pc)).as(s"ms_${pc.name}"),
      max(strAxis(pc)).as(s"xs_${pc.name}")) }
    val wide = batch.agg(aggs.head, aggs.tail: _*)
    val legs = cols.map(pc =>
      s"'${pc.name}', n_all, `nn_${pc.name}`, `mn_${pc.name}`, " +
        s"`mx_${pc.name}`, `ms_${pc.name}`, `xs_${pc.name}`").mkString(", ")
    wide.select(expr(s"stack(${cols.size}, $legs) AS " +
      "(col_name, n, n_null, min_num, max_num, min_str, max_str)"))
  }

  /** One batch's per-column bottom-k hash sketch delta (≤ |cols|·k
    * rows) — md5-Horner over the value's string rendering, the
    * engine-portable hash family. One scan: each row explodes into
    * ≤ |cols| (col_name, h) entries (null values dropped), instead of
    * |cols| unioned scans of the micro-batch. */
  def sketchDelta(batch: DataFrame): DataFrame = {
    val entries = cols.map { pc =>
      struct(lit(pc.name).as("col_name"),
        conv(substring(md5(col(pc.name).cast(StringType)
          .cast(BinaryType)), 1, 15), 16, 10).cast(LongType).as("h"))
    }
    val hashed = batch.select(explode(array(entries: _*)).as("e"))
      .select(col("e.col_name").as("col_name"), col("e.h").as("h"))
      .filter(col("h").isNotNull)
      .distinct()
    bottomK(hashed)
  }

  private def bottomK(hashes: DataFrame): DataFrame = {
    val w = Window.partitionBy("col_name").orderBy("h")
    hashes.select("col_name", "h").distinct()
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= sketchK).drop("rk")
  }

  /** Write (or on replay, overwrite) this batch's delta dirs. */
  def appendProfileBatch(spark: SparkSession, batch: DataFrame,
                         storePath: String, batchId: Long): Unit = {
    statsStore(storePath).append(statsDelta(batch), batchId)
    sketchStore(storePath).append(sketchDelta(batch), batchId)
  }

  /** The live profile over everything absorbed: (col_name, n_rows,
    * n_null, est_distinct, min_num, max_num, min_str, max_str) —
    * equal to [[profileOf]] on the union corpus. */
  def profileView(spark: SparkSession, storePath: String): DataFrame = {
    val stats = statsStore(storePath).merged(spark)
      .withColumnRenamed("n", "n_rows")
    val est = estimateFromSketch(sketchStore(storePath).merged(spark))
    stats.join(est, Seq("col_name"), "left")
      .select(col("col_name"), col("n_rows"), col("n_null"),
        coalesce(col("est_distinct"), lit(0.0)).as("est_distinct"),
        col("min_num"), col("max_num"), col("min_str"), col("max_str"))
  }

  /** The batch twin the view must equal: same stats + same sketch
    * estimator in one pass over a corpus frame. */
  def profileOf(corpus: DataFrame): DataFrame = {
    val est = estimateFromSketch(sketchDelta(corpus))
    statsDelta(corpus).join(est, Seq("col_name"), "left")
      .select(col("col_name"), col("n").as("n_rows"), col("n_null"),
        coalesce(col("est_distinct"), lit(0.0)).as("est_distinct"),
        col("min_num"), col("max_num"), col("min_str"), col("max_str"))
  }

  private def estimateFromSketch(sk: DataFrame): DataFrame =
    sk.groupBy("col_name")
      .agg(count(lit(1)).as("k_used"), max(col("h")).as("kth"))
      .select(col("col_name"),
        when(col("k_used") < sketchK, col("k_used").cast(DoubleType))
          .otherwise((col("k_used").cast(DoubleType) - 1.0) *
            lit(1152921504606846976.0) / col("kth").cast(DoubleType))
          .as("est_distinct"))
}
