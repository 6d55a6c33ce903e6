package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.operators.Events

/** Incrementally-maintained PER-DAY KMV SKETCH store — the streaming
  * half of [[Events.rollingHll]]: event files arrive, each batch's
  * per-day bottom-k hash sketches merge into the store, and the
  * rolling-distinct dashboard is a lazy view over the stored sketches,
  * equal to the batch operator on the absorbed corpus.
  *
  * Bottom-k over a distinct hash set is an IDEMPOTENT monoid (unlike
  * the heavy-hitter counters' sum): merging two sketches of the same
  * day is union + re-bottom-k, a redelivered batch re-unions rows
  * already present, and KMV's merge closure (bottom-k of unioned
  * bottom-ks ≡ bottom-k of the unioned key sets) means the sliced
  * stream converges to exactly the sketch a single batch pass would
  * build — so the [[CohortStore]] touched-bucket monoid machinery
  * applies verbatim, just bucketed by DAY instead of user. Store size
  * is |days|·k rows, period; per-batch work is O(batch + touched
  * day-buckets), and the view's merge cost is |days|·7·k regardless of
  * user volume — the same numbers as the batch twin, now paid
  * incrementally. */
object KmvStore {

  private def dayBucket =
    pmod(unix_date(col("day")), lit(CurationStream.storeBuckets.toLong))

  /** Fold one micro-batch of raw events into the day-sketch store. */
  def mergeDaySketchBatch(spark: SparkSession, batch: DataFrame,
                          rootPath: String): Unit =
    CohortStore.mergeMonoid(spark, rootPath,
      Events.daySketches(batch),
      df => {
        // the monoid: per-day bottom-k of the distinct hash union
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("day").orderBy("h")
        df.select("day", "h").distinct()
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") <= Events.rollingKmvK).drop("rk")
      },
      bucket = dayBucket)

  def runDaySketchStream(spark: SparkSession, uploadDir: String,
                         rootPath: String, checkpointDir: String,
                         schema: StructType): StreamingQuery =
    MonoidStore.runStream(spark, uploadDir, checkpointDir, schema) {
      (batch, _) => mergeDaySketchBatch(spark, batch, rootPath)
    }

  /** The rolling 7-day distinct view over everything absorbed —
    * equal to [[Events.rollingHll]] on the union corpus. */
  def rollingView(spark: SparkSession, rootPath: String): DataFrame =
    Events.rollingFromDaySketches(
      spark.read.parquet(rootPath).select("day", "h"))
}
