package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.ext.{ChaoRichness, Conformal, IsotonicCal, RaterAgreement,
  Readability, TextRank}
import graft.streaming.{CalibrationStore, ConformalStore, MonoidStore,
  ProfileStore, SkewStore, StoreCompaction, TextStatsStore}

/** The unified per-batch-delta store contract, proven once over the
  * shared implementation: in-stream cadenced compaction changes no
  * view, bounds the dir count, survives a stream restart (checkpoint
  * resume), never folds the batch in flight (so a redelivered batch
  * overwrites instead of double-counting), and the non-sum folds
  * (min/max lattice, bottom-k sketch) compact with their own monoid
  * rather than a corrupting column sum. */
class MonoidStoreSpec extends SparkSpec {
  import spark.implicits._

  private def batchDirs(root: String): Seq[String] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("batch=")).toSeq.sorted
  }

  test("stream with compaction cadence: view identical, dirs bounded, " +
    "restart resumes over the compacted store") {
    val tmp = java.nio.file.Files.createTempDirectory("monoidstore")
      .toFile.getAbsolutePath
    // five uploads -> five micro-batches (1 file/trigger)
    val ups = (0 until 5).map { b =>
      val df = (1L to 500L).map(i => ((i + b) % 40, i)).toDF("fk", "v")
      df.coalesce(1).write.parquet(s"$tmp/src/up$b")
      df
    }
    // cadence 2: batches 2 and 4 fold everything committed before them
    SkewStore.runSkewStream(spark, s"$tmp/src/*", "fk", s"$tmp/store",
      s"$tmp/ckpt", ups.head.schema, compactEvery = 2).awaitTermination()
    val dirs = batchDirs(s"$tmp/store")
    // batch 4 folded {-1 base, 2, 3}; its own delta stays a live dir
    assert(dirs.contains("batch=-1"))
    assert(dirs.size < 5, s"compaction should bound dirs, got $dirs")
    // the view over the compacted store == the batch profile
    val all = ups.reduce(_ unionAll _)
    val live = SkewStore.keyCounts(spark, s"$tmp/store")
    val batch = all.groupBy(col("fk").as("k")).agg(count(lit(1)).as("c"))
    assert(live.exceptAll(batch).isEmpty && batch.exceptAll(live).isEmpty)
    // restart with one more upload: checkpoint resumes past absorbed
    // batches (their dirs are gone - the compaction safety contract),
    // the new batch lands, and the view stays exact
    val up5 = (1L to 500L).map(i => (i % 7, i)).toDF("fk", "v")
    up5.coalesce(1).write.parquet(s"$tmp/src/up5")
    SkewStore.runSkewStream(spark, s"$tmp/src/*", "fk", s"$tmp/store",
      s"$tmp/ckpt", up5.schema, compactEvery = 2).awaitTermination()
    val live2 = SkewStore.keyCounts(spark, s"$tmp/store")
    val batch2 = all.unionAll(up5)
      .groupBy(col("fk").as("k")).agg(count(lit(1)).as("c"))
    assert(live2.exceptAll(batch2).isEmpty && batch2.exceptAll(live2).isEmpty)
  }

  test("min/max + sketch folds compact with their own monoid " +
    "(profile store unchanged by compaction)") {
    val tmp = java.nio.file.Files.createTempDirectory("monoidprofile")
      .toFile.getAbsolutePath
    val mk = (lo: Long, hi: Long) => (lo to hi).map(i =>
      (i, i % 50, if (i % 11 == 0) null else s"S$i", i * 10.0,
        java.sql.Timestamp.valueOf(s"2024-01-0${1 + (i % 9)} 00:00:00"),
        s"P${i % 3}"))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
    val b0 = mk(1L, 400L); val b1 = mk(401L, 800L); val b2 = mk(801L, 1200L)
    ProfileStore.appendProfileBatch(spark, b0, s"$tmp/store", 0L)
    ProfileStore.appendProfileBatch(spark, b1, s"$tmp/store", 1L)
    ProfileStore.appendProfileBatch(spark, b2, s"$tmp/store", 2L)
    val before = ProfileStore.profileView(spark, s"$tmp/store").collect()
      .map(_.toSeq).toSet
    // fold batches 0 and 1 (committed); min/max must lattice-join and
    // the sketch must re-bottom-k - a sum over either would corrupt
    assert(ProfileStore.statsStore(s"$tmp/store").compact(spark, 1L) === 2)
    assert(ProfileStore.sketchStore(s"$tmp/store").compact(spark, 1L) === 2)
    val after = ProfileStore.profileView(spark, s"$tmp/store").collect()
      .map(_.toSeq).toSet
    assert(after === before)
    // base holds at most one row per col_name for stats (the
    // one-base-delta goal the round-11 sum-only fold defeated)
    val base = spark.read.parquet(s"$tmp/store/stats/batch=-1")
    assert(base.count() === base.select("col_name").distinct().count())
    // idempotent re-run: nothing eligible
    assert(ProfileStore.statsStore(s"$tmp/store").compact(spark, 1L) === 0)
  }

  test("recover() on stream start converges a mid-delete crash") {
    val tmp = java.nio.file.Files.createTempDirectory("monoidrecover")
      .toFile.getAbsolutePath
    val store = MonoidStore.sums(s"$tmp/store", "c")
    store.append(Seq((1L, 2L), (2L, 3L)).toDF("k", "c"), 0L)
    store.append(Seq((1L, 5L), (3L, 1L)).toDF("k", "c"), 1L)
    store.append(Seq((2L, 7L)).toDF("k", "c"), 2L)
    val want = store.merged(spark).collect().map(_.toSeq).toSet
    // simulate a crash: the durable temp + manifest exist, one absorbed
    // dir is already deleted, the rename never happened
    val root = new Path(s"$tmp/store")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmpDir = new Path(root, ".compact-tmp-1")
    spark.read.parquet(s"$tmp/store/batch=0", s"$tmp/store/batch=1")
      .groupBy("k").agg(sum(col("c")).as("c")).coalesce(1)
      .write.parquet(tmpDir.toString)
    val out = fs.create(new Path(tmpDir, "_ABSORBED"), true)
    out.write("batch=0\nbatch=1".getBytes("UTF-8")); out.close()
    fs.delete(new Path(root, "batch=0"), true) // died mid-delete
    store.recover(spark)
    assert(batchDirs(s"$tmp/store").toSet === Set("batch=-1", "batch=2"))
    assert(store.merged(spark).collect().map(_.toSeq).toSet === want)
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Synthetic documents (doc_id, source, text): two sources, lengths
    * straddling the rater gate's 100-char bound, some multi-sentence. */
  private def docsUpload(b: Int): DataFrame = {
    val vocab = Seq("river", "stone", "the", "light", "of", "cloud",
      "bright", "a", "market", "signal", "green", "and", "harbor")
    (0 until 40).map { i =>
      val id = b * 1000L + i
      val words = (0 until 6 + (i * 7 + b) % 25).map(j =>
        vocab(((id * 7 + j * j * 3) % vocab.size).toInt))
      (id, if (i % 2 == 0) "web" else "books",
        words.mkString(" ") + (if (i % 3 == 0) ". Then more." else "."))
    }.toDF("doc_id", "source", "text")
  }

  /** The frozen scorer the calibration wrapper is fed: docs ⇒ (s, y). */
  private def frozenScore(docs: DataFrame): DataFrame =
    docs.select((length(col("text")) % 11).cast("long").as("s"),
      (col("doc_id") % 3 === 0).cast("int").as("y"))

  /** One wrapper under the redelivery contract: its three uploads, its
    * stream run (uploadGlob, storePath, ckpt, schema) at cadence 2, the
    * served readout, and the batch twin over the union of uploads. */
  private case class RedeliveryRow(
      name: String,
      uploads: () => Seq[DataFrame],
      run: (String, String, String, StructType) => StreamingQuery,
      served: String => Seq[String],
      twin: DataFrame => Seq[String])

  private val redeliveryRows = Seq(
    RedeliveryRow("SkewStore.runSkewStream",
      () => (0 until 3).map(b =>
        (1L to 300L).map(i => ((i * (b + 1)) % 23, i)).toDF("fk", "v")),
      (up, st, ck, sc) => SkewStore.runSkewStream(
        spark, up, "fk", st, ck, sc, compactEvery = 2),
      st => sortedRows(SkewStore.keyCounts(spark, st)),
      all => sortedRows(
        all.groupBy(col("fk").as("k")).agg(count(lit(1)).as("c")))),
    RedeliveryRow("TextStatsStore.runTextStatsStream",
      () => (0 until 3).map(docsUpload),
      (up, st, ck, sc) => TextStatsStore.runTextStatsStream(
        spark, up, st, ck, sc, compactEvery = 2),
      st => sortedRows(TextStatsStore.chaoView(spark, st)) ++
        sortedRows(TextStatsStore.readabilityView(spark, st)) ++
        sortedRows(TextStatsStore.textrankView(spark, st)),
      all => sortedRows(ChaoRichness.chaoRichness(all)) ++
        sortedRows(Readability.readability(all)) ++
        sortedRows(TextRank.textrank(all))),
    RedeliveryRow("ConformalStore.runConformalStream",
      () => (0 until 3).map(b => (0L until 200L).map(i =>
        (b * 1000L + i, (i * 13 + b) % 17, if (i % 3 == 0) 1 else 0))
        .toDF("doc_id", "score", "y")),
      (up, st, ck, sc) => ConformalStore.runConformalStream(
        spark, up, st, ck, sc, compactEvery = 2),
      st => sortedRows(ConformalStore.conformalView(spark, st)),
      all => sortedRows(Conformal.conformal(all))),
    RedeliveryRow("CalibrationStore.runCalibrationStream",
      () => (0 until 3).map(docsUpload),
      (up, st, ck, sc) => CalibrationStore.runCalibrationStream(
        spark, up, st, ck, sc, frozenScore, compactEvery = 2),
      st => sortedRows(CalibrationStore.isotonicView(spark, st)) ++
        sortedRows(CalibrationStore.kappaView(spark, st)),
      all => sortedRows(IsotonicCal.isotonicFromBuckets(
          IsotonicCal.bucketTable(frozenScore(all)))) ++
        sortedRows(RaterAgreement.kappaFromVerdicts(
          RaterAgreement.raterVerdicts(all)))))

  // three uploads at cadence 2: batch 2 folds batches 0-1 into the
  // base. Losing batch 2's commit makes the restart re-run it for
  // real, and the served view must still equal its batch twin — a
  // fold that took the in-flight batch counts it twice.
  redeliveryRows.foreach { r =>
    test(s"redelivered cadence batch: served == batch twin (${r.name})") {
      val tmp = java.nio.file.Files.createTempDirectory("redeliver")
        .toFile.getAbsolutePath
      val ups = r.uploads()
      ups.zipWithIndex.foreach { case (df, i) =>
        df.coalesce(1).write.parquet(s"$tmp/src/up$i")
      }
      def runToEnd(): Unit = r.run(s"$tmp/src/*", s"$tmp/store",
        s"$tmp/ckpt", ups.head.schema).awaitTermination()
      runToEnd()
      val fs = new Path(tmp)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val files = fs.listFiles(new Path(s"$tmp/store"), true)
      var folded = false
      while (files.hasNext)
        if (files.next().getPath.toString.contains("/batch=-1/")) folded = true
      assert(folded, "batch 2 should have fired the cadence fold")
      val commits = new Path(s"$tmp/ckpt/commits")
      Seq("2", ".2.crc").foreach(n => fs.delete(new Path(commits, n), false))
      runToEnd()
      assert(fs.exists(new Path(commits, "2")), "batch 2 was not re-run")
      assert(r.served(s"$tmp/store") === r.twin(ups.reduce(_ unionAll _)))
    }
  }
}
