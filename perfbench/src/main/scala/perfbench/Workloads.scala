package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.clean.Clean
import graft.config.PipelineConf
import graft.merge.Merge
import graft.schema.SchemaLoader.FieldSpec
import graft.streaming.{ExperimentStore, GraphStore, StreamPipeline}
import graft.util.SessionCache
import graft.views.Views

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val rec: Recorder, val layers: Layers,
                val seed: Long, val data: Path, val work: Path,
                val expected: Path) {
  def trace: Boolean = rec.on
}

/** One timed op: `write` and `read` are its two timed parts (write is 0
  * for the catalog); `kind` is "good", "poisoned" or the query name. */
final case class OpResult(kind: String, writeMs: Double, readMs: Double,
                          ok: Boolean, err: String = null)

abstract class Workload(val ctx: Ctx) {
  protected def spark: SparkSession = ctx.spark
  protected def rec: Recorder = ctx.rec
  protected val hash = new InputHash

  /** Generate the inputs and load the first state. */
  def prepare(): Unit
  def hasOp(k: Int): Boolean
  /** Ops per pass. A run is whole passes: the timed loop may only stop
    * before an op that starts a pass. The first pass runs in a fresh JVM
    * and session, so it includes the cold start. */
  def passLen: Int
  def op(k: Int): OpResult
  /** Untimed per-op housekeeping (and, when tracing, the replays). */
  def after(k: Int, r: OpResult): Unit = ()
  /** End-of-run output checks; returns the failed checks. */
  def finish(): Seq[String]
  def diskBytes: Long = 0L
  def inputHash: String = hash.hex

  protected def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()
}

/** A fixed list of catalog queries, each forced through the noop sink
  * and checked against the committed row count and digest. */
final class Catalog(ctx: Ctx, members: Seq[String]) extends Workload(ctx) {
  // A fixed order, whatever the seed: the pass is cold, and the first
  // queries absorb the JVM's warm-up, so a seed-permuted order moved the
  // pass time by up to 40% between seeds.
  private val order = members.toIndexedSeq
  hash.add("order", order.mkString(",").getBytes(UTF_8))

  private lazy val expected: Map[String, (Long, String)] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val js = JsonMethods.parse(new String(Files.readAllBytes(ctx.expected), UTF_8))
    members.map { q =>
      val e = js \ q
      q -> ((e \ "rows").extract[Long], (e \ "hsum").extract[String])
    }.toMap
  }

  /** Construct, then execute through the noop sink with the digest
    * observation attached; returns the observed (rows, hash sum). */
  private def run(q: String, op: Int): ((Long, String), Double, Double) = {
    val fn = SparkEntry.queries(q)
    val (df, cMs) = rec.span(s"catalog.construct $q", op, "construct") {
      fn(spark, ctx.data.toString)
    }
    val (observed, obs) = Digest.observed(df, s"chk_${op}_$q")
    val (_, eMs) = rec.span(s"catalog.execute $q", op, "execute") {
      noop(observed)
    }
    (Digest.read(obs), cMs, eMs)
  }

  def prepare(): Unit = ()

  /** Run every member once (cold) and return its digest — the input to
    * the committed expectation file. */
  def record(): Map[String, (Long, String)] =
    members.map(q => q -> run(q, -1)._1).toMap

  def hasOp(k: Int): Boolean = true
  def passLen: Int = order.size

  def op(k: Int): OpResult = {
    val q = order(k % order.size)
    val (got, cMs, eMs) = run(q, k)
    val ok = got == expected(q)
    ctx.layers.sample("catalog.construct_ms", cMs)
    ctx.layers.sample("catalog.execute_ms", eMs)
    ctx.layers.sample("catalog.construct_share", cMs / (cMs + eMs))
    OpResult(q, 0.0, cMs + eMs, ok,
      if (ok) null else s"$q: got $got, expected ${expected(q)}")
  }

  override def after(k: Int, r: OpResult): Unit = {
    if (ctx.trace) {
      ctx.layers.sample("catalog.construct_jobs", rec.groupJobs(k, "construct").toDouble)
      ctx.layers.sample("catalog.execute_jobs", rec.groupJobs(k, "execute").toDouble)
    }
    SessionCache.dropTransientBlocks(spark)
  }

  def finish(): Seq[String] = Nil
}

/** The paper's path: a seeded CSV upload lands, StreamPipeline cleans
  * and merges it into the month-partitioned base (with a compaction
  * cadence), and the notify stage refreshes RETENTION and AUTO_OPTIOM
  * over the updated base. */
final class AwiRefresh(ctx: Ctx) extends Workload(ctx) {
  import AwiRefresh._

  private val w = ctx.work
  private val viewDb = w.resolve("viewdb")
  private val base = viewDb.resolve("orders.parquet")
  private val dirs = StreamPipeline.StreamDirs(
    uploadDir = w.resolve("uploads").toString,
    basePath = base.toString,
    errorDir = w.resolve("errors").toString,
    notifyDir = w.resolve("notify").toString,
    checkpointDir = w.resolve("ckpt/pipeline").toString,
    stagingPath = w.resolve("stage/orders_update").toString,
    cleanedDir = w.resolve("stage/cleaned").toString,
    partitionedBase = true,
    compactEveryBatches = compactEvery)
  private val replayBase = w.resolve("replay/orders.parquet").toString
  private val replayStage = w.resolve("replay/orders_update").toString

  private val uploads = mutable.ArrayBuffer.empty[Upload]
  private val landed = mutable.ArrayBuffer.empty[Upload]
  /** Driver-side model of the base: the order dates it holds. */
  private var modelDates: Array[Long] = Array.empty
  private var batches = 0
  private var base0: DataFrame = _

  private def cutoffMillis: Long = java.time.LocalDate.parse("1996-01-01")
    .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli

  def prepare(): Unit = {
    Seq("customer", "nation", "region", "supplier", "part", "lineitem").foreach { t =>
      Files.createDirectories(viewDb)
      Files.copy(ctx.data.resolve(s"$t.parquet"), viewDb.resolve(s"$t.parquet"))
    }
    val orders = graft.Tables(spark, ctx.data.toString, "orders")
    base0 = orders.filter(col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
      .select(fields.map(f => col(f.name).cast(
        graft.schema.SchemaLoader.sparkType(f.bqType)).as(f.name)): _*)
      .localCheckpoint()
    Merge.writePartitioned(base0, base.toString, dateCol)
    if (ctx.trace) Merge.writePartitioned(base0, replayBase, dateCol)
    val last = addMonths(firstNew, nUploads) + "-01"
    val rows = orders.filter(col("o_orderdate") < lit(last).cast("timestamp"))
      .select(fields.map(f => col(f.name)): _*).collect()
    val byMonth = rows.groupBy(r => monthOf(r.getTimestamp(4).getTime))
    modelDates = rows.map(_.getTimestamp(4).getTime).filter(_ < cutoffMillis)
    val gen = w.resolve("gen")
    Files.createDirectories(gen)
    (0 until nUploads).foreach { idx =>
      val rnd = new scala.util.Random(ctx.seed * 1000003L + idx)
      val poisoned = idx % 10 == 1
      val months = (3 to 1 by -1).map(d => addMonths(firstNew, idx - d))
      val sb = new StringBuilder(fields.map(_.name).mkString(",") + "\n")
      val kept = mutable.ArrayBuffer.empty[Long]
      months.flatMap(m => byMonth.getOrElse(m, Array.empty)).foreach { r =>
        val key = r.getLong(0); val cust = r.getLong(1)
        val status = r.getString(2); val price = r.getDouble(3)
        val ts = r.getTimestamp(4).getTime; val prio = r.getString(5)
        val custCell = if (rnd.nextDouble() < 0.2) s"""="$cust"""" else cust.toString
        val priceCell =
          if (rnd.nextDouble() < 0.3)
            (math.round(price * (1.0 + (rnd.nextInt(201) - 100) / 10000.0) * 100) / 100.0).toString
          else price.toString
        val prioCell = rnd.nextDouble() match {
          case x if x < 0.05 => ""
          case x if x < 0.35 => s"""="$prio""""
          case _ => prio
        }
        val badDate = poisoned || rnd.nextDouble() < 0.02
        val dateCell =
          if (badDate) Seq("1996-13-45", "n/a", "31/02/1996")(rnd.nextInt(3))
          else fmt.format(java.time.Instant.ofEpochMilli(ts))
        if (!badDate) kept += ts
        sb ++= s"$key,$custCell,$status,$priceCell,$dateCell,$prioCell\n"
      }
      val f = gen.resolve(f"orders-$idx%03d.csv")
      val bytes = sb.toString.getBytes(UTF_8)
      Files.write(f, bytes)
      hash.add(f.getFileName.toString, bytes)
      uploads += Upload(idx, f, poisoned, kept.toArray, bytes.length.toLong)
    }
  }

  /** Land one upload, run the pipeline over it, then the notify stage's
    * view refresh; checks the outcome against the driver-side model. */
  private def ingest(u: Upload, op: Int): OpResult = {
    val before = if (ctx.trace) Fs.files(base).toSet else Set.empty[Path]
    val (_, wMs) = rec.span("awi.write", op, "write") {
      Fs.land(u.file, Path.of(dirs.uploadDir))
      landed += u
      val q = StreamPipeline.run(spark, fields, conf, dirs)
      rec.bindStream(q.runId, op)
      q.awaitTermination()
    }
    batches += 1
    if (!u.poisoned) {
      val cut = u.keptDates.min
      modelDates = modelDates.filter(_ < cut) ++ u.keptDates
    }
    if (ctx.trace && !u.poisoned) {
      val after = Fs.files(base).filter(_.toString.endsWith(".parquet"))
      val written = after.filter(p => !before.contains(p)).map(Files.size).sum
      ctx.layers.sample("merge.write_amp", written.toDouble / u.bytes)
    }
    var refreshed = 0
    var retentionRows = -1L
    val tRead = System.nanoTime()
    val (_, rMs) = rec.span("awi.read", op, "read") {
      val q = StreamPipeline.runNotifyStage(spark, dirs.notifyDir,
        w.resolve("ckpt/notify").toString) { _ =>
        ctx.layers.sample("streaming.notify_lag_ms", (System.nanoTime() - tRead) / 1e6)
        refreshed += 1
        SessionCache.clear()
        val (ret, obs) = Digest.observed(Views.retention(spark, viewDb.toString), s"ret_${op}_$batches")
        val (_, retMs) = rec.span("views.retention", op) { noop(ret) }
        retentionRows = Digest.read(obs)._1
        val (_, aoMs) = rec.span("views.auto_optiom", op) {
          noop(Views.autoOptiom(spark, viewDb.toString))
        }
        ctx.layers.sample("views.retention_ms", retMs)
        ctx.layers.sample("views.auto_optiom_ms", aoMs)
      }
      rec.bindStream(q.runId, op)
      q.awaitTermination()
    }
    val err =
      if (u.poisoned && !Files.exists(Path.of(dirs.errorDir).resolve(u.file.getFileName)))
        s"poisoned upload ${u.idx} was not dead-lettered"
      else if (u.poisoned && refreshed != 0) s"poisoned upload ${u.idx} refreshed the views"
      else if (!u.poisoned && refreshed != 1) s"upload ${u.idx} refreshed $refreshed times"
      else if (!u.poisoned && retentionRows != modelDates.length)
        s"upload ${u.idx}: RETENTION has $retentionRows rows, base model ${modelDates.length}"
      else null
    OpResult(if (u.poisoned) "poisoned" else "good", wMs, rMs, err == null, err)
  }

  def hasOp(k: Int): Boolean = k < uploads.size
  def passLen: Int = 3
  def op(k: Int): OpResult = ingest(uploads(k), k)

  override def after(k: Int, r: OpResult): Unit = if (ctx.trace) {
    val u = uploads(k)
    val path =
      if (u.poisoned) Path.of(dirs.errorDir).resolve(u.file.getFileName)
      else Path.of(dirs.uploadDir).resolve(u.file.getFileName)
    // replay of the stream body's public calls, on a separate base copy
    var spans = 0.0
    val ((raw, cleaned, kept), clMs) = rec.span("clean", k, "replay") {
      val raw = Clean.readRawCsv(spark, path.toString, fields)
      val c = Clean.clean(fields, conf)(raw).localCheckpoint()
      (raw, c, c.count())
    }
    spans += clMs
    ctx.layers.sample("clean.ms", clMs)
    val rowsIn = raw.count()
    ctx.layers.sample("clean.rows_in", rowsIn.toDouble)
    ctx.layers.sample("clean.kept_ratio", kept.toDouble / math.max(1L, rowsIn))
    if (kept > 0) {
      val (_, sMs) = rec.span("merge.stage", k, "replay") {
        Merge.overwriteAtomic(cleaned, replayStage)
      }
      val (_, mMs) = rec.span("merge.merge", k, "replay") {
        Merge.updateFromStagingPartitioned(spark, replayBase, replayStage, dateCol)
      }
      ctx.layers.sample("merge.stage_ms", sMs)
      ctx.layers.sample("merge.merge_ms", mMs)
      spans += sMs + mMs
      // same cadence test as the pipeline: stream batch id = batches - 1
      if (batches % compactEvery == 0) {
        val (_, cMs) = rec.span("merge.compact", k, "replay") {
          Merge.compactPartitions(spark, replayBase)
        }
        ctx.layers.sample("merge.compact_ms", cMs)
        spans += cMs
      }
    }
    ctx.layers.sample("streaming.overhead_ms", r.writeMs - spans)
    rec.streamProgress(k).foreach { case (trig, add) =>
      if (add > 0) {
        ctx.layers.sample("streaming.trigger_ms", trig)
        ctx.layers.sample("streaming.add_batch_ms", add)
      }
    }
    // the memo miss path the refresh pays: the TRANSACTIONS core rebuild
    SessionCache.clear()
    val (_, txMs) = rec.span("views.txcore_build", k, "replay") {
      Views.transactionsCore(spark, viewDb.toString)
    }
    ctx.layers.sample("views.txcore_build_ms", txMs)
  }

  def finish(): Seq[String] = {
    val fails = mutable.ArrayBuffer.empty[String]
    val errNames = Fs.files(Path.of(dirs.errorDir)).map(_.getFileName.toString).toSet
    val poisonNames = landed.filter(_.poisoned).map(_.file.getFileName.toString).toSet
    if (errNames != poisonNames)
      fails += s"error dir holds $errNames, poisoned uploads were $poisonNames"
    // untimed sequential fold of Merge.merge over the good uploads
    val fold = landed.filterNot(_.poisoned).foldLeft(base0) { (b, u) =>
      val p = Path.of(dirs.uploadDir).resolve(u.file.getFileName).toString
      Merge.merge(b, Clean.clean(fields, conf)(Clean.readRawCsv(spark, p, fields)),
        dateCol).localCheckpoint()
    }
    val got = Digest.of(spark.read.parquet(base.toString).drop("pmonth"))
    val want = Digest.of(fold)
    if (got != want) fails += s"final base $got != sequential merge fold $want"
    val files = Fs.files(base).count(_.toString.endsWith(".parquet"))
    ctx.layers.gauge("merge.base_files", files.toDouble)
    ctx.layers.gauge("streaming.dead_lettered", errNames.size.toDouble)
    fails.toSeq
  }

  override def diskBytes: Long = Fs.bytes(w) - Fs.bytes(w.resolve("gen"))
}

object AwiRefresh {
  final case class Upload(idx: Int, file: Path, poisoned: Boolean,
                          keptDates: Array[Long], bytes: Long)

  val dateCol = "o_orderdate"
  val compactEvery = 3
  val nUploads = 12
  val firstNew = "1996-01"
  val fields: Seq[FieldSpec] = Seq(
    FieldSpec("o_orderkey", "INTEGER", "NULLABLE"),
    FieldSpec("o_custkey", "INTEGER", "NULLABLE"),
    FieldSpec("o_orderstatus", "STRING", "NULLABLE"),
    FieldSpec("o_totalprice", "FLOAT", "NULLABLE"),
    FieldSpec("o_orderdate", "TIMESTAMP", "NULLABLE"),
    FieldSpec("o_orderpriority", "STRING", "NULLABLE"))
  val conf: PipelineConf = PipelineConf(
    name = "orders", jsonfile = "", dateCol = dateCol,
    convertFuncs = Map("o_custkey" -> "strip_excel", "o_orderpriority" -> "strip_excel"),
    tableNew = "orders_update", tableOld = "orders", uri1 = None, uri2 = None)

  private val fmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)

  def monthOf(ms: Long): String =
    java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneOffset.UTC)
      .toLocalDate.toString.take(7)

  def addMonths(ym: String, n: Int): String =
    java.time.YearMonth.parse(ym).plusMonths(n.toLong).toString
}

/** The streaming stores' write path next to their reads: seeded
  * order-disjoint slices land as parquet files and the experiment and
  * graph store streams absorb them; the live views are then read. */
final class StoreStream(ctx: Ctx) extends Workload(ctx) {
  import StoreStream._

  private val w = ctx.work
  private val upEv = w.resolve("up/events")
  private val upLi = w.resolve("up/lineitem")
  private val exp = w.resolve("store/exp").toString
  private val graph = w.resolve("store/graph").toString
  private val repExp = w.resolve("replay/exp").toString
  private val repGraph = w.resolve("replay/graph").toString
  private var evSlices: IndexedSeq[Path] = _
  private var liSlices: IndexedSeq[Path] = _
  private var evSchema: org.apache.spark.sql.types.StructType = _
  private var liSchema: org.apache.spark.sql.types.StructType = _

  private def slice(df: DataFrame, key: String, name: String): IndexedSeq[Path] = {
    val out = w.resolve(s"gen/$name")
    val sliced = df.withColumn("slice", pmod(xxhash64(col(key), lit(ctx.seed)), lit(slices)))
    sliced.repartition(col("slice"))
      .write.partitionBy("slice").parquet(out.toString)
    // parquet bytes are not reproducible, so the input hash covers content:
    // per slice, the row count and order-insensitive row digest
    sliced.groupBy("slice").agg(count(lit(1)), sum(Digest.rowHash(df).cast("decimal(38,0)")))
      .collect().map(_.mkString(",")).sorted
      .foreach(r => hash.add(name, r.getBytes(UTF_8)))
    (0 until slices).map { i =>
      Fs.singlePart(out.resolve(s"slice=$i"), ".parquet",
        w.resolve(f"gen/$name-slices/$name-$i%02d.parquet"))
    }
  }

  def prepare(): Unit = {
    val ev = graft.Tables(spark, ctx.data.toString, "events")
    val li = graft.Tables(spark, ctx.data.toString, "lineitem")
      .select("l_orderkey", "l_partkey")
    evSchema = ev.schema; liSchema = li.schema
    evSlices = slice(ev, "event_id", "events")
    liSlices = slice(li, "l_orderkey", "lineitem")
  }

  private def ingest(i: Int, op: Int): OpResult = {
    Fs.land(evSlices(i), upEv); Fs.land(liSlices(i), upLi)
    val (_, wMs) = rec.span("store.write", op, "write") {
      val q1 = ExperimentStore.runExperimentStream(spark, upEv.toString, exp,
        w.resolve("ckpt/exp").toString, evSchema, compactEvery)
      rec.bindStream(q1.runId, op); q1.awaitTermination()
      val q2 = GraphStore.runFactStream(spark, upLi.toString, graph,
        w.resolve("ckpt/graph").toString, liSchema, compactEvery)
      rec.bindStream(q2.runId, op); q2.awaitTermination()
    }
    val (rows, rMs) = rec.span("store.read", op, "read") {
      Seq("ab" -> ExperimentStore.abView(spark, exp),
        "km" -> ExperimentStore.kmView(spark, exp),
        "degree" -> GraphStore.degreeView(spark, graph)).map { case (n, v) =>
        val (o, obs) = Digest.observed(v, s"${n}_${op}_$i")
        noop(o)
        n -> Digest.read(obs)._1
      }
    }
    ctx.layers.sample("store.read_ms", rMs)
    val empty = rows.filter(_._2 == 0).map(_._1)
    OpResult("good", wMs, rMs, empty.isEmpty,
      if (empty.isEmpty) null else s"slice $i: empty views ${empty.mkString(",")}")
  }

  def hasOp(k: Int): Boolean = k < slices
  def passLen: Int = 2
  def op(k: Int): OpResult = ingest(k, k)

  override def after(k: Int, r: OpResult): Unit = if (ctx.trace) {
    val i = k
    val ev = spark.read.schema(evSchema).parquet(upEv.resolve(evSlices(i).getFileName).toString)
    val li = spark.read.schema(liSchema).parquet(upLi.resolve(liSlices(i).getFileName).toString)
    // replay of the stream bodies' public calls, on separate store copies;
    // the replay stores start at this op's slice, so their compaction
    // cadence uses the same batch ids as the live streams
    val (_, eMs) = rec.span("store.exp_append", k, "replay") {
      ExperimentStore.appendExperimentBatch(spark, ev, repExp, i.toLong)
    }
    val (_, gMs) = rec.span("store.graph_append", k, "replay") {
      GraphStore.appendFactBatch(spark, li, repGraph, i.toLong)
    }
    ctx.layers.sample("store.exp_append_ms", eMs)
    ctx.layers.sample("store.graph_append_ms", gMs)
    var spans = eMs + gMs
    if (i > 0 && i % compactEvery == 0) {
      val (_, cMs) = rec.span("store.compact", k, "replay") {
        ExperimentStore.store(repExp).maybeCompact(spark, i.toLong, compactEvery)
        Seq(GraphStore.edgeStore(repGraph), GraphStore.nodeStore(repGraph),
          GraphStore.supportStore(repGraph), GraphStore.orderStore(repGraph))
          .foreach(_.maybeCompact(spark, i.toLong, compactEvery))
      }
      ctx.layers.sample("store.compact_ms", cMs)
      spans += cMs
    }
    ctx.layers.sample("streaming.overhead_ms", r.writeMs - spans)
    rec.streamProgress(k).foreach { case (trig, add) =>
      if (add > 0) {
        ctx.layers.sample("streaming.trigger_ms", trig)
        ctx.layers.sample("streaming.add_batch_ms", add)
      }
    }
  }

  def finish(): Seq[String] = {
    val fails = mutable.ArrayBuffer.empty[String]
    val events = spark.read.schema(evSchema).parquet(upEv.toString).localCheckpoint()
    val li = spark.read.schema(liSchema).parquet(upLi.toString).localCheckpoint()
    val und = graft.operators.Triangles.undirectedEdges(li)
    val twins = Seq(
      ("ab", ExperimentStore.abView(spark, exp), graft.operators.AbTest.abTest(events)),
      ("km", ExperimentStore.kmView(spark, exp),
        graft.operators.KaplanMeier.lifeTable(
          graft.operators.KaplanMeier.timeToBigPurchase(events))),
      ("degree", GraphStore.degreeView(spark, graph),
        und.select(col("u").as("node")).unionAll(und.select(col("v").as("node")))
          .groupBy("node").agg(count(lit(1)).as("d"))))
    twins.foreach { case (n, live, twin) =>
      val (a, b) = (Digest.of(live), Digest.of(twin))
      if (a != b) fails += s"store view $n $a != batch twin $b"
    }
    val quarantined = ExperimentStore.quarantinedCount(spark, exp)
    val violations = GraphStore.violationCount(spark, graph)
    if (quarantined != 0) fails += s"$quarantined events quarantined"
    if (violations != 0) fails += s"$violations order-disjointness violations"
    ctx.layers.gauge("store.quarantined", quarantined.toDouble)
    ctx.layers.gauge("store.violations", violations.toDouble)
    val storeDir = w.resolve("store")
    val deltaDirs = Fs.files(storeDir).map(_.getParent)
      .filter(_.getFileName.toString.startsWith("batch=")).distinct.size
    ctx.layers.gauge("store.delta_dirs", deltaDirs.toDouble)
    ctx.layers.gauge("store.disk_mb", Fs.bytes(storeDir) / 1e6)
    fails.toSeq
  }

  override def diskBytes: Long = Fs.bytes(w) - Fs.bytes(w.resolve("gen"))
}

object StoreStream {
  val slices = 16
  val compactEvery = 1
}
