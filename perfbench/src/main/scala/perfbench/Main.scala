package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.immutable.ListMap
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.util.SessionCache

/** Per-layer values of a traced run: per-op samples (reported as their
  * mean) and end-of-run gauges. Every name is always reported; a layer a
  * workload never touches reads 0. */
final class Layers {
  private val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val gauges = mutable.Map.empty[String, Double]

  def sample(name: String, v: Double): Unit = {
    require(Layers.names.contains(name), s"unknown layer metric $name")
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }

  def gauge(name: String, v: Double): Unit = {
    require(Layers.names.contains(name), s"unknown layer metric $name")
    gauges(name) = v
  }

  def values: Seq[(String, Double, Int)] = Layers.names.map { n =>
    gauges.get(n).map(v => (n, v, 1)).getOrElse {
      val s = samples.getOrElse(n, mutable.ArrayBuffer.empty[Double])
      (n, if (s.isEmpty) 0.0 else s.sum / s.size, s.size)
    }
  }
}

object Layers {
  val names: Seq[String] = Seq(
    "catalog.construct_ms", "catalog.construct_jobs", "catalog.execute_ms",
    "catalog.execute_jobs", "catalog.construct_share",
    "spark.analysis_ms", "spark.optimization_ms", "spark.planning_ms",
    "spark.jobs", "spark.stages", "spark.stages_skipped", "spark.tasks",
    "spark.tasks_per_stage", "spark.sched_delay_ms", "spark.busy_cores",
    "spark.failed_tasks", "spark.task_cpu_ms", "spark.gc_ms",
    "spark.shuffle_read_mb", "spark.shuffle_write_mb", "spark.spill_mb",
    "spark.input_mb",
    "util.cache_keys_touched", "util.pinned_mb",
    "views.txcore_build_ms", "views.retention_ms", "views.auto_optiom_ms",
    "clean.ms", "clean.rows_in", "clean.kept_ratio",
    "merge.stage_ms", "merge.merge_ms", "merge.compact_ms", "merge.write_amp",
    "merge.base_files",
    "streaming.trigger_ms", "streaming.add_batch_ms", "streaming.overhead_ms",
    "streaming.notify_lag_ms", "streaming.dead_lettered",
    "store.exp_append_ms", "store.graph_append_ms", "store.compact_ms",
    "store.delta_dirs", "store.read_ms", "store.disk_mb", "store.quarantined",
    "store.violations")
}

/** Runs one workload in a closed loop and writes the raw run record
  * (ops, host, set-up time, per-layer values and spans) as JSON.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --data <dir> --work <dir> --out <file> --expected <file>
  *        [--t0-ms <epoch ms the process was launched>] [--record]
  */
object Main {
  /** Fixed memberships (rationale and the profile that chose them in
    * perfbench/README.md): of the queries that run >=10 eager jobs while
    * being constructed, the five with the most construction jobs per warm
    * second; of the queries that run none and take >=800 ms warm, the five
    * with the most execution jobs per warm second. */
  val eagerMembers: Seq[String] =
    Seq("q_kcore", "q_dedup_methods", "q_rfm", "q_tail_risk", "q_dup_clusters")

  val oneshotMembers: Seq[String] =
    Seq("q_inclusion_deps", "q_release_gate", "q_markov_eval", "q_rrf_fusion", "q_bm25")

  private def now: Double = System.nanoTime() / 1e6

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val record = argv.contains("--record")
    val workload = args("workload")
    val seed = args.getOrElse("seed", "1").toLong
    val seconds = args.getOrElse("seconds", "10").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val t0 = args.get("t0-ms").map(_.toDouble).getOrElse(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble)
    def path(s: String) = java.nio.file.Paths.get(s).toAbsolutePath.normalize()
    val work = path(args("work"))
    val out = path(args("out"))
    val cpus = Runtime.getRuntime.availableProcessors
    val effStart = Host.effectiveCores(cpus)

    Fs.rmrf(work)
    Files.createDirectories(work.resolve("spark-local"))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(spark, trace)
    val layers = new Layers
    val ctx = new Ctx(spark, rec, layers, seed, path(args("data")),
      work.resolve("w"), path(args("expected")))
    val w: Workload = workload match {
      case "awi_refresh" => new AwiRefresh(ctx)
      case "catalog_eager" => new Catalog(ctx, eagerMembers)
      case "catalog_oneshot" => new Catalog(ctx, oneshotMembers)
      case "store_stream" => new StoreStream(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    if (record) {
      val digests = w.asInstanceOf[Catalog].record()
      Files.write(out, Json(ListMap(digests.toSeq.sortBy(_._1).map { case (q, (n, h)) =>
        q -> ListMap("rows" -> n, "hsum" -> h)
      }: _*)).getBytes(UTF_8))
      spark.stop()
      return
    }

    var setupFail: String = null
    val sessionS = (System.currentTimeMillis() - t0) / 1000.0
    try rec.span("setup.inputs", -1)(w.prepare()) catch { case e: Throwable => setupFail = s"inputs: $e" }
    val setupS = (System.currentTimeMillis() - t0) / 1000.0
    SessionCache.drainAccesses()
    rec.drain()

    // closed loop: one op at a time, whole passes, until the time is up;
    // the deadline leaves the end-of-run checks time within run.py's limit
    val deadline = t0 + 150000.0 - System.currentTimeMillis() + now
    val ops = mutable.ArrayBuffer.empty[(Int, OpResult, Double)]
    var peakStorage = 0L
    var k = 0
    var runWall = 0.0
    var busyRun, opWall, tasks, stages, sched = 0.0
    val start = now
    if (setupFail == null) {
      while (w.hasOp(k) && now < deadline &&
        (now - start < seconds * 1000 || k % w.passLen != 0)) {
        val t = now
        val r = try rec.span("op", k)(w.op(k))._1 catch {
          case e: Throwable => OpResult("error", now - t, 0.0, ok = false, e.toString)
        }
        val ms = now - t
        val used = spark.sparkContext.getExecutorMemoryStatus.values
          .map { case (max, free) => max - free }.sum
        peakStorage = math.max(peakStorage, used)
        rec.drain()
        if (trace) {
          val a = rec.opAcc(k)
          Seq("spark.analysis_ms" -> a.analysisMs, "spark.optimization_ms" -> a.optimizationMs,
            "spark.planning_ms" -> a.planningMs, "spark.jobs" -> a.jobs.toDouble,
            "spark.stages" -> a.stages.toDouble, "spark.stages_skipped" -> a.stagesSkipped.toDouble,
            "spark.tasks" -> a.tasks.toDouble, "spark.failed_tasks" -> a.failedTasks.toDouble,
            "spark.task_cpu_ms" -> a.cpuMs, "spark.gc_ms" -> a.gcMs,
            "spark.shuffle_read_mb" -> a.shuffleRead / 1e6,
            "spark.shuffle_write_mb" -> a.shuffleWrite / 1e6,
            "spark.spill_mb" -> a.spill / 1e6, "spark.input_mb" -> a.input / 1e6)
            .foreach { case (n, v) => layers.sample(n, v) }
          busyRun += a.runMs; opWall += ms; tasks += a.tasks; stages += a.stages
          sched += a.schedMs
          layers.sample("util.cache_keys_touched", SessionCache.drainAccesses().size.toDouble)
          layers.sample("util.pinned_mb", SessionCache.pinnedBytes(spark) / 1e6)
        }
        ops += ((k, r, ms))
        try w.after(k, r) catch {
          case e: Throwable =>
            ops(ops.size - 1) = (k, r.copy(ok = false, err = s"after op: $e"), ms)
        }
        k += 1
      }
      runWall = now - start
    }
    if (trace) {
      layers.gauge("spark.busy_cores", if (opWall > 0) busyRun / opWall else 0.0)
      layers.gauge("spark.tasks_per_stage", if (stages > 0) tasks / stages else 0.0)
      layers.gauge("spark.sched_delay_ms", if (tasks > 0) sched / tasks else 0.0)
    }
    val checks =
      if (setupFail != null) Seq(setupFail)
      else try w.finish() catch { case e: Throwable => Seq(s"final check: $e") }
    val disk = w.diskBytes
    val effEnd = Host.effectiveCores(cpus)

    val rawOps = ops.map { case (i, r, ms) =>
      Map("k" -> i, "kind" -> r.kind, "write_ms" -> r.writeMs,
        "read_ms" -> r.readMs, "op_ms" -> ms, "ok" -> r.ok, "err" -> r.err)
    }
    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "input_hash" -> w.inputHash,
      "host" -> (Map("cpus" -> cpus, "eff_cores_start" -> effStart,
        "eff_cores_end" -> effEnd) ++ Host.versions(spark)),
      "setup_s" -> setupS,
      "setup_parts_s" -> ListMap("jvm_session" -> sessionS, "inputs" -> (setupS - sessionS)),
      "timed_wall_s" -> runWall / 1000.0,
      "peak_storage_mb" -> peakStorage / 1e6, "disk_mb" -> disk / 1e6,
      "checks" -> checks, "ops" -> rawOps)
    if (trace) {
      report("layers") = ListMap(layers.values.map { case (n, v, c) =>
        n -> Map("value" -> v, "samples" -> c)
      }: _*)
      val spans = rec.allSpans
      val self = Recorder.selfTimes(spans)
      val spanJson = spans.sortBy(_.start).map(s => Map(
        "id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_ms" -> s.start, "end_ms" -> s.end, "ms" -> s.ms,
        "self_ms" -> self(s.id)))
      val spanFile = Path.of(out.toString.stripSuffix(".json") + ".spans.json")
      Files.write(spanFile, Json(spanJson).getBytes(UTF_8))
      report("spans_file") = spanFile.getFileName.toString
    }
    Files.write(out, Json(report).getBytes(UTF_8))
    spark.stop()
  }
}
