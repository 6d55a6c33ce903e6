package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is -1 for a root; `op` is the op id (-1
  * for set-up and checks). Times are epoch milliseconds. */
final case class Span(id: Int, name: String, start: Double, end: Double,
                      parent: Int, op: Int) {
  def ms: Double = end - start
}

/** Spark-side work of one job group: scheduler counts, task metrics and
  * Catalyst phase times. */
final class Acc {
  var jobs, stages, stagesSkipped, tasks, failedTasks = 0L
  var runMs, cpuMs, gcMs, schedMs = 0.0
  var shuffleRead, shuffleWrite, spill, input = 0L
  var analysisMs, optimizationMs, planningMs = 0.0

  def +=(o: Acc): Unit = {
    jobs += o.jobs; stages += o.stages; stagesSkipped += o.stagesSkipped
    tasks += o.tasks; failedTasks += o.failedTasks
    runMs += o.runMs; cpuMs += o.cpuMs; gcMs += o.gcMs; schedMs += o.schedMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; input += o.input
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs
  }
}

/** Span recorder plus, when `on`, the three listeners of the traced run.
  *
  * Every unit of harness work runs under a Spark job group named
  * `op<k>|<phase>` (set on the calling thread before the work starts).
  * Listener data is keyed by that property — never by "the op that was
  * running when the event arrived" — so the asynchronous listener bus
  * cannot charge one op's tasks to the next. Streaming queries run their
  * batches on their own thread under a job group equal to the query's
  * run id; the harness binds each run id to the op that started it. */
final class Recorder(spark: SparkSession, val on: Boolean) {
  private val sc = spark.sparkContext
  private val spansBuf = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  private var currentGroup: String = null

  // group → (span id, op id)
  private val groups = new ConcurrentHashMap[String, (Int, Int)]()
  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val submitted = ConcurrentHashMap.newKeySet[Int]()
  private val jobInfo = new ConcurrentHashMap[Int, (String, Double, Seq[Int])]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val jobSpans = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Double, Double)]()
  private val qeEvents = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, Double, Double, Double)]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double, Double, Double)]()

  private def now: Double = System.nanoTime() / 1e6 - Recorder.offset

  private def acc(g: String): Acc = accs.computeIfAbsent(g, _ => new Acc)

  if (on) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("unassigned")
        props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .foreach(id => execGroup.put(id.toLong, g))
        e.stageIds.foreach(s => stageGroup.putIfAbsent(s, g))
        jobInfo.put(e.jobId, (g, e.time.toDouble, e.stageIds))
        acc(g).jobs += 1
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobInfo.remove(e.jobId)).foreach { case (g, t0, stageIds) =>
          acc(g).stagesSkipped += stageIds.count(s => !submitted.contains(s))
          jobSpans.add((g, e.jobId, t0, e.time.toDouble))
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        submitted.add(e.stageInfo.stageId)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        acc(stageGroup.getOrDefault(e.stageInfo.stageId, "unassigned")).stages += 1
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val a = acc(stageGroup.getOrDefault(e.stageId, "unassigned"))
        a.tasks += 1
        if (!e.taskInfo.successful) a.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuMs += m.executorCpuTime / 1e6
          a.gcMs += m.jvmGCTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.input += m.inputMetrics.bytesRead
          val i = e.taskInfo
          a.schedMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val ph = qe.tracker.phases
        def d(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
        val end = ph.values.map(_.endTimeMs).maxOption.getOrElse(0L).toDouble
        qeEvents.add((qe.id, d("analysis"), d("optimization"), d("planning"), end))
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs
        def g(k: String) = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
        progress.add((p.runId.toString, g("triggerExecution"), g("addBatch"),
          java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble))
      }
    })
  }

  /** Time `body` as a span named `name` of op `op`. With `phase`, the
    * body also runs under job group `op<op>|<phase>`. */
  def span[T](name: String, op: Int, phase: String = null)(body: => T): (T, Double) = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val prevGroup = currentGroup
    if (phase != null) {
      val g = s"${if (op < 0) "setup" else s"op$op"}|$phase"
      groups.put(g, (id, op))
      currentGroup = g
      sc.setJobGroup(g, name, interruptOnCancel = false)
    }
    val t0 = now
    stack.push(id)
    try {
      val r = body
      (r, now - t0)
    } finally {
      stack.pop()
      spansBuf += Span(id, name, Recorder.epoch(t0), Recorder.epoch(now), parent, op)
      if (phase != null) {
        currentGroup = prevGroup
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, name, interruptOnCancel = false)
      }
    }
  }

  /** Charge a streaming query's batches (job group = its run id) to the
    * innermost open span. */
  def bindStream(runId: java.util.UUID, op: Int): Unit =
    groups.put(runId.toString, (stack.headOption.getOrElse(-1), op))

  def drain(): Unit = if (on) org.apache.spark.perfbench.Bus.drain(sc)

  /** Spark-side totals of every group bound to `op`, read right after
    * the op and before its replays. */
  def opAcc(op: Int): Acc = {
    val out = new Acc
    val mine = groups.asScala.collect { case (g, (_, o)) if o == op => g }.toSet
    accs.asScala.foreach { case (g, a) => if (mine(g)) out += a }
    // A command (a write) reports its phases under the outer query
    // execution, while its jobs carry the inner one's id; such an event
    // has no job group and is charged to the op whose span contains it.
    val window = spansBuf.find(s => s.name == "op" && s.op == op)
    qeEvents.asScala.foreach { case (exec, an, opt, pl, end) =>
      val charged = Option(execGroup.get(exec)) match {
        case Some(g) => mine(g)
        case None => window.exists(w => end >= w.start && end <= w.end)
      }
      if (charged) {
        out.analysisMs += an; out.optimizationMs += opt; out.planningMs += pl
      }
    }
    out
  }

  /** Jobs run under the groups of `op` whose phase is `phase`. */
  def groupJobs(op: Int, phase: String): Long =
    Option(accs.get(s"op$op|$phase")).map(_.jobs).getOrElse(0L)

  /** Streaming progress of the queries bound to `op`: (trigger ms, addBatch ms). */
  def streamProgress(op: Int): Seq[(Double, Double)] = {
    val mine = groups.asScala.collect { case (g, (_, o)) if o == op => g }.toSet
    progress.asScala.toSeq.collect {
      case (run, trig, add, _) if mine(run) => (trig, add)
    }
  }

  /** Every span: the harness's own plus one per Spark job and streaming
    * trigger, each parented to the span of its job group. */
  def allSpans: Seq[Span] = {
    var id = nextId
    def parentOf(g: String): (Int, Int) =
      Option(groups.get(g)).getOrElse((-1, -1))
    val jobs = jobSpans.asScala.toSeq.map { case (g, jobId, t0, t1) =>
      val (p, op) = parentOf(g); id += 1
      Span(id, s"spark.job $jobId", t0, t1, p, op)
    }
    val trig = progress.asScala.toSeq.map { case (run, t, _, ts) =>
      val (p, op) = parentOf(run); id += 1
      Span(id, "streaming.trigger", ts, ts + t, p, op)
    }
    spansBuf.toSeq ++ jobs ++ trig
  }
}

object Recorder {
  /** nanoTime-based clock mapped onto epoch milliseconds. */
  private val offset: Double = System.nanoTime() / 1e6
  private val epoch0: Double = System.currentTimeMillis().toDouble
  def epoch(rel: Double): Double = epoch0 + rel

  /** Self time of each span: its duration minus its direct children's. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent).map { case (p, ss) => p -> ss.map(_.ms).sum }
    spans.map(s => s.id -> math.max(0.0, s.ms - kids.getOrElse(s.id, 0.0))).toMap
  }
}
