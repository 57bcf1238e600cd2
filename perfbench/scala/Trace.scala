package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s._
import org.json4s.JsonDSL._

/** In-memory spans around the benchmark's calls into each layer:
  * (id, name, parent, start, end, run id), times in epoch ms so they
  * line up with Spark's listener event times. Written out at exit. */
final class Tracer(val runId: String) {
  final case class Span(id: Int, name: String, parent: Int, start: Double,
      end: Double) {
    def ms: Double = end - start
  }
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var next = 0

  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def span[A](name: String)(body: => A): A = {
    val id = next
    next += 1
    val parent = stack.headOption.getOrElse(-1)
    val start = nowMs
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      done += Span(id, name, parent, start, nowMs)
    }
  }

  /** A span measured by the caller (e.g. file drop until commit). */
  def record(name: String, start: Double, end: Double): Unit = {
    done += Span(next, name, stack.headOption.getOrElse(-1), start, end)
    next += 1
  }

  def spans: Seq[Span] = done.toSeq

  def toJson: JArray = JArray(done.sortBy(_.id).map { s =>
    JObject("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.start, "end_ms" -> s.end, "run" -> runId)
  }.toList)
}

/** Counts from the Spark listeners the benchmark attaches: jobs, task
  * metrics, Catalyst planning time per query execution and micro-batch
  * progress. Nothing is recorded until [[start]]. */
final class Recorder(spark: SparkSession) {
  final case class Job(id: Int, start: Long, execId: Long,
      queryId: String, stages: Seq[Int]) {
    @volatile var end: Long = -1L
  }
  final case class Task(stage: Int, runMs: Long, cpuMs: Double, gcMs: Long,
      shuffleWrite: Long, spill: Long, input: Long)
  final case class Plan(execId: Long, ms: Long, start: Long)
  final case class Progress(queryId: String, overheadMs: Long, ts: Long)

  @volatile private var active = false
  @volatile var startedAt: Long = Long.MaxValue
  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Task)]()
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[Plan]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
      val p = e.properties
      def prop(k: String) = if (p == null) null else p.getProperty(k)
      val exec = Option(prop("spark.sql.execution.id")).map(_.toLong)
        .getOrElse(-1L)
      jobs.put(e.jobId, Job(e.jobId, e.time, exec,
        prop("sql.streaming.queryId"), e.stageIds))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val job = stageJob.get(e.stageId)
      if (m != null && jobs.containsKey(job)) tasks.add(job -> Task(
        e.stageId, m.executorRunTime, m.executorCpuTime / 1e6,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead))
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      if (active) {
        val ph = qe.tracker.phases
        val ms = Seq("analysis", "optimization", "planning")
          .flatMap(ph.get).map(_.durationMs).sum
        val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
        if (start >= startedAt) plans.add(Plan(qe.id, ms, start))
      }
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = if (active) {
      val d = e.progress.durationMs
      if (d.containsKey("addBatch") && d.containsKey("triggerExecution"))
        progress.add(Progress(e.progress.id.toString,
          d.get("triggerExecution") - d.get("addBatch"),
          java.time.Instant.parse(e.progress.timestamp).toEpochMilli))
    }
  }

  /** Register the planning listener up front: streaming queries run on
    * cloned sessions, which copy the listeners present at their start. */
  spark.listenerManager.register(planListener)

  def start(): Unit = {
    startedAt = System.currentTimeMillis()
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    active = true
  }

  /** Wait for the asynchronous listener bus to deliver what was posted. */
  def stop(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var last = -1
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
        System.currentTimeMillis() - stableSince < 500) {
      val n = tasks.size + plans.size + jobs.size
      val open = jobs.values.asScala.exists(_.end < 0)
      if (n != last || open) {
        last = n
        stableSince = System.currentTimeMillis()
      }
      Thread.sleep(50)
    }
    active = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }
}

/** The per-phase table (named `<layer>.<call>` as in BENCHMARK.md) and
  * its roll-up into the three stages every workload has. */
object Layers {
  val Stages = Seq("ingest", "transform", "serve")

  final case class PhaseRow(name: String, calls: Int, wallMs: Seq[Double],
      jobs: Int, cpuMs: Double, gcMs: Double, shuffle: Double,
      spill: Double, planMs: Double, gapMs: Double, input: Double,
      skew: Double) {
    def perCall(x: Double): Double = if (calls == 0) 0.0 else x / calls
  }

  final class Table(val rows: Seq[PhaseRow], val extra: JObject) {
    def toJson: JObject = JObject(rows.toList.flatMap { r =>
      List[(String, JValue)](
        "calls" -> r.calls,
        "wall_ms" -> Json.num(Stats.median(r.wallMs)),
        "jobs" -> r.perCall(r.jobs),
        "task_cpu_ms" -> r.perCall(r.cpuMs),
        "gc_ms" -> r.perCall(r.gcMs),
        "shuffle_bytes" -> r.perCall(r.shuffle),
        "spill_bytes" -> r.perCall(r.spill),
        "plan_ms" -> r.perCall(r.planMs),
        "driver_gap_ms" -> r.perCall(r.gapMs),
        "input_bytes" -> r.perCall(r.input),
        "task_skew" -> r.skew).map { case (m, v) => s"${r.name}.$m" -> v }
    } ++ extra.obj)
  }

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  private def covered(ivs: Seq[(Double, Double)], lo: Double,
      hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    ivs.map { case (s, e) => (s max lo, e min hi) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (curE.isNaN || s > curE) {
          if (!curE.isNaN) total += curE - curS
          curS = s
          curE = e
        } else curE = curE max e
      }
    if (!curE.isNaN) total += curE - curS
    total
  }

  def table(tracer: Tracer, rec: Recorder, wl: Workload): Table = {
    val phaseNames = wl.phases
    val spans = tracer.spans
      .filter(s => s.start >= rec.startedAt && phaseNames.contains(s.name))
    def phaseAt(t: Double): Option[String] =
      spans.filter(s => s.start <= t && t <= s.end).sortBy(_.ms)
        .headOption.map(_.name)
    val jobs = rec.jobs.values.asScala.toSeq
    val jobPhase: Map[Int, String] = jobs.flatMap { j =>
      val p = Option(j.queryId).flatMap(wl.streamPhase)
        .orElse(phaseAt(j.start.toDouble))
      p.map(j.id -> _)
    }.toMap
    val execPhase: Map[Long, String] = jobs.filter(_.execId >= 0)
      .flatMap(j => jobPhase.get(j.id).map(j.execId -> _)).toMap
    val tasks = rec.tasks.asScala.toSeq
    val plans = rec.plans.asScala.toSeq
    val rows = phaseNames.map { ph =>
      val ss = spans.filter(_.name == ph)
      val pj = jobs.filter(j => jobPhase.get(j.id).contains(ph))
      val pjIds = pj.map(_.id).toSet
      val pt = tasks.filter(t => pjIds.contains(t._1)).map(_._2)
      val pp = plans.filter(p => execPhase.get(p.execId)
        .orElse(phaseAt(p.start.toDouble)).contains(ph))
      val ivs = pj.map(j => (j.start.toDouble,
        (if (j.end < 0) j.start else j.end).toDouble))
      val gap = ss.map(s => s.ms - covered(ivs, s.start, s.end)).sum
      // skew of the widest engine stage the phase ran
      val skew = pt.groupBy(_.stage).values.toSeq.sortBy(-_.size).headOption
        .filter(_.size > 1).map { ts =>
          val rt = ts.map(_.runMs.toDouble)
          val med = Stats.median(rt)
          if (med <= 0) 1.0 else rt.max / med
        }.getOrElse(1.0)
      PhaseRow(ph, ss.size, ss.map(_.ms), pj.size, pt.map(_.cpuMs).sum,
        pt.map(_.gcMs.toDouble).sum, pt.map(_.shuffleWrite.toDouble).sum,
        pt.map(_.spill.toDouble).sum, pp.map(_.ms.toDouble).sum, gap,
        pt.map(_.input.toDouble).sum, skew)
    }
    val prog = rec.progress.asScala.toSeq
    val overheads = wl.streamPhases.flatMap { case (qid, ph) =>
      val o = prog.filter(p => p.queryId == qid && p.ts >= rec.startedAt)
        .map(_.overheadMs.toDouble)
      if (o.isEmpty) None
      else Some(s"$ph.trigger_overhead_ms" -> JDouble(Stats.median(o)))
    }
    val unattributed = jobs.count(j => !jobPhase.contains(j.id))
    new Table(rows, JObject(overheads.toList ++
      List("unattributed_jobs" -> JInt(unattributed)) ++ wl.layerExtras.obj))
  }

  /** The stage roll-up printed as the per-layer metrics: per pass, over
    * the traced passes; `task_skew` is the largest phase skew. GC time
    * stays in the phase table only: a stage without a collection reads
    * 0 ms on every run. */
  def perLayer(t: Table, passes: Int, wl: Workload): Map[String, Double] = {
    val n = passes.max(1).toDouble
    Stages.flatMap { st =>
      val rs = t.rows.filter(r => wl.stageOf(r.name) == st)
      def per(f: PhaseRow => Double) = rs.map(f).sum / n
      Seq(
        "wall_ms" -> per(_.wallMs.sum),
        "jobs" -> per(_.jobs.toDouble),
        "task_cpu_ms" -> per(_.cpuMs),
        "shuffle_bytes" -> per(_.shuffle),
        "spill_bytes" -> per(_.spill),
        "plan_ms" -> per(_.planMs),
        "driver_gap_ms" -> per(_.gapMs),
        "input_bytes" -> per(_.input),
        "task_skew" -> (rs.map(_.skew) :+ 1.0).max)
        .map { case (m, v) => s"$st.$m" -> v }
    }.toMap
  }
}
