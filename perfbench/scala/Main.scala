package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.JsonDSL._

/** One benchmark run in one JVM, driven by `perfbench/run.py`.
  *
  *  1. Start a `local[cores]` session whose scratch space lives in `--dir`.
  *  2. Set the workload up (inputs, stores, streams), then run one
  *     untimed warm-up pass, the same pass that is timed. `setup_s` is
  *     the time from JVM start to the first timed pass.
  *  3. Time passes for `--seconds`; `wall_s` is the median pass.
  *     With `--trace 1` half of the time runs untraced and half traced
  *     (listeners attached, batch phases materialised at their
  *     boundaries), and the per-layer table is written to `--trace-dir`.
  *  4. Check the outputs and write `--out` (JSON) for run.py, which adds
  *     the DuckDB replays and prints the final line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    // JVM start, in seconds before the monotonic clock's `t0`
    val t0 = System.nanoTime()
    val upAtT0 = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val dir = opt("dir")
    val cores = opt("cores").toInt
    var out = List.empty[JField]

    val (spark, sessionS) = secondsOf(Session.start(cores, dir))
    val wl: Workload = workload match {
      case "ehr_pipeline" => new EhrPipeline(spark, seed)
      case "index_lifecycle" => new IndexLifecycle(spark, seed)
      case other => sys.error(s"unknown workload $other")
    }
    var failed = 0
    var attempted = 0
    val failures = mutable.ArrayBuffer.empty[String]
    // the planning listener must exist before set-up starts any stream
    val recorder = if (traced) Some(new Recorder(spark)) else None
    try {
      val setUpS = secondsOf(wl.setUp(s"$dir/setup"))._2
      val warmupS = secondsOf(wl.pass(new Tracer("warmup"), traced = false))._2
      val setupS = upAtT0 + (System.nanoTime() - t0) / 1e9
      val gcBefore = Session.gcMs
      val load0 = Session.loadAvg
      val tracer = new Tracer(s"$workload-$seed")
      val untraced = timePasses(wl, tracer,
        if (traced) seconds / 2 else seconds, trace = false)
      val tracedRun = recorder.map { rec =>
        rec.start()
        try timePasses(wl, tracer, seconds / 2, trace = true)
        finally rec.stop()
      }
      val runs = untraced +: tracedRun.toSeq
      val tracedWalls = tracedRun.toSeq.flatMap(_.walls)
      attempted = runs.map(_.ops).sum
      failed = runs.map(_.failed).sum
      failures ++= runs.flatMap(_.errors)
      val gcTimed = Session.gcMs - gcBefore
      val heapMb = Session.retainedHeapMb()
      val load1 = Session.loadAvg
      val (checked, checkS) = secondsOf(
        if (failures.isEmpty) wl.check(s"$dir/check") else Nil)
      failures ++= checked

      out ::= "metrics" -> JObject(
        "setup_s" -> Json.num(setupS),
        "wall_s" -> Json.num(Stats.median(untraced.walls)),
        "retained_heap_mb" -> Json.num(heapMb))
      recorder.foreach { rec =>
        val table = Layers.table(tracer, rec, wl)
        val perLayer = Layers.perLayer(table, tracedWalls.size, wl) +
          ("trace_overhead_s" ->
            (Stats.median(tracedWalls) - Stats.median(untraced.walls)))
        val perLayerJson = JObject(perLayer.toList.sortBy(_._1)
          .map { case (k, v) => k -> Json.num(v) })
        out ::= "per_layer" -> perLayerJson
        opt.get("trace-dir").foreach { td =>
          new java.io.File(td).mkdirs()
          Json.write(s"$td/spans.json", tracer.toJson)
          Json.write(s"$td/layers.json", JObject(
            "workload" -> workload, "seed" -> seed,
            "traced_passes" -> tracedWalls.size,
            "trace_overhead_s" -> Json.num(perLayer("trace_overhead_s")),
            "phases" -> table.toJson, "per_layer" -> perLayerJson))
        }
      }
      out ::= "info" -> JObject(
        "workload" -> workload, "seed" -> seed, "cores" -> cores,
        "session_s" -> sessionS, "set_up_s" -> setUpS,
        "warmup_s" -> warmupS,
        "pass_walls_s" -> untraced.walls.toList,
        "pass_phase_ms" -> JObject(wl.phases.toList.map { p =>
          p -> JDouble(tracer.spans.filter(_.name == p).map(_.ms).sum /
            math.max(1, untraced.walls.size + tracedWalls.size))
        }),
        "traced_pass_walls_s" -> tracedWalls.toList,
        "check_s" -> checkS, "timed_gc_ms" -> gcTimed,
        "loadavg_start" -> load0, "loadavg_end" -> load1,
        "inputs" -> wl.inputInfo, "details" -> wl.details)
      out ::= "check_inputs" -> wl.checkInputs
      out ::= "digest" -> JString(wl.digest)
    } catch {
      case e: Throwable =>
        failures += s"run aborted: ${e.getClass.getSimpleName}: ${e.getMessage}"
        e.printStackTrace()
        if (attempted == 0) attempted = 1
        failed = failed max 1
    } finally {
      try wl.tearDown() catch { case _: Throwable => () }
    }
    out ::= "attempted" -> JInt(attempted)
    out ::= "failed" -> JInt(failed)
    out ::= "failures" -> JArray(failures.toList.map(JString(_)))
    Json.write(opt("out"), JObject(out.reverse))
    spark.stop()
  }

  final case class Timed(walls: Seq[Double], ops: Int, failed: Int,
      errors: Seq[String])

  private def secondsOf[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Run passes until `budget` seconds have elapsed (at least one). */
  private def timePasses(wl: Workload, tracer: Tracer, budget: Double,
      trace: Boolean): Timed = {
    val walls = mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    var ops = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    while (errors.isEmpty &&
        (walls.isEmpty || (System.nanoTime() - start) / 1e9 < budget)) {
      val t0 = System.nanoTime()
      try {
        tracer.span("pass") { wl.pass(tracer, trace) }
        walls += (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          failed += 1
          errors += s"pass failed: ${e.getClass.getSimpleName}: ${e.getMessage}"
          e.printStackTrace()
      }
      ops += wl.opsPerPass
    }
    Timed(walls.toSeq, ops, failed, errors.toSeq)
  }
}

/** Session and JVM hygiene shared by every workload. */
object Session {
  def start(cores: Int, dir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // the same measured-safe parquet IN-pushdown bound graft.Bench sets
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$dir/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    // first-touch costs of the codegen compiler and shuffle machinery
    s.range(100000).selectExpr("sum(id % 7)").collect()
    s
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum

  def loadAvg: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Driver heap in use after full collections, in MiB. Blocks that
    * Spark's ContextCleaner releases after one collection are freed only
    * by a later one, so collect several times and keep the lowest. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 8).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
