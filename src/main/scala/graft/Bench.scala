package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.cpus)
    import Harness.{noop, r3}
    // Warm up the session (codegen compiler, parquet footer cache, shuffle
    // machinery) so the first timed query isn't charged with JVM startup.
    spark.range(1000).selectExpr("sum(id)").collect()
    // Parquet footer/schema first-touch is a per-table constant otherwise
    // charged to whichever query reads the table first.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { n =>
      try spark.read.parquet(s"$sfDir/$n.parquet").selectExpr("count(1)")
        .collect()
      catch { case _: Throwable => () }
    }
    try noop(SparkEntry.entry(spark)) catch { case _: Throwable => () }
    // Cross-run calibration: a FIXED pure-compute, data-independent
    // workload timed first and last (min of 3 reps each). Its time
    // moves with the box/JVM session, never with the code or the data,
    // so (a) per-query times are also reported normalized (sec /
    // calib_sec) and (b) a uniformly slow session — the r9→r10 sf0.1
    // 1.11× common-set drift on a zero-contended run — is
    // self-diagnosing in the artifact instead of reading as a code
    // regression. xxhash64 over a range is codegen'd scalar compute:
    // no I/O, no shuffle, no data dependence.
    def calib(): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      // % bounds the summands so the ANSI-mode sum can't overflow long
      spark.range(3000000000L)
        .selectExpr("sum(xxhash64(id) % 1000000)").collect()
      (System.nanoTime() - t0) / 1e9
    }.min
    val calibStart = calib()
    // q100's window/agg stage carries the run's single largest one-time
    // codegen+JIT compile (~1.5 s; rep-1 measured 5× its steady state —
    // every other query's rep-1 is < 3×). Pre-touch that exact path
    // untimed so rep-1 measures the PLAN like everywhere else; the cost
    // is per-JVM, i.e. amortized to zero on a real cluster run.
    try noop(SparkEntry.queries("q100_bpe_pairs")(spark, sfDir))
    catch { case _: Throwable => () }
    // A failed query must NOT report its (fast) time-to-failure as if it
    // were a result — record it as -1 so regressions are visible.
    // Local-iteration filter (the driver never sets this): run only the
    // queries whose name matches the regex.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    // Steady-state timing: each query runs until its best two reps AGREE
    // (ratio ≤ SPARK_GRAFT_REP_AGREE, default 1.3), min 2 reps, capped at
    // SPARK_GRAFT_REPS (default 5); report the MIN. A single cold pass
    // charges whichever queries JIT/codegen-compile their operators first
    // with multi-second one-time costs (measured swings of 0.5 s ↔ 8 s on
    // identical plans), and a CONTENDED BOX makes any fixed rep count a
    // lottery (r8/r9 driver artifacts: min-of-2 swings up to 19× on
    // code-unchanged queries). Adaptive agreement makes the artifact
    // defend itself: a query that can't produce two agreeing reps within
    // the cap is emitted with contended=true and its spread, so a dirty
    // run is self-labeling instead of silently poisoning the trend.
    val maxReps = sys.env.getOrElse("SPARK_GRAFT_REPS", "5").toInt.max(2)
    val agree = sys.env.getOrElse("SPARK_GRAFT_REP_AGREE", "1.3").toDouble
    // Contention/GC attribution (the r6 driver-vs-idle divergence lesson):
    // record the 1-minute loadavg per query and the JVM GC-time delta per
    // rep, and force a full collection BETWEEN queries so garbage left by
    // an allocation-heavy query is collected in the gap instead of
    // surfacing as a mysterious rep-1 spike in whichever query runs next.
    val osBean = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    val loadStart = osBean.getSystemLoadAverage
    val gcStart = gcMs
    // The between-query System.gc() calls are bench INSTRUMENTATION
    // (attribution hygiene), not workload: 221 forced full collections
    // cost ~40 s of collector time that r8 reported inside one blended
    // gc_sec and read as "40% of wall spent in GC". Account them
    // separately: gc_sec = collector time inside TIMED reps only (the
    // number to compare against wall); gc_forced_sec = the hygiene
    // collections; gc_total_sec = the whole-run delta (their sum plus
    // warmup).
    var forcedGcMs = 0L
    // Per-query record: (rep times, headline sec, per-rep gc ms,
    // per-rep 1-min loadavg, best-two spread, contended flag, and —
    // when a contended row was retried — the first pass's rep times).
    case class QRec(times: Seq[Double], sec: Double, gcs: Seq[Long],
      loads: Seq[Double], spread: Double, contended: Boolean,
      firstPass: Option[Seq[Double]] = None)
    def bestTwoSpread(ts: Seq[Double]): Double = {
      val s = ts.sorted
      if (s.length < 2 || s.head <= 0) Double.PositiveInfinity
      else s(1) / s.head
    }
    def measure(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : QRec = {
      var times = Vector.empty[Double]
      var gcs = Vector.empty[Long]
      var loads = Vector.empty[Double]
      var failed = false
      // adaptive loop: stop as soon as the best two reps agree, or a
      // rep fails (plans are deterministic — a pass/fail flicker
      // would mean nondeterminism worth surfacing), or the cap hits
      while (!failed && times.length < maxReps &&
          (times.length < 2 || bestTwoSpread(times) > agree)) {
        val i = times.length + 1
        // stderr marker so session-level WARNs (large task binaries,
        // capped-candidate audits) are attributable to a query
        System.err.println(s"[bench] $name rep $i")
        loads :+= osBean.getSystemLoadAverage
        val g0 = gcMs
        val t0 = System.nanoTime()
        val ok =
          try { noop(fn(spark, sfDir)); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
          }
        if (!ok) { failed = true; times :+= -1.0 }
        else times :+= (System.nanoTime() - t0) / 1e9
        gcs :+= gcMs - g0
      }
      val fg0 = gcMs
      System.gc()
      forcedGcMs += gcMs - fg0
      val spread = bestTwoSpread(times)
      val contended = !failed && spread > agree
      if (contended) System.err.println(
        s"[bench] $name CONTENDED: best-two spread ${spread} after " +
          s"${times.length} reps (times ${times.mkString(",")})")
      QRec(times, if (failed) -1.0 else times.min, gcs, loads,
        spread, contended)
    }
    val firstPass = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.findFirstIn(n).isDefined) }
      .map { case (name, fn) => name -> measure(name, fn) }
    // Contended-row RETRY pass: a query whose best two reps never
    // agreed within the cap gets one more adaptive pass AFTER the full
    // sweep — transient box contention has usually moved on by then
    // (the r12/r13 sf1 sessions each carried 1–2 such rows). A retry
    // that agrees is promoted (both rep lists stay in the artifact,
    // retried=true); a retry that is still contended keeps whichever
    // pass has the smaller spread — the artifact stays self-impeaching
    // either way.
    val results = firstPass.map {
      case (name, r) if r.contended =>
        System.err.println(s"[bench] $name retrying contended row")
        val r2 = measure(s"$name (retry)", SparkEntry.queries(name))
        val keep = if (r2.spread <= r.spread) r2 else r
        name -> keep.copy(firstPass = Some(r.times))
      case kept => kept
    }
    // -1.0 failure sentinels must not reduce the total. The headline is
    // the sum of per-query MINs — for every agreeing query that min is
    // one of the agreeing pair by construction; contended queries are
    // counted separately so a dirty run impeaches itself up front.
    val calibEnd = calib()
    val calibSec = math.min(calibStart, calibEnd)
    val total = results.map(_._2.sec).filter(_ >= 0).sum
    val nFailed = results.count(_._2.sec < 0)
    val nContended = results.count(_._2.contended)
    // Tiered subtotals: the pinned-demo ANN family runs CONTRACT
    // parameterizations (fixed planes/maxLevel so the DuckDB oracle
    // can replay the build) whose work is by-design quadratic in the
    // corpus — measured in bench/HNSW_AUDIT_*; the production path
    // auto-scales (~linear, same audit). Folding that demo cost into
    // one headline made the number track demo-parameter cost instead
    // of engine speed (~19% of the sf1 wall by round 11, growing with
    // each lifecycle query) — so the artifact carries both subtotals
    // and the headline stays the full sum.
    val contractTier = Set("q230_hnsw_ann", "q231_hnsw_recall",
      "q253_hnsw_insert", "q255_hnsw_delete", "q256_ann_index_stream",
      "q257_bm25_index_stream", "q258_bm25_cdc_update")
    val contractSec = results
      .filter(r => contractTier(r._1) && r._2.sec >= 0)
      .map(_._2.sec).sum
    val engineSec = total - contractSec
    // The driver retains only the last 2000 chars of stdout — 252
    // abbreviated per-query entries (~3.3 KB) overflow it and truncate
    // the line mid-JSON (rounds 8–10: "parsed": null). The ONE line
    // must fit the window, so it carries totals + the top-20 slowest
    // queries only, and points at the full-fidelity companion file.
    val qs = results.filter(_._2.sec >= 0).sortBy(-_._2.sec).take(20)
      .map { case (k, r) =>
        "\"" + k.takeWhile(_ != '_') + "\":" + r3(r.sec)
      }.mkString("{", ",", "}")
    // Full-fidelity record (full query names, every rep's time): immune to
    // the stdout tail window. Path overridable for local iteration.
    // Opt-in bucketed-persistence variants (SPARK_GRAFT_BUCKETED=1): the
    // one-time bucketed write, then the q18/q05 twins reading the
    // bucketed tables. Reports per-query time AND the shuffle-exchange
    // count of the static plan (AQE off for the count, on for timing) —
    // the SCALE.md zero-exchange claim, measured every opt-in run.
    val bucketed: Option[String] =
      if (!sys.env.get("SPARK_GRAFT_BUCKETED").contains("1")) None
      else {
        val t0 = System.nanoTime()
        SparkEntry.bucketedSetup(spark, sfDir)
        val setupSec = (System.nanoTime() - t0) / 1e9
        val entries = SparkEntry.bucketedQueries.toSeq.sortBy(_._1).map {
          case (name, fn) =>
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            val nShuffles = fn(spark).queryExecution.executedPlan.collect {
              case _: org.apache.spark.sql.execution.exchange
                .ShuffleExchangeExec => 1
            }.sum
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            val ts = (1 to 2).map { i =>
              System.err.println(s"[bench] $name rep $i")
              val s0 = System.nanoTime()
              noop(fn(spark))
              (System.nanoTime() - s0) / 1e9
            }
            System.err.println(
              s"[bench] $name shuffle exchanges: $nShuffles")
            s""""$name":{"sec":${ts.min},"shuffle_exchanges":$nShuffles,""" +
              s""""reps":[${ts.mkString(",")}]}"""
        }
        Some(s""""bucketed":{"setup_sec":$setupSec,""" +
          entries.mkString("", ",", "}"))
      }
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    val fullQs = results.map { case (k, r) =>
      val sp = if (r.spread.isInfinity) "null" else r3(r.spread).toString
      // norm = sec / calib_sec: the cross-run-comparable number (a
      // uniformly slow session scales sec and calib together)
      val norm = if (r.sec < 0 || calibSec <= 0) "null"
        else r3(r.sec / calibSec).toString
      val retry = r.firstPass.fold("")(fp =>
        s""","retried":true,"first_pass_reps":[${fp.mkString(",")}]""")
      s""""$k":{"sec":${r.sec},"norm":$norm,""" +
        s""""reps":[${r.times.mkString(",")}],""" +
        s""""gc_ms":[${r.gcs.mkString(",")}],""" +
        s""""loads":[${r.loads.map(r3).mkString(",")}],""" +
        s""""spread":$sp,"contended":${r.contended}$retry}"""
    }.mkString("{", ",", "}")
    val loadEnd = osBean.getSystemLoadAverage
    val gcSec = r3(results.map(_._2.gcs.sum).sum / 1e3)
    val gcForcedSec = r3(forcedGcMs / 1e3)
    val gcTotalSec = r3((gcMs - gcStart) / 1e3)
    val fullJson =
      s"""{"metric":"total","value":$total,"unit":"sec",""" +
        s""""max_reps":$maxReps,"rep_agree":$agree,""" +
        s""""n_contended":$nContended,""" +
        s""""calib_sec":${r3(calibSec)},""" +
        s""""calib_start_sec":${r3(calibStart)},""" +
        s""""calib_end_sec":${r3(calibEnd)},""" +
        s""""total_norm":${if (calibSec > 0) r3(total / calibSec) else -1},""" +
        s""""contract_ann_sec":${r3(contractSec)},""" +
        s""""engine_sec":${r3(engineSec)},""" +
        s""""load_start":${r3(loadStart)},"load_end":${r3(loadEnd)},""" +
        s""""gc_sec":$gcSec,"gc_forced_sec":$gcForcedSec,""" +
        s""""gc_total_sec":$gcTotalSec,""" +
        s""""queries":$fullQs,"n_failed":$nFailed,""" +
        bucketed.fold("")(_ + ",") + s""""sf":"$sfDir"}"""
    Harness.writeArtifact("bench", outPath, fullJson)
    // Compact one-liner sized for the driver's 2000-char stdout tail:
    // totals, calibration, load/GC attribution, the top-20 slowest
    // queries, and a pointer to the full-fidelity file.
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","n_queries":${results.length},"n_failed":$nFailed,"n_contended":$nContended,"calib_sec":${r3(calibSec)},"total_norm":${if (calibSec > 0) r3(total / calibSec) else -1},"contract_ann_sec":${r3(contractSec)},"engine_sec":${r3(engineSec)},"load":[${r3(loadStart)},${r3(loadEnd)}],"gc_sec":$gcSec,"queries":$qs,"queries_are":"top20_slowest","full_file":"$outPath","sf":"$sfDir"}""")
    spark.stop()
  }
}
