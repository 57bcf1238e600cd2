package graft

import graft.core._
import graft.functors.{TimeDependentFunctor, TimeOfDayFunctor}
import graft.ingest.{EventDataset, Splits}
import graft.preprocess.{DatasetPreprocessor, Preprocessor}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Source routing across temporalities (reference
  * event_stream_dataset.py:930-1013, 1302-1308). */
class DatasetPreprocessorSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("routes dynamic / static / time-dependent measurements by config") {
    val events = Seq(
      (0L, 1L, ts("2024-01-01 05:00:00"), "A"),
      (1L, 1L, ts("2024-01-01 13:00:00"), "A"),
      (2L, 2L, ts("2024-01-01 22:00:00"), "B"))
      .toDF("event_id", "subject_id", "timestamp", "event_type")
    val meas = Seq(
      (0L, 0L, "A", 1L, "lab", "hr", Some(60.0)),
      (1L, 1L, "A", 1L, "lab", "hr", Some(80.0)),
      (2L, 2L, "B", 2L, "lab", "hr", Some(70.0)),
      (3L, 0L, "A", 1L, "dx", "flu", None),
      (4L, 2L, "B", 2L, "dx", "cold", None))
      .toDF("metadata_id", "event_id", "event_type", "subject_id",
        "measurement", "key", "value")
    val subjects = Seq((1L, "F"), (2L, "M")).toDF("subject_id", "sex")
    val ds = EventDataset(events, meas, subjects)
    val splits = Seq((1L, "train"), (2L, "held_out"))
      .toDF("subject_id", "split")
    val cfg = DatasetConfig(measurements = Seq(
      MeasurementConfig("lab", TemporalityType.Dynamic,
        DataModality.MultivariateRegression, valuesColumn = Some("value")),
      MeasurementConfig("dx", TemporalityType.Dynamic,
        DataModality.MultiLabelClassification),
      MeasurementConfig("sex", TemporalityType.Static,
        DataModality.SingleLabelClassification)))
    // thresholds live on the DatasetConfig now (None = rule disabled,
    // reference semantics); pcfg carries only engine-side knobs
    val pcfg = Preprocessor.Config()
    val fit = DatasetPreprocessor.fit(ds, splits, cfg, Nil, pcfg)

    // numeric fit saw ONLY subject 1 (train): mean of (60, 80) = 70
    val hrStats = fit.dynamic("lab").perKey
      .select("key", "norm_mean").as[(String, Double)].collect().toMap
    assert(hrStats("hr") == 70.0)
    // dx vocab from train only: 'flu' present, 'cold' absent
    val dxVocab = fit.dynamicCategorical("dx")
      .select("element").as[String].collect().toSet
    assert(dxVocab.contains("flu") && !dxVocab.contains("cold"))
    // static vocab from train subjects only: 'F' present, 'M' folded later
    val sexVocab = fit.static("sex")
      .select("element").as[String].collect().toSet
    assert(sexVocab.contains("F") && !sexVocab.contains("M"))

    // transform ALL splits with train params
    val (tm, _, tsubj) = DatasetPreprocessor.transform(ds, fit)
    val rows = tm.filter(col("measurement") === "lab")
      .select("metadata_id", "value_norm")
      .as[(Long, Option[Double])].collect().toMap
    assert(rows(2L).isDefined) // held-out row normalized with train stats
    // unknown held-out dx key 'cold' → UNK 0
    val dxIdx = tm.filter(col("measurement") === "dx")
      .select("key", "key_idx").as[(String, Int)].collect().toMap
    assert(dxIdx("cold") == 0 && dxIdx("flu") > 0)
    // static lookup on subjects
    val sexIdx = tsubj.select("subject_id", "sex_idx")
      .as[(Long, Int)].collect().toMap
    assert(sexIdx(1L) > 0 && sexIdx(2L) == 0)
  }

  test("missing-column measurements drop instead of failing analysis " +
    "(reference :1310-1312)") {
    val events = Seq((0L, 1L, ts("2024-01-01 05:00:00"), "A"))
      .toDF("event_id", "subject_id", "timestamp", "event_type")
    val meas = Seq((0L, 0L, "A", 1L, "lab", "hr", Some(60.0)))
      .toDF("metadata_id", "event_id", "event_type", "subject_id",
        "measurement", "key", "value")
    val subjects = Seq((1L, "F")).toDF("subject_id", "sex")
    val ds = EventDataset(events, meas, subjects)
    val splits = Seq((1L, "train")).toDF("subject_id", "split")
    val cfg = DatasetConfig(measurements = Seq(
      MeasurementConfig("sex", TemporalityType.Static,
        DataModality.SingleLabelClassification),
      MeasurementConfig("blood_type", TemporalityType.Static,
        DataModality.SingleLabelClassification), // absent from subjects
      MeasurementConfig("age", TemporalityType.FunctionalTimeDependent,
        DataModality.UnivariateRegression))) // no functor supplied
    val fit = DatasetPreprocessor.fit(ds, splits, cfg, Nil)
    assert(fit.dropped == Set("blood_type", "age"))
    assert(fit.static.keySet == Set("sex"))
    // transform still runs on the surviving config
    val (_, _, subj) = DatasetPreprocessor.transform(ds, fit, Nil)
    assert(subj.columns.contains("sex_idx"))
  }

  test("observation-count drop rule removes under-observed measurements") {
    val events = (0L until 10L).map(i =>
      (i, 1L, ts(f"2024-01-01 0$i:00:00"), "A"))
      .toDF("event_id", "subject_id", "timestamp", "event_type")
    val meas = ((0L until 8L).map(i =>
      (i, i, "A", 1L, "common", "k", Some(i.toDouble))) :+
      (8L, 0L, "A", 1L, "rare", "k", Some(1.0)))
      .toDF("metadata_id", "event_id", "event_type", "subject_id",
        "measurement", "key", "value")
    val ds = EventDataset(events, meas, Seq(Tuple1(1L)).toDF("subject_id"))
    val splits = Seq((1L, "train")).toDF("subject_id", "split")
    val cfg = DatasetConfig(
      measurements = Seq(
        MeasurementConfig("common", TemporalityType.Dynamic,
          DataModality.MultivariateRegression,
          valuesColumn = Some("value")),
        MeasurementConfig("rare", TemporalityType.Dynamic,
          DataModality.MultivariateRegression,
          valuesColumn = Some("value"))),
      // 0.5 of 10 train events = 5 observations required
      minValidColumnObservations =
        Some(CountOrProportion.proportion(0.5)))
    val pcfg = Preprocessor.Config()
    val fit = DatasetPreprocessor.fit(ds, splits, cfg, Nil, pcfg)
    assert(fit.dropped == Set("rare"))
    assert(fit.dynamic.keySet == Set("common"))
    val (tm, _, _) = DatasetPreprocessor.transform(ds, fit)
    assert(tm.filter(col("measurement") === "rare").count() == 0)
    assert(tm.filter(col("measurement") === "common").count() == 8)
  }

  test("transform with ALL measurements dropped: stable schema, no rows") {
    // regression: the union base must be the augmented untouched frame,
    // not raw measurements — dropped rows excluded, output columns present
    val events = (0L until 10L).map(i =>
      (i, 1L, ts(f"2024-01-01 0$i:00:00"), "A"))
      .toDF("event_id", "subject_id", "timestamp", "event_type")
    val meas = Seq((0L, 0L, "A", 1L, "rare", "k", Some(1.0)))
      .toDF("metadata_id", "event_id", "event_type", "subject_id",
        "measurement", "key", "value")
    val ds = EventDataset(events, meas, Seq(Tuple1(1L)).toDF("subject_id"))
    val splits = Seq((1L, "train")).toDF("subject_id", "split")
    val cfg = DatasetConfig(
      measurements = Seq(MeasurementConfig("rare",
        TemporalityType.Dynamic, DataModality.MultivariateRegression,
        valuesColumn = Some("value"))),
      minValidColumnObservations = Some(CountOrProportion.count(5)))
    val fit = DatasetPreprocessor.fit(ds, splits, cfg)
    assert(fit.dropped == Set("rare") && fit.dynamic.isEmpty)
    val (tm, _, _) = DatasetPreprocessor.transform(ds, fit)
    assert(tm.count() == 0) // dropped rows excluded even with no fits
    // schema is stable: the transform output columns exist
    for (c <- Seq("final_key", "value_clean", "is_inlier", "value_norm",
        "key_idx"))
      assert(tm.columns.contains(c), s"missing $c")
  }

  test("functional-time-dependent measurement fit+transform") {
    val events = Seq(
      (0L, 1L, ts("2024-01-01 05:00:00"), "A"),
      (1L, 1L, ts("2024-01-01 13:00:00"), "A"))
      .toDF("event_id", "subject_id", "timestamp", "event_type")
    val ds = EventDataset(events,
      Seq.empty[(Long, Long, String, Long, String, String, Option[Double])]
        .toDF("metadata_id", "event_id", "event_type", "subject_id",
          "measurement", "key", "value"),
      Seq(Tuple1(1L)).toDF("subject_id"))
    val splits = Seq((1L, "train")).toDF("subject_id", "split")
    // hour-of-day as a univariate numeric time-dependent measurement
    val hourFunctor = new graft.functors.TimeDependentFunctor {
      val name = "evt_hour"
      val outputModality = DataModality.UnivariateRegression
      def expr = hour(col("timestamp")).cast("double")
    }
    val cfg = DatasetConfig(measurements = Seq(
      MeasurementConfig("evt_hour",
        TemporalityType.FunctionalTimeDependent,
        DataModality.UnivariateRegression,
        functor = Some("evt_hour"))))
    // thresholds live on the DatasetConfig now (None = rule disabled,
    // reference semantics); pcfg carries only engine-side knobs
    val pcfg = Preprocessor.Config()
    val fit = DatasetPreprocessor.fit(ds, splits, cfg, Seq(hourFunctor),
      pcfg)
    val (_, tev, _) = DatasetPreprocessor.transform(ds, fit,
      Seq(hourFunctor))
    val normed = tev.select("event_id", "evt_hour_norm")
      .as[(Long, Double)].collect().toMap
    // hours 5, 13: mean 9, sample std sqrt(32) → z = ∓0.7071...
    assert(math.abs(normed(0L) + math.sqrt(0.5)) < 1e-12)
    assert(math.abs(normed(1L) - math.sqrt(0.5)) < 1e-12)
  }

  // ── the dataset fit against per-measurement slice fits ──────────────

  /** A dataset with one event per measurement row: row r is event r of
    * subject r % 4 + 1 at hour r, so subjects 1-3 (train under
    * `splits3of4`) see three of every four rows of each key. */
  private def dataset(rows: Seq[(String, Option[String], Option[Double])])
      : EventDataset = {
    val events = rows.indices.map(r => (r.toLong, r % 4 + 1L,
      new Timestamp(1704067200000L + r * 3600000L), "A"))
      .toDF("event_id", "subject_id", "timestamp", "event_type")
    val meas = rows.zipWithIndex.map { case ((m, k, v), r) =>
      (r.toLong, r.toLong, "A", r % 4 + 1L, m, k, v) }
      .toDF("metadata_id", "event_id", "event_type", "subject_id",
        "measurement", "key", "value")
    val subjects = (1L to 4L).map(s => (s, s"g${s % 2}", s"b${s % 3}"))
      .toDF("subject_id", "s1", "s2")
    EventDataset(events, meas, subjects)
  }

  private val splits3of4 =
    Seq((1L, "train"), (2L, "train"), (3L, "train"), (4L, "held_out"))

  private def numeric(name: String) = MeasurementConfig(name,
    TemporalityType.Dynamic, DataModality.MultivariateRegression,
    valuesColumn = Some("value"))

  /** The Preprocessor.Config the dataset fit derives from `cfg`. */
  private def sliceCfg(cfg: DatasetConfig, base: Preprocessor.Config) =
    base.copy(
      minValidVocabElementObservations = cfg.minValidVocabElementObservations,
      minTrueFloatFrequency = cfg.minTrueFloatFrequency,
      minUniqueNumericalObservations = cfg.minUniqueNumericalObservations,
      maxNumericalValueFrequency = cfg.maxNumericalValueFrequency,
      normalizer = cfg.normalizer, outlierDetector = cfg.outlierDetector)

  /** Rows of `cols` sorted by the first (a unique id); doubles compare to
    * 1e-9 relative (the two fits may sum in another order). */
  private def assertSameFitRows(got: DataFrame, want: DataFrame,
      cols: Seq[String], what: String): Unit = {
    def rows(d: DataFrame) = d.select(cols.map(col): _*).collect()
      .map(_.toSeq).sortBy(r => String.valueOf(r.head)).toSeq
    val (g, w) = (rows(got), rows(want))
    def same(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) =>
        (x.isNaN && y.isNaN) ||
          math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
      case _ => a == b
    }
    assert(g.length == w.length && g.zip(w).forall { case (a, b) =>
      a.zip(b).forall { case (x, y) => same(x, y) } },
      s"$what\n got: ${g.mkString("\n      ")}" +
        s"\nwant: ${w.mkString("\n      ")}")
  }

  private val perKeyCols = Seq("key", "value_type", "viod_lo", "viod_hi",
    "norm_mean", "norm_std")
  private val vocabCols = Seq("element", "n", "idx", "freq")
  private val outCols = Seq("metadata_id", "final_key", "value_clean",
    "is_inlier", "value_norm", "key_idx")

  /** Each named dynamic numeric measurement's dataset fit and transformed
    * rows equal `Preprocessor.fit`/`transform` on its own train slice. */
  private def assertSliceFits(ds: EventDataset, splits: DataFrame,
      fit: DatasetPreprocessor.FittedDataset, pcfg: Preprocessor.Config,
      names: Seq[String]): Unit = {
    val (tm, _, _) = DatasetPreprocessor.transform(ds, fit)
    for (m <- names) {
      val slice = Splits.forSplit(ds.measurements, splits, "train")
        .filter(col("measurement") === m)
      val want = Preprocessor.fit(slice, "key", "value", pcfg)
      assertSameFitRows(fit.dynamic(m).perKey, want.perKey, perKeyCols,
        s"$m perKey")
      assertSameFitRows(fit.dynamic(m).vocab, want.vocab, vocabCols,
        s"$m vocab")
      assertSameFitRows(tm.filter(col("measurement") === m),
        Preprocessor.transform(
          ds.measurements.filter(col("measurement") === m),
          "key", "value", want), outCols, s"$m transform")
    }
  }

  test("two numeric measurements of very different sizes: proportion " +
    "thresholds and minValidVocabFold resolve against each one's own " +
    "total, exactly as a fit of its slice") {
    val lab = (0 until 200).map(i =>
      ("lab", Some("a"), Some(10.0 + (i % 37) * 0.37))) ++
      (0 until 30).map(i => ("lab", Some("b"), Some((i % 3) + 1.0))) ++
      (0 until 5).map(i => ("lab", Some("c"), Some(i + 0.5)))
    val vit = (0 until 12).map(i => ("vit", Some("x"), Some(1.5 + i * 0.5))) ++
      Seq(2.25, 3.25, 2.25).map(v => ("vit", Some("y"), Some(v)))
    val ds = dataset(lab ++ vit)
    val splits = splits3of4.toDF("subject_id", "split")
    val cfg = DatasetConfig(
      measurements = Seq(numeric("lab"), numeric("vit")),
      minValidVocabElementObservations =
        Some(CountOrProportion.proportion(0.1)),
      minTrueFloatFrequency = Some(0.25),
      minUniqueNumericalObservations = Some(CountOrProportion.count(5)),
      maxNumericalValueFrequency = Some(0.9))
    val base = Preprocessor.Config(
      minValidVocabFold = Some(CountOrProportion.proportion(0.05)))
    val fit = DatasetPreprocessor.fit(ds, splits, cfg, Nil, base)
    assertSliceFits(ds, splits, fit, sliceCfg(cfg, base), Seq("lab", "vit"))
    // against the pooled total (~187 train rows) both vit keys would drop
    val vitTypes = fit.dynamic("vit").perKey
      .select("key", "value_type").as[(String, String)].collect().toMap
    assert(vitTypes("x") == "float" && vitTypes("y") == "categorical_float")
    assert(fit.dynamic("lab").perKey.filter(col("key") === "c")
      .select("value_type").as[String].collect().toSeq == Seq("dropped"))
  }

  test("one key in two measurements gets two fits (value type, VIOD " +
    "bounds and stats per measurement)") {
    val rows = (0 until 60).map(i =>
      ("lab", Some("hr"), Some(50.0 + i * 0.731))) ++
      Seq(("lab", Some("hr"), Some(400.0))) ++
      (0 until 40).map(i => ("vit", Some("hr"), Some((i % 4).toDouble)))
    val ds = dataset(rows)
    val splits = splits3of4.toDF("subject_id", "split")
    val cfg = DatasetConfig(
      measurements = Seq(numeric("lab"), numeric("vit")),
      minTrueFloatFrequency = Some(0.25),
      minUniqueNumericalObservations = Some(CountOrProportion.count(5)),
      maxNumericalValueFrequency = Some(0.9),
      outlierDetector = Some("viod"))
    val fit = DatasetPreprocessor.fit(ds, splits, cfg)
    assertSliceFits(ds, splits, fit, sliceCfg(cfg, Preprocessor.Config()),
      Seq("lab", "vit"))
    def vt(m: String) = fit.dynamic(m).perKey.select("value_type")
      .as[String].collect().toSeq
    assert(vt("lab") == Seq("float") && vt("vit") == Seq("categorical_integer"))
  }

  test("null-key rows count toward the column-drop rule; the fit and " +
    "the transform treat them as a slice fit does") {
    val rows = (0 until 3).map(i => ("sparse", Some("k"), Some(i + 1.0))) ++
      (0 until 3).map(i => ("sparse", Option.empty[String], Some(i + 7.0))) ++
      (0 until 4).map(i => ("rare", Some("k"), Some(i + 1.0))) ++
      (0 until 10).map(i => ("dense", Some("k"), Some(i * 1.5)))
    val ds = dataset(rows)
    val splits = (1L to 4L).map(s => (s, "train")).toDF("subject_id", "split")
    val cfg = DatasetConfig(
      measurements = Seq(numeric("sparse"), numeric("rare"),
        numeric("dense")),
      minValidColumnObservations = Some(CountOrProportion.count(5)))
    val fit = DatasetPreprocessor.fit(ds, splits, cfg)
    // sparse: 3 keyed + 3 null-key rows = 6 >= 5; rare: 4 < 5
    assert(fit.dropped == Set("rare"))
    assert(fit.dynamic.keySet == Set("sparse", "dense"))
    assertSliceFits(ds, splits, fit, sliceCfg(cfg, Preprocessor.Config()),
      Seq("sparse", "dense"))
    val (tm, _, _) = DatasetPreprocessor.transform(ds, fit)
    assert(tm.filter(col("measurement") === "rare").count() == 0)
    assert(tm.filter(col("key").isNull).count() == 3)
  }

  test("a categorical-integer FTD column: fit and <name>_norm equal a " +
    "slice fit of the functor column") {
    val hmod = new TimeDependentFunctor {
      val name = "hmod"
      val outputModality = DataModality.UnivariateRegression
      def expr: Column = (hour(col("timestamp")) % 3).cast("double")
    }
    val ds = dataset((0 until 40).map(i => ("lab", Some("a"), Some(i * 1.0))))
    val splits = splits3of4.toDF("subject_id", "split")
    val cfg = DatasetConfig(
      measurements = Seq(numeric("lab"), MeasurementConfig("hmod",
        TemporalityType.FunctionalTimeDependent,
        DataModality.UnivariateRegression, functor = Some("hmod"))),
      minTrueFloatFrequency = Some(0.25),
      minUniqueNumericalObservations = Some(CountOrProportion.count(5)),
      maxNumericalValueFrequency = Some(0.9))
    val fit = DatasetPreprocessor.fit(ds, splits, cfg, Seq(hmod))
    val withF = TimeDependentFunctor.addColumns(ds.events, ds.subjects,
      Seq(hmod))
    val want = Preprocessor.fit(
      Splits.forSplit(withF, splits, "train")
        .select(lit("hmod").as("key"), col("hmod").as("value")),
      "key", "value", sliceCfg(cfg, Preprocessor.Config()))
    assertSameFitRows(fit.timeDependent("hmod").perKey, want.perKey,
      perKeyCols, "hmod perKey")
    assertSameFitRows(fit.timeDependent("hmod").vocab, want.vocab, vocabCols,
      "hmod vocab")
    assert(fit.timeDependent("hmod").perKey.select("value_type")
      .as[String].collect().toSeq == Seq("categorical_integer"))
    val (_, tev, _) = DatasetPreprocessor.transform(ds, fit, Seq(hmod))
    assertSameFitRows(tev.select(col("event_id"), col("hmod_norm")),
      Preprocessor.transform(withF.withColumn("__ftd_key", lit("hmod")),
        "__ftd_key", "hmod", want).select(col("event_id"),
        col("value_norm").as("hmod_norm")),
      Seq("event_id", "hmod_norm"), "hmod_norm")
  }

  // ── fit jobs do not grow with the number of measurements ────────────

  private val started = new java.util.concurrent.ConcurrentLinkedQueue[Int]
  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      started.add(js.jobId); ()
    }
  }
  spark.sparkContext.addSparkListener(listener)

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    super.afterAll()
  }

  /** Runs a one-task probe job and waits until the listener has seen it
    * start (the bus delivers in order). Returns the probe's job id. */
  private def barrier(): Int = {
    val sc = spark.sparkContext
    val f = sc.submitJob(sc.parallelize(Seq(1), 1),
      (_: Iterator[Int]) => (), Seq(0), (_: Int, _: Unit) => (), ())
    f.get()
    val id = f.jobIds.head
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!started.contains(id) && System.nanoTime() < deadline)
      Thread.sleep(5)
    assert(started.contains(id), s"listener never saw probe job $id")
    id
  }

  /** Spark jobs started while `body` runs (between two barriers). */
  private def jobsOf(body: => Unit): Int = {
    val lo = barrier()
    body
    val hi = barrier()
    started.asScala.count(id => id > lo && id < hi)
  }

  test("the fit runs as many jobs for 8 measurements as for one of each " +
    "kind (dynamic numeric, dynamic categorical, static, FTD)") {
    def hourFunctor(n: String, mod: Int) = new TimeDependentFunctor {
      val name = n
      val outputModality = DataModality.UnivariateRegression
      def expr: Column = (hour(col("timestamp")) % mod).cast("double")
    }
    val functors = Seq(hourFunctor("f1", 7), hourFunctor("f2", 5))
    val rows = (0 until 40).flatMap(i => Seq(
      ("n1", Some(s"k${i % 3}"), Some(i * 0.5)),
      ("n2", Some(s"k${i % 2}"), Some(i * 1.25)),
      ("n3", Some("k"), Some((i % 9).toDouble)),
      ("c1", Some(s"dx${i % 4}"), Option.empty[Double])))
    val ds = dataset(rows)
    val splits = splits3of4.toDF("subject_id", "split")
    def cat(n: String) = MeasurementConfig(n, TemporalityType.Dynamic,
      DataModality.MultiLabelClassification)
    def static(n: String) = MeasurementConfig(n, TemporalityType.Static,
      DataModality.SingleLabelClassification)
    def ftd(n: String) = MeasurementConfig(n,
      TemporalityType.FunctionalTimeDependent,
      DataModality.UnivariateRegression, functor = Some(n))
    val oneEach = Seq(numeric("n1"), cat("c1"), static("s1"), ftd("f1"))
    val eight = Seq(numeric("n1"), numeric("n2"), numeric("n3"), cat("c1"),
      static("s1"), static("s2"), ftd("f1"), ftd("f2"))
    def jobs(ms: Seq[MeasurementConfig]) = {
      var fit: DatasetPreprocessor.FittedDataset = null
      val n = jobsOf {
        fit = DatasetPreprocessor.fit(ds, splits,
          DatasetConfig(measurements = ms), functors)
      }
      assert(fit.dynamic.size + fit.dynamicCategorical.size +
        fit.static.size + fit.timeDependent.size == ms.size)
      n
    }
    jobs(oneEach) // warm-up
    val (one, many) = (jobs(oneEach), jobs(eight))
    assert(one == many,
      s"fit jobs grow with the measurements: $one for ${oneEach.size}, " +
        s"$many for ${eight.size}")
  }
}
