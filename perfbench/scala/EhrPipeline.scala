package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.json4s._
import org.json4s.JsonDSL._

import graft.core.{DataModality => DM, DatasetConfig, MeasurementConfig,
  TemporalityType => TT}
import graft.functors.AgeFunctor
import graft.ingest.{EventDataset, Splits}
import graft.preprocess.DatasetPreprocessor
import graft.serve.BatchBuilder

/** The paper's own batch pipeline, one submission per pass: ingest and
  * merge raw events, split subjects, fit on train with q44's dynamic,
  * static and functional-time-dependent measurements, transform every
  * row, and build per-subject sequences into the noop sink. */
final class EhrPipeline(spark: SparkSession, seed: Long)
    extends Workload(spark, seed) {
  val n = Gen.EhrSize(events = 50000, subjects = 1000, eventless = 100)

  val phases = Seq("ingest.from_raw_events", "ingest.splits",
    "preprocess.fit", "preprocess.transform", "serve.subject_sequences")
  def stageOf(p: String): String =
    if (p.startsWith("ingest.")) "ingest"
    else if (p.startsWith("preprocess.")) "transform" else "serve"
  val opsPerPass = 6

  private val cfg = DatasetConfig(measurements = Seq(
    MeasurementConfig("value", TT.Dynamic, DM.MultivariateRegression,
      valuesColumn = Some("value")),
    MeasurementConfig("grp", TT.Static, DM.SingleLabelClassification),
    MeasurementConfig("age", TT.FunctionalTimeDependent,
      DM.UnivariateRegression, functor = Some("age"))))
  private val functors = Seq(AgeFunctor("dob"))

  private var in = ""
  private var checkDir = ""
  private var dig = ""
  override def digest: String = dig

  def setUp(dir: String): Unit = {
    in = s"$dir/input"
    Gen.ehrEvents(spark, seed, n).write.parquet(s"$in/events")
    Gen.ehrSubjects(spark, seed, n).write.parquet(s"$in/subjects")
  }

  def pass(t: Tracer, traced: Boolean): Unit =
    run(t, traced)(seqs => noop(seqs))

  private def run(t: Tracer, traced: Boolean)(sink: DataFrame => Unit)
      : DatasetPreprocessor.FittedDataset = {
    val raw = spark.read.parquet(s"$in/events")
    val subjects = spark.read.parquet(s"$in/subjects")
    val ds = t.span("ingest.from_raw_events") {
      val d = EventDataset.fromRawEvents(raw).aggByTimeType
        .copy(subjects = subjects)
      if (traced) EventDataset(pin(d.events, traced),
        pin(d.measurements, traced), d.subjects) else d
    }
    val splits = t.span("ingest.splits") {
      pin(Splits.subjectSplitsByKey(subjects, Seq(0.8),
        Seq("train", "held_out"), Splits.md5SplitKey(seed)), traced)
    }
    val fit = t.span("preprocess.fit") {
      DatasetPreprocessor.fit(ds, splits, cfg, functors)
    }
    val (meas, ev, _) = t.span("preprocess.transform") {
      val (m, e, s) = DatasetPreprocessor.transform(ds, fit, functors)
      (pin(m, traced), pin(e, traced), s)
    }
    t.span("serve.subject_sequences") {
      val indexed = meas.select(col("event_id"), col("subject_id"),
        (col("key_idx") + 1L).as("unified_idx"),
        col("value_norm").as("value"), lit(1L).as("measurement_idx"))
      sink(BatchBuilder.subjectSequences(ev, indexed))
    }
    fit
  }

  /** One more pass after the timed ones, with the result and the fit
    * state written for run.py's DuckDB replays and the digest. */
  def check(dir: String): Seq[String] = {
    checkDir = dir
    val fit = run(new Tracer("check"), traced = false) { seqs =>
      // measurement order inside a merged event is not defined, and
      // normalised values may differ in the last bit (aggregation order),
      // so the digest sorts each subject's measurements and rounds values
      def sorted(c: String) = array_sort(flatten(col(c)))
      seqs.select(col("subject_id"), size(col("time")).as("seq_len"),
          size(flatten(col("dynamic_indices"))).as("n_meas"),
          xxhash64(col("subject_id"), col("time"), sorted("dynamic_indices"),
            array_sort(flatten(col("dynamic_values"))
              .cast("array<decimal(20,6)>")),
            sorted("dynamic_measurement_indices")).as("h"))
        .write.parquet(s"$dir/sequences")
    }
    fit.static("grp").select("element", "n")
      .write.parquet(s"$dir/fit_grp")
    fit.dynamic("value").perKey
      .select("key", "value_type", "norm_mean", "norm_std")
      .write.parquet(s"$dir/fit_value")
    fit.timeDependent("age").perKey.select("key", "norm_mean", "norm_std")
      .write.parquet(s"$dir/fit_age")
    dig = spark.read.parquet(s"$dir/sequences")
      .agg(count(lit(1)), sum(col("seq_len")), sum(col("n_meas")),
        sum(col("h").cast("decimal(38,0)"))).head().toSeq.mkString(":")
    Nil
  }

  def inputInfo: JObject = JObject(
    "events" -> n.events, "subjects_with_events_max" -> n.subjects,
    "eventless_subjects" -> n.eventless,
    "events_bytes" -> bytesUnder(s"$in/events"),
    "subjects_bytes" -> bytesUnder(s"$in/subjects"),
    "outlier_share" -> 0.01)

  override def checkInputs: JObject = JObject(
    "events" -> s"$in/events", "subjects" -> s"$in/subjects",
    "sequences" -> s"$checkDir/sequences", "fit_grp" -> s"$checkDir/fit_grp",
    "fit_value" -> s"$checkDir/fit_value", "fit_age" -> s"$checkDir/fit_age",
    "split_seed" -> seed, "train_frac" -> 0.8)
}
