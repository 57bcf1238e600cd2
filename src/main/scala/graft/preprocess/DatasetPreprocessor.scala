package graft.preprocess

import graft.core.{DataModality, DatasetConfig, TemporalityType, Vocabulary}
import graft.functors.TimeDependentFunctor
import graft.ingest.{EventDataset, Splits}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dataset-level preprocessing orchestration — the reference's
  * `preprocess_metadata` (event_stream_dataset.py:930-1013) driving the
  * per-measurement source routing of §2.8 (:1302-1308):
  *
  *   DYNAMIC measurements           → train rows of the measurements table
  *   STATIC measurements            → train rows of the subjects table
  *   FUNCTIONAL_TIME_DEPENDENT      → functor columns computed on train
  *                                    events (⋈ broadcast subjects)
  *
  * The reference loops over measurements; here every source is stacked
  * into one `(measurement, key, v)` frame fitted once, keyed by
  * (measurement, key) like MLlib's multi-column StringIndexer: one counts
  * table feeds the column-drop rule, every vocabulary and the numeric
  * fits, and the job count does not grow with the measurements.
  *
  * All fits see ONLY the train split (leakage rule, :1043/:1125/:1304);
  * transform applies the fitted params to every split. The fitted state is
  * a map of small DataFrames (see Preprocessor.Fit) — the immutable
  * analogue of the reference's `inferred_measurement_configs`.
  */
object DatasetPreprocessor {

  final case class FittedDataset(
      dynamic: Map[String, Preprocessor.Fit],
      dynamicCategorical: Map[String, DataFrame],
      static: Map[String, DataFrame],
      timeDependent: Map[String, Preprocessor.Fit],
      /** Measurements dropped by the observation-count rule
        * (event_stream_dataset.py:1048-1050,1346-1348). */
      dropped: Set[String] = Set.empty)

  def fit(ds: EventDataset, splits: DataFrame, cfg: DatasetConfig,
      functors: Seq[TimeDependentFunctor] = Nil,
      basePcfg: Preprocessor.Config = Preprocessor.Config()): FittedDataset = {
    // The DatasetConfig is AUTHORITATIVE for the four inference thresholds
    // (config.py:347-351, every default None = rule disabled: None here
    // means the rule is OFF, not "inherit") AND for the model names — the
    // reference's outlier_detector_config/normalizer_config 'cls' keys
    // (config.py:330-342), resolved through the NumericModels registry.
    // basePcfg contributes only the remaining engine-side knobs (quantile
    // count, vocab fold).
    val pcfg = basePcfg.copy(
      minValidVocabElementObservations = cfg.minValidVocabElementObservations,
      minTrueFloatFrequency = cfg.minTrueFloatFrequency,
      minUniqueNumericalObservations = cfg.minUniqueNumericalObservations,
      maxNumericalValueFrequency = cfg.maxNumericalValueFrequency,
      normalizer = cfg.normalizer,
      outlierDetector = cfg.outlierDetector)
    val trainEvents = Splits.forSplit(
      TimeDependentFunctor.addColumns(ds.events, ds.subjects, functors),
      splits, "train")

    // Missing-column drop (event_stream_dataset.py:1310-1312): a STATIC
    // measurement whose column is absent from subjects, or an FTD
    // measurement whose functor column is absent from the events frame,
    // is dropped rather than failing analysis. (Dynamic measurements
    // live in the long layout, where "column absent" is just zero rows —
    // the observation-count rule below covers them.)
    val schemaDropped: Set[String] = cfg.measurements.collect {
      case m if m.temporality == TemporalityType.Static &&
        !ds.subjects.columns.contains(m.name) => m.name
      case m if m.temporality == TemporalityType.FunctionalTimeDependent &&
        !trainEvents.columns.contains(m.name) => m.name
    }.toSet
    def names(t: TemporalityType, p: DataModality => Boolean = _ => true) =
      cfg.measurements.filter(m => m.temporality == t && p(m.modality) &&
        !schemaDropped(m.name)).map(_.name)
    val dynamic = names(TemporalityType.Dynamic)
    val numeric = names(TemporalityType.Dynamic,
      _ == DataModality.MultivariateRegression)
    val categorical = names(TemporalityType.Dynamic,
      Set(DataModality.SingleLabelClassification,
        DataModality.MultiLabelClassification))
    val static = names(TemporalityType.Static)
    val timeDependent = names(TemporalityType.FunctionalTimeDependent)

    // THE stack: train rows of every source as (measurement, key, v).
    // Static columns become (name, value, null) rows, FTD functor columns
    // (name, name, value) rows; a proportion column-drop threshold adds a
    // (null, null, null) row per train event, its denominator.
    val eventsTotal = cfg.minValidColumnObservations.exists(_.value.isRight)
    def row(m: Column, k: Column, v: Column) = struct(
      m.cast("string").as("measurement"), k.cast("string").as("key"),
      v.cast("double").as("v"))
    def stacked(df: DataFrame, rows: Seq[Column]) =
      df.select(explode(array(rows: _*)).as("r")).select("r.*")
    val none = lit(null)
    val legs = Seq(
      Some(Splits.forSplit(ds.measurements, splits, "train")
        .filter(col("measurement").isin(dynamic: _*))
        .select(col("measurement"), col("key").cast("string").as("key"),
          col("value").cast("double").as("v"))),
      Option.when(static.nonEmpty)(
        stacked(Splits.forSplit(ds.subjects, splits, "train"),
          static.map(n => row(lit(n), col(n), none)))),
      Option.when(timeDependent.nonEmpty || eventsTotal)(
        stacked(trainEvents,
          timeDependent.map(n => row(lit(n), lit(n), col(n))) ++
            Option.when(eventsTotal)(row(none, none, none))))
    ).flatten
    val (fits, types) = Preprocessor.fitKeyed(
      legs.reduce(_.unionByName(_)), (numeric ++ timeDependent).toSet, pcfg)

    // Column-drop rule: a DYNAMIC measurement observed fewer than
    // minValidColumnObservations times on train (count or proportion of
    // train events; null-key rows count) is dropped, its fit (keyed apart
    // from every other) discarded. The null measurement's rows are the
    // train events.
    val observed: Map[Option[String], Long] =
      types.groupMapReduce(t => Option(t.measurement))(_.nObs)(_ + _)
    val dropped: Set[String] = cfg.minValidColumnObservations match {
      case Some(m) =>
        val minN = m.resolve(observed.getOrElse(None, 0L))
        dynamic.filter(n => observed.getOrElse(Some(n), 0L) < minN).toSet
      case None => Set.empty
    }
    // vocabularies of categorical and static measurements: the counts of
    // their non-null keys
    def vocab(m: String) = Vocabulary.fromCountsLocal(
      ds.measurements.sparkSession,
      types.filter(t => t.measurement == m && t.key != null)
        .map(t => t.key -> t.nObs))
    FittedDataset(
      numeric.filterNot(dropped).map(m => m -> fits(m)).toMap,
      categorical.filterNot(dropped).map(m => m -> vocab(m)).toMap,
      static.map(m => m -> vocab(m)).toMap,
      timeDependent.map(m => m -> fits(m)).toMap,
      dropped ++ schemaDropped)
  }

  /** Transform every split with train-fit params.
    * Returns (measurements with per-measurement transforms applied,
    * events with functor columns + normalized FTD values,
    * subjects with per-static-measurement vocab indices). */
  def transform(ds: EventDataset, fit: FittedDataset,
      functors: Seq[TimeDependentFunctor] = Nil)
      : (DataFrame, DataFrame, DataFrame) = {
    // measurements: ONE pass over every fitted measurement (see
    // Preprocessor.transformKeyed); rows of dropped measurements are
    // removed (the reference drops the column), as are rows without one.
    val m = col("measurement")
    val transformedMeas = Preprocessor.transformKeyed(
      ds.measurements.filter(m.isNotNull && !m.isin(fit.dropped.toSeq: _*)),
      m, col("key"), col("value"), fit.dynamic, fit.dynamicCategorical)

    // events: functor columns + FTD normalization
    val withFunctors =
      TimeDependentFunctor.addColumns(ds.events, ds.subjects, functors)
    val transformedEvents = fit.timeDependent.foldLeft(withFunctors) {
      case (ev, (name, f)) =>
        val obs = ev.select(col("*"), lit(name).as("__ftd_key"))
        Preprocessor.transform(obs, "__ftd_key", name, f)
          .withColumnRenamed("value_norm", s"${name}_norm")
          .drop("__ftd_key", "final_key", "value_clean", "is_inlier",
            "key_idx")
    }

    // subjects: static vocab indices
    val transformedSubjects = fit.static.foldLeft(ds.subjects) {
      case (subj, (name, vocab)) =>
        Vocabulary.lookup(subj, name, vocab, s"${name}_idx")
    }
    (transformedMeas, transformedEvents, transformedSubjects)
  }
}
