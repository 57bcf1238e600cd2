package graft.preprocess

import graft.core.{CountOrProportion, Vocabulary}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Train-only fit / all-splits transform orchestrator — the reference's E2
  * lifecycle (/root/reference/EventStream/EventStreamData/
  * event_stream_dataset.py:930-1595) with the mutable inferred-config state
  * re-expressed as immutable DataFrames:
  *
  *   fit:  train observations → per-key `measurement_metadata`
  *         (value_type, VIOD bounds, normalizer params) + vocabulary
  *   transform: any split's observations ⋈ broadcast(metadata) → one
  *         narrow `select` (re-encode, drop/censor-free value cleanup,
  *         inlier flag, normalize, vocab index)
  *
  * The leakage rule is structural: `fit` only ever sees the frame the
  * caller passes (the train split — event_stream_dataset.py:1043,1125,
  * 1304-1308); `transform` applies those params to anything.
  *
  * Scale shape: each fit statistic is one groupBy(key) with map-side
  * partial aggregation; transform is a broadcast join + pure expressions
  * (whole-stage codegen, zero extra shuffles).
  */
object Preprocessor {

  /** Thresholds use the reference's shapes (config.py:285-402): each rule
    * is DISABLED when `None`, and count thresholds may be proportions
    * (`CountOrProportion.proportion`), resolved as the reference does —
    * min-valid-vocab against the column's total observations,
    * min-unique against each key's value count. */
  final case class Config(
      minValidVocabElementObservations: Option[CountOrProportion] =
        Some(CountOrProportion.count(10)),
      minTrueFloatFrequency: Option[Double] = Some(0.25),
      minUniqueNumericalObservations: Option[CountOrProportion] =
        Some(CountOrProportion.count(20)),
      maxNumericalValueFrequency: Option[Double] = Some(0.5),
      /** None | Some(name registered in [[NumericModels]]) — "viod"
        * built-in. */
      outlierDetector: Option[String] = None,
      /** None | Some(name registered in [[NumericModels]]) — "std" and
        * "quantile" built-in (fused single-scan fit); other names fit via
        * their model's own pass over the inlier train values. */
      normalizer: Option[String] = Some("std"),
      nQuantiles: Int = 101,
      /** Fold vocab elements rarer than this into UNK. */
      minValidVocabFold: Option[CountOrProportion] = None)

  object Config {
    /** Convenience: plain-count thresholds. */
    def counts(minValidVocabElementObservations: Long = 10,
        minTrueFloatFrequency: Double = 0.25,
        minUniqueNumericalObservations: Long = 20,
        maxNumericalValueFrequency: Double = 0.5,
        outlierDetector: Option[String] = None,
        normalizer: Option[String] = Some("std"),
        nQuantiles: Int = 101,
        minValidVocabFold: Option[CountOrProportion] = None): Config =
      Config(
        Some(CountOrProportion.count(minValidVocabElementObservations)),
        Some(minTrueFloatFrequency),
        Some(CountOrProportion.count(minUniqueNumericalObservations)),
        Some(maxNumericalValueFrequency),
        outlierDetector, normalizer, nQuantiles, minValidVocabFold)
  }

  /** Fit result: per-key numeric metadata + final-key vocabulary, both
    * plain DataFrames (persistable as parquet — no pickles). */
  final case class Fit(perKey: DataFrame, vocab: DataFrame)

  /** Fit numeric + categorical metadata on TRAIN observations.
    * `trainObs` must carry (keyCol STRING, valCol DOUBLE). The
    * one-measurement case of [[fitKeyed]]. */
  def fit(trainObs: DataFrame, keyCol: String, valCol: String,
      cfg: Config): Fit =
    fitKeyed(trainObs.select(lit("").as("measurement"),
      col(keyCol).cast("string").as("key"),
      col(valCol).cast("double").as("v")), Set(""), cfg)._1("")

  /** One (measurement, key) of a keyed fit's type inference; `key` is
    * null for a measurement's null-key rows, `nObs` counts null values. */
  private[preprocess] final case class KeyType(measurement: String,
      key: String, valueType: String, kShift: Option[Double], nObs: Long)

  private val perKeySchema = StructType.fromDDL(
    "key STRING, value_type STRING, viod_lo DOUBLE, viod_hi DOUBLE, " +
      "norm_mean DOUBLE, norm_std DOUBLE, quantiles ARRAY<DOUBLE>, " +
      "norm_name STRING, norm_params MAP<STRING, DOUBLE>")

  /** Fit every measurement in `groups` over stacked train observations
    * `(measurement, key, v)`, every statistic keyed by (measurement, key):
    * thresholds, VIOD bounds, normalizer params and the all-outliers guard
    * are per (measurement, key), a vocabulary and its rare-fold total per
    * measurement; a group with no rows gets an empty fit. Also returns the
    * inference row of every (measurement, key) in `obs` (null keys and
    * other measurements included), whose counts DatasetPreprocessor reads.
    *
    * Scan discipline: the observations are scanned ONCE, into the
    * checkpointed per-(measurement, key, value) counts table that type
    * inference needs anyway; the fused per-(key, final_key)
    * vocab/normalizer aggregation and the quantile fit derive from it,
    * frequency-weighted. VIOD and a custom normalizer alone re-scan the
    * observations: they consume the raw value multiset, and expanding the
    * counts back out would blow up on high-multiplicity values.
    *
    * Job discipline (the MLlib-model idiom — StringIndexerModel holds its
    * labels on the driver): the statistics are COLLECTED and assembled
    * driver-side into LocalTableScan Fit frames, which cost zero cluster
    * jobs per consumer. The fit is 3 actions for any number of
    * measurements (counts checkpoint, type collect, stats collect; +1 each
    * for VIOD and a custom normalizer): measured, with AQE's map-stage
    * jobs and the split broadcasts, 10 Spark jobs for the traced
    * ehr_pipeline fit (dynamic, static and FTD measurements; 4 CPUs), and
    * DatasetPreprocessorSpec pins that 8 measurements run as many jobs as
    * 4. Driver-side sorts reproduce Spark ordering exactly (UTF-8
    * tie-break — Vocabulary.utf8Lt). */
  private[preprocess] def fitKeyed(obs: DataFrame, groups: Set[String],
      cfg: Config): (Map[String, Fit], Seq[KeyType]) = {
    val spark = obs.sparkSession
    import spark.implicits._
    val perValue = NumericKernel.perValueCounts(obs).localCheckpoint(true)
    val allTypes = NumericKernel.inferValueTypesFromCounts(perValue,
        cfg.minValidVocabElementObservations, cfg.minTrueFloatFrequency,
        cfg.minUniqueNumericalObservations, cfg.maxNumericalValueFrequency)
      .select(col("measurement"), col("key"), col("value_type").as("valueType"),
        col("k_shift").as("kShift"), col("n_obs").as("nObs"))
      .as[KeyType].collect().toSeq
    // every fitted (measurement, key), by its dense id `__kid`
    val types = allTypes
      .filter(t => t.key != null && groups(t.measurement)).toIndexedSeq
    def typesTable(bounds: Map[Int, (Double, Double)]) =
      types.zipWithIndex.map { case (t, i) =>
        (t.measurement, t.key, i, t.valueType, t.kShift,
          bounds.get(i).map(_._1), bounds.get(i).map(_._2)) }
        .toDF("measurement", "key", "__kid", "value_type", "k_shift",
          "viod_lo", "viod_hi")
    // the raw observations of numeric keys, re-encoded (VIOD, custom)
    def numericObs(table: DataFrame) = obs
      .join(broadcast(table), Seq("measurement", "key"))
      .withColumn("v1", NumericKernel.reencodeValue(col("v"),
        col("value_type")))
      .filter(col("value_type").isin("integer", "float") &&
        col("v1").isNotNull)

    // 1. optional VIOD outlier bounds per (measurement, key) — the one
    //    statistic that needs the raw value MULTISET, so it re-scans the
    //    observations (broadcast-joined to the local types table) rather
    //    than re-expanding the counts: an array_repeat expansion would
    //    materialize cnt-sized arrays (ANSI overflow past 2^31, executor
    //    OOM long before) on high-multiplicity values
    //    (event_stream_dataset.py:1198).
    val viodBounds: Map[Int, (Double, Double)] =
      cfg.outlierDetector match {
        case Some(name) =>
          // resolved via the METADATA_MODELS-style registry — "viod" maps
          // to the exact-port Viod.fitPerKey; custom detectors plug in by
          // name with the same (key, lo, hi) contract, keyed by __kid
          NumericModels.outlierDetector(name)
            .fitBounds(numericObs(typesTable(Map.empty)), "__kid", "v1")
            .collect()
            .map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2)))
            .toMap
        case None => Map.empty
      }
    val typesB = typesTable(viodBounds)

    // 2. the fused aggregation over the counts table, keyed by
    //    (__kid, final_key), frequency-weighted, collected. For numeric
    //    keys final_key == key, so their single group row carries the
    //    per-key normalizer statistics: shifted moments for std (centering
    //    on k_shift ≈ mean removes the naive sum-of-squares cancellation),
    //    frequency-weighted exact percentile for quantile.
    val numeric = col("value_type").isin("integer", "float")
    val v1 = when(numeric,
      NumericKernel.reencodeValue(col("v"), col("value_type")))
    val inlier = NumericKernel.isInlier(col("v1"), col("viod_lo"),
      col("viod_hi"))
    val cnt = col("cnt")
    val normAggs = cfg.normalizer match {
      case Some("std") => Seq(
        sum(when(col("__vin").isNotNull, cnt)).as("__n_in"),
        sum(when(col("__vin").isNotNull,
          (col("__vin") - col("k_shift")) * cnt)).as("__s1c"),
        sum(when(col("__vin").isNotNull,
          (col("__vin") - col("k_shift")) * (col("__vin") - col("k_shift"))
            * cnt)).as("__s2c"))
      case Some("quantile") =>
        val ps = array((0 until cfg.nQuantiles)
          .map(i => lit(i.toDouble / (cfg.nQuantiles - 1))): _*)
        Seq(percentile(col("__vin"), ps, cnt).as("quantiles"))
      case _ => Seq.empty
    }
    val statAggs = Seq(
      sum(when(col("final_key").isNotNull, cnt).otherwise(lit(0L)))
        .as("n_fk"),
      sum(when(col("__inlier") && col("v1").isNotNull, cnt)
        .otherwise(lit(0L))).as("n_inliers")) ++ normAggs
    val groupedRows = perValue
      .join(broadcast(typesB), Seq("measurement", "key"))
      .withColumn("final_key", NumericKernel.reencodeKey(col("key"),
        col("v"), col("value_type")))
      .withColumn("v1", v1)
      .withColumn("__inlier", inlier)
      .withColumn("__vin", when(col("__inlier"), col("v1")))
      .groupBy(col("__kid"), col("final_key"))
      .agg(statAggs.head, statAggs.tail: _*)
      .collect()
    val gKid = (r: Row) => r.getInt(0)
    val gFk = (r: Row) => r.getString(1)
    val gNFk = (r: Row) => r.getLong(2)
    val gNIn = (r: Row) => r.getLong(3)
    val numRows = groupedRows.filter(r =>
      Seq("integer", "float").contains(types(gKid(r)).valueType))

    // all-outliers drop guard (event_stream_dataset.py:1198-1208): a key
    // whose every value is a VIOD outlier drops entirely.
    val guardSet: Set[Int] = numRows.iterator
      .filter(r => viodBounds.contains(gKid(r)) && gNIn(r) == 0L)
      .map(gKid).toSet

    // per-key normalizer params from the numeric keys' own group rows.
    //   mean = k + Σc(v−k)/n        (exact)
    //   var  = (Σc(v−k)² − (Σc(v−k))²/n) / (n−1)   (shift-centered)
    // n==1 → NaN (stddev_samp semantics), n==0 → null.
    val normByKey: Map[Int, (Option[Double], Option[Double],
        Option[Seq[Double]])] =
      numRows.iterator.map { r =>
        cfg.normalizer match {
          case Some("std") =>
            val nIn = if (r.isNullAt(4)) 0L else r.getLong(4)
            val s1c = if (r.isNullAt(5)) 0.0 else r.getDouble(5)
            val s2c = if (r.isNullAt(6)) 0.0 else r.getDouble(6)
            val k = types(gKid(r)).kShift.getOrElse(0.0)
            val mean = if (nIn > 0) Some(k + s1c / nIn) else None
            val std =
              if (nIn >= 2)
                Some(math.sqrt(math.max(
                  (s2c - s1c * s1c / nIn) / (nIn - 1), 0.0)))
              else if (nIn == 1) Some(Double.NaN)
              else None
            gKid(r) -> ((mean, std, None))
          case Some("quantile") =>
            val q = if (r.isNullAt(4)) None else Some(r.getSeq[Double](4))
            gKid(r) -> ((None, None, q))
          case _ => gKid(r) -> ((None, None, None))
        }
      }.toMap

    val finalVt: Int => String = i =>
      if (guardSet(i)) "dropped" else types(i).valueType

    // 3. CUSTOM registry normalizer (any name outside the fused
    //    built-ins): the model fits per-key params with its own pass over
    //    the INLIER train values — the same frame the fused aggregation
    //    weights by counts, re-expanded from the raw observations because
    //    a custom model's statistics need not be frequency-decomposable.
    //    Params land in a generic MAP<STRING,DOUBLE> column
    //    (params-as-data; the model name rides along for the transform
    //    dispatch).
    val customName: Option[String] =
      cfg.normalizer.filterNot(NumericModels.builtinNormalizers)
    val customParams: Map[Int, Map[String, Double]] = customName match {
      case Some(name) =>
        val model = NumericModels.normalizer(name)
        val inliers = numericObs(typesB).filter(
          NumericKernel.isInlier(col("v1"), col("viod_lo"), col("viod_hi")) &&
            (if (guardSet.isEmpty) lit(true)
             else !col("__kid").isin(guardSet.toSeq: _*)))
        model.fitParams(inliers, "__kid", "v1").collect()
          .map(r => r.getInt(0) ->
            r.getMap[String, Double](1).toMap).toMap
      case None => Map.empty
    }

    // 4. split back per measurement: the per-key rows, and a vocabulary
    //    over the FINAL key space (categorical keys re-encoded to
    //    "key__EQ_v" — event_stream_dataset.py:288-368 — so the vocab
    //    indexes exactly what transform emits), straight from the fused
    //    rows. value_type='dropped' keys (inference OR the guard) are
    //    excluded: in the reference they fall below
    //    min_valid_vocab_element_observations during categorical
    //    processing and fold into UNK (:1279-1310), so transform emits
    //    key_idx=0.
    val kidsOf = types.indices.groupBy(i => types(i).measurement)
    val rowsOf = groupedRows.toSeq.groupBy(r => types(gKid(r)).measurement)
    val fits = groups.iterator.map { m =>
      val perKeyDf = spark.createDataFrame(
        kidsOf.getOrElse(m, Nil).map { i =>
          val b = viodBounds.get(i)
          val nrm = normByKey.getOrElse(i, (None, None, None))
          val cp = customParams.get(i)
          Row(types(i).key, finalVt(i),
            b.map(x => Double.box(x._1)).orNull,
            b.map(x => Double.box(x._2)).orNull,
            nrm._1.map(Double.box).orNull,
            nrm._2.map(Double.box).orNull,
            nrm._3.orNull,
            cp.flatMap(_ => customName).orNull,
            cp.orNull) }.asJava, perKeySchema)
      val fkCounts: Seq[(String, Long)] = rowsOf.getOrElse(m, Nil)
        .filter(r => finalVt(gKid(r)) != "dropped" && gFk(r) != null)
        .map(r => gFk(r) -> gNFk(r))
      val rawTuples = Vocabulary.vocabTuplesFromCounts(fkCounts)
      val vocabTuples = cfg.minValidVocabFold match {
        case Some(f) =>
          Vocabulary.foldRareTuples(rawTuples, f, fkCounts.map(_._2).sum)
        case None => rawTuples
      }
      m -> Fit(perKeyDf, Vocabulary.vocabDfFromTuples(spark, vocabTuples))
    }.toMap
    (fits, allTypes)
  }

  /** Apply a fit to any split's observations: broadcast-join the per-key
    * metadata + vocab, then pure column expressions. Appends
    * (final_key, value_clean, is_inlier, value_norm, key_idx). The
    * one-measurement case of [[transformKeyed]]. */
  def transform(obs: DataFrame, keyCol: String, valCol: String,
      fit: Fit): DataFrame =
    transformKeyed(obs, lit(""), col(keyCol), col(valCol), Map("" -> fit))

  /** Apply per-measurement fits in ONE pass: each row joins its
    * (measurement, key) metadata and its (measurement, final_key) vocab
    * index, both stacked local relations, broadcast. The fitted columns
    * are computed for every row, with no per-kind CASE around them (their
    * common subexpressions stay shared): a row of a `vocabs` measurement
    * (indexed by key alone, like a dynamic categorical one) is an unseen
    * key with no value — its key, its key's index, null values — and a
    * row of any other measurement a seen key without metadata, whose
    * value passes through with key_idx 0. */
  private[preprocess] def transformKeyed(obs: DataFrame, measurement: Column,
      key: Column, value: Column, fits: Map[String, Fit],
      vocabs: Map[String, DataFrame] = Map.empty): DataFrame = {
    val fitted = measurement.isin(fits.keys.toSeq: _*)
    val keyed = measurement.isin(vocabs.keys.toSeq: _*)
    // the parts as one relation, `__m` + `schema`'s columns, collected: fit
    // state is driver-sized, and a LocalTableScan part collects job-free
    def stack(parts: Iterable[(String, DataFrame)], schema: StructType) =
      obs.sparkSession.createDataFrame(parts.toSeq.flatMap { case (m, df) =>
        df.select(schema.fieldNames.toSeq.map(col): _*).collect()
          .map(r => Row.fromSeq(m +: r.toSeq)) }.asJava,
        StructType(StructField("__m", StringType) +: schema.fields))
    val meta = stack(fits.map { case (m, f) => m -> f.perKey },
      perKeySchema).withColumnRenamed("key", "__k")
    val vocab = stack(fits.map { case (m, f) => m -> f.vocab } ++ vocabs,
        StructType.fromDDL("element STRING, idx INT"))
      .select(col("__m").as("__vm"), col("element").as("__ve"),
        col("idx").as("__vi"))
    // Keys never seen at fit time get NULLED values (the reference nulls
    // values whose key is outside the fitted space,
    // event_stream_dataset.py:1408) — NOT identity passthrough.
    val seen = col("__k").isNotNull || !(fitted || keyed)
    val vt = coalesce(col("value_type"), lit("float"))
    val v = when(!keyed, value).cast("double")
    val v1 = when(seen, NumericKernel.reencodeValue(v, vt))
    val isInlier = NumericKernel.isInlier(v1, col("viod_lo"),
      col("viod_hi"))
    val vInlier = when(isInlier, v1)
    // custom registry normalizers dispatch on the fitted model name — a
    // when-chain over the registered models (the reference resolves the
    // pickled model class the same way: by what's importable at load time).
    // A fitted norm_name with no registered model is a deploy error, not a
    // value: fail loudly (the reference's unpickle would raise on a missing
    // class), never silently pass the unnormalized value through.
    val unregistered = raise_error(
      concat(lit("unregistered normalizer: "), col("norm_name"))).cast("double")
    val customNorm = NumericModels.customNormalizers.foldLeft(unregistered) {
      case (acc, (name, m)) =>
        when(col("norm_name") === name,
          m.transformExpr(vInlier, col("norm_params"))).otherwise(acc)
    }
    val vNorm =
      when(col("norm_mean").isNotNull,
        NumericKernel.applyStandardScaler(vInlier, col("norm_mean"),
          col("norm_std")))
        .when(col("quantiles").isNotNull,
          NumericKernel.applyQuantileTransform(vInlier, col("quantiles")))
        .when(col("norm_params").isNotNull, customNorm)
        .otherwise(vInlier)
    obs.join(broadcast(meta), measurement === col("__m") &&
        key.cast("string") === col("__k"), "left")
      .withColumn("final_key",
        NumericKernel.reencodeKey(key.cast("string"), v, vt))
      .withColumn("value_clean", vInlier)
      .withColumn("is_inlier",
        !fitted || (seen && v1.isNotNull && isInlier))
      .withColumn("value_norm", vNorm)
      .drop(meta.columns.toSeq: _*)
      .join(broadcast(vocab), measurement === col("__vm") &&
        col("final_key").cast("string") === col("__ve"), "left")
      .withColumn("key_idx", coalesce(col("__vi"), lit(0)))
      .drop("__vm", "__ve", "__vi")
  }
}
