package graft.preprocess

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pure-Catalyst numeric preprocessing kernels.
  *
  * Every kernel here is a Column expression (no UDFs): whole-stage codegen
  * keeps these in the hot loop, and at 100 TB the transform phase is a single
  * narrow `select` after one broadcast join to the fit-parameters table
  * (SURVEY §2.7).
  */
object NumericKernel {

  /** Drop-or-censor scalar kernel (reference event_stream_dataset.py:152-211):
    * null the value when outside drop bounds, then clamp to censor bounds.
    * Inclusivity follows the reference exactly: an INCLUSIVE drop bound
    * drops the bound value itself (`val <= lo` / `val >= hi`); exclusive
    * drops strictly-outside only (`val < lo` / `val > hi`) — reference
    * docstring :168-181. All bound columns are nullable; null = unbounded. */
  def dropOrCensor(
      v: Column,
      dropLo: Column, dropLoIncl: Column,
      dropHi: Column, dropHiIncl: Column,
      censorLo: Column, censorHi: Column): Column = {
    val belowDrop = dropLo.isNotNull &&
      (when(coalesce(dropLoIncl, lit(false)), v <= dropLo)
        .otherwise(v < dropLo))
    val aboveDrop = dropHi.isNotNull &&
      (when(coalesce(dropHiIncl, lit(false)), v >= dropHi)
        .otherwise(v > dropHi))
    val dropped = when(belowDrop || aboveDrop, lit(null).cast("double"))
      .otherwise(v)
    val censoredLo = when(censorLo.isNotNull && dropped < censorLo, censorLo)
      .otherwise(dropped)
    when(censorHi.isNotNull && censoredLo > censorHi, censorHi)
      .otherwise(censoredLo)
  }

  /** Unit-implied bounds (reference UNIT_BOUNDS,
    * event_stream_dataset.py:59-62): ('%','percent') → [0, 1] with
    * EXCLUSIVE flags (percentages are stored as proportions in the
    * reference). 'proportion'/'fraction' are engine extensions with the
    * same bounds. Returned as a lookup table to broadcast-join on `unit`,
    * then merged with declared bounds via least/greatest. */
  def unitBounds(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("%", 0.0, false, 1.0, false),
      ("percent", 0.0, false, 1.0, false),
      ("proportion", 0.0, false, 1.0, false),
      ("fraction", 0.0, false, 1.0, false)
    ).toDF("unit", "unit_lo", "unit_lo_incl", "unit_hi", "unit_hi_incl")
  }

  /** Value-type inference aggregation (event_stream_dataset.py:1216-1277,
    * `_infer_val_type`). Two small groupBy passes over the per-value counts
    * compute every statistic the rule cascade needs; the cascade itself is
    * a pure expression over the aggregate row.
    *
    * Reference fidelity notes:
    *  - Rule 1 (too few observations → dropped) counts ALL key observations
    *    including null values (`total_key_obs`, :1229-1235); every other
    *    statistic is over `vals.dropna()`.
    *  - int-ness (`int_fraction`) is measured on RAW values (:1250-1252),
    *    but once a key is integer-ish the reference rounds
    *    (`vals.round(0)`, np HALF_EVEN = banker's) BEFORE `value_counts`
    *    (:1253-1257) — so `n_unique`/`mode_frequency` for integer-ish keys
    *    are over the ROUNDED value space (near-integer floats merge).
    *  - The single-unique-value → dropped rule fires only INSIDE the
    *    categorical branch (:1267-1270), not unconditionally.
    */
  def inferValueTypes(
      kv: DataFrame, keyCol: String, valCol: String,
      minValidVocabElementObservations: Long,
      minTrueFloatFrequency: Double,
      minUniqueNumericalObservations: Long,
      maxNumericalValueFrequency: Double): DataFrame =
    inferValueTypesCfg(kv, keyCol, valCol,
      Some(graft.core.CountOrProportion.count(
        minValidVocabElementObservations)),
      Some(minTrueFloatFrequency),
      Some(graft.core.CountOrProportion.count(
        minUniqueNumericalObservations)),
      Some(maxNumericalValueFrequency))

  /** Per-(measurement, key, value) observation counts over stacked
    * observations `(measurement, key, v)` — the one base aggregation of a
    * keyed fit (checkpointed by Preprocessor): type inference, the
    * column-drop rule, every vocabulary and every fit statistic derive
    * from it. Null-key rows stay: they count toward their measurement's
    * observations, and inference keeps them out of the column total. */
  private[preprocess] def perValueCounts(obs: DataFrame): DataFrame =
    obs.groupBy(col("measurement"), col("key"), col("v").cast("double").as("v"))
      .agg(count(lit(1)).as("cnt"))

  /** Reference-faithful variant: every rule can be DISABLED (`None`, the
    * reference's `if self.config.X is not None` guards / `lt_count_or_
    * proportion(None) == False`) and count thresholds can be PROPORTIONS
    * (`int(p * N)`, truncating):
    *  - min-valid-vocab proportion resolves against the COLUMN's total
    *    observation count (`total_col_obs`, :1229-1235) — computed
    *    in-plan as the sum of per-key counts, no extra action;
    *  - min-unique proportion resolves against the KEY's non-null value
    *    count (`len(vals)`, :1259-1262) — per key, in-expression.
    * Null KEYS are outside the measurement space entirely (the reference
    * iterates the column's non-null keys). */
  def inferValueTypesCfg(
      kv: DataFrame, keyCol: String, valCol: String,
      minValidVocabElementObservations: Option[graft.core.CountOrProportion],
      minTrueFloatFrequency: Option[Double],
      minUniqueNumericalObservations: Option[graft.core.CountOrProportion],
      maxNumericalValueFrequency: Option[Double]): DataFrame =
    inferValueTypesFromCounts(
      perValueCounts(kv.filter(col(keyCol).isNotNull).select(
        lit("").as("measurement"), col(keyCol).as("key"),
        col(valCol).as("v"))),
      minValidVocabElementObservations, minTrueFloatFrequency,
      minUniqueNumericalObservations, maxNumericalValueFrequency)

  /** Type inference over a prebuilt `perValueCounts` frame (measurement,
    * key, v, cnt), one row per (measurement, key), thresholds resolved
    * per measurement. Splitting here lets Preprocessor run ONE scan of
    * the train observations and derive every fit statistic from the (far
    * narrower) counts table. A null key gets a row too (its `n_obs` is
    * the column-drop rule's), but is outside every column total. */
  def inferValueTypesFromCounts(
      perValue: DataFrame,
      minValidVocabElementObservations: Option[graft.core.CountOrProportion],
      minTrueFloatFrequency: Option[Double],
      minUniqueNumericalObservations: Option[graft.core.CountOrProportion],
      maxNumericalValueFrequency: Option[Double]): DataFrame = {
    // collapse to the banker's-rounded value space while carrying raw-space
    // stats; the null-value group (rv IS NULL ⟺ v IS NULL) only feeds n_obs.
    val perRounded = perValue
      .groupBy(col("measurement"), col("key"), bround(col("v")).as("rv"))
      .agg(
        sum("cnt").as("cnt_r"),
        count(when(col("v").isNotNull, lit(1))).as("n_raw"),
        sum(when(col("v") === floor(col("v")), col("cnt"))
          .otherwise(lit(0L))).as("int_cnt"),
        max(when(col("v").isNotNull, col("cnt"))).as("max_cnt_raw"),
        sum(when(col("v").isNotNull, col("v") * col("cnt"))).as("sv"))
    val nonNull = col("rv").isNotNull
    val stats = perRounded.groupBy("measurement", "key").agg(
      sum("cnt_r").as("n_obs"),
      sum(when(nonNull, col("cnt_r")).otherwise(lit(0L))).as("n"),
      sum("n_raw").as("n_unique_raw"),
      count(when(nonNull, lit(1))).as("n_unique_rounded"),
      (sum("int_cnt") / sum(when(nonNull, col("cnt_r")))).as("int_fraction"),
      (max(when(nonNull, col("max_cnt_raw"))) /
        sum(when(nonNull, col("cnt_r")))).as("mode_frequency_raw"),
      (max(when(nonNull, col("cnt_r"))) /
        sum(when(nonNull, col("cnt_r")))).as("mode_frequency_rounded"),
      // raw-value weighted mean: the numerically-safe SHIFT for the fused
      // one-pass variance in Preprocessor.fit (shifting by ≈mean removes
      // the catastrophic cancellation of the naive sum-of-squares form)
      (sum("sv") / sum(when(nonNull, col("cnt_r")))).as("k_shift"))
    val isIntish = minTrueFloatFrequency match {
      case Some(f) => col("int_fraction") > lit(1.0 - f)
      case None    => lit(false)
    }
    val nUnique = when(isIntish, col("n_unique_rounded"))
      .otherwise(col("n_unique_raw"))
    val modeFreq = when(isIntish, col("mode_frequency_rounded"))
      .otherwise(col("mode_frequency_raw"))
    val tooFewUnique = minUniqueNumericalObservations match {
      case Some(graft.core.CountOrProportion(Left(n)))  => nUnique < lit(n)
      case Some(graft.core.CountOrProportion(Right(p))) =>
        // int(p * len(vals)): truncating cast, per key
        nUnique < (lit(p) * col("n")).cast("long")
      case None => lit(false)
    }
    val tooFrequentMode = maxNumericalValueFrequency match {
      case Some(f) => modeFreq > lit(f)
      case None    => lit(false)
    }
    val isCat = tooFewUnique || tooFrequentMode
    val tooFewObs = minValidVocabElementObservations match {
      case Some(graft.core.CountOrProportion(Left(n))) =>
        col("n_obs") < lit(n)
      case Some(graft.core.CountOrProportion(Right(p))) =>
        col("n_obs") < (lit(p) * col("__total_col_obs")).cast("long")
      case None => lit(false)
    }
    // total_col_obs, per measurement over its non-null keys, only when a
    // proportion needs it: a window over the per-key stats rows
    val needsTotal = minValidVocabElementObservations
      .exists(_.value.isRight)
    val statsT =
      if (needsTotal) stats.withColumn("__total_col_obs",
        sum(when(col("key").isNotNull, col("n_obs")))
          .over(org.apache.spark.sql.expressions.Window
            .partitionBy("measurement")))
      else stats
    statsT
      .withColumn("n_unique", nUnique)
      .withColumn("mode_frequency", modeFreq)
      .withColumn("value_type",
        when(tooFewObs, "dropped")
          .when(isCat && nUnique === 1, "dropped")
          .when(isCat && isIntish, "categorical_integer")
          .when(isCat, "categorical_float")
          .when(isIntish, "integer")
          .otherwise("float"))
      .select("measurement", "key", "n", "n_unique", "int_fraction",
        "mode_frequency", "value_type", "k_shift", "n_obs")
  }

  /** Numeric→categorical re-encode (event_stream_dataset.py:288-368):
    * CATEGORICAL_INTEGER keys become "key__EQ_{round(v)}", CATEGORICAL_FLOAT
    * keys "key__EQ_{v}"; the value column is nulled. Returns (newKey,
    * newValue) expressions given the per-key value_type column.
    * Rounding is `bround` (HALF_EVEN) to match np.round / pandas
    * .round(0) banker's rounding — Spark's `round` is HALF_UP and diverges
    * on exact .5 ties. */
  def reencodeKey(key: Column, v: Column, valueType: Column): Column =
    when(valueType === "categorical_integer" && v.isNotNull,
      concat(key, lit("__EQ_"), bround(v).cast("long").cast("string")))
      .when(valueType === "categorical_float" && v.isNotNull,
        concat(key, lit("__EQ_"), v.cast("string")))
      .otherwise(key)

  def reencodeValue(v: Column, valueType: Column): Column =
    when(valueType.isin("categorical_integer", "categorical_float"),
      lit(null).cast("double"))
      .when(valueType === "integer", bround(v))
      .when(valueType === "dropped", lit(null).cast("double"))
      .otherwise(v)

  /** Standard-score normalizer fit: per-key mean/std on train (sample std,
    * matching pandas ddof=1). */
  def fitStandardScaler(kv: DataFrame, keyCol: String, valCol: String)
      : DataFrame =
    kv.filter(col(valCol).isNotNull)
      .groupBy(col(keyCol).as("key"))
      .agg(avg(col(valCol)).as("norm_mean"),
        stddev_samp(col(valCol)).as("norm_std"))

  /** Standard-score transform; identity when params absent
    * (event_stream_dataset.py:1578-1595). */
  def applyStandardScaler(v: Column, mean: Column, std: Column): Column =
    when(mean.isNotNull && std.isNotNull && std =!= 0.0, (v - mean) / std)
      .otherwise(v)

  /** Quantile-normalizer fit: per-key equi-spaced quantiles (the reference
    * uses sklearn QuantileTransformer, event_stream_dataset.py:48-54;
    * SURVEY §2.7 maps it to stored quantiles + interpolated inverse-ECDF).
    * Exact at test scale via percentile; swap `percentile` for
    * `percentile_approx` in 100 TB mode (documented escape hatch). */
  def fitQuantiles(kv: DataFrame, keyCol: String, valCol: String,
      nQuantiles: Int = 101, exact: Boolean = true): DataFrame = {
    val ps = array((0 until nQuantiles)
      .map(i => lit(i.toDouble / (nQuantiles - 1))): _*)
    val agg =
      if (exact) percentile(col(valCol), ps)
      else percentile_approx(col(valCol), ps, lit(10000))
    kv.filter(col(valCol).isNotNull)
      .groupBy(col(keyCol).as("key"))
      .agg(agg.as("quantiles"))
  }

  /** Interpolated ECDF transform: v → rank in [0,1] by linear interpolation
    * between the fitted quantiles (sklearn QuantileTransformer forward
    * transform semantics, uniform output). Native expression
    * (InterpolateEcdf) — the composable HOF form pays an interpreted
    * lambda per quantile per row (~101 for the reference's default),
    * which is the transform hot loop at corpus scale. */
  def applyQuantileTransform(v: Column, quantiles: Column): Column =
    graft.expressions.VectorFunctions.interpolateEcdf(v, quantiles)

  /** ±inf → null normalization (event_stream_pytorch_dataset.py:370-376). */
  def nanInfToNull(v: Column): Column =
    when(isnan(v) || v === Double.PositiveInfinity ||
      v === Double.NegativeInfinity, lit(null).cast("double")).otherwise(v)

  /** Inlier predicate with absent-model default-true
    * (event_stream_dataset.py:1551-1576): exclusive bounds. */
  def isInlier(v: Column, lo: Column, hi: Column): Column =
    coalesce(v > lo && v < hi, lit(true))
}
