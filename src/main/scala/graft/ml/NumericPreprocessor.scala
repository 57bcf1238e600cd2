package graft.ml

import graft.core.CountOrProportion
import graft.preprocess.Preprocessor
import org.apache.spark.ml.{Estimator, Model}
import org.apache.spark.ml.param.{DoubleParam, IntParam, Param, ParamMap}
import org.apache.spark.ml.util.{DefaultParamsReadable, DefaultParamsWritable, Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType, StringType, StructType}

/** Shared Params for the numeric fit/transform pair (SURVEY §7 step 8:
  * the preprocess stack composed as `spark.ml` `Pipeline` stages — the
  * reference's sklearn-style fit/transform split
  * (event_stream_dataset.py:894-1595) is already Estimator/Transformer
  * shaped, so the wrapper is a thin, param-faithful adapter over
  * [[graft.preprocess.Preprocessor]], not a second implementation).
  *
  * Threshold encoding: the reference's `CountOrProportion` thresholds
  * (config.py:285-402 — disabled | absolute count | proportion of
  * total) map onto ONE `DoubleParam` each: `<= 0` disabled, `(0, 1)`
  * proportion, `>= 1` count. This keeps every param a JSON-encodable
  * primitive, so `DefaultParamsWritable` persistence works unmodified.
  */
private[ml] trait NumericPreprocessorParams
    extends org.apache.spark.ml.param.Params {

  final val keyCol = new Param[String](this, "keyCol",
    "measurement-key column (cast to string)")
  final val valueCol = new Param[String](this, "valueCol",
    "numeric value column (cast to double)")
  final val normalizer = new Param[String](this, "normalizer",
    "'std', 'quantile', a NumericModels registry name, or 'none'")
  final val outlierDetector = new Param[String](this, "outlierDetector",
    "'viod', a NumericModels registry name, or 'none'")
  final val nQuantiles = new IntParam(this, "nQuantiles",
    "quantile-transform resolution")
  final val minValidVocabObs = new DoubleParam(this, "minValidVocabObs",
    "<=0 disabled; (0,1) proportion; >=1 count")
  final val minTrueFloatFrequency = new DoubleParam(this,
    "minTrueFloatFrequency", "<=0 disabled; else frequency threshold")
  final val minUniqueNumericalObs = new DoubleParam(this,
    "minUniqueNumericalObs", "<=0 disabled; (0,1) proportion; >=1 count")
  final val maxNumericalValueFrequency = new DoubleParam(this,
    "maxNumericalValueFrequency", "<=0 disabled; else frequency threshold")
  final val minValidVocabFold = new DoubleParam(this, "minValidVocabFold",
    "<=0 disabled; (0,1) proportion; >=1 count — rare-element UNK folding")

  setDefault(keyCol -> "key", valueCol -> "value",
    normalizer -> "std", outlierDetector -> "none", nQuantiles -> 101,
    minValidVocabObs -> 10.0, minTrueFloatFrequency -> 0.25,
    minUniqueNumericalObs -> 20.0, maxNumericalValueFrequency -> 0.5,
    minValidVocabFold -> 0.0)

  private def cop(v: Double): Option[CountOrProportion] =
    if (v <= 0) None
    else if (v < 1) Some(CountOrProportion.proportion(v))
    else Some(CountOrProportion.count(v.toLong))

  private def name(v: String): Option[String] =
    if (v == null || v.isEmpty || v == "none") None else Some(v)

  protected def toConfig: Preprocessor.Config = Preprocessor.Config(
    minValidVocabElementObservations = cop($(minValidVocabObs)),
    minTrueFloatFrequency =
      if ($(minTrueFloatFrequency) <= 0) None
      else Some($(minTrueFloatFrequency)),
    minUniqueNumericalObservations = cop($(minUniqueNumericalObs)),
    maxNumericalValueFrequency =
      if ($(maxNumericalValueFrequency) <= 0) None
      else Some($(maxNumericalValueFrequency)),
    outlierDetector = name($(outlierDetector)),
    normalizer = name($(normalizer)),
    nQuantiles = $(nQuantiles),
    minValidVocabFold = cop($(minValidVocabFold)))

  protected def validateAndTransformSchema(schema: StructType)
      : StructType = {
    require(schema.fieldNames.contains($(keyCol)),
      s"input is missing keyCol '${$(keyCol)}'")
    require(schema.fieldNames.contains($(valueCol)),
      s"input is missing valueCol '${$(valueCol)}'")
    schema
      .add("final_key", StringType)
      .add("value_clean", DoubleType)
      .add("is_inlier", BooleanType)
      .add("value_norm", DoubleType)
      .add("key_idx", IntegerType)
  }
}

/** `spark.ml` Estimator over [[Preprocessor.fit]]: fit numeric +
  * categorical metadata on the (train) input, yielding a
  * [[NumericPreprocessorModel]]. Composes inside
  * `org.apache.spark.ml.Pipeline` with any other stage; the usual
  * leakage discipline applies — call `fit` on the TRAIN slice and
  * `transform` on everything, exactly as the reference does. */
class NumericPreprocessor(override val uid: String)
    extends Estimator[NumericPreprocessorModel]
    with NumericPreprocessorParams with DefaultParamsWritable {

  def this() = this(Identifiable.randomUID("graftNumPrep"))

  def setKeyCol(v: String): this.type = set(keyCol, v)
  def setValueCol(v: String): this.type = set(valueCol, v)
  def setNormalizer(v: String): this.type = set(normalizer, v)
  def setOutlierDetector(v: String): this.type = set(outlierDetector, v)
  def setNQuantiles(v: Int): this.type = set(nQuantiles, v)
  def setMinValidVocabObs(v: Double): this.type = set(minValidVocabObs, v)
  def setMinTrueFloatFrequency(v: Double): this.type =
    set(minTrueFloatFrequency, v)
  def setMinUniqueNumericalObs(v: Double): this.type =
    set(minUniqueNumericalObs, v)
  def setMaxNumericalValueFrequency(v: Double): this.type =
    set(maxNumericalValueFrequency, v)
  def setMinValidVocabFold(v: Double): this.type =
    set(minValidVocabFold, v)

  override def fit(dataset: Dataset[_]): NumericPreprocessorModel = {
    transformSchema(dataset.schema)
    val fitted = Preprocessor.fit(dataset.toDF(), $(keyCol), $(valueCol),
      toConfig)
    copyValues(new NumericPreprocessorModel(uid, fitted).setParent(this))
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): NumericPreprocessor =
    defaultCopy(extra)
}

object NumericPreprocessor
    extends DefaultParamsReadable[NumericPreprocessor]

/** Fitted model: a thin handle over [[Preprocessor.Fit]]'s two
  * params-as-data DataFrames (per-key numeric metadata + final-key
  * vocabulary). `transform` is [[Preprocessor.transform]] — one
  * broadcast join + narrow expressions, zero extra shuffles.
  * Persistence follows the house params-as-data rule: the fit frames
  * are written as parquet (no serialized closures, no pickles), params
  * as a tiny (param, value) parquet alongside. */
class NumericPreprocessorModel private[ml] (override val uid: String,
    private[ml] val fitted: Preprocessor.Fit)
    extends Model[NumericPreprocessorModel]
    with NumericPreprocessorParams with MLWritable {

  /** Fit state, inspectable: per-key numeric metadata and the
    * final-key vocabulary. */
  def perKeyMetadata: DataFrame = fitted.perKey
  def vocabulary: DataFrame = fitted.vocab

  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema)
    Preprocessor.transform(dataset.toDF(), $(keyCol), $(valueCol), fitted)
  }

  override def transformSchema(schema: StructType): StructType =
    validateAndTransformSchema(schema)

  override def copy(extra: ParamMap): NumericPreprocessorModel =
    copyValues(new NumericPreprocessorModel(uid, fitted), extra)
      .setParent(parent)

  override def write: MLWriter = new MLWriter {
    override protected def saveImpl(path: String): Unit = {
      val mode = if (shouldOverwrite) "overwrite" else "errorifexists"
      fitted.perKey.write.mode(mode).parquet(s"$path/perKey")
      fitted.vocab.write.mode(mode).parquet(s"$path/vocab")
      val spark = sparkSession
      import spark.implicits._
      params.toSeq.filter(p => isSet(p))
        .map(p => (p.name, get(p).get.toString))
        .toDF("param", "value")
        .coalesce(1).write.mode(mode).parquet(s"$path/params")
    }
  }
}

object NumericPreprocessorModel
    extends MLReadable[NumericPreprocessorModel] {

  override def read: MLReader[NumericPreprocessorModel] =
    new MLReader[NumericPreprocessorModel] {
      override def load(path: String): NumericPreprocessorModel = {
        val spark = SparkSession.active
        // fit frames reload as local relations (they are model-sized by
        // construction — broadcast-destined), restoring the zero-jobs-
        // per-consumer property of the original fit
        def local(df: DataFrame): DataFrame = {
          val rows = df.collect().toSeq
          spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), df.schema)
        }
        val perKey = local(spark.read.parquet(s"$path/perKey"))
        val vocab = local(spark.read.parquet(s"$path/vocab"))
        val m = new NumericPreprocessorModel(
          Identifiable.randomUID("graftNumPrep"),
          Preprocessor.Fit(perKey, vocab))
        spark.read.parquet(s"$path/params").collect().foreach { r =>
          val p = m.getParam(r.getString(0))
          val raw = r.getString(1)
          val v: Any =
            if (p.isInstanceOf[DoubleParam]) raw.toDouble
            else if (p.isInstanceOf[IntParam]) raw.toInt
            else raw
          m.set(p.asInstanceOf[Param[Any]], v)
        }
        m
      }
    }
}
