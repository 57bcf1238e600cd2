package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Vocabulary as data, not objects.
  *
  * The reference's `Vocabulary` (/root/reference/EventStream/EventStreamData/
  * vocabulary.py:13-133) is an in-memory list with 'UNK' pinned at index 0 and
  * the remaining elements sorted by descending observed frequency, plus a
  * rare-element folding `filter`. Here a vocabulary is a small DataFrame
  * `(element STRING, idx INT, freq DOUBLE)` built with one aggregation; hot
  * lookup paths broadcast-join it (UNK default via coalesce(idx, 0)).
  *
  * At 100 TB the element-count aggregation is the only wide stage (map-side
  * partial counts make it cheap); the vocab itself stays tiny and broadcasts.
  */
object Vocabulary {

  val UNK = "UNK"

  /** Build a vocabulary from an observation column: count, frequency-sort,
    * pin UNK at 0. Ties broken by element string ascending so idx assignment
    * is deterministic (the reference's argsort is stable on its insertion
    * order; we make the order explicit instead — SURVEY §7 "make ordering
    * explicit"). */
  def fit(obs: DataFrame, col: String): DataFrame = {
    import org.apache.spark.sql.functions.{col => c}
    // One wide aggregation over the observations (map-side partial counts),
    // materialized once via localCheckpoint: the rank job and every
    // downstream broadcast re-read the tiny counts partitions instead of
    // re-scanning the source.
    val counts = obs
      .filter(c(col).isNotNull)
      .groupBy(c(col).cast("string").as("element"))
      .agg(count(lit(1)).as("n"))
    fitFromCounts(counts)
  }

  /** Build a vocabulary from PRE-AGGREGATED (element, n) counts — for
    * callers that already hold the counts from a fused aggregation pass
    * (e.g. Preprocessor.fit) and must not re-scan the observations.
    * Counts are re-aggregated by element first: callers may group by a
    * wider key (Preprocessor groups by (key, final_key)), and two raw
    * keys can legitimately collide on one final element (a literal key
    * named "m__EQ_7" vs key "m" re-encoded with value 7) — without the
    * merge such an element would get two conflicting idx values and
    * lookup's broadcast join would fan out. Checkpoints the merged
    * counts, then ranks WITHOUT a single-partition window: range
    * partition on the rank key + zipWithIndex (graft.ingest.Ids pattern)
    * — scales to arbitrary vocab cardinality (re-encoded key__EQ_v
    * spaces can reach tens of millions of elements). */
  def fitFromCounts(countsDf: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col => c}
    val counts = countsDf
      .filter(c("element").isNotNull)
      .groupBy(c("element").cast("string").as("element"))
      .agg(sum(c("n").cast("long")).as("n"))
      .localCheckpoint(true)
    val ranked = graft.ingest.Ids
      .denseIdsBy(counts, "idx0", Seq(c("n").desc, c("element")))
      .withColumn("idx", (c("idx0") + 1L).cast("int"))
    val total = counts.agg(sum("n").cast("double").as("__total"))
    val withFreq = ranked.crossJoin(broadcast(total))
      .withColumn("freq", c("n") / c("__total"))
    val unk = countsDf.sparkSession.range(1).select(
      lit(UNK).as("element"), lit(0L).as("n"), lit(0).as("idx"),
      lit(0.0).as("freq"))
    unk.unionByName(withFreq.select("element", "n", "idx", "freq"))
  }

  /** Spark's string ordering is UTF-8 BYTE order (UTF8String binary
    * compare); Java's String.compareTo is UTF-16 code-unit order and
    * disagrees above the BMP. Driver-side sorts that must reproduce a
    * Spark `orderBy` tie-break use this. */
  private[graft] def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xFF) - (y(i) & 0xFF)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  private val vocabSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("element",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("n",
      org.apache.spark.sql.types.LongType, nullable = false),
    org.apache.spark.sql.types.StructField("idx",
      org.apache.spark.sql.types.IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("freq",
      org.apache.spark.sql.types.DoubleType, nullable = false)))

  /** Driver-side vocabulary assembly from collected (element, n) counts —
    * identical rows to `fitFromCounts`, materialized as a LocalTableScan.
    *
    * The MLlib-model idiom (StringIndexerModel holds its labels on the
    * driver): fit state destined for broadcast lookup must fit in memory
    * ANYWAY, and a local relation costs ZERO cluster jobs per consumer —
    * no checkpoint job, no rank/zipWithIndex jobs, and `broadcast()` of a
    * LocalTableScan builds its hash relation without touching executors.
    * Use the distributed `fit`/`fitFromCounts` when the vocabulary itself
    * may exceed single-node memory (e.g. unbounded re-encoded key spaces
    * before rare-folding). */
  /** Driver-side vocabulary ASSEMBLY as plain tuples (element, n, idx,
    * freq) — for callers that keep working on the collected form (fold,
    * degeneracy checks) before materializing one DataFrame at the end. */
  def vocabTuplesFromCounts(counts: Seq[(String, Long)])
      : Seq[(String, Long, Int, Double)] = {
    val merged = counts.filter(_._1 != null)
      .groupMapReduce(_._1)(_._2)(_ + _).toSeq
    val total = merged.map(_._2).sum.toDouble
    val sorted = merged.sortWith { case ((ea, na), (eb, nb)) =>
      na > nb || (na == nb && utf8Lt(ea, eb)) }
    (UNK, 0L, 0, 0.0) +: sorted.zipWithIndex.map { case ((e, n), i) =>
      (e, n, i + 1, n / total) }
  }

  /** Materialize driver-held vocab tuples as a LocalTableScan DataFrame. */
  def vocabDfFromTuples(spark: SparkSession,
      tuples: Seq[(String, Long, Int, Double)]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(tuples.map { case (e, n, i, f) =>
      org.apache.spark.sql.Row(e, n, i, f) }.asJava, vocabSchema)
  }

  def fromCountsLocal(spark: SparkSession, counts: Seq[(String, Long)])
      : DataFrame =
    vocabDfFromTuples(spark, vocabTuplesFromCounts(counts))

  /** Driver-side `fit`: one distributed count aggregation, assembly on the
    * driver (see `fromCountsLocal` for when this is the right shape). */
  def fitLocal(obs: DataFrame, col: String): DataFrame = {
    import org.apache.spark.sql.functions.{col => c}
    val counts = obs.filter(c(col).isNotNull)
      .groupBy(c(col).cast("string").as("element"))
      .agg(count(lit(1)).as("n"))
      .collect().toSeq.map(r => r.getString(0) -> r.getLong(1))
    fromCountsLocal(obs.sparkSession, counts)
  }

  /** Driver-side `filterRare` over (element, n, idx, freq) tuples — same
    * frequency-space semantics; returns re-ranked tuples with UNK
    * absorbing the dropped tail. */
  def foldRareTuples(vocab: Seq[(String, Long, Int, Double)],
      minValid: CountOrProportion, totalObservations: Long)
      : Seq[(String, Long, Int, Double)] = {
    val minFreq = minValid.value match {
      case Left(m)  => m.toDouble / totalObservations
      case Right(p) => p
    }
    def kept(n: Long): Boolean =
      n.toDouble / totalObservations.toDouble >= minFreq
    val (unkN, unkF) = vocab.find(_._1 == UNK)
      .map(u => (u._2, u._4)).getOrElse((0L, 0.0))
    val dropped = vocab.filter(v => v._1 != UNK && !kept(v._2))
    val survivors = vocab.filter(v => v._1 != UNK && kept(v._2))
      .sortWith { case ((ea, na, _, _), (eb, nb, _, _)) =>
        na > nb || (na == nb && utf8Lt(ea, eb)) }
    (UNK, unkN + dropped.map(_._2).sum, 0,
      unkF + dropped.map(_._4).sum) +:
      survivors.zipWithIndex.map { case ((e, n, _, f), i) =>
        (e, n, i + 1, f) }
  }

  /** Vocabulary over ARRAY-valued observations (the reference's nested
    * ExpandableDfDict cells, vocabulary.py:114-123: lists inside cells are
    * flattened while counting, NaN/null skipped): explode then count —
    * O(total elements) narrow + one aggregation, vs the reference's
    * recursive Python walk. */
  def fitNested(obs: DataFrame, arrayCol: String): DataFrame =
    fit(obs.select(explode_outer(
      org.apache.spark.sql.functions.col(arrayCol)).as("__el")), "__el")

  /** Fold rare elements into UNK; UNK absorbs the dropped tail's
    * count/frequency and survivors are re-indexed densely
    * (vocabulary.py:84-112). The reference filter works in FREQUENCY
    * space: a count threshold m is first divided by the total
    * (`min_valid_element_freq /= total_observations`) and elements are
    * kept iff `obs_frequency >= threshold` — so a proportion p keeps
    * n/total >= p (effectively a CEILING count bound, unlike the
    * truncating `count_or_proportion` used by the drop rules), and the
    * comparison happens on the same double-division values the reference
    * compares. */
  def filterRare(vocab: DataFrame, minValid: CountOrProportion,
      totalObservations: Long): DataFrame = {
    val minFreq = minValid.value match {
      case Left(m)  => m.toDouble / totalObservations
      case Right(p) => p
    }
    val keep = col("n").cast("double") /
      lit(totalObservations.toDouble) >= lit(minFreq)
    val base = vocab.localCheckpoint(true)
    val dropped = base
      .filter(col("element") =!= UNK && !keep)
      .agg(coalesce(sum("n"), lit(0L)).as("dn"),
        coalesce(sum("freq"), lit(0.0)).as("df"))
    // survivors re-rank densely from 1 (same range-partitioned rank pattern
    // as fit — no single-partition window stage)
    val survivors = graft.ingest.Ids.denseIdsBy(
        base.filter(col("element") =!= UNK && keep),
        "idx0", Seq(col("n").desc, col("element")))
      .select(col("element"), col("n"), col("freq"),
        (col("idx0") + 1L).cast("int").as("idx"))
    val unk = base.filter(col("element") === UNK)
      .crossJoin(broadcast(dropped))
      .select(col("element"), (col("n") + col("dn")).as("n"),
        (col("freq") + col("df")).as("freq"), lit(0).as("idx"))
    unk.unionByName(survivors)
  }

  /** True iff vocabulary collapsed to just UNK → measurement should drop
    * (event_stream_dataset.py:1355-1364). */
  def isDegenerate(vocab: DataFrame): Boolean =
    vocab.filter(col("element") =!= UNK).limit(1).count() == 0

  /** Attach vocabulary indices to an observation column; unknown → 0 (UNK),
    * the reference's `idxmap.get(v, 0)` lookup semantics
    * (event_stream_pytorch_dataset.py:359-363). Broadcast join — the vocab is
    * always small relative to observations. */
  def lookup(obs: DataFrame, obsCol: String, vocab: DataFrame,
      outCol: String): DataFrame = {
    // reserved names on the broadcast side — dropping bare "element"/"idx"
    // would silently delete caller columns with those names
    val v = vocab.select(col("element").as("__vocab_element"),
      col("idx").as("__vocab_idx"))
    obs.join(broadcast(v),
        obs(obsCol).cast("string") === v("__vocab_element"), "left")
      .withColumn(outCol, coalesce(col("__vocab_idx"), lit(0)))
      .drop("__vocab_element", "__vocab_idx")
  }
}
