package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of
  * (seed, row index), so one seed gives the same inputs at any
  * parallelism; the library only ever sees the written parquet/json. */
object Gen {
  def rng(seed: Long, salt: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed) ^ mix(salt * 0x9E3779B97F4A7C15L + i)))

  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  // ---------------------------------------------------------------- EHR

  final case class EhrSize(events: Long, subjects: Long, eventless: Long)

  /** Uniform [0, 1) column from (seed, salt, id). */
  private def unif(seed: Long, salt: Int): Column =
    pmod(xxhash64(lit(seed), lit(salt), col("id")), lit(1000003L))
      .cast("double") / 1000003.0

  val EventTypes: Seq[(String, Double, Double, Double)] = Seq(
    // (type, cumulative probability, mean, sd)
    ("lab", 0.40, 5.0, 1.5), ("vitals", 0.65, 80.0, 12.0),
    ("med", 0.85, 250.0, 90.0), ("dx", 0.95, 1.0, 0.3),
    ("proc", 1.00, 30.0, 10.0))

  /** Raw events in the contract's `events` layout (event_id, ts, user_id,
    * event_type, value, props). Subjects are drawn as floor(S·u²), so
    * low ids carry most events (skew); timestamps sit on whole hours, so
    * busy subjects repeat (subject, ts, type) and aggByTimeType merges;
    * 1% of values are ×50 outliers. */
  def ehrEvents(spark: SparkSession, seed: Long, n: EhrSize): DataFrame = {
    val typ = EventTypes.init.foldRight(lit(EventTypes.last._1)) {
      case ((t, cum, _, _), acc) => when(unif(seed, 3) < cum, lit(t))
        .otherwise(acc)
    }
    def byType(f: ((String, Double, Double, Double)) => Double): Column =
      EventTypes.foldRight(lit(0.0)) { case (t, acc) =>
        when(col("event_type") === t._1, lit(f(t))).otherwise(acc)
      }
    val gauss = (unif(seed, 4) + unif(seed, 5) + unif(seed, 6) - 1.5) * 2.0
    spark.range(n.events)
      .select(
        col("id").as("event_id"),
        timestamp_seconds(lit(1704067200L) +
          floor(unif(seed, 2) * (24 * 365)).cast("long") * 3600L).as("ts"),
        floor(pow(unif(seed, 1), 2.0) * n.subjects).cast("long")
          .as("user_id"),
        typ.as("event_type"),
        col("id"))
      .withColumn("value", round(
        (byType(_._3) + byType(_._4) * gauss) *
          when(unif(seed, 7) < 0.01, lit(50.0)).otherwise(lit(1.0)), 3))
      .withColumn("props", concat(lit("{\"site\": "),
        floor(unif(seed, 8) * 12).cast("string"), lit(", \"unit\": "),
        floor(unif(seed, 9) * 3).cast("string"), lit("}")))
      .drop("id")
  }

  /** Static subject columns; the last `eventless` ids have no events. */
  def ehrSubjects(spark: SparkSession, seed: Long, n: EhrSize): DataFrame =
    spark.range(n.subjects + n.eventless)
      .select(col("id").as("subject_id"),
        timestamp_seconds(lit(-631152000L) +
          floor(unif(seed, 11) * (70 * 365)).cast("long") * 86400L)
          .as("dob"),
        concat(lit("g"), floor(pow(unif(seed, 12), 2.0) * 5)
          .cast("string")).as("grp"))

  // --------------------------------------------------------------- text

  private val Syllables = Seq("ka", "lo", "mi", "ne", "ru", "sa", "ti",
    "vo", "ber", "dan", "fel", "gor", "hin", "jas", "kel", "mor", "pin",
    "qua", "ros", "tel", "uni", "ver", "wix", "zen")

  val Stopwords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is", "for", "with", "on")

  /** A fixed 4000-word vocabulary of 2–3 syllable words. */
  val Vocab: IndexedSeq[String] = {
    val r = new SplittableRandom(20240917L)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 4000) {
      val k = 2 + r.nextInt(2)
      seen += (0 until k).map(_ => Syllables(r.nextInt(Syllables.size)))
        .mkString
    }
    seen.toIndexedSeq
  }

  /** Zipf-ish word draw with 20% stopwords. */
  def word(r: SplittableRandom): String =
    if (r.nextDouble() < 0.2) Stopwords(r.nextInt(Stopwords.size))
    else {
      val u = r.nextDouble()
      Vocab((u * u * u * Vocab.size).toInt)
    }

  def words(r: SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(word(r))

  // ------------------------------------------------------------- arrivals

  /** The make-up of one raw arrival batch of the index workload. */
  final case class ArrivalMix(docs: Int, exactCopies: Int, nearCopies: Int,
      junk: Int) {
    val originals: Int = docs - exactCopies - nearCopies - junk
    /** Originals that get exact copies (about two copies each). */
    val exactBases: Int = math.max(1, exactCopies / 2)
    require(originals >= exactBases + nearCopies, "too few originals")
  }

  /** One raw arrival: its id, its HTML, and what was planted — role ∈
    * {orig, exact, near, junk} and the planted group (the id of the
    * original a copy was made from) for copies and their bases, else -1. */
  final case class Arrival(id: Long, html: String, role: String, grp: Long)

  /** Batch `round` of raw arrivals with ids `firstId until firstId + docs`.
    * Exact copies keep the words of their base under other markup, case
    * and spacing; near copies replace one word of 40–100 (5-char-shingle
    * Jaccard ≥ 0.9, which 16 bands × 8 rows catch with probability above
    * 1 − 10⁻⁴); junk is a few punctuation tokens that fail the quality
    * gate. */
  def arrivals(seed: Long, round: Int, firstId: Long,
      m: ArrivalMix): Seq[Arrival] = {
    val r = rng(seed, 60, round)
    // slot → id through a seeded permutation, so a copy does not always
    // carry a larger id than its base
    val ids = (0 until m.docs).map(i => (r.nextLong(), firstId + i))
      .sortBy(_._1).map(_._2)
    def baseWords(slot: Int): Array[String] = {
      val w = rng(seed, 61, ids(slot))
      words(w, 40 + w.nextInt(60))
    }
    (0 until m.docs).map { slot =>
      val id = ids(slot)
      val h = rng(seed, 62, id)
      val nearSlot = slot - m.originals - m.exactCopies
      if (slot < m.originals) {
        val role = if (slot < m.exactBases) "exact"
          else if (slot < m.exactBases + m.nearCopies) "near" else "orig"
        Arrival(id, html(h, baseWords(slot)), role,
          if (role == "orig") -1L else id)
      } else if (slot < m.originals + m.exactCopies) {
        val b = (slot - m.originals) % m.exactBases
        Arrival(id, html(h, baseWords(b)), "exact", ids(b))
      } else if (nearSlot < m.nearCopies) {
        val b = m.exactBases + nearSlot
        val ws = baseWords(b).clone()
        ws(h.nextInt(ws.length)) = word(h)
        Arrival(id, html(h, ws), "near", ids(b))
      } else {
        val ws = Array.fill(3 + h.nextInt(5))(
          Seq("!!!", "##", "$$ $", "%%", "@@", "**")(h.nextInt(6)))
        Arrival(id, html(h, ws), "junk", -1L)
      }
    }
  }

  /** Wrap words in randomised markup: tags, attributes, script/style,
    * comments, `&nbsp;`, capitalisation and line breaks all vary, while
    * extractHtmlText + normalize give back the same text. */
  private def html(r: SplittableRandom, ws: Array[String]): String = {
    val sb = new StringBuilder
    sb ++= "<!DOCTYPE html>\n<html><head><meta charset=\"utf-8\">"
    sb ++= s"<style>body{margin:${r.nextInt(20)}px}</style>"
    if (r.nextBoolean()) sb ++= s"<script>var t=${r.nextInt(999)};</script>"
    sb ++= s"</head>\n<body><div class=\"c${r.nextInt(9)}\"><p>"
    ws.zipWithIndex.foreach { case (w, j) =>
      if (j > 0) {
        val u = r.nextDouble()
        sb ++= (if (u < 0.03) "</p>\n<p>" else if (u < 0.05) "&nbsp;"
          else if (u < 0.06) s" <!-- n${r.nextInt(99)} --> "
          else if (u < 0.08) "\n  " else " ")
      }
      sb ++= (if (r.nextDouble() < 0.1) w.capitalize else w)
    }
    sb ++= "</p></div></body></html>\n"
    sb.toString
  }

  // -------------------------------------------------------------- index

  def docText(seed: Long, id: Long, version: Int): String = {
    val r = rng(seed, 41 + version, id)
    words(r, 20 + r.nextInt(60)).mkString(" ")
  }
}
