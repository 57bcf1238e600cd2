package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._

/** One benchmark workload. Phases are named `<layer>.<call>`; each maps
  * to one of the three stages every workload has (ingest, transform,
  * serve), which is what the per-layer metrics roll up to. */
abstract class Workload(val spark: SparkSession, val seed: Long) {
  /** Phase names in pass order. */
  def phases: Seq[String]
  def stageOf(phase: String): String
  /** Library calls one pass makes (the `attempted` unit). */
  def opsPerPass: Int

  /** Generate inputs under `dir`, seed stores, start loops. */
  def setUp(dir: String): Unit
  /** One pass: the warm-up and every timed pass run this. `traced`:
    * materialise each phase's output at its boundary so each phase's
    * wall, jobs and bytes are its own. */
  def pass(t: Tracer, traced: Boolean): Unit
  /** Output checks, after the timed passes; may run one more untimed
    * pass that writes what the checks read under `dir`. Returns the
    * failures. */
  def check(dir: String): Seq[String]
  /** Order-insensitive digest of the checked result, compared across
    * runs of one seed by run.py ("" when the workload has none). */
  def digest: String = ""
  /** Stop what setUp started. */
  def tearDown(): Unit = ()

  def inputInfo: JObject
  def details: JObject = JObject()
  /** Paths and parameters run.py's DuckDB replays need. */
  def checkInputs: JObject = JObject()
  /** Streaming query id → phase, for job attribution. */
  def streamPhases: Seq[(String, String)] = Nil
  def streamPhase(queryId: String): Option[String] =
    streamPhases.find(_._1 == queryId).map(_._2)
  /** Counters recorded only by traced passes. */
  def layerExtras: JObject = JObject()

  protected def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  protected def pin(df: DataFrame, traced: Boolean): DataFrame =
    if (traced) df.localCheckpoint(true) else df

  protected def bytesUnder(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten
      .map(c => bytesUnder(c.getPath)).sum
    else if (f.isFile) f.length() else 0L
  }
}

/** JSON output on the json4s that ships with Spark. */
object Json {
  /** A number, or null when it is not finite. */
  def num(d: Double): JValue =
    if (d.isNaN || d.isInfinite) JNull else JDouble(d)

  def write(path: String, v: JValue): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      org.json4s.jackson.JsonMethods.compact(v)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def str(s: String): String = org.json4s.jackson.JsonMethods.compact(JString(s))
}
