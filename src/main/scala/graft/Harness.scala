package graft

import graft.ops.Hnsw
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one engine session every main and the test suite run on, so a
  * tool, `graft.Bench` and the specs run one program; plus the timing
  * and artifact helpers the mains share. Why the settings are there:
  * `events.ts` is TIMESTAMP(NANOS) and fails to read without
  * `nanosAsLong`; the IN-pushdown bound is [[Hnsw.InlineChunk]] so
  * batch-sized key lists reach parquet as per-row-group or-chains (the
  * default 10 degrades them to one min/max range); bucketed tables go to
  * `SPARK_GRAFT_WAREHOUSE` or the JVM tmp dir, never the cwd.
  */
object Harness {
  /** `SPARK_GRAFT_CPUS`, default 32. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** The shared settings, before `getOrCreate` (the test session adds
    * its extensions here). */
  private[graft] def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.pushdown.inFilterThreshold",
        Hnsw.InlineChunk.toLong)
      .config("spark.sql.warehouse.dir",
        sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE",
          s"${System.getProperty("java.io.tmpdir")}/graft_warehouse"))

  def session(cpus: Int): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def timeSec(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def r3(x: Double): Double = math.rint(x * 1000) / 1000

  /** Full materialization: the noop sink evaluates every row and column
    * of the final projection. A bare `.count()` lets Catalyst prune
    * non-aggregating projections (and `EliminateSorts` their orderBy)
    * down to a parquet row count. */
  def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Write `json` to `path` (a failed write only warns: the stdout copy
    * still carries the result). */
  def writeArtifact(tag: String, path: String, json: String): Unit =
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path), json + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[$tag] could not write $path: ${e.getMessage}")
    }

  /** [[writeArtifact]], then print `json` as the run's stdout result. */
  def emit(tag: String, path: String, json: String): Unit = {
    writeArtifact(tag, path, json)
    println(json)
  }
}
