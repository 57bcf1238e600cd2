package graft

import graft.ops.AnnIndex
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec

/** How the store reads its batches back: an un-keyed part reads each
  * run of equal-schema batches as one relation, a batch whose recorded
  * types differ still loads the rows the per-batch union did, and keyed
  * parts keep latest-batch-wins and tombstones. */
class StoreReadSpec extends SparkSpec {
  import spark.implicits._

  private def dir(tag: String) =
    Files.createTempDirectory(s"graft-store-read-$tag").toString + "/idx"

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("an un-keyed part whose batches share one schema loads as ONE " +
    "FileSourceScanExec over every batch directory") {
    val path = dir("runs")
    AnnIndex.save(path, Map("p" -> Seq((1L, "a")).toDF("id", "t")),
      Map("kind" -> "test"))
    AnnIndex.append(path, Map("p" -> Seq((2L, "b")).toDF("id", "t")))
    AnnIndex.append(path, Map("p" -> Seq((3L, "c")).toDF("id", "t")))
    val p = AnnIndex.load(spark, path)._1("p")
    val ss = scans(p)
    assert(ss.length == 1 && ss.head.relation.location.rootPaths
        .map(_.getName).sorted == Seq("b0", "b1", "b2"),
      "expected one scan over b0..b2:\n" + p.queryExecution.sparkPlan)
    assert(rows(p) == Seq(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c")))
  }

  test("batches whose recorded schemas differ in type (int th in b0, " +
    "long in b1 — same names, so the append's drift check passes) load " +
    "with the same rows and schema as per-batch reads") {
    val path = dir("types")
    AnnIndex.save(path,
      Map("deleted" -> Seq((1L, 1), (2L, 2)).toDF("id", "th")),
      Map("kind" -> "test"))
    AnnIndex.append(path,
      Map("deleted" -> Seq((3L, 3000000000L)).toDF("id", "th")))
    AnnIndex.append(path, Map("deleted" -> Seq((4L, 4L)).toDF("id", "th")))
    val store = AnnIndex.open(spark, path)
    val loaded = store.parts("deleted")
    val perBatch = (0 until 3).map(b =>
        spark.read.schema(store.batchSchemas("deleted")(b))
          .parquet(s"${store.path}/deleted/b$b"))
      .reduce(_ unionByName _)
    assert(loaded.schema == perBatch.schema)
    assert(rows(loaded) == rows(perBatch))
    assert(rows(loaded) == Seq(Seq(1L, 1L), Seq(2L, 2L),
      Seq(3L, 3000000000L), Seq(4L, 4L)))
    // two runs: b0 (int th) and b1..b2 (long th)
    assert(scans(loaded).map(_.relation.location.rootPaths
        .map(_.getName).sorted).sortBy(_.head) ==
      Seq(Seq("b0"), Seq("b1", "b2")),
      loaded.queryExecution.sparkPlan.toString)
  }

  test("keyed parts still resolve latest-batch-wins per key group and " +
    "drop tombstoned groups, next to an un-keyed part") {
    val path = dir("keyed")
    AnnIndex.save(path,
      Map("kv" -> Seq((1L, "a0"), (2L, "b0"), (3L, "c0")).toDF("k", "v"),
        "log" -> Seq((1L, "x")).toDF("id", "t")),
      Map("kind" -> "test"), keys = Map("kv" -> Seq("k")))
    AnnIndex.append(path,
      Map("kv" -> Seq[(Long, String)]((1L, "a1"), (2L, null)).toDF("k", "v"),
        "log" -> Seq((2L, "y")).toDF("id", "t")))
    AnnIndex.append(path,
      Map("kv" -> Seq((1L, "a2"), (4L, "d2")).toDF("k", "v")))
    val parts = AnnIndex.load(spark, path)._1
    assert(rows(parts("kv")) ==
      Seq(Seq(1L, "a2"), Seq(3L, "c0"), Seq(4L, "d2")))
    assert(rows(parts("log")) == Seq(Seq(1L, "x"), Seq(2L, "y")))
  }
}
