package graft

import graft.ops.{AnnIndex, Hnsw, TextIndex}
import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Failure injection for the one maintained store layout: each index
  * maintenance loop, pointed at a store seeded WITHOUT the parts its
  * seeding function writes, must fail its first micro-batch loudly,
  * name the missing part and the right seeding function, and append
  * nothing (the committed manifest version stays where it was). */
class StoreLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def dir(tag: String) = java.nio.file.Files
    .createTempDirectory(s"graft-layout-$tag").toString + "/idx"

  private def messages(t: Throwable): Seq[String] =
    if (t == null) Seq.empty
    else Option(t.getMessage).toSeq ++ messages(t.getCause)

  /** Committed manifest versions under a never-compacted index root:
    * `_manifest` is version 0, `_manifest-vN` is version N; a version
    * counts once its `_SUCCESS` marker exists. */
  private def manifestVersions(path: String): Set[Int] = {
    val v = "_manifest-v(\\d+)".r
    val root = new java.io.File(path)
    root.listFiles().toSeq
      .filter(d => new java.io.File(d, "_SUCCESS").exists())
      .flatMap(d => d.getName match {
        case "_manifest" => Some(0)
        case v(n)        => Some(n.toInt)
        case _           => None
      }).toSet
  }

  /** Runs one micro-batch of `rows` through `q` and returns the
    * failure's message chain (the test fails if nothing throws). */
  private def firstBatchFailure[T](input: MemoryStream[T], rows: Seq[T],
      q: org.apache.spark.sql.streaming.StreamingQuery): Seq[String] =
    try {
      input.addData(rows)
      messages(intercept[Exception] { q.processAllAvailable() })
    } finally q.stop()

  test("annIndexMaintenanceStream refuses a knn+vectors store (no " +
    "membership parts) on its first micro-batch and appends nothing") {
    implicit val sqlCtx = spark.sqlContext
    def vec(i: Int): Array[Double] =
      Array.tabulate(8)(j => (if (j == i % 8) 1.0 else 0.0) +
        math.sin(i * 7.31 + j) * 0.05)
    val vecsA = (0 until 40).map(i => (i.toLong, vec(i))).toDF("id", "v")
    val bf = Hnsw.defaultBucketFn(nPlanes = 3, dim = 8, seed = 9)
    val path = dir("ann")
    AnnIndex.save(path,
      Map("knn" -> Hnsw.buildKnn(vecsA, "id", "v", 9, 2, 6, 2, bf),
        "vectors" -> vecsA),
      Map("seed" -> "9", "kind" -> "hnsw"),
      keys = Map("knn" -> Seq("lvl", "src"), "vectors" -> Seq("id")))
    val versions = manifestVersions(path)
    val manifest = AnnIndex.open(spark, path).manifest
    val input = MemoryStream[(Long, Array[Double], String)]
    val q = StreamOps.annIndexMaintenanceStream(
      input.toDF().toDF("id", "v", "op"), "id", "v", path, 9, 2, 6, 2,
      bf, opCol = "op").start()
    val msgs = firstBatchFailure(input,
      Seq((3L, null.asInstanceOf[Array[Double]], "delete"),
        (40L, vec(40), "insert")), q)
    assert(msgs.exists(m => m.contains("members/memdead") &&
      m.contains("Hnsw.saveIndex")), s"wanted the layout refusal: $msgs")
    assert(manifestVersions(path) == versions)
    assert(AnnIndex.open(spark, path).manifest == manifest)
  }

  test("bm25MaintenanceStream refuses a store without the pending part " +
    "on its first CDC micro-batch and appends nothing") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq((1L, "merge sort"), (2L, "window sort"),
      (3L, "bubble sort")).toDF("doc_id", "text")
    val path = dir("bm25")
    AnnIndex.save(path,
      TextIndex.deltaParts(docs, "doc_id", "text") +
        ("deleted" -> docs.select(col("doc_id")).limit(0)),
      Map("kind" -> "bm25", "id_col" -> "doc_id", "text_col" -> "text"))
    val versions = manifestVersions(path)
    val manifest = AnnIndex.open(spark, path).manifest
    val input = MemoryStream[(Long, String, String)]
    val q = StreamOps.bm25MaintenanceStream(
      input.toDF().toDF("doc_id", "text", "op"), "doc_id", "text", path,
      compactEvery = 1, opCol = "op").start()
    val msgs = firstBatchFailure(input,
      Seq((2L, null.asInstanceOf[String], "delete"),
        (2L, "new text", "insert"), (4L, "fresh doc", "insert")), q)
    assert(msgs.exists(m => m.contains("no pending part") &&
      m.contains("TextIndex.save")), s"wanted the layout refusal: $msgs")
    assert(manifestVersions(path) == versions)
    assert(AnnIndex.open(spark, path).manifest == manifest)
  }
}
