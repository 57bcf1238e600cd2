package graft

import graft.ops.{AnnIndex, Hnsw, TextIndex}
import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.BeforeAndAfterAll
import scala.jdk.CollectionConverters._

/** The store's JSON manifest: the metadata path (open, parts, params,
  * probes, the manifest commit) runs no Spark job, the recorded batch
  * schemas are exactly what parquet inference would resolve, and every
  * way a manifest can be missing or broken fails loudly by name. */
class StoreManifestSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private def dir(tag: String) =
    Files.createTempDirectory(s"graft-manifest-$tag").toString + "/idx"

  /** Ids of every job started, in delivery order. */
  private val started = new java.util.concurrent.ConcurrentLinkedQueue[Int]
  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      started.add(js.jobId); ()
    }
  }
  spark.sparkContext.addSparkListener(listener)

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    super.afterAll()
  }

  /** Runs a one-task probe job and waits until the listener has seen
    * it start: the bus delivers in order, so every job started before
    * the probe has been counted too. Returns the probe's job id. */
  private def barrier(): Int = {
    val sc = spark.sparkContext
    val f = sc.submitJob(sc.parallelize(Seq(1), 1),
      (_: Iterator[Int]) => (), Seq(0), (_: Int, _: Unit) => (), ())
    f.get()
    val id = f.jobIds.head
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!started.contains(id) && System.nanoTime() < deadline)
      Thread.sleep(5)
    assert(started.contains(id), s"listener never saw probe job $id")
    id
  }

  /** Spark jobs started while `body` runs (between two barriers). */
  private def jobsOf(body: => Unit): Int = {
    val lo = barrier()
    body
    val hi = barrier()
    started.asScala.count(id => id > lo && id < hi)
  }

  private def vec(i: Int): Array[Double] =
    Array.tabulate(8)(j => (if (j == i % 8) 1.0 else 0.0) +
      math.sin(i * 7.31 + j) * 0.05)

  test("metadata path is job-free: open, parts, params, maxBatches, " +
    "partKeys, load and resolveGen launch no Spark job; a one-part " +
    "append launches exactly the jobs of writing its delta") {
    val path = dir("jobs")
    AnnIndex.save(path,
      Map("knn" -> Seq((0, 1L, 2L, 0.5)).toDF("lvl", "src", "dst", "c"),
        "vectors" -> Seq((1L, Seq(1.0))).toDF("id", "v")),
      Map("kind" -> "hnsw"),
      keys = Map("knn" -> Seq("lvl", "src"), "vectors" -> Seq("id")))
    AnnIndex.append(path,
      Map("knn" -> Seq((0, 3L, 4L, 0.7)).toDF("lvl", "src", "dst", "c"),
        "vectors" -> Seq((3L, Seq(0.5))).toDF("id", "v")))
    var store: AnnIndex.Store = null
    val metadata = Seq[(String, () => Unit)](
      "open" -> (() => store = AnnIndex.open(spark, path)),
      "parts" -> (() => store.parts.values.foreach(_.schema)),
      "params" -> (() => assert(store.params("kind") == "hnsw")),
      "maxBatches" -> (() =>
        assert(AnnIndex.maxBatches(spark, path) == 2)),
      "partKeys" -> (() => assert(
        AnnIndex.partKeys(spark, path)("knn") == Seq("lvl", "src"))),
      "load" -> (() => AnnIndex.load(spark, path)._1.values
        .foreach(_.schema)),
      "resolveGen" -> (() =>
        assert(AnnIndex.resolveGen(spark, path) == path)))
    val counts = metadata.map { case (n, f) => n -> jobsOf(f()) }
    assert(counts.forall(_._2 == 0), s"metadata jobs: $counts")
    assert(store.partBatches("knn") == 2 &&
      store.partBatches("vectors") == 2)

    val delta = Seq((0, 5L, 6L, 0.9)).toDF("lvl", "src", "dst", "c")
    val scratch = Files.createTempDirectory("graft-manifest-w").toString
    val plainWrite = jobsOf(delta.write.parquet(s"$scratch/d"))
    val append = jobsOf(AnnIndex.append(path, Map("knn" -> delta)))
    assert(append == plainWrite,
      s"append ran $append jobs, a plain write of its delta $plainWrite")
    assert(AnnIndex.open(spark, path).partBatches("knn") == 3)
  }

  /** For every part × batch: the recorded schema equals parquet
    * inference over the batch directory, and each loaded part's schema
    * equals the by-name union of the inferred batch schemas (what the
    * inferring reader resolved). */
  private def assertRecordedSchemas(root: String): Unit = {
    val store = AnnIndex.open(spark, root)
    store.manifest.foreach { case (part, batches, _) =>
      val inferred = (0 until batches).map(b =>
        spark.read.parquet(s"${store.path}/$part/b$b"))
      store.batchSchemas(part).zip(inferred).zipWithIndex.foreach {
        case ((recorded, df), b) =>
          assert(recorded == df.schema,
            s"$root $part/b$b: recorded $recorded != inferred ${df.schema}")
      }
      val union = inferred.reduce(_ unionByName _).schema
      assert(AnnIndex.load(spark, root)._1(part).schema == union,
        s"$root $part: loaded schema != the inferring reader's")
    }
  }

  test("recorded batch schemas equal parquet inference on a " +
    "Hnsw.saveIndex store and on a TextIndex store through save → " +
    "applyCdc → compactToNextGen; loaded part schemas are unchanged") {
    val hnsw = dir("hnsw")
    val vecs = (0 until 40).map(i => (i.toLong, vec(i))).toDF("id", "v")
    Hnsw.saveIndex(hnsw, vecs, "id", "v", 9, 2, 6, 2,
      Hnsw.defaultBucketFn(nPlanes = 3, dim = 8, seed = 9))
    assertRecordedSchemas(hnsw)

    val text = dir("bm25")
    TextIndex.save(text, Seq((1L, "merge sort"), (2L, "window sort"),
      (3L, "bubble sort")).toDF("doc_id", "text"), "doc_id", "text")
    assertRecordedSchemas(text)
    TextIndex.applyCdc(spark, text, Seq(2L, 3L).toDF("doc_id"),
      Seq((2L, "window merge")).toDF("doc_id", "text"),
      Seq((4L, "heap sort")).toDF("doc_id", "text"), "doc_id", "text")
    assert(AnnIndex.maxBatches(spark, text) >= 2)
    assertRecordedSchemas(text)
    AnnIndex.compactToNextGen(spark, text, TextIndex.compact)
    assert(AnnIndex.currentGen(spark, text) == 1)
    assertRecordedSchemas(text)
  }

  /** Plants `json` as committed manifest version 99 of `root`. */
  private def plantManifest(root: String, json: String): String = {
    val d = Paths.get(s"$root/_manifest-v99")
    Files.createDirectories(d)
    Files.writeString(d.resolve("manifest.json"), json)
    Files.createFile(d.resolve("_SUCCESS"))
    d.resolve("manifest.json").toString
  }

  test("a truncated or unparseable committed manifest fails and names " +
    "the manifest file; a path with no committed manifest fails and " +
    "names the path") {
    val path = dir("torn")
    AnnIndex.save(path, Map("rows" -> Seq((1L, "a")).toDF("k", "v")),
      Map("kind" -> "test"))
    val whole = new String(Files.readAllBytes(
      Paths.get(s"$path/_manifest/manifest.json")), "UTF-8")
    val file = plantManifest(path, whole.take(whole.length / 2))
    val torn = intercept[IllegalStateException](AnnIndex.open(spark, path))
    assert(torn.getMessage.contains(file), torn.getMessage)
    Files.writeString(Paths.get(file), "not json at all")
    val junk = intercept[IllegalStateException](AnnIndex.load(spark, path))
    assert(junk.getMessage.contains(file), junk.getMessage)

    // no manifest at all, and a manifest directory never committed
    val none = dir("none")
    val missing =
      intercept[IllegalArgumentException](AnnIndex.load(spark, none))
    assert(missing.getMessage.contains(none), missing.getMessage)
    Files.createDirectories(Paths.get(s"$none/_manifest"))
    val uncommitted =
      intercept[IllegalArgumentException](AnnIndex.open(spark, none))
    assert(uncommitted.getMessage.contains(none), uncommitted.getMessage)
  }

  test("writeAll's wait cancels the job group on every failure kind: " +
    "a failed write (its cause rethrown), a cancelled future, an " +
    "interrupt") {
    import java.util.concurrent.{CancellationException, FutureTask}
    def task(body: => Unit) = new FutureTask[Unit](
      new java.util.concurrent.Callable[Unit] { def call(): Unit = body })
    def waitOn(fs: FutureTask[Unit]*): (Throwable, Int) = {
      var cancels = 0
      val e = intercept[Throwable] {
        AnnIndex.awaitAll(fs, () => cancels += 1)
      }
      (e, cancels)
    }
    val ok = task(()); ok.run()
    val failed = task(throw new IllegalStateException("part write"))
    failed.run()
    val (e1, c1) = waitOn(ok, failed)
    assert(e1.isInstanceOf[IllegalStateException] && c1 == 1)
    val cancelled = task(()); cancelled.cancel(false)
    val (e2, c2) = waitOn(ok, cancelled)
    assert(e2.isInstanceOf[CancellationException] && c2 == 1)
    // an interrupted waiter: the pending future never completes
    Thread.currentThread().interrupt()
    val (e3, c3) = waitOn(task(()))
    assert(e3.isInstanceOf[InterruptedException] && c3 == 1)
    assert(!Thread.interrupted())
    var cancels = 0
    AnnIndex.awaitAll(Seq(ok), () => cancels += 1)
    assert(cancels == 0)
  }

  test("a malformed spark.graft.index.writeConcurrency fails with a " +
    "require naming the key") {
    val key = "spark.graft.index.writeConcurrency"
    spark.conf.set(key, "four")
    try {
      val e = intercept[IllegalArgumentException] {
        AnnIndex.save(dir("conc"),
          Map("rows" -> Seq((1L, "a")).toDF("k", "v")), Map("kind" -> "t"))
      }
      assert(e.getMessage.contains(key) && e.getMessage.contains("four"),
        e.getMessage)
    } finally spark.conf.unset(key)
  }
}
