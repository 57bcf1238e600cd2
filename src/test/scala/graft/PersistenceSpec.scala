package graft

import graft.ingest.EventDataset
import graft.preprocess.Preprocessor
import java.nio.file.Files
import java.sql.Timestamp

/** Save/load: the reference dill-pickles its dataset object
  * (event_stream_dataset.py:42-44); our engine persists plain parquet per
  * table + fit params as DataFrames — no binary pickles (SURVEY §2.1). */
class PersistenceSpec extends SparkSpec {
  import spark.implicits._

  test("EventDataset round-trips through parquet") {
    val dir = Files.createTempDirectory("graft-persist").toString
    val raw = Seq(
      (0L, Timestamp.valueOf("2024-01-01 10:00:00"), 1L, "A", 1.5, ""),
      (1L, Timestamp.valueOf("2024-01-02 10:00:00"), 2L, "B", 2.5, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val ds = EventDataset.fromRawEvents(raw)
    EventDataset.save(ds, dir)
    val back = EventDataset.load(spark, dir)
    assert(back.events.collect().toSet == ds.events.collect().toSet)
    assert(back.measurements.collect().toSet ==
      ds.measurements.collect().toSet)
    // parquet relaxes nullability — compare names + types, not flags
    assert(back.events.schema.fields.map(f => (f.name, f.dataType)).toSeq
      == ds.events.schema.fields.map(f => (f.name, f.dataType)).toSeq)
  }

  test("Preprocessor fit round-trips through parquet (no pickles)") {
    val dir = Files.createTempDirectory("graft-fit").toString
    val train = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 5.0),
      ("b", 7.0)).toDF("k", "v")
    val fit = Preprocessor.fit(train, "k", "v",
      Preprocessor.Config.counts(minValidVocabElementObservations = 1,
        minUniqueNumericalObservations = 2,
        maxNumericalValueFrequency = 0.9))
    fit.perKey.write.parquet(s"$dir/perKey")
    fit.vocab.write.parquet(s"$dir/vocab")
    val back = Preprocessor.Fit(
      spark.read.parquet(s"$dir/perKey"),
      spark.read.parquet(s"$dir/vocab"))
    val a = Preprocessor.transform(train, "k", "v", fit)
      .select("k", "v", "value_norm", "key_idx").collect().toSet
    val b = Preprocessor.transform(train, "k", "v", back)
      .select("k", "v", "value_norm", "key_idx").collect().toSet
    assert(a == b)
  }

  test("AnnIndex save/load round-trips the layered ANN index; the " +
    "recall audit against the RELOADED adjacency matches the " +
    "in-memory one; a torn save (no manifest) refuses to load") {
    import graft.ops.{Hnsw, Similarity}
    import org.apache.spark.sql.functions.col
    val corpus = (0 until 240).map { i =>
      val c = i % 8
      (i.toLong, Array.tabulate(8)(j =>
        (if (j == c) 1.0f else 0.0f) +
          (math.sin(i * 7.31 + j) * 0.05).toFloat).toSeq)
    }.toDF("id", "v")
    val bf = Hnsw.defaultBucketFn(nPlanes = 3, dim = 8, seed = 9)
    val knn = Hnsw.buildKnn(corpus, "id", "v", 9, 2, 6, 2, bf)
    val adj = Hnsw.adjacencyFromKnn(knn, corpus, "id", "v")
    val dir = Files.createTempDirectory("graft-ann-index").toString +
      "/idx"
    graft.ops.AnnIndex.save(dir,
      Map("knn" -> knn, "adjacency" -> adj),
      Map("seed" -> "9", "max_level" -> "2", "m" -> "6",
        "bands" -> "2", "n_planes" -> "3", "kind" -> "hnsw"))
    val (parts, params) = graft.ops.AnnIndex.load(spark, dir)
    assert(parts.keySet == Set("knn", "adjacency"))
    assert(params("m") == "6" && params("kind") == "hnsw")
    assert(parts("knn").collect().map(_.toSeq).toSet ==
      knn.collect().map(_.toSeq).toSet)
    // q231-shape audit against the PERSISTED index: search the
    // reloaded adjacency and compare recall to the in-memory run
    val queries = (0 until 8).map { i =>
      (1000L + i, Array.tabulate(8)(j =>
        (if (j == i % 8) 1.0f else 0.0f)).toSeq)
    }.toDF("qid", "qv")
    def recall(a: org.apache.spark.sql.DataFrame): Set[Seq[Any]] = {
      val exact = Similarity.bruteForceTopK(corpus, queries, "id", "v",
        "qid", "qv", k = 3)
      val approx = Hnsw.searchTopK(a, corpus, "id", "v", queries,
        "qid", "qv", 9, 2, 2, 6, 3)
      Similarity.recallAtK(approx, exact, "qid", "id", k = 3)
        .collect().map(_.toSeq).toSet
    }
    val fromDisk = recall(parts("adjacency"))
    assert(fromDisk == recall(adj))
    assert(fromDisk.nonEmpty &&
      fromDisk.forall(_(1).asInstanceOf[Double] > 0.0))
    // torn-save protection: a directory without a manifest refuses
    intercept[Exception] {
      graft.ops.AnnIndex.load(spark, dir + "_nope")
    }
  }

  test("AnnIndex append lifecycle: save(build(A)) + append(insert " +
    "delta) loads as build(A∪B); + append(delete delta) loads as " +
    "build(A∪B∖D); torn append loads the previous index; appended " +
    "index passes the reloaded-recall audit") {
    import graft.ops.{AnnIndex, Hnsw, Similarity}
    import org.apache.spark.sql.functions.col
    def mkVecs(ids: Range) = ids.map { i =>
      val c = i % 8
      (i.toLong, Array.tabulate(8)(j =>
        (if (j == c) 1.0f else 0.0f) +
          (math.sin(i * 7.31 + j) * 0.05).toFloat).toSeq)
    }.toDF("id", "v")
    val vecsA = mkVecs(0 until 240)
    // arrivals confined to ONE cluster (ids ≡ 0 mod 8): groups in
    // buckets the batch never touches must stay out of the delta
    val vecsB = mkVecs(240 until 280 by 8)
    val vecsAB = vecsA.unionByName(vecsB)
    val bf = Hnsw.defaultBucketFn(nPlanes = 3, dim = 8, seed = 9)
    def knnSet(df: org.apache.spark.sql.DataFrame) =
      df.select("lvl", "src", "dst", "c").collect()
        .map(_.toSeq).toSet
    val dir = Files.createTempDirectory("graft-ann-append").toString +
      "/idx"
    Hnsw.saveIndex(dir, vecsA, "id", "v", 9, 2, 6, 2, bf)

    // insert delta: only touched (lvl, src) groups cross the wire
    val (p0, _) = AnnIndex.load(spark, dir)
    val (insDelta, memDelta) = Hnsw.insertKnnDeltaIndexed(p0("knn"),
      p0("members"), p0("memdead"), vecsB, "id", "v", 9, 2, 6, 2, bf,
      mb = AnnIndex.partBatches(spark, dir, "members"))
    AnnIndex.append(dir, Map("knn" -> insDelta, "vectors" -> vecsB,
      "members" -> memDelta))
    val (p1, _) = AnnIndex.load(spark, dir)
    val wantAB = knnSet(Hnsw.buildKnn(vecsAB, "id", "v", 9, 2, 6, 2, bf))
    assert(knnSet(p1("knn")) == wantAB)
    // delta-sized: the delta is strictly smaller than the full kNN
    assert(insDelta.count() < p1("knn").count())

    // delete delta on top of the appended state (composition)
    val delIds = (0 until 280 by 7).map(_.toLong).toDF("id")
    val (delDelta, dead) = Hnsw.deleteKnnDeltaIndexed(p1("knn"),
      p1("members"), p1("memdead"), delIds, "id", m = 6,
      th = AnnIndex.partBatches(spark, dir, "members"))
    val vecType = p1("vectors").schema("v").dataType
    AnnIndex.append(dir, Map("knn" -> delDelta,
      "vectors" -> delIds.select(col("id"),
        org.apache.spark.sql.functions.lit(null).cast(vecType).as("v")),
      "memdead" -> dead))
    val (p2, _) = AnnIndex.load(spark, dir)
    val vecsKept = vecsAB.join(delIds, Seq("id"), "left_anti")
    val wantKept = knnSet(Hnsw.buildKnn(vecsKept, "id", "v", 9, 2, 6,
      2, bf))
    assert(knnSet(p2("knn")) == wantKept)
    // deleted srcs are gone (tombstones landed)
    val deadSrcs = delIds.as[Long].collect().toSet
    assert(!p2("knn").select("src").as[Long].collect()
      .exists(deadSrcs.contains))

    // torn append: an orphan batch directory WITHOUT a manifest bump
    // is invisible — load returns the previous index intact
    Seq((0, 999L, 999L, 9.9)).toDF("lvl", "src", "dst", "c")
      .write.parquet(s"$dir/knn/b3")
    val (p3, _) = AnnIndex.load(spark, dir)
    assert(knnSet(p3("knn")) == wantKept)

    // q231-shape recall audit against the APPENDED index: adjacency
    // derived from the loaded kNN matches the from-scratch build
    val queries = (0 until 8).map { i =>
      (1000L + i, Array.tabulate(8)(j =>
        (if (j == i % 8) 1.0f else 0.0f)).toSeq)
    }.toDF("qid", "qv")
    def recall(knn: org.apache.spark.sql.DataFrame): Set[Seq[Any]] = {
      val adj = Hnsw.adjacencyFromKnn(knn, vecsKept, "id", "v")
      val exact = Similarity.bruteForceTopK(vecsKept, queries, "id",
        "v", "qid", "qv", k = 3)
      val approx = Hnsw.searchTopK(adj, vecsKept, "id", "v", queries,
        "qid", "qv", 9, 2, 2, 6, 3)
      Similarity.recallAtK(approx, exact, "qid", "id", k = 3)
        .collect().map(_.toSeq).toSet
    }
    val fromDisk = recall(p2("knn"))
    assert(fromDisk == recall(Hnsw.buildKnn(vecsKept, "id", "v", 9, 2,
      6, 2, bf)))
    assert(fromDisk.nonEmpty &&
      fromDisk.forall(_(1).asInstanceOf[Double] > 0.0))

    // the ledger-aware fold squashes the 3-batch tombstoned history
    // into one batch that still loads as exactly build(A∪B∖D)
    Hnsw.compactIndex(spark, dir, dir + "_c")
    val (pc, _) = AnnIndex.load(spark, dir + "_c")
    assert(knnSet(pc("knn")) == wantKept)
  }

  test("Hnsw indexed maintenance lifecycle: insert/delete/update deltas " +
    "computed from the PERSISTED membership part (cell-pruned probes, " +
    "no corpus re-hash) keep the loaded index ≡ the from-scratch " +
    "build; the ledger-aware fold resets mb so post-fold deletes " +
    "still land") {
    import graft.ops.{AnnIndex, Hnsw}
    import org.apache.spark.sql.functions.{col, reverse}
    def mkVecs(ids: Seq[Int]) = ids.map { i =>
      val c = i % 8
      (i.toLong, Array.tabulate(8)(j =>
        (if (j == c) 1.0f else 0.0f) +
          (math.sin(i * 7.31 + j) * 0.05).toFloat).toSeq)
    }.toDF("id", "v")
    val bf = Hnsw.defaultBucketFn(nPlanes = 3, dim = 8, seed = 9)
    def knnSet(df: org.apache.spark.sql.DataFrame) =
      df.select("lvl", "src", "dst", "c").collect().map(_.toSeq).toSet
    def rebuild(state: org.apache.spark.sql.DataFrame) =
      knnSet(Hnsw.buildKnn(state, "id", "v", 9, 2, 6, 2, bf))
    val vecsA = mkVecs(0 until 240)
    val vecsB = mkVecs(240 until 280 by 2)
    val dir = Files.createTempDirectory("graft-hnsw-indexed")
      .toString + "/idx"
    Hnsw.saveIndex(dir, vecsA, "id", "v", 9, 2, 6, 2, bf)

    // INSERT from stored membership
    val (p1, _) = AnnIndex.load(spark, dir)
    val (insDelta, memDelta) = Hnsw.insertKnnDeltaIndexed(p1("knn"),
      p1("members"), p1("memdead"), vecsB, "id", "v", 9, 2, 6, 2, bf,
      mb = AnnIndex.partBatches(spark, dir, "members"))
    AnnIndex.append(dir, Map("knn" -> insDelta, "vectors" -> vecsB,
      "members" -> memDelta))
    var state = vecsA.unionByName(vecsB).localCheckpoint(true)
    assert(knnSet(AnnIndex.load(spark, dir)._1("knn")) == rebuild(state))
    // changed-diff: the delta is strictly smaller than the index
    assert(insDelta.count() <
      AnnIndex.load(spark, dir)._1("knn").count())

    // DELETE from stored membership (ids from both epochs)
    val delIds = ((0 until 240 by 11) ++ Seq(240, 250)).map(_.toLong)
      .toDF("id")
    val (p2, _) = AnnIndex.load(spark, dir)
    val (delDelta, dead) = Hnsw.deleteKnnDeltaIndexed(p2("knn"),
      p2("members"), p2("memdead"), delIds, "id", m = 6,
      th = AnnIndex.partBatches(spark, dir, "members"))
    val vecType = p2("vectors").schema("v").dataType
    AnnIndex.append(dir, Map("knn" -> delDelta,
      "vectors" -> delIds.select(col("id"),
        org.apache.spark.sql.functions.lit(null).cast(vecType).as("v")),
      "memdead" -> dead))
    state = state.join(delIds, Seq("id"), "left_anti")
      .localCheckpoint(true)
    assert(knnSet(AnnIndex.load(spark, dir)._1("knn")) == rebuild(state))

    // UPDATE: re-insert a deleted id with a NEW vector — the ledger
    // kills its old member rows, the fresh mb-stamped rows stay live
    val upd = mkVecs(Seq(11)).select(col("id"),
      reverse(col("v")).as("v"))
    val (p3, _) = AnnIndex.load(spark, dir)
    val (insDelta2, memDelta2) = Hnsw.insertKnnDeltaIndexed(p3("knn"),
      p3("members"), p3("memdead"), upd, "id", "v", 9, 2, 6, 2, bf,
      mb = AnnIndex.partBatches(spark, dir, "members"))
    AnnIndex.append(dir, Map("knn" -> insDelta2, "vectors" -> upd,
      "members" -> memDelta2))
    state = state.unionByName(upd).localCheckpoint(true)
    assert(knnSet(AnnIndex.load(spark, dir)._1("knn")) == rebuild(state))

    // ledger-aware generational fold: identity holds, ledger empties,
    // membership equals a fresh mb=0 write over the surviving state
    AnnIndex.compactToNextGen(spark, dir, Hnsw.compactIndex)
    val (pc, _) = AnnIndex.load(spark, dir)
    assert(knnSet(pc("knn")) == rebuild(state))
    assert(pc("memdead").count() == 0)
    // structural row compare (the embedded vector is an Array — Row
    // .toSeq would compare it by reference)
    def memSet(df: org.apache.spark.sql.DataFrame) = df
      .select(col("lvl").cast("long"), col("band").cast("long"),
        col("bkt").cast("long"), col("cell"), col("vid"),
        col("mb").cast("long"), col("v").cast("array<double>").as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getSeq[Double](6)))
      .toSet
    assert(memSet(pc("members")) ==
      memSet(Hnsw.memberRows(state, "id", "v", 9, 2, 2, bf, 0)))

    // post-fold delete of the updated id — the mb reset makes the new
    // threshold (1) kill the folded rows (mb=0); a generic fold would
    // have kept mb=2 rows alive through their own deletion
    val (p4, _) = AnnIndex.load(spark, dir)
    val (delDelta2, dead2) = Hnsw.deleteKnnDeltaIndexed(p4("knn"),
      p4("members"), p4("memdead"), Seq(11L).toDF("id"), "id", m = 6,
      th = AnnIndex.partBatches(spark, dir, "members"))
    AnnIndex.append(dir, Map("knn" -> delDelta2,
      "vectors" -> Seq(11L).toDF("id").select(col("id"),
        org.apache.spark.sql.functions.lit(null).cast(vecType).as("v")),
      "memdead" -> dead2))
    state = state.filter(col("id") =!= 11L).localCheckpoint(true)
    assert(knnSet(AnnIndex.load(spark, dir)._1("knn")) == rebuild(state))
  }

  test("AnnIndex generational compaction: the fold commits via the new " +
    "generation's own manifest (no delete→rename window) — a crash " +
    "before commit leaves the old index live, a reader that resolved " +
    "before the fold keeps answering, and pruning keeps exactly " +
    "current + prior generations") {
    import graft.ops.AnnIndex
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-ann-gen").toString +
      "/idx"
    AnnIndex.save(dir,
      Map("knn" -> Seq((0, 1L, 2L, 0.5)).toDF("lvl", "src", "dst", "c")),
      Map("kind" -> "hnsw"), keys = Map("knn" -> Seq("lvl", "src")))
    AnnIndex.append(dir,
      Map("knn" -> Seq((0, 3L, 4L, 0.7)).toDF("lvl", "src", "dst", "c")))
    val want = Set(Seq(0, 1L, 2L, 0.5), Seq(0, 3L, 4L, 0.7))
    def loaded() = AnnIndex.load(spark, dir)._1("knn")
      .select("lvl", "src", "dst", "c").collect().map(_.toSeq).toSet

    // a TORN fold (uncommitted gen dir, e.g. a crash mid-compact) is
    // invisible: load keeps resolving the old index
    val torn = java.nio.file.Paths.get(s"$dir/gen-1/knn/b0")
    Files.createDirectories(torn)
    Files.writeString(torn.resolve("junk"), "not parquet")
    assert(AnnIndex.currentGen(spark, dir) == 0)
    assert(loaded() == want)

    // an in-flight reader resolves the CURRENT generation lazily...
    val inFlight = AnnIndex.load(spark, dir)._1("knn")
      .select("lvl", "src", "dst", "c")
    // ...the fold overwrites the torn gen, commits gen-1, folds the
    // two batches to one, keeps the root layout as the prior gen
    AnnIndex.compactToNextGen(spark, dir)
    assert(AnnIndex.currentGen(spark, dir) == 1)
    assert(AnnIndex.maxBatches(spark, dir) == 1)
    assert(loaded() == want)
    // the pre-fold reader still answers from the prior generation
    assert(inFlight.collect().map(_.toSeq).toSet == want)
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/_manifest")),
      "prior generation (root layout) must survive one cycle")

    // appends land in the current generation; params survive
    AnnIndex.append(dir,
      Map("knn" -> Seq((0, 5L, 6L, 0.9)).toDF("lvl", "src", "dst", "c")))
    val want2 = want + Seq(0, 5L, 6L, 0.9)
    assert(loaded() == want2)
    assert(AnnIndex.load(spark, dir)._2("kind") == "hnsw")

    // second fold: gen-2 commits, the root layout (two generations
    // old) is pruned, gen-1 (the prior) is kept
    AnnIndex.compactToNextGen(spark, dir)
    assert(AnnIndex.currentGen(spark, dir) == 2)
    assert(loaded() == want2)
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/_manifest")))
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/knn")))
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/gen-1")))

    // third fold prunes gen-1
    AnnIndex.compactToNextGen(spark, dir)
    assert(AnnIndex.currentGen(spark, dir) == 3)
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/gen-1")))
    assert(Files.exists(java.nio.file.Paths.get(s"$dir/gen-2")))
    assert(loaded() == want2)

    // a fresh save to a generation-shadowed root refuses loudly
    intercept[IllegalArgumentException] {
      AnnIndex.save(dir,
        Map("knn" -> Seq((0, 9L, 9L, 0.1)).toDF("lvl", "src", "dst", "c")),
        Map("kind" -> "hnsw"))
    }
  }

  test("AnnIndex manifest versioning: every append commits a NEW " +
    "manifest version (no delete→rewrite window on a shared dir), " +
    "the prior version survives one cycle for in-flight readers, " +
    "and older versions are pruned") {
    import graft.ops.AnnIndex
    val dir = Files.createTempDirectory("graft-ann-manv").toString +
      "/idx"
    AnnIndex.save(dir,
      Map("rows" -> Seq((1L, "a")).toDF("k", "v")),
      Map("kind" -> "test"))
    def exists(p: String) =
      Files.exists(java.nio.file.Paths.get(s"$dir/$p"))
    assert(exists("_manifest"), "save writes the v0 manifest")
    AnnIndex.append(dir, Map("rows" -> Seq((2L, "b")).toDF("k", "v")))
    // first append: v1 committed, v0 (the prior) retained — a load
    // racing the append resolves one of the two whole manifests
    assert(exists("_manifest") && exists("_manifest-v1"))
    assert(AnnIndex.maxBatches(spark, dir) == 2)
    AnnIndex.append(dir, Map("rows" -> Seq((3L, "c")).toDF("k", "v")))
    // second append: v2 committed, v1 retained, v0 pruned
    assert(!exists("_manifest") && exists("_manifest-v1") &&
      exists("_manifest-v2"))
    assert(AnnIndex.maxBatches(spark, dir) == 3)
    assert(AnnIndex.load(spark, dir)._1("rows").count() == 3)
    // an UNCOMMITTED higher version (torn append crash point: dir
    // exists, _SUCCESS not yet written) is invisible to readers
    Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/_manifest-v9"))
    assert(AnnIndex.maxBatches(spark, dir) == 3)
  }

  test("AnnIndex.save refuses a root holding an APPENDED index: " +
    "save → append → save throws naming the root and the committed " +
    "version, and the old store still loads unchanged") {
    import graft.ops.AnnIndex
    val dir = Files.createTempDirectory("graft-ann-resave").toString +
      "/idx"
    AnnIndex.save(dir, Map("rows" -> Seq((1L, "old")).toDF("k", "v")),
      Map("kind" -> "t"))
    // a plain re-save over a never-appended root stays allowed
    AnnIndex.save(dir, Map("rows" -> Seq((1L, "old")).toDF("k", "v")),
      Map("kind" -> "t"))
    AnnIndex.append(dir,
      Map("rows" -> Seq((2L, "old-appended")).toDF("k", "v")))
    val err = intercept[IllegalArgumentException] {
      AnnIndex.save(dir, Map("rows" -> Seq((9L, "new")).toDF("k", "v")),
        Map("kind" -> "t2"))
    }
    assert(err.getMessage.contains(dir) &&
      err.getMessage.contains("version 1"), err.getMessage)
    val (parts, params) = AnnIndex.load(spark, dir)
    assert(params("kind") == "t")
    assert(parts("rows").orderBy("k").collect().map(_.toSeq).toSeq ==
      Seq(Seq(1L, "old"), Seq(2L, "old-appended")))
  }

  test("AnnIndex: overlapping-id arrivals are dropped (insert stays " +
    "idempotent); un-keyed parts append as plain row unions; a " +
    "corrupted manifest part name refuses to load") {
    import graft.ops.{AnnIndex, Hnsw}
    import org.apache.spark.sql.functions.col
    def mkVecs(ids: Range) = ids.map { i =>
      (i.toLong, Array.tabulate(8)(j =>
        math.sin(i * 3.7 + j).toFloat).toSeq)
    }.toDF("id", "v")
    val vecsA = mkVecs(0 until 120)
    val bf = Hnsw.defaultBucketFn(nPlanes = 3, dim = 8, seed = 9)
    val knnA = Hnsw.buildKnn(vecsA, "id", "v", 9, 2, 6, 2, bf)
    // re-arrival of existing ids 0..19 plus genuinely new 120..139:
    // the overlap is ignored, the new ids insert — equals build over
    // the deduped union
    val arrivals = mkVecs(0 until 20).unionByName(mkVecs(120 until 140))
    val merged = Hnsw.insertKnn(knnA, vecsA, arrivals, "id", "v",
      9, 2, 6, 2, bf)
    val want = Hnsw.buildKnn(vecsA.unionByName(mkVecs(120 until 140)),
      "id", "v", 9, 2, 6, 2, bf)
    assert(merged.select("lvl", "src", "dst", "c").collect()
      .map(_.toSeq).toSet ==
      want.select("lvl", "src", "dst", "c").collect()
        .map(_.toSeq).toSet)

    // un-keyed part: append = plain union of batches
    val dir = Files.createTempDirectory("graft-ann-unkeyed")
      .toString + "/idx"
    AnnIndex.save(dir,
      Map("centroids" -> Seq((0L, Seq(1.0, 0.0)))
        .toDF("centroid_id", "c_vec")),
      Map("kind" -> "ivf"))
    AnnIndex.append(dir,
      Map("centroids" -> Seq((1L, Seq(0.0, 1.0)))
        .toDF("centroid_id", "c_vec")))
    val (parts, _) = AnnIndex.load(spark, dir)
    assert(parts("centroids").select("centroid_id").as[Long]
      .collect().toSet == Set(0L, 1L))
    // appending to a part the index doesn't have refuses
    intercept[IllegalArgumentException] {
      AnnIndex.append(dir, Map("nope" -> Seq((1L, 1L)).toDF("a", "b")))
    }
    // schema drift refuses at APPEND time (not at a future load)
    intercept[IllegalArgumentException] {
      AnnIndex.append(dir,
        Map("centroids" -> Seq((2L, Seq(1.0, 0.0), "extra"))
          .toDF("centroid_id", "c_vec", "oops")))
    }

    // compact: fold batches to a fresh single-batch index — loads
    // identically (keys preserved through the manifest round-trip)
    val cdir = dir + "_compact"
    AnnIndex.compact(spark, dir, cdir)
    val (cparts, cparams) = AnnIndex.load(spark, cdir)
    assert(cparams("kind") == "ivf")
    assert(cparts("centroids").select("centroid_id").as[Long]
      .collect().toSet == Set(0L, 1L))
    intercept[IllegalArgumentException] {
      AnnIndex.compact(spark, dir, dir)
    }

    // manifest hardening: a crafted part name pointing outside the
    // index directory refuses to load (the save-side name rule is
    // re-applied to whatever the manifest claims) — planted as the
    // HIGHEST manifest version, which is the one readers resolve
    val crafted = java.nio.file.Paths.get(s"$dir/_manifest-v99")
    Files.createDirectories(crafted)
    Files.writeString(crafted.resolve("manifest.json"),
      """{"params":{"kind":"ivf"},"parts":[{"part":"../evil",""" +
        """"batches":1,"key_cols":"","schemas":[{"type":"struct",""" +
        """"fields":[{"name":"k","type":"long","nullable":true,""" +
        """"metadata":{}}]}]}]}""")
    Files.createFile(crafted.resolve("_SUCCESS"))
    intercept[IllegalArgumentException] {
      AnnIndex.load(spark, dir)
    }
  }

  test("AnnIndex.open handle: appendTo chains successor snapshots — " +
    "the successor's manifest, parts and probes equal a fresh open " +
    "after every append (the maintenance loops' one-manifest-read-" +
    "per-micro-batch contract)") {
    import graft.ops.AnnIndex
    val dir = Files.createTempDirectory("graft-ann-handle")
      .toString + "/idx"
    AnnIndex.save(dir,
      Map("knn" -> Seq((0, 1L, 2L, 0.5)).toDF("lvl", "src", "dst", "c"),
        "vectors" -> Seq((1L, Seq(1.0))).toDF("id", "v")),
      Map("kind" -> "hnsw"),
      keys = Map("knn" -> Seq("lvl", "src"), "vectors" -> Seq("id")))
    var h = AnnIndex.open(spark, dir)
    assert(h.maxBatches == 1 && h.partBatches("knn") == 1)
    assert(h.partKeys == Map("knn" -> Seq("lvl", "src"),
      "vectors" -> Seq("id")))
    // two chained appends off the SAME handle lineage, no re-open
    h = AnnIndex.appendTo(h,
      Map("knn" -> Seq((0, 3L, 4L, 0.7)).toDF("lvl", "src", "dst", "c")))
    h = AnnIndex.appendTo(h,
      Map("knn" -> Seq((0, 1L, 5L, 0.9)).toDF("lvl", "src", "dst", "c"),
        "vectors" -> Seq((5L, Seq(0.5))).toDF("id", "v")))
    assert(h.partBatches("knn") == 3 && h.partBatches("vectors") == 2)
    // successor handle ≡ fresh open: same manifest, same resolved rows
    val fresh = AnnIndex.open(spark, dir)
    assert(h.manifest.sortBy(_._1) == fresh.manifest.sortBy(_._1))
    def rows(p: Map[String, org.apache.spark.sql.DataFrame]) =
      p("knn").select("lvl", "src", "dst", "c").collect()
        .map(_.toSeq).toSet
    assert(rows(h.parts) == rows(fresh.parts))
    // latest-batch-wins resolution flows through the handle exactly
    // like load: (0, 1L) group resolved to the b2 replacement row
    assert(rows(h.parts) ==
      Set(Seq(0, 1L, 5L, 0.9), Seq(0, 3L, 4L, 0.7)))
    assert(h.params("kind") == "hnsw")
    // a STALE handle refuses nothing but writes to the batch dirs its
    // manifest knows — appendTo's manifest bump is derived from the
    // handle, so chaining from `fresh` (same snapshot) still works
    val h2 = AnnIndex.appendTo(fresh,
      Map("vectors" -> Seq((7L, Seq(0.25))).toDF("id", "v")))
    assert(h2.partBatches("vectors") == 3)
    assert(AnnIndex.open(spark, dir).manifest.sortBy(_._1) ==
      h2.manifest.sortBy(_._1))
  }
}
