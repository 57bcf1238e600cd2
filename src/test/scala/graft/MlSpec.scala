package graft

import graft.ml.{KMeansClusterer, KMeansClustererModel, NumericPreprocessor,
  NumericPreprocessorModel}
import graft.ops.Similarity
import org.apache.spark.ml.Pipeline
import org.apache.spark.sql.functions._

/** spark.ml integration: the engine's Estimator/Model inside an MLlib
  * Pipeline, and the KMeans-backed IVF ANN path. */
class MlSpec extends SparkSpec {
  import spark.implicits._

  test("NumericPreprocessor works inside an MLlib Pipeline") {
    val train = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0)).toDF("k", "v")
    val heldOut = Seq(("a", 10.0), ("zzz", 4.0)).toDF("k", "v")
    val stage = new NumericPreprocessor()
      .setKeyCol("k").setValueCol("v").setNormalizer("std")
      .setMinValidVocabObs(1.0)
      .setMinUniqueNumericalObs(2.0)
      .setMaxNumericalValueFrequency(0.9)
    val model = new Pipeline().setStages(Array(stage)).fit(train)
    val out = model.transform(heldOut)
      .select("k", "value_norm", "key_idx")
      .as[(String, Option[Double], Int)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(out("a")._1.contains(8.0)) // (10-2)/1 with TRAIN params
    assert(out("zzz")._2 == 0) // unknown key → UNK
    // fit state is inspectable DataFrames
    val m = model.stages.head.asInstanceOf[NumericPreprocessorModel]
    assert(m.perKeyMetadata.count() == 1)
    assert(m.vocabulary.count() == 2) // UNK + 'a'
  }

  test("KMeans IVF: centroids split clusters, topK finds in-cluster nns") {
    val r = new scala.util.Random(5)
    // two well-separated clusters in 8-d
    def near(base: Double) = Seq.fill(8)((base + r.nextGaussian() * 0.01).toFloat)
    val corpus = ((0L until 20L).map(i => (i, near(1.0))) ++
      (20L until 40L).map(i => (i, near(-1.0)))).toDF("vec_id", "embedding")
    val centroids = Similarity.fitIvfCentroids(corpus, "embedding", k = 2)
    assert(centroids.count() == 2)
    val queries = Seq((100L, near(1.0)), (101L, near(-1.0)))
      .toDF("q_id", "q_vec")
    val top = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding",
      "q_id", "q_vec", centroids, k = 3, nProbe = 1)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
    // query near cluster A only returns cluster-A ids, and vice versa
    top.foreach { case (q, v) =>
      if (q == 100L) assert(v < 20L) else assert(v >= 20L)
    }
  }

  // the wrapper's contract: q243 === q238's dataflow behind an
  // Estimator API, so fit+transform must be row-identical to calling
  // kmeansIterate + ivfAssign with the same dyadic init.
  private def smallCorpus = {
    val r = new scala.util.Random(11)
    (0L until 60L).map { i =>
      val base = if (i % 3 == 0) 1.0 else if (i % 3 == 1) -1.0 else 0.2
      (i, Seq.fill(8)((base + r.nextGaussian() * 0.05).toFloat))
    }.toDF("vec_id", "embedding")
  }

  private def dyadicInit(k: Int, dim: Int) =
    spark.range(k).select(col("id").as("centroid_id"),
      expr(s"transform(sequence(0, ${dim - 1}), " +
        "i -> CAST((id * 31 + i * 7) % 17 - 8 AS DOUBLE) / 8.0)")
        .as("c_vec"))

  test("KMeansClusterer fit+transform ≡ kmeansIterate + ivfAssign") {
    val corpus = smallCorpus
    val model = new KMeansClusterer()
      .setInputCol("embedding").setOutputCol("centroid_id")
      .setK(4).setIters(2)
      .fit(corpus)
    val viaWrapper = model.transform(corpus)
      .select("vec_id", "centroid_id").as[(Long, Long)]
      .collect().toMap
    val cents = Similarity.kmeansIterate(corpus, "vec_id", "embedding",
      dyadicInit(4, 8), iters = 2)
    val direct = Similarity.ivfAssign(corpus, "vec_id", "embedding",
      cents, "centroid_id", "c_vec", nProbe = 1)
      .select(col("vec_id"), col("centroid_id").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(viaWrapper == direct)
    assert(viaWrapper.values.toSet.size > 1) // actually clusters
  }

  test("KMeansClusterer model save/load roundtrip preserves assignments") {
    val corpus = smallCorpus
    val model = new KMeansClusterer()
      .setInputCol("embedding").setOutputCol("centroid_id")
      .setK(4).setIters(2)
      .fit(corpus)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-kmeans-ml").toString + "/m"
    model.write.overwrite().save(dir)
    val loaded = KMeansClustererModel.load(dir)
    assert(loaded.getOrDefault(loaded.inputCol) == "embedding")
    assert(loaded.getOrDefault(loaded.k) == 4)
    val a = model.transform(corpus)
      .select("vec_id", "centroid_id").as[(Long, Long)].collect().toSet
    val b = loaded.transform(corpus)
      .select("vec_id", "centroid_id").as[(Long, Long)].collect().toSet
    assert(a == b)
  }

  test("KMeansClusterer rejects a missing input column") {
    val bad = Seq((1L, "x")).toDF("vec_id", "txt")
    intercept[IllegalArgumentException] {
      new KMeansClusterer().setInputCol("embedding").fit(bad)
    }
  }

  test("KMeansClustererModel.transform preserves row count: null " +
      "input vectors keep their row with a null cluster id") {
    val corpus = smallCorpus
    val model = new KMeansClusterer()
      .setInputCol("embedding").setOutputCol("centroid_id")
      .setK(4).setIters(2)
      .fit(corpus)
    val withNull = corpus.unionByName(
      Seq((999L, Option.empty[Seq[Float]]))
        .toDF("vec_id", "embedding"))
    val out = model.transform(withNull)
    assert(out.count() == corpus.count() + 1)
    val nullRow = out.filter(col("vec_id") === 999L)
      .select("centroid_id").collect()
    assert(nullRow.length == 1 && nullRow.head.isNullAt(0))
    // non-null rows are assigned exactly as before
    assert(out.filter(col("centroid_id").isNull).count() == 1)
  }

  // q244's contract: the RidgeProbe stage is Linalg.ridgeScoreStd
  // behind an Estimator API — fit+transform must be row-identical.
  private def labeledCorpus = {
    val r = new scala.util.Random(23)
    (0L until 80L).map { i =>
      val y = if (i % 4 == 0) 1.0 else 0.0
      // signal in dims 0-1, noise elsewhere — probe must find it
      (i, Seq.tabulate(6)(j =>
        (if (j < 2) y + r.nextGaussian() * 0.3
         else r.nextGaussian()).toFloat), y)
    }.toDF("vec_id", "embedding", "y")
  }

  test("RidgeProbe fit+transform ≡ Linalg.ridgeScoreStd") {
    val df = labeledCorpus
    val model = new graft.ml.RidgeProbe()
      .setInputCol("embedding").setLabelCol("y")
      .setLambda(0.1).setEta(0.5).setIters(50).setThreshold(0.25)
      .fit(df)
    val viaWrapper = model.transform(df)
      .select("vec_id", "score", "keep")
      .as[(Long, Double, Boolean)].collect().toSet
    val direct = graft.ops.Linalg.ridgeScoreStd(df, "vec_id",
      "embedding", "y", lambda = 0.1, eta = 0.5, iters = 50,
      threshold = 0.25)
      .as[(Long, Double, Boolean)].collect().toSet
    assert(viaWrapper == direct)
    // the probe actually separates: kept rows skew to y=1
    val keptY = model.transform(df).filter(col("keep"))
      .agg(avg("y")).head().getDouble(0)
    assert(keptY > 0.5)
  }

  test("RidgeProbe model save/load roundtrip preserves scores") {
    val df = labeledCorpus
    val model = new graft.ml.RidgeProbe()
      .setInputCol("embedding").setLabelCol("y").setIters(20)
      .fit(df)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ridge-ml").toString + "/m"
    model.write.overwrite().save(dir)
    val loaded = graft.ml.RidgeProbeModel.load(dir)
    assert(loaded.getOrDefault(loaded.iters) == 20)
    val a = model.transform(df).select("vec_id", "score")
      .as[(Long, Double)].collect().toSet
    val b = loaded.transform(df).select("vec_id", "score")
      .as[(Long, Double)].collect().toSet
    assert(a == b)
  }

  test("EavToVector pivots to dense zero-filled vectors") {
    val eav = Seq((1L, 0, 0.5), (1L, 3, -0.5), (2L, 1, 1.0))
      .toDF("doc_id", "dim", "val")
    val out = new graft.ml.EavToVector()
      .setIdCol("doc_id").setDim(4)
      .transform(eav)
      .as[(Long, Seq[Double])].collect().toMap
    assert(out(1L) == Seq(0.5, 0.0, 0.0, -0.5))
    assert(out(2L) == Seq(0.0, 1.0, 0.0, 0.0))
    // null dim/val rows drop instead of crashing map_from_entries; an
    // id with ONLY null rows vanishes like an id with no rows
    val dirty = Seq((1L, Some(0), Some(0.5)), (1L, None, Some(9.9)),
      (2L, Some(1), None)).toDF("doc_id", "dim", "val")
    val cleaned = new graft.ml.EavToVector()
      .setIdCol("doc_id").setDim(2).transform(dirty)
      .as[(Long, Seq[Double])].collect().toMap
    assert(cleaned == Map(1L -> Seq(0.5, 0.0)))
    // duplicate (id, dim) rows SUM deterministically instead of
    // crashing map_from_entries under the EXCEPTION dedup policy
    val dup = Seq((1L, 0, 0.5), (1L, 0, 0.25), (1L, 1, 1.0))
      .toDF("doc_id", "dim", "val")
    val summed = new graft.ml.EavToVector()
      .setIdCol("doc_id").setDim(2).transform(dup)
      .as[(Long, Seq[Double])].collect().toMap
    assert(summed == Map(1L -> Seq(0.75, 1.0)))
    // declared schema matches the actual output
    assert(new graft.ml.EavToVector().setIdCol("doc_id").setDim(4)
      .transformSchema(eav.schema).fieldNames.toSeq ==
      Seq("doc_id", "embedding"))
  }

  test("composed documents→clusters Pipeline ≡ hand-chained stages") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "delta epsilon"), (4L, "zeta eta theta iota"),
      (5L, "delta epsilon")).toDF("doc_id", "text")
    val hash = new graft.ml.HashedEmbedder()
      .setIdCol("doc_id").setInputCol("text")
      .setDim(16).setSeed(7L).setFamily("md5")
    val pivot = new graft.ml.EavToVector()
      .setIdCol("doc_id").setDim(16)
    val km = new graft.ml.KMeansClusterer()
      .setInputCol("embedding").setK(3).setIters(2)
    val model = new Pipeline()
      .setStages(Array(hash, pivot, km)).fit(docs)
    val composed = model.transform(docs)
      .select("doc_id", "centroid_id").as[(Long, Long)]
      .collect().toMap
    val direct = km.fit(pivot.transform(hash.transform(docs)))
      .transform(pivot.transform(hash.transform(docs)))
      .select("doc_id", "centroid_id").as[(Long, Long)]
      .collect().toMap
    assert(composed == direct)
    // identical docs land in the same cluster
    assert(composed(1L) == composed(2L))
    assert(composed(3L) == composed(5L))
  }

  // q245's contract: HashedEmbedder ≡ TextOps.hashedEmbedding.
  test("HashedEmbedder ≡ TextOps.hashedEmbedding, unit-L2 EAV out") {
    val docs = Seq((1L, "spark joins shuffle spark"),
      (2L, "hash the tokens"), (3L, "")).toDF("doc_id", "text")
    val stage = new graft.ml.HashedEmbedder()
      .setIdCol("doc_id").setInputCol("text")
      .setDim(16).setSeed(7L).setFamily("md5")
    val viaWrapper = stage.transform(docs)
      .as[(Long, Int, Double)].collect().toSet
    val direct = graft.ops.TextOps.hashedEmbedding(docs, "doc_id",
      "text", dim = 16, seed = 7, family = "md5")
      .as[(Long, Int, Double)].collect().toSet
    assert(viaWrapper == direct)
    assert(viaWrapper.nonEmpty)
    // schema contract matches the declared transformSchema
    assert(stage.transform(docs).schema.fieldNames.toSeq ==
      Seq("doc_id", "dim", "val"))
    assert(stage.transformSchema(docs.schema).fieldNames.toSeq ==
      Seq("doc_id", "dim", "val"))
  }
}
