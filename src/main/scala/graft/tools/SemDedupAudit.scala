package graft.tools

import graft.Harness
import graft.Harness.{noop, r3, timeSec}
import graft.ops.{Dedup, Similarity, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale audit for k-means-scoped SemDeDup (q239/q254's pair stage):
  * MEASURED candidate-pair counters for both parameterizations of
  * [[graft.ops.Dedup.embeddingNearDupsKmeans]] — run at sf0.1 and sf1
  * and ratio the counters to separate "the work grew" from "the box
  * was slow", exactly the discipline that cleared the HNSW weak grade
  * ([[HnswAudit]]):
  *
  *  - `contract`: the pinned demo params (k=8 dyadic init + 2 Lloyd's
  *    iterations — fixed so the DuckDB oracle can replay the fit).
  *    Fixed k over a growing corpus is the documented hazard: expected
  *    cluster population grows linearly with the data, so pair work
  *    grows ~quadratically — the audit makes that a number instead of
  *    an unexplained wall-time ratio.
  *  - `production`: the auto-scaled path ([[Similarity.autoK]] sizes k
  *    to hold expected cluster population at `targetClusterSize`, fit
  *    by [[Similarity.fitIvfCentroids]] + 2 full-corpus refinement
  *    iterations — [[Dedup.semanticDedupKmeansAuto]]'s exact chain).
  *    Pairs-per-row holds ~constant as the corpus grows; total pair
  *    work ~linear. This is the parameterization a deployment runs;
  *    the contract pins k only for oracle replayability.
  *
  * Both the q239 shape (embeddings table, threshold 0.3) and the q254
  * shape (documents md5 hash-embed, threshold 0.9 — the SKEWED-cluster
  * regime) are audited. Pair counts come from
  * [[Dedup.kmeansPairWork]] (exact Σ n·(n−1)/2, no quadratic join
  * executed); walls are timed on a separate clean execution of the
  * actual salted pair stage.
  *
  * Usage: runMain graft.tools.SemDedupAudit [sfDir] [outPath]
  */
object SemDedupAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outPath = args.lift(1).getOrElse("SEMDEDUP_AUDIT.json")
    val spark = Harness.session(Harness.cpus)

    /** One (shape × parameterization) audit: price the pair stage
      * exactly, then time a clean run of it. */
    def audit(label: String, vecs: DataFrame, idCol: String, n: Long,
        cents: DataFrame, k: Long, threshold: Double,
        saltSlices: Int): String = {
      val work = Dedup.kmeansPairWork(vecs, idCol, "embedding", cents)
        .agg(sum("cand_pairs").as("p"), max("n").as("mx"),
          count(lit(1)).as("nonempty"))
        .collect()(0)
      val candPairs = work.getLong(0)
      val maxCluster = work.getLong(1)
      val nonEmpty = work.getLong(2)
      val pairSec = timeSec {
        noop(Dedup.embeddingNearDupsKmeans(vecs, idCol, "embedding",
          threshold, cents, saltSlices = saltSlices))
      }
      s""""$label":{"n":$n,"k":$k,"nonempty_clusters":$nonEmpty,""" +
        s""""max_cluster":$maxCluster,"cand_pairs":$candPairs,""" +
        s""""pairs_per_row":${r3(candPairs.toDouble / math.max(1L, n))},""" +
        s""""pair_wall_sec":${r3(pairSec)}}"""
    }

    /** The q239/q254 contract fit: literal dyadic init, 2 Lloyd's. */
    def contractCents(vecs: DataFrame, idCol: String): DataFrame = {
      val cents0 = spark.range(8).select(col("id").as("centroid_id"),
        expr("transform(sequence(0, 63)," +
          " i -> CAST((id * 31 + i * 7) % 17 - 8 AS DOUBLE) / 8.0)")
          .as("c_vec"))
      Similarity.kmeansIterate(vecs, idCol, "embedding", cents0,
        iters = 2)
    }
    /** The production fit: autoK + sampled init + 2 refinement iters
      * (semanticDedupKmeansAuto's chain). */
    def productionCents(vecs: DataFrame, idCol: String, n: Long,
        target: Long): (DataFrame, Int) = {
      val k = Similarity.autoK(n, target)
      val init = Similarity.fitIvfCentroids(vecs, "embedding", k,
        seed = 42)
      (Similarity.kmeansIterate(vecs, idCol, "embedding", init,
        iters = 2), k)
    }

    val target = 1024L

    // q239 shape: embeddings table, threshold 0.3
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").localCheckpoint(true)
    val nEmb = emb.count()
    val embContract = audit("emb_contract", emb, "vec_id", nEmb,
      contractCents(emb, "vec_id"), 8L, 0.3, 8)
    val (epCents, epK) = productionCents(emb, "vec_id", nEmb, target)
    val embProd = audit("emb_production", emb, "vec_id", nEmb,
      epCents, epK.toLong, 0.3, 8)

    // q254 shape: documents md5 hash-embed, threshold 0.9 (skewed)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val eav = TextOps.hashedEmbedding(docs, "doc_id", "text",
      dim = 64, seed = 7, family = "md5")
    val dvecs = new graft.ml.EavToVector()
      .setIdCol("doc_id").setDimCol("dim").setValCol("val")
      .setOutputCol("embedding").setDim(64)
      .transform(eav).localCheckpoint(true)
    val nDoc = dvecs.count()
    val docContract = audit("doc_contract", dvecs, "doc_id", nDoc,
      contractCents(dvecs, "doc_id"), 8L, 0.9, 32)
    val (dpCents, dpK) = productionCents(dvecs, "doc_id", nDoc, target)
    val docProd = audit("doc_production", dvecs, "doc_id", nDoc,
      dpCents, dpK.toLong, 0.9, 32)

    val json = s"""{"sf":"$sfDir","target_cluster_size":$target,""" +
      s"""$embContract,$embProd,$docContract,$docProd}"""
    Harness.emit("semdedup-audit", outPath, json)
    spark.stop()
  }
}
