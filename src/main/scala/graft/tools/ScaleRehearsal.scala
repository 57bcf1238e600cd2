package graft.tools

import graft.Harness
import graft.Harness.{noop, r3, timeSec}
import graft.ops.{Dedup, Hnsw, Similarity, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PRODUCTION-path scale rehearsal: run the auto-scaled
  * parameterizations (never the pinned contract demos) of the
  * engine's super-linear-risk operators at a given sf dir, with WORK
  * COUNTERS next to the walls — run at sf1 and sf10 (tools/ScaleUp
  * 10× and 100× of the driver's sf0.1) and ratio: a ~10× work/wall
  * step at 10× data is the linear-scaling evidence SCALE.md's 100 TB
  * claims rest on; one committed 100× point turns a one-step
  * extrapolation into a two-decade measurement.
  *
  * Sections (each: n, work counter where the operator has one, wall):
  *  - `hnsw`: auto-scaled layered-ANN build+search
  *    ([[Similarity.autoNPlanes]] sizes planes/levels —
  *    [[Hnsw.hnswTopK]]'s own defaults), build work from
  *    [[Hnsw.buildWorkCounters]].
  *  - `semdedup`: autoK k-means-scoped SemDeDup on the embeddings
  *    table ([[Dedup.semanticDedupKmeansAuto]]'s chain), pair work
  *    from [[Dedup.kmeansPairWork]].
  *  - `substring`: [[Dedup.substringDedup]] with hashShuffleKey=true
  *    (the 8-byte-exchange production flag), span/char counters.
  *  - `tokenize_pack`: the q152 distinct-word BPE apply → per-doc
  *    counts → shard-cumsum packing chain.
  *  - `sharding`: partitionBy + repartition-on-key +
  *    maxRecordsPerFile sink control, file-count counter.
  *
  * Usage: runMain graft.tools.ScaleRehearsal [sfDir] [outPath]
  */
object ScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf1")
    val outPath = args.lift(1).getOrElse("SCALE_REHEARSAL.json")
    val spark = Harness.session(Harness.cpus)

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").localCheckpoint(true)
    val nEmb = emb.count()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .localCheckpoint(true)
    val nDoc = docs.count()

    // ---- hnsw: the auto-scaled production parameterization --------
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    val queries = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val nCorpus = corpus.count()
    val planes = math.max(4, Similarity.autoNPlanes(nCorpus, 256L))
    val ml = math.min(40, math.max(3, Similarity.autoNPlanes(nCorpus,
      4096L)))
    val bf = Hnsw.defaultBucketFn(planes, 64, 9L)
    val buildWork = Hnsw.buildWorkCounters(corpus, "vec_id",
        "embedding", 9L, ml, 4, bf)
      .agg(sum("cand_cos")).collect()(0).getLong(0)
    var adj: DataFrame = null
    val buildSec = timeSec {
      adj = Hnsw.buildAdjacency(corpus, "vec_id", "embedding", 9L, ml,
        10, 4, bf).localCheckpoint(true)
    }
    val searchSec = timeSec {
      noop(Hnsw.searchTopK(adj, corpus, "vec_id", "embedding", queries,
        "qid", "qv", 9L, ml, 2, 10, 4))
    }
    val hnsw = s""""hnsw":{"n":$nCorpus,"planes":$planes,""" +
      s""""max_level":$ml,"build_cand_cos":$buildWork,""" +
      s""""build_wall_sec":${r3(buildSec)},""" +
      s""""search_wall_sec":${r3(searchSec)}}"""
    adj.unpersist()

    // ---- semdedup: autoK production chain -------------------------
    val target = 1024L
    val k = Similarity.autoK(nEmb, target)
    val cents = Similarity.kmeansIterate(emb, "vec_id", "embedding",
      Similarity.fitIvfCentroids(emb, "embedding", k, seed = 42),
      iters = 2).localCheckpoint(true)
    val pw = Dedup.kmeansPairWork(emb, "vec_id", "embedding", cents)
      .agg(sum("cand_pairs"), max("n")).collect()(0)
    val semSec = timeSec {
      noop(Dedup.embeddingNearDupsKmeans(emb, "vec_id", "embedding",
        0.3, cents, saltSlices = 8))
    }
    val semdedup = s""""semdedup":{"n":$nEmb,"k":$k,""" +
      s""""cand_pairs":${pw.getLong(0)},""" +
      s""""pairs_per_row":${r3(pw.getLong(0).toDouble / nEmb)},""" +
      s""""max_cluster":${pw.getLong(1)},""" +
      s""""pair_wall_sec":${r3(semSec)}}"""

    // ---- substring: hash shuffle keys (production flag) -----------
    var spanRows = 0L
    var dupChars = 0L
    val subSec = timeSec {
      val out = Dedup.substringDedup(docs, "doc_id", "text", L = 50,
        hashShuffleKey = true).localCheckpoint(true)
      val agg = out.agg(sum("n_spans"), sum("dup_chars")).collect()(0)
      spanRows = agg.getLong(0)
      dupChars = agg.getLong(1)
    }
    val substring = s""""substring":{"n":$nDoc,"spans":$spanRows,""" +
      s""""dup_chars":$dupChars,"wall_sec":${r3(subSec)}}"""

    // ---- tokenize_pack: the q152 chain ----------------------------
    val merges = spark.createDataFrame(Seq(
      (1, "t", "h"), (2, "th", "e"), (3, "i", "n"), (4, "a", "n"),
      (5, "an", "d"), (6, "e", "r"), (7, "o", "n"), (8, "r", "e")))
      .toDF("rank", "lhs", "rhs")
    var packedRows = 0L
    val packSec = timeSec {
      val wordSyms = graft.ops.Bpe.applyMerges(docs, "text", merges)
        .groupBy("w").agg(count(lit(1)).as("n_sym"))
      val occ = docs.select(col("doc_id"),
          explode(TextOps.tokens(lower(col("text")))).as("w"))
        .filter(col("w") =!= "")
      val perDoc = occ.join(wordSyms, Seq("w"))
        .groupBy("doc_id").agg(sum("n_sym").as("n_tok"))
        .withColumn("shard", col("doc_id") % 256)
      packedRows = graft.serve.Packing.packSequences(perDoc, "doc_id",
        "n_tok", ctxLen = 256, shardCol = "shard").count()
    }
    val tokenizePack = s""""tokenize_pack":{"n":$nDoc,""" +
      s""""packed_rows":$packedRows,"wall_sec":${r3(packSec)}}"""

    // ---- minhash LSH: the flagship text near-dup path -------------
    var lshPairs = 0L
    val lshSec = timeSec {
      lshPairs = Dedup.minhashLsh(docs, "doc_id", "text")
        .count()
    }
    val minhash = s""""minhash_lsh":{"n":$nDoc,"pairs":$lshPairs,""" +
      s""""wall_sec":${r3(lshSec)}}"""

    // ---- bm25: retrieval scoring over the corpus ------------------
    var bmRows = 0L
    val bmSec = timeSec {
      bmRows = TextOps.bm25Search(docs, "doc_id", "text",
        "join hash filter", k = 20).count()
    }
    val bm25 = s""""bm25":{"n":$nDoc,"rows":$bmRows,""" +
      s""""wall_sec":${r3(bmSec)}}"""

    // ---- knn graph: auto-sized in-bucket quadratic ----------------
    val kgPlanes = Similarity.autoNPlanes(nEmb, 256L)
    var kgRows = 0L
    val kgSec = timeSec {
      kgRows = Similarity.knnGraph(emb, "vec_id", "embedding", k = 10,
        nPlanes = kgPlanes).count()
    }
    val knng = s""""knn_graph":{"n":$nEmb,"planes":$kgPlanes,""" +
      s""""rows":$kgRows,"wall_sec":${r3(kgSec)}}"""

    // ---- sharding: sink layout control ----------------------------
    val shardDir = java.nio.file.Files
      .createTempDirectory("graft-rehearsal-shard").toString
    var nFiles = 0L
    val shardSec = timeSec {
      docs.repartition(col("lang"))
        .write.partitionBy("lang").option("maxRecordsPerFile", 4096)
        .mode("overwrite").parquet(shardDir)
      nFiles = spark.read.parquet(shardDir)
        .select(input_file_name().as("f")).distinct().count()
    }
    val sharding = s""""sharding":{"n":$nDoc,"files":$nFiles,""" +
      s""""wall_sec":${r3(shardSec)}}"""

    val json = s"""{"sf":"$sfDir",$hnsw,$semdedup,$substring,""" +
      s"""$tokenizePack,$minhash,$bm25,$knng,$sharding}"""
    Harness.emit("rehearsal", outPath, json)
    spark.stop()
  }
}
