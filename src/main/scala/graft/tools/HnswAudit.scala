package graft.tools

import graft.{Harness, SparkEntry}
import graft.Harness.{noop, r3, timeSec}
import graft.ops.{Hnsw, Similarity}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scale audit for the layered ANN (q230/q231): MEASURED work counters
  * for both parameterizations of [[graft.ops.Hnsw]], at whatever sf dir
  * is passed — run at sf0.1 and sf1 and ratio the counters to separate
  * "the work grew" from "the box was slow":
  *
  *  - `contract`: the q230 pinned demo params ([[SparkEntry.HnswReplay]]
  *    — fixed planes/maxLevel so the DuckDB oracle can replay the
  *    pipeline). Fixed structural params over a growing corpus are the
  *    documented q47 hazard: per-bucket population grows with the
  *    data, so build cand_cos grows ~quadratically — the audit makes
  *    that visible as a number instead of an unexplained wall-time
  *    ratio.
  *  - `production`: the auto-scaled path ([[Hnsw.hnswTopK]] with no
  *    bucketFn override) — plane count grows to hold per-bucket
  *    population at bucketTarget and maxLevel grows to hold the
  *    search-init head at headTarget, so build cand_cos stays ~linear
  *    in the corpus. This is the parameterization a real deployment
  *    runs; the contract pins params only for oracle replayability.
  *
  * Prints ONE JSON line (and writes it to `outPath`, default
  * `HNSW_AUDIT.json`): per-(lvl, band) build counters, per-(lvl, step)
  * search counters, and UNCOUNTED wall times for build+search (the
  * counted run re-executes each step's join, so walls are timed on a
  * separate clean execution).
  *
  * Usage: runMain graft.tools.HnswAudit [sfDir] [outPath]
  */
object HnswAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outPath = args.lift(1).getOrElse("HNSW_AUDIT.json")
    val spark = Harness.session(Harness.cpus)

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
      .select("vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("q_vec_id"),
        col("embedding").as("q_vec"))
    val n = corpus.count()
    val nq = queries.count()

    /** One parameterization's full audit: counters + clean walls. */
    def audit(label: String, seed: Long, maxLevel: Int, m: Int,
        bands: Int, steps: Int, ef: Int, k: Int,
        bucketFn: (Int, Int, Column) => Column): String = {
      val buildRows = Hnsw.buildWorkCounters(corpus, "vec_id",
          "embedding", seed, maxLevel, bands, bucketFn)
        .collect()
      val buildWork = buildRows
        .map(r => s"""{"lvl":${r.getInt(0)},"band":${r.getInt(1)},""" +
          s""""buckets":${r.getLong(2)},"members":${r.getLong(3)},""" +
          s""""cand_cos":${r.getLong(4)}}""")
      val buildCand = buildRows.map(_.getLong(4)).sum
      // clean (uncounted) walls: build materialized via checkpoint as
      // hnswTopK does, search via the noop sink as Bench does
      var adj: DataFrame = null
      val buildSec = timeSec {
        adj = Hnsw.buildAdjacency(corpus, "vec_id", "embedding", seed,
          maxLevel, m, bands, bucketFn).localCheckpoint(true)
      }
      val searchSec = timeSec {
        noop(Hnsw.searchTopK(adj, corpus, "vec_id", "embedding",
          queries, "q_vec_id", "q_vec", seed, maxLevel, steps, ef, k))
      }
      val (_, searchWork) = Hnsw.searchTopKCounted(adj, corpus,
        "vec_id", "embedding", queries, "q_vec_id", "q_vec", seed,
        maxLevel, steps, ef, k, counted = true)
      val searchRows = searchWork.map(w =>
        s"""{"phase":"${w.phase}","lvl":${w.lvl},"step":${w.step},""" +
          s""""cand_cos":${w.cand_cos}}""")
      val searchCand = searchWork.map(_.cand_cos).sum
      val adjRows = adj.count()
      s""""$label":{"max_level":$maxLevel,"m":$m,"bands":$bands,""" +
        s""""steps":$steps,"ef":$ef,"adj_rows":$adjRows,""" +
        s""""build_wall_sec":${r3(buildSec)},""" +
        s""""search_wall_sec":${r3(searchSec)},""" +
        s""""build_cand_cos":$buildCand,""" +
        s""""search_cand_cos":$searchCand,""" +
        s""""build_work":[${buildWork.mkString(",")}],""" +
        s""""search_work":[${searchRows.mkString(",")}]}"""
    }

    val hr = SparkEntry.HnswReplay
    val contract = audit("contract", hr.seed, hr.maxLevel, hr.m,
      hr.bands, hr.steps, hr.ef, hr.k, hr.bucketFn)

    // replicate hnswTopK's auto-scaling decisions (the production path)
    val planes = math.max(4, Similarity.autoNPlanes(n, 256L))
    val ml = math.min(40, math.max(3, Similarity.autoNPlanes(n, 4096L)))
    val production = audit("production", hr.seed, ml, hr.m, hr.bands,
      hr.steps, hr.ef, hr.k, Hnsw.defaultBucketFn(planes, 64, hr.seed)) +
      s""","production_planes":$planes,"production_max_level":$ml"""

    val json = s"""{"sf":"$sfDir","corpus_n":$n,"queries_n":$nq,""" +
      s"""$contract,$production}"""
    Harness.emit("hnsw-audit", outPath, json)
    spark.stop()
  }
}
