package graft.tools

import graft.Harness
import graft.Harness.{noop, r3, timeSec}
import graft.ops.{AnnIndex, Hnsw, Similarity}
import org.apache.spark.sql.functions._

/** SERVING-side scale evidence for the persisted ANN index — the half
  * the maintenance audits ([[AnnStreamAudit]], [[AnnCdcAudit]]) don't
  * measure: a FIXED 64-query set searched through the full production
  * read path (`AnnIndex.load` → `Hnsw.adjacencyFromKnn` →
  * `Hnsw.searchTopK`) against a membership-bearing store, measured

  *  - BEFORE a fold, with a real batch list (seed + `appends`
  *    incremental insert batches through the indexed-probe chain) —
  *    the state a store is actually in mid-day, paying the keyed-
  *    resolve window over every batch directory;
  *  - AFTER `Hnsw.compactIndex` folds it to single-batch form —
  *    the post-merge steady state;
  *
  * each as min-of-3 walls plus ONE counted pass
  * (`Hnsw.searchTopKCounted`) whose Σ cand_cos is the exact number of
  * candidate-cosine evaluations the descent paid — the number that
  * must stay ~flat across corpus decades (per-step work is
  * frontier ⋈ adjacency, corpus-size-independent; only the init head
  * scan grows, held at `headTarget` by the auto-scaled maxLevel).
  * Run at sf1 / sf10 / sf10×10 for the three-decade curve.
  *
  * Usage: runMain graft.tools.AnnSearchCurve [sfDir] [outPath] [grow]
  *        [appends]
  */
object AnnSearchCurve {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf1")
    val outPath = args.lift(1).getOrElse("ANN_SEARCH_CURVE.json")
    val grow = args.lift(2).map(_.toInt).getOrElse(1)
    val appends = args.lift(3).map(_.toInt).getOrElse(4)
    val spark = Harness.session(Harness.cpus)

    val emb = AnnStreamAudit.grownEmbeddings(spark, sfDir, grow)
      .localCheckpoint(true)
    val seedVecs = emb.filter(col("vec_id") % 10 =!= 0)
    val n = seedVecs.count()
    val planes = math.max(4, Similarity.autoNPlanes(n, 256L))
    val ml = math.min(40, math.max(3, Similarity.autoNPlanes(n, 4096L)))
    val bf = Hnsw.defaultBucketFn(planes, 64, 9L)
    val idx = java.nio.file.Files
      .createTempDirectory("graft-ann-search-curve").toString + "/idx"
    Hnsw.saveIndex(idx, seedVecs, "vec_id", "embedding", 9L, ml, 10,
      4, bf, Map("planes" -> planes.toString))
    // grow a REAL batch list: `appends` incremental 256-row inserts
    // through the exact maintenance chain the stream runs
    val pool = emb.filter(col("vec_id") % 10 === 0)
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("vec_id")))
      .localCheckpoint(true)
    (0 until appends).foreach { b =>
      val arrivals = pool
        .filter(col("__rk") > b * 256L && col("__rk") <= (b + 1) * 256L)
        .drop("__rk")
      val (parts, _) = AnnIndex.load(spark, idx)
      val (delta, memDelta) = Hnsw.insertKnnDeltaIndexed(parts("knn"),
        parts("members"), parts("memdead"), arrivals, "vec_id",
        "embedding", 9L, ml, 10, 4, bf,
        AnnIndex.partBatches(spark, idx, "members"))
      AnnIndex.append(idx,
        Map("knn" -> delta.localCheckpoint(true), "vectors" -> arrivals,
          "members" -> memDelta))
    }
    // fixed query set: the 64 lowest vec_ids — deterministic across
    // runs and scales (sf10 contains sf1's id range)
    val queries = emb.orderBy("vec_id").limit(64)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .localCheckpoint(true)

    def searchWalls(tag: String): String = {
      val batches = AnnIndex.maxBatches(spark, idx)
      // the realistic serving split: ONE load + adjacency
      // materialization per index generation (amortized across every
      // query the server answers), then per-query-set descent walls
      // against the materialized adjacency — without the split, each
      // beam step re-pays the keyed-resolve window + symmetrize join
      // and the "search latency" mostly measures index loading
      var adjRows = 0L
      var adj: org.apache.spark.sql.DataFrame = null
      var vecs: org.apache.spark.sql.DataFrame = null
      val loadSec = timeSec {
        val (parts, _) = AnnIndex.load(spark, idx)
        vecs = parts("vectors").localCheckpoint(true)
        adj = Hnsw.adjacencyFromKnn(parts("knn"), vecs,
          "vec_id", "embedding").localCheckpoint(true)
        adjRows = adj.count()
      }
      def once(): Unit = noop(
        Hnsw.searchTopK(adj, vecs, "vec_id", "embedding",
          queries, "qid", "qv", 9L, ml, steps = 2, ef = 10, k = 10))
      val walls = (1 to 3).map(_ => timeSec(once()))
      // one counted pass: exact candidate-cosine work of the descent
      val (res, work) = Hnsw.searchTopKCounted(adj, vecs,
        "vec_id", "embedding", queries, "qid", "qv", 9L, ml,
        steps = 2, ef = 10, k = 10, counted = true)
      val nRows = res.count()
      val candCos = work.map(_.cand_cos).sum
      val initCos = work.filter(_.phase == "init").map(_.cand_cos).sum
      s""""$tag":{"batches":$batches,"load_adj_sec":${r3(loadSec)},""" +
        s""""adj_rows":$adjRows,""" +
        s""""walls_sec":[${walls.map(r3).mkString(",")}],""" +
        s""""wall_sec":${r3(walls.min)},"cand_cos":$candCos,""" +
        s""""init_cos":$initCos,"result_rows":$nRows}"""
    }

    val pre = searchWalls("pre_fold")
    val foldSec = timeSec {
      AnnIndex.compactToNextGen(spark, idx, Hnsw.compactIndex)
    }
    val post = searchWalls("post_fold")
    val json = s"""{"sf":"$sfDir","grow":$grow,"n_seed":$n,""" +
      s""""planes":$planes,"max_level":$ml,"appends":$appends,""" +
      s""""queries":64,"fold_sec":${r3(foldSec)},$pre,$post}"""
    Harness.emit("ann-search-curve", outPath, json)
    spark.stop()
  }
}
