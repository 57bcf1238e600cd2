package graft.tools

import graft.Harness
import graft.Harness.{r3, timeSec}
import graft.ops.{AnnIndex, Hnsw, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Delta-sized-maintenance audit for the persisted ANN index: seed a
  * membership-bearing index ([[Hnsw.saveIndex]], PRODUCTION
  * auto-scaled params) with 90% of the corpus, then drive a GEOMETRIC
  * SWEEP of insert batch sizes through exactly the chain
  * [[graft.streaming.StreamOps.annIndexMaintenanceStream]]'s
  * foreachBatch runs (load → [[Hnsw.insertKnnDeltaIndexed]] —
  * cell-pruned probes of the PERSISTED membership, never a corpus
  * re-hash → [[AnnIndex.append]]), measuring per batch:
  *
  *  - `delta_rows` / `delta_frac`: the storage claim, QUANTIFIED — and
  *    since r13's changed-group diff, a delta row means the group's
  *    top-M actually changed, so moderate batches no longer saturate
  *    the delta into a full index rewrite.
  *  - `insert_wall_sec` / `append_wall_sec`: compute/storage walls at
  *    batch granularity (vs `seed_build_save_sec`, the rebuild cost
  *    an overwrite-save would re-pay every day). The scale claim is
  *    walls ~FLAT across corpus decades at fixed batch size (they
  *    were ∝ corpus before the stored-membership probes:
  *    3.6 s → 21.6 s per 16-row batch across one decade,
  *    bench/ANN_STREAM_AUDIT_*_r12).
  *  - a final count check: the loaded index's row count equals the
  *    from-scratch build over seed + all inserted arrivals
  *    (row-level equality is spec-pinned in PersistenceSpec /
  *    StreamingSpec — the audit adds the at-scale cost numbers).
  *
  * A third corpus decade comes from the SYNTHETIC-GROWTH path:
  * `grow` > 1 unions `grow` copies of the corpus, each with offset ids
  * and the embedding ROTATED by the copy number (codegen'd
  * slice/concat — deterministic, distinct directions, fresh buckets).
  *
  * Usage: runMain graft.tools.AnnStreamAudit [sfDir] [outPath] [grow]
  *        [norebuild]
  */
object AnnStreamAudit {
  def grownEmbeddings(spark: SparkSession, sfDir: String,
      grow: Int): DataFrame = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    if (grow <= 1) emb
    else {
      // rotation width comes from the data, not a constant — a
      // hardcoded 64 on a different-dim corpus would silently emit
      // wrong-length vectors and invalidate the synthetic decade
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      require(grow < dim,
        s"grow=$grow must be < embedding dim $dim (each copy rotates " +
          "by its copy number)")
      (0 until grow).map { c =>
        emb.select(
          (col("vec_id") + lit(c.toLong * 1000000000L)).as("vec_id"),
          (if (c == 0) col("embedding")
           else concat(slice(col("embedding"), c + 1, dim - c),
             slice(col("embedding"), 1, c))).as("embedding"))
      }.reduce(_ unionByName _)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf1")
    val outPath = args.lift(1).getOrElse("ANN_STREAM_AUDIT.json")
    val grow = args.lift(2).map(_.toInt).getOrElse(1)
    val rebuildCheck = !args.lift(3).contains("norebuild")
    val spark = Harness.session(Harness.cpus)

    val emb = grownEmbeddings(spark, sfDir, grow).localCheckpoint(true)
    val seedVecs = emb.filter(col("vec_id") % 10 =!= 0)
    val n = seedVecs.count()
    val planes = math.max(4, Similarity.autoNPlanes(n, 256L))
    val ml = math.min(40, math.max(3, Similarity.autoNPlanes(n, 4096L)))
    val bf = Hnsw.defaultBucketFn(planes, 64, 9L)
    val idx = java.nio.file.Files
      .createTempDirectory("graft-ann-stream-audit").toString + "/idx"
    val seedSec = timeSec {
      Hnsw.saveIndex(idx, seedVecs, "vec_id", "embedding", 9L, ml, 10,
        4, bf, Map("planes" -> planes.toString))
    }
    // arrival pool ranked by vec_id; batches are consecutive slices of
    // geometrically growing size so the delta∝batch curve is visible
    val pool = emb.filter(col("vec_id") % 10 === 0)
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("vec_id")))
      .localCheckpoint(true)
    val poolN = pool.count()
    val sizes = Iterator.iterate(16L)(_ * 4)
      .takeWhile(_ <= poolN).toSeq
    var used = 0L
    val batches = sizes.zipWithIndex.map { case (sz, bnum) =>
      val take = math.min(sz, poolN - used)
      val arrivals = pool
        .filter(col("__rk") > used && col("__rk") <= used + take)
        .drop("__rk")
      used += take
      val nb = take
      var deltaRows = 0L
      var delta: DataFrame = null
      var memDelta: DataFrame = null
      // audit instrumentation, not the production path: count the
      // index OUTSIDE the timed section
      val indexRows = AnnIndex.load(spark, idx)._1("knn").count()
      val insertSec = timeSec {
        val (parts, _) = AnnIndex.load(spark, idx)
        val out = Hnsw.insertKnnDeltaIndexed(parts("knn"),
          parts("members"), parts("memdead"), arrivals, "vec_id",
          "embedding", 9L, ml, 10, 4, bf,
          AnnIndex.partBatches(spark, idx, "members"))
        delta = out._1.localCheckpoint(true)
        memDelta = out._2
        deltaRows = delta.count()
      }
      val appendSec = timeSec {
        AnnIndex.append(idx,
          Map("knn" -> delta, "vectors" -> arrivals,
            "members" -> memDelta))
      }
      s"""{"batch":$bnum,"arrivals":$nb,"delta_rows":$deltaRows,""" +
        s""""index_rows_before":$indexRows,""" +
        s""""delta_frac":${r3(deltaRows.toDouble / indexRows)},""" +
        s""""insert_wall_sec":${r3(insertSec)},""" +
        s""""append_wall_sec":${r3(appendSec)}}"""
    }
    val finalRows = AnnIndex.load(spark, idx)._1("knn").count()
    val checkJson = if (rebuildCheck) {
      val insertedAll = seedVecs.unionByName(
        pool.filter(col("__rk") <= used).drop("__rk"))
      val fullRows = Hnsw.buildKnn(insertedAll, "vec_id", "embedding",
        9L, ml, 10, 4, bf).count()
      s""","full_rebuild_rows":$fullRows,""" +
        s""""rows_match":${finalRows == fullRows}"""
    } else ""
    val json = s"""{"sf":"$sfDir","grow":$grow,"n_seed":$n,""" +
      s""""planes":$planes,"max_level":$ml,"probe":"indexed",""" +
      s""""seed_build_save_sec":${r3(seedSec)},""" +
      s""""batches":[${batches.mkString(",")}],""" +
      s""""final_loaded_rows":$finalRows$checkJson}"""
    Harness.emit("ann-stream-audit", outPath, json)
    spark.stop()
  }
}
