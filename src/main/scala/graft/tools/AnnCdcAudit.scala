package graft.tools

import graft.Harness
import graft.Harness.{r3, timeSec}
import graft.ops.{AnnIndex, Hnsw, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CDC cost-curve audit for the persisted ANN index — the
  * delete/update half of what [[AnnStreamAudit]] measures for inserts.
  * Seeds a membership-bearing CDC-ready index ([[Hnsw.saveIndex]])
  * with 90% of the corpus under PRODUCTION auto-scaled params, then
  * drives a geometric sweep of mixed CDC batches — each batch half
  * deletes, a quarter updates (delete + re-arrival of the same id
  * with a changed vector, the standard CDC order), a quarter fresh
  * inserts — through exactly the chain the stream's foreachBatch
  * runs: [[Hnsw.deleteKnnDeltaIndexed]] (cell-pruned probes of the
  * PERSISTED membership + the mb/th deletion ledger — no corpus
  * re-hash) → append(knn delta + vector tombstones + ledger) →
  * reload → id-pruned anti-join → [[Hnsw.insertKnnDeltaIndexed]] →
  * append(knn delta + vectors + member rows). Per batch it records
  * the delete-side and insert-side delta row counts and fractions of
  * the index (the storage claim: a CDC batch's write is proportional
  * to its blast radius — the groups that lost an edge plus the banded
  * bucket footprint of the re-arrivals — never the index) and the
  * compute/storage walls. The final loaded index is count-checked
  * against a from-scratch build over the surviving id→vector state,
  * and the resolved vectors part is checked to carry exactly the
  * survivors with updated ids on their NEW vectors (row-level equality
  * at unit scale is already spec-pinned in StreamingSpec's CDC test —
  * the audit adds the at-scale cost numbers the spec can't).
  *
  * Usage: runMain graft.tools.AnnCdcAudit [sfDir] [outPath]
  */
object AnnCdcAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf1")
    val outPath = args.lift(1).getOrElse("ANN_CDC_AUDIT.json")
    val spark = Harness.session(Harness.cpus)

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").localCheckpoint(true)
    val seedVecs = emb.filter(col("vec_id") % 10 =!= 0)
      .localCheckpoint(true)
    val n = seedVecs.count()
    val planes = math.max(4, Similarity.autoNPlanes(n, 256L))
    val ml = math.min(40, math.max(3, Similarity.autoNPlanes(n, 4096L)))
    val bf = Hnsw.defaultBucketFn(planes, 64, 9L)
    val idx = java.nio.file.Files
      .createTempDirectory("graft-ann-cdc-audit").toString + "/idx"
    val seedSec = timeSec {
      Hnsw.saveIndex(idx, seedVecs, "vec_id", "embedding", 9L, ml, 10,
        4, bf, Map("planes" -> planes.toString))
    }
    // held-out insert pool, ranked for deterministic slicing
    val pool = emb.filter(col("vec_id") % 10 === 0)
      .withColumn("__rk",
        row_number().over(Window.orderBy("vec_id")))
      .localCheckpoint(true)
    val poolN = pool.count()
    // driver-side mirror of the surviving id→vector state, updated
    // functionally per batch (corpus-sized DataFrame, localCheckpointed
    // — never collected); the final rebuild verifies against it
    var state = seedVecs
    var usedPool = 0L
    val sizes = Iterator.iterate(16L)(_ * 4)
      .takeWhile(s => s / 4 <= poolN - usedPool).take(4).toSeq
    val batches = sizes.zipWithIndex.map { case (sz, bnum) =>
      val nDel = sz / 2
      val nUpd = sz / 4
      val nIns = sz / 4
      // deterministic victims: lowest-id survivors delete, the next
      // slice updates (reversed vector = same norm, new direction)
      val ranked = state
        .withColumn("__rk", row_number().over(Window.orderBy("vec_id")))
        .localCheckpoint(true)
      val delIds = ranked.filter(col("__rk") <= nDel)
        .select("vec_id").localCheckpoint(true)
      val updVecs = ranked
        .filter(col("__rk") > nDel && col("__rk") <= nDel + nUpd)
        .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
        .localCheckpoint(true)
      val insVecs = pool
        .filter(col("__rk") > usedPool && col("__rk") <= usedPool + nIns)
        .drop("__rk").localCheckpoint(true)
      usedPool += nIns
      // the stream's CDC order: deletes first (update ids ride the
      // delete wave too — delete + re-arrival in one batch)
      val dels = delIds.unionByName(updVecs.select("vec_id"))
        .distinct().localCheckpoint(true)
      var delDeltaRows = 0L
      var delDelta: DataFrame = null
      var dead: DataFrame = null
      // audit instrumentation, outside the timed section
      val preRows = AnnIndex.load(spark, idx)._1("knn").count()
      val delSec = timeSec {
        val (p, _) = AnnIndex.load(spark, idx)
        val out = Hnsw.deleteKnnDeltaIndexed(p("knn"), p("members"),
          p("memdead"), dels, "vec_id", 10,
          AnnIndex.partBatches(spark, idx, "members"))
        delDelta = out._1.localCheckpoint(true)
        dead = out._2
        delDeltaRows = delDelta.count()
      }
      val delAppendSec = timeSec {
        AnnIndex.append(idx, Map("knn" -> delDelta,
          "vectors" -> dels.select(col("vec_id"),
            lit(null).cast(seedVecs.schema("embedding").dataType)
              .as("embedding")),
          "memdead" -> dead))
      }
      // re-read so the insert half sees the post-delete state, then
      // the stream's exact arrival handling
      var insDeltaRows = 0L
      var insDelta: DataFrame = null
      var memDelta: DataFrame = null
      var fresh: DataFrame = null
      val insSec = timeSec {
        val (p, _) = AnnIndex.load(spark, idx)
        // the stream's id-pruned overlap anti-join: the batch's own
        // ids push into the stored vectors scan
        val deduped = updVecs.unionByName(insVecs)
          .dropDuplicates("vec_id").localCheckpoint(true)
        val ids = deduped.select("vec_id").collect()
          .map(_.get(0)).toIndexedSeq
        fresh = deduped
          .join(p("vectors").select("vec_id")
              .filter(col("vec_id").isin(ids: _*)),
            Seq("vec_id"), "left_anti")
          .localCheckpoint(true)
        val out = Hnsw.insertKnnDeltaIndexed(p("knn"), p("members"),
          p("memdead"), fresh, "vec_id", "embedding", 9L, ml, 10, 4,
          bf, AnnIndex.partBatches(spark, idx, "members"))
        insDelta = out._1.localCheckpoint(true)
        memDelta = out._2
        insDeltaRows = insDelta.count()
      }
      val insAppendSec = timeSec {
        AnnIndex.append(idx,
          Map("knn" -> insDelta, "vectors" -> fresh,
            "members" -> memDelta))
      }
      state = state
        .join(dels, Seq("vec_id"), "left_anti")
        .unionByName(fresh)
        .localCheckpoint(true)
      s"""{"batch":$bnum,"deletes":$nDel,"updates":$nUpd,""" +
        s""""inserts":$nIns,"index_rows_before":$preRows,""" +
        s""""del_delta_rows":$delDeltaRows,""" +
        s""""del_delta_frac":${r3(delDeltaRows.toDouble / preRows)},""" +
        s""""ins_delta_rows":$insDeltaRows,""" +
        s""""ins_delta_frac":${r3(insDeltaRows.toDouble / preRows)},""" +
        s""""del_wall_sec":${r3(delSec)},""" +
        s""""del_append_sec":${r3(delAppendSec)},""" +
        s""""ins_wall_sec":${r3(insSec)},""" +
        s""""ins_append_sec":${r3(insAppendSec)}}"""
    }
    val (finalParts, _) = AnnIndex.load(spark, idx)
    val finalRows = finalParts("knn").count()
    val fullRows = Hnsw.buildKnn(state, "vec_id", "embedding",
      9L, ml, 10, 4, bf).count()
    val stateRows = state.count()
    val vecRows = finalParts("vectors").count()
    // resolved vectors carry exactly the surviving state: same count,
    // no id outside it, updated ids on their NEW vectors (vector match
    // checked via an equi-join on (id, first component))
    val strayRows = finalParts("vectors")
      .join(state.select("vec_id"), Seq("vec_id"), "left_anti").count()
    val vecMatchRows = finalParts("vectors")
      .select(col("vec_id"), col("embedding")(0).as("__c0"))
      .join(state.select(col("vec_id"), col("embedding")(0).as("__c0")),
        Seq("vec_id", "__c0")).count()
    val json = s"""{"sf":"$sfDir","n_seed":$n,"planes":$planes,""" +
      s""""max_level":$ml,"seed_build_save_sec":${r3(seedSec)},""" +
      s""""batches":[${batches.mkString(",")}],""" +
      s""""final_loaded_rows":$finalRows,""" +
      s""""full_rebuild_rows":$fullRows,""" +
      s""""rows_match":${finalRows == fullRows},""" +
      s""""state_rows":$stateRows,"vector_rows":$vecRows,""" +
      s""""stray_vector_rows":$strayRows,""" +
      s""""vector_match_rows":$vecMatchRows,""" +
      s""""vectors_match":${vecRows == stateRows && strayRows == 0L &&
        vecMatchRows == stateRows}}"""
    Harness.emit("ann-cdc-audit", outPath, json)
    spark.stop()
  }
}
