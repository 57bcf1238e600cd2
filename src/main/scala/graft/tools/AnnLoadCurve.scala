package graft.tools

import graft.Harness
import graft.Harness.{r3, timeSec}
import graft.ops.{AnnIndex, Hnsw, Similarity}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Measures the read-side cost [[graft.ops.AnnIndex.compact]] exists
  * to bound: a loaded keyed part resolves latest-batch-wins with one
  * window over the union of ALL batch directories, so read cost grows
  * with the batch count even when the resolved index does not. The
  * sweep appends fixed-size insert deltas (the maintenance stream's
  * chain) and, at each power-of-two batch count, times a full
  * load → resolve → count pass (min of 3 reps); at the end it compacts
  * and times the same pass over the single-batch result, checking the
  * row counts match. The artifact turns "run compact when load's
  * per-batch scans + the keyed window outweigh a rewrite" from prose
  * into a measured crossover curve a deployment can read its own
  * compaction cadence from. r13: the store is the membership-bearing
  * production layout ([[Hnsw.saveIndex]]), appends ride the INDEXED
  * probe chain (knn + vectors + members deltas per batch), and the
  * fold is the generational ledger-aware [[Hnsw.compactIndex]] via
  * [[AnnIndex.compactToNextGen]] — the exact fold the maintenance
  * stream runs, measured instead of the bare two-part rewrite.
  *
  * Usage: runMain graft.tools.AnnLoadCurve [sfDir] [outPath]
  */
object AnnLoadCurve {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf1")
    val outPath = args.lift(1).getOrElse("ANN_LOAD_CURVE.json")
    val spark = Harness.session(Harness.cpus)
    def loadCountSec(path: String): (Double, Long) = {
      var rows = 0L
      val secs = (1 to 3).map { _ =>
        timeSec { rows = AnnIndex.load(spark, path)._1("knn").count() }
      }
      (secs.min, rows)
    }

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").localCheckpoint(true)
    val seedVecs = emb.filter(col("vec_id") % 10 =!= 0)
      .localCheckpoint(true)
    val n = seedVecs.count()
    val planes = math.max(4, Similarity.autoNPlanes(n, 256L))
    val ml = math.min(40, math.max(3, Similarity.autoNPlanes(n, 4096L)))
    val bf = Hnsw.defaultBucketFn(planes, 64, 9L)
    val root = java.nio.file.Files
      .createTempDirectory("graft-ann-load-curve").toString
    val idx = s"$root/idx"
    Hnsw.saveIndex(idx, seedVecs, "vec_id", "embedding", 9L, ml, 10,
      4, bf, Map("planes" -> planes.toString))
    val pool = emb.filter(col("vec_id") % 10 === 0)
      .withColumn("__rk", row_number().over(Window.orderBy("vec_id")))
      .localCheckpoint(true)
    val batchSize = 64L
    val maxAppends = math.min(32L,
      pool.count() / batchSize).toInt
    val measureAt = Iterator.iterate(1)(_ * 2)
      .takeWhile(_ <= maxAppends).toSet
    var used = 0L
    val points = Seq.newBuilder[String]
    val (sec0, rows0) = loadCountSec(idx)
    points += s"""{"appends":0,"load_count_sec":${r3(sec0)},""" +
      s""""rows":$rows0}"""
    (1 to maxAppends).foreach { b =>
      val arrivals = pool
        .filter(col("__rk") > used && col("__rk") <= used + batchSize)
        .drop("__rk").localCheckpoint(true)
      used += batchSize
      val (p, _) = AnnIndex.load(spark, idx)
      val (delta, memDelta) = Hnsw.insertKnnDeltaIndexed(p("knn"),
        p("members"), p("memdead"), arrivals, "vec_id", "embedding",
        9L, ml, 10, 4, bf, AnnIndex.partBatches(spark, idx, "members"))
      AnnIndex.append(idx, Map("knn" -> delta.localCheckpoint(true),
        "vectors" -> arrivals, "members" -> memDelta))
      if (measureAt(b)) {
        val (s, r) = loadCountSec(idx)
        points +=
          s"""{"appends":$b,"load_count_sec":${r3(s)},"rows":$r}"""
      }
    }
    // the maintenance stream's actual fold: generational + ledger-aware
    val (secF, rowsF) = loadCountSec(idx)
    val compactSec = timeSec {
      AnnIndex.compactToNextGen(spark, idx, Hnsw.compactIndex)
    }
    val (secC, rowsC) = loadCountSec(idx)
    val json = s"""{"sf":"$sfDir","n_seed":$n,"planes":$planes,""" +
      s""""max_level":$ml,"batch_size":$batchSize,""" +
      s""""points":[${points.result().mkString(",")}],""" +
      s""""compact_sec":${r3(compactSec)},""" +
      s""""compacted_load_count_sec":${r3(secC)},""" +
      s""""appended_load_count_sec":${r3(secF)},""" +
      s""""rows_match":${rowsC == rowsF}}"""
    Harness.emit("ann-load-curve", outPath, json)
    spark.stop()
  }
}
