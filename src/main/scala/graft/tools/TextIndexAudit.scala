package graft.tools

import graft.Harness
import graft.Harness.{r3, timeSec}
import graft.ops.{AnnIndex, TextIndex, TextOps}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cost-curve audit for the persisted BM25 index — the text-side
  * sibling of [[AnnStreamAudit]]/[[AnnCdcAudit]]. Seeds an index with
  * 90% of the documents table, then measures, swept instead of
  * asserted:
  *
  *  - geometric INSERT batches through [[TextIndex.append]]: the
  *    append wall and the posting-delta row count — the additive-delta
  *    claim says both are ∝ the batch's text volume, NEVER the index
  *    (there is no analogue of the ANN loop's touched-group rewrite:
  *    nothing stored is ever recomputed);
  *  - one DELETE batch through [[TextIndex.delete]]: ids-sized write,
  *    wall recorded;
  *  - one [[TextIndex.compact]] (the Lucene merge): wall recorded —
  *    the only index-sized operation in the lifecycle, and the thing
  *    `compactEvery` amortizes;
  *  - final identity: post-compact search equals
  *    `save(survivors ∪ all arrivals)` on a 3-term query (row-for-row
  *    with scores — the spec's equality, re-checked at scale).
  *
  * Usage: runMain graft.tools.TextIndexAudit [sfDir] [outPath]
  */
object TextIndexAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf1")
    val outPath = args.lift(1).getOrElse("TEXTINDEX_AUDIT.json")
    val spark = Harness.session(Harness.cpus)

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").localCheckpoint(true)
    val seed = docs.filter(col("doc_id") % 10 =!= 0)
      .localCheckpoint(true)
    val nSeed = seed.count()
    val root = java.nio.file.Files
      .createTempDirectory("graft-textindex-audit").toString
    val idx = s"$root/idx"
    val seedSec = timeSec {
      TextIndex.save(idx, seed, "doc_id", "text")
    }
    val seedPostings = AnnIndex.load(spark, idx)._1("postings").count()
    val pool = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("__rk", row_number().over(Window.orderBy("doc_id")))
      .localCheckpoint(true)
    val poolN = pool.count()
    val sizes = Iterator.iterate(16L)(_ * 4)
      .takeWhile(_ <= poolN).take(5).toSeq
    var used = 0L
    val batches = sizes.zipWithIndex.map { case (sz, bnum) =>
      val take = math.min(sz, poolN - used)
      val arrivals = pool
        .filter(col("__rk") > used && col("__rk") <= used + take)
        .drop("__rk").localCheckpoint(true)
      used += take
      var appended = 0L
      val appendSec = timeSec {
        appended = TextIndex.append(spark, idx, arrivals,
          "doc_id", "text")
      }
      // the delta's posting rows = the batch's text volume, read from
      // the batch directory the append just wrote (b<last>)
      val nb = AnnIndex.maxBatches(spark, idx) - 1
      val deltaPostings = spark.read.parquet(s"$idx/postings/b$nb")
        .count()
      s"""{"batch":$bnum,"arrivals":$take,"appended":$appended,""" +
        s""""delta_postings":$deltaPostings,""" +
        s""""postings_frac":${r3(
          deltaPostings.toDouble / seedPostings)},""" +
        s""""append_wall_sec":${r3(appendSec)}}"""
    }
    // delete 1% of the seed, then merge
    val delIds = seed.select("doc_id")
      .filter(pmod(col("doc_id"), lit(97L)) === 3)
      .localCheckpoint(true)
    val nDel = delIds.count()
    val delSec = timeSec {
      TextIndex.delete(spark, idx, delIds, "doc_id")
    }
    val merged = s"$root/idx_merged"
    val compactSec = timeSec {
      TextIndex.compact(spark, idx, merged)
    }
    // identity at scale: merged search == save(survivors ∪ arrivals)
    val survivors = seed.join(delIds, Seq("doc_id"), "left_anti")
      .unionByName(pool.filter(col("__rk") <= used).drop("__rk"))
      .localCheckpoint(true)
    val want = s"$root/idx_want"
    TextIndex.save(want, survivors, "doc_id", "text")
    val q = "merge window sort"
    val got = TextIndex.search(spark, merged, q, 50)
      .collect().map(_.toSeq).toSeq
    val exp = TextIndex.search(spark, want, q, 50)
      .collect().map(_.toSeq).toSeq
    val json = s"""{"sf":"$sfDir","n_seed":$nSeed,""" +
      s""""seed_postings":$seedPostings,""" +
      s""""seed_save_sec":${r3(seedSec)},""" +
      s""""batches":[${batches.mkString(",")}],""" +
      s""""n_deleted":$nDel,"delete_wall_sec":${r3(delSec)},""" +
      s""""compact_wall_sec":${r3(compactSec)},""" +
      s""""search_rows":${got.length},""" +
      s""""search_match":${got == exp}}"""
    Harness.emit("textindex-audit", outPath, json)
    spark.stop()
  }
}
