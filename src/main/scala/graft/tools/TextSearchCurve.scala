package graft.tools

import graft.Harness
import graft.Harness.{r3, timeSec}
import graft.ops.{AnnIndex, TextIndex}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SERVING-side scale evidence for the persisted BM25 index — the
  * text sibling of [[AnnSearchCurve]] and the half [[TextIndexAudit]]
  * doesn't measure: a FIXED 16-query set (3 terms each, drawn
  * deterministically across the seed index's df spectrum) answered
  * through the full production read path (`TextIndex.search` →
  * `AnnIndex.load` + term-pruned postings scan + deletion-ledger
  * join), measured
  *
  *  - BEFORE a fold, against the state a store is actually in
  *    mid-day: seed + `appends` incremental append batches, a 1%
  *    delete on the ledger, and a batch of CDC updates through
  *    `TextIndex.applyCdc` (so the ledger holds retired versions, not
  *    just deleted ones);
  *  - AFTER `TextIndex.compact` folds it to single-batch form with
  *    an empty ledger — the post-merge steady state;
  *
  * each as min-of-3 walls, plus the exact MATCHED-POSTINGS row count
  * (Σ df over the 48 query terms — the rows that actually enter the
  * score agg) against the TOTAL postings rows. BM25's serving
  * economics differ from ANN's: matched rows grow ∝ df ∝ corpus for
  * a fixed query set (there is no head-scan cap to hold them flat) —
  * the scale claim is the RATIO: the scan is term-pruned
  * (PushedFilters, plan-ratcheted in PlanShapeSpec), so a query
  * reads its terms' postings, never the index, and the matched
  * fraction stays a small constant across corpus decades while the
  * per-doc score agg — the only wide stage — is the
  * partition-parallel dimension on a real cluster.
  *
  * A third decade is synthesized with `grow`: each doc replicated
  * `grow`× under distinct ids with IDENTICAL text — exactly how df
  * and N behave when a corpus decade arrives (stated in the
  * artifact as grow, like [[AnnStreamAudit]]).
  *
  * Usage: runMain graft.tools.TextSearchCurve [sfDir] [outPath]
  *        [grow] [appends]
  */
object TextSearchCurve {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf1")
    val outPath = args.lift(1).getOrElse("TEXT_SEARCH_CURVE.json")
    val grow = args.lift(2).map(_.toInt).getOrElse(1)
    val appends = args.lift(3).map(_.toInt).getOrElse(4)
    val spark = Harness.session(Harness.cpus)

    val base = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val docs = (if (grow <= 1) base
      else (0 until grow).map(g => base.select(
          (col("doc_id") * grow + g).as("doc_id"), col("text")))
        .reduce(_ unionByName _)).localCheckpoint(true)
    val seed = docs.filter(col("doc_id") % 10 =!= 0)
      .localCheckpoint(true)
    val nSeed = seed.count()
    val root = java.nio.file.Files
      .createTempDirectory("graft-text-search-curve").toString
    val idx = s"$root/idx"
    TextIndex.save(idx, seed, "doc_id", "text")

    // the mid-day batch list: `appends` equal slices of the held-out
    // pool, each through the production append (additive deltas)
    val pool = docs.filter(col("doc_id") % 10 === 0)
      .withColumn("__rk", row_number().over(Window.orderBy("doc_id")))
      .localCheckpoint(true)
    val poolN = pool.count()
    val slice = math.max(1L, poolN / appends)
    (0 until appends).foreach { a =>
      val arrivals = pool
        .filter(col("__rk") > a * slice &&
          col("__rk") <= math.min((a + 1L) * slice, poolN))
        .drop("__rk")
      TextIndex.append(spark, idx, arrivals, "doc_id", "text")
    }
    // live-docs delete (1% of seed) + CDC updates (~0.2% of seed:
    // the old version retired on the ledger, the replacement indexed
    // in the same append) so the pre-fold search pays the full
    // mid-day read path
    val delIds = seed.select("doc_id")
      .filter(pmod(col("doc_id"), lit(97L)) === 3)
    TextIndex.delete(spark, idx, delIds, "doc_id")
    val updates = seed
      .filter(pmod(col("doc_id"), lit(499L)) === 7)
      .select(col("doc_id"),
        concat(lit("updated revision "), col("text")).as("text"))
      .localCheckpoint(true)
    val nUpd = updates.count()
    TextIndex.applyCdc(spark, idx, updates.select("doc_id"), updates,
      "doc_id", "text")

    // fixed query set: 48 terms at deterministic ranks across the
    // SEED df spectrum (rank 8, 16, 24, ... by df desc, term asc) —
    // skips only the degenerate head, covers common through mid-tail
    val termdf = AnnIndex.load(spark, idx)._1("termdf")
      .groupBy(col("term")).agg(sum(col("df_delta")).as("df"))
    val ranked = termdf.withColumn("__r", row_number().over(
      Window.orderBy(desc("df"), asc("term"))))
    val terms = ranked.filter(col("__r") % 8 === 0 && col("__r") <= 384)
      .orderBy("__r").select("term").collect().map(_.getString(0))
    require(terms.length >= 3, "query pool too small")
    val queries = terms.grouped(3).filter(_.length == 3)
      .map(_.mkString(" ")).toSeq

    def measure(path: String): (Seq[Double], Long, Long) = {
      val walls = (1 to 3).map { _ =>
        r3(timeSec {
          queries.foreach(q =>
            TextIndex.search(spark, path, q, 10).collect())
        })
      }
      val (parts, _) = AnnIndex.load(spark, path)
      val total = parts("postings").count()
      val matched = parts("postings")
        .filter(col("term").isin(terms.toSeq: _*)).count()
      (walls, matched, total)
    }

    val (preW, preM, preT) = measure(idx)
    val folded = s"$root/idx_folded"
    val foldSec = timeSec { TextIndex.compact(spark, idx, folded) }
    val (postW, postM, postT) = measure(folded)

    def side(w: Seq[Double], m: Long, t: Long, batches: Long): String =
      s"""{"batches":$batches,"walls_sec":[${w.mkString(",")}],""" +
        s""""wall_sec":${w.min},"matched_postings":$m,""" +
        s""""total_postings":$t,""" +
        s""""matched_frac":${r3(m.toDouble / t)}}"""
    val json = s"""{"sf":"$sfDir","grow":$grow,"n_seed":$nSeed,""" +
      s""""appends":$appends,"n_updates":$nUpd,""" +
      s""""queries":${queries.length},"terms":${terms.length},""" +
      s""""fold_sec":${r3(foldSec)},""" +
      s""""pre_fold":${side(preW, preM, preT,
        AnnIndex.maxBatches(spark, idx))},""" +
      s""""post_fold":${side(postW, postM, postT, 1L)}}"""
    Harness.emit("text-search-curve", outPath, json)
    spark.stop()
  }
}
