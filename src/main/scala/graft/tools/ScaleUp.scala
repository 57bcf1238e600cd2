package graft.tools

import graft.Harness
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-rehearsal data builder: derive an sf1-scale dataset (10× rows)
  * from the driver's sf0.1 parquet by replicating every fact table with
  * per-replica key offsets. Structure-preserving on purpose:
  *
  *  - every surrogate/foreign key is offset by `replica × 10⁷`, so joins
  *    stay consistent and per-key group sizes stay CONSTANT while key
  *    cardinality grows 10× — the scaling model of a real corpus (more
  *    subjects/docs, not fatter ones);
  *  - document texts get a per-replica LETTER TRANSLITERATION (a seeded
  *    permutation of a-z via `translate`): a bijection on words, so
  *    within-replica duplicate/near-dup structure, word lengths and word
  *    frequencies are preserved exactly, while cross-replica vocabularies
  *    are (almost surely) disjoint — near-dup pair counts replicate
  *    linearly. Two rejected variants, kept as a warning: a word
  *    PERMUTATION preserves the token multiset, so order-invariant
  *    signatures (SimHash) and within-word shingles made every doc a
  *    10-way cross-replica near-dup family (pair outputs quadratic in
  *    replicas — measured 19× at 10× data); hex-token SUBSTITUTION
  *    (word → hex(xxhash64)) collapsed the alphabet to 16 chars, which
  *    raised the baseline shingle Jaccard between UNRELATED docs and blew
  *    the LSH candidate set up corpus-wide (q78 0.8 s → 201 s);
  *  - embeddings are circularly shifted by the replica index (norms and
  *    pairwise geometry within a replica preserved, cross-replica exact
  *    duplicates avoided);
  *  - dimension tables (region, nation) are NOT scaled — dims stay small
  *    at any scale.
  *
  * Usage: runMain graft.tools.ScaleUp [srcDir] [outDir] [replicas]
  * (defaults /root/testdata/sf0.1 → /tmp/sf1 × 10).
  */
object ScaleUp {
  private val alphabet = "abcdefghijklmnopqrstuvwxyz"

  /** Seeded Fisher-Yates permutation of a-z (splitmix64 draws). */
  private def permutedAlphabet(k: Int): String = {
    val a = alphabet.toCharArray
    var i = a.length - 1
    while (i > 0) {
      val h = graft.core.Hashing.splitmix64(k.toLong * 131 + i)
      val j = (((h % (i + 1)) + (i + 1)) % (i + 1)).toInt
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    new String(a)
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/sf1"
    val reps = if (args.length > 2) args(2).toInt else 10
    val spark = Harness.session(Harness.cpus)
    val OFF = 10000000L

    def rd(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    def wr(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
    /** Union `reps` copies of `df`, each transformed with its replica
      * index. */
    def replicate(df: DataFrame)(f: (DataFrame, Int) => DataFrame)
        : DataFrame =
      (0 until reps).map(k => f(df, k)).reduce(_ unionByName _)
    def off(k: Int)(c: String) = (col(c) + lit(k * OFF)).as(c)

    // dims: single copy
    wr(rd("region"), "region")
    wr(rd("nation"), "nation")

    wr(replicate(rd("customer")) { (df, k) =>
      df.select(off(k)("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"), col("c_mktsegment"))
    }, "customer")

    wr(replicate(rd("supplier")) { (df, k) =>
      df.select(off(k)("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("s_acctbal"))
    }, "supplier")

    wr(replicate(rd("part")) { (df, k) =>
      df.select(off(k)("p_partkey"), col("p_name"), col("p_brand"),
        col("p_type"), col("p_size"), col("p_retailprice"))
    }, "part")

    wr(replicate(rd("orders")) { (df, k) =>
      df.select(off(k)("o_orderkey"), off(k)("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"))
    }, "orders")

    wr(replicate(rd("lineitem")) { (df, k) =>
      df.select(off(k)("l_orderkey"), off(k)("l_partkey"),
        off(k)("l_suppkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate"))
    }, "lineitem")

    wr(replicate(rd("events")) { (df, k) =>
      df.select(off(k)("event_id"), col("ts"), off(k)("user_id"),
        col("event_type"), col("value"), col("props"))
    }, "events")

    wr(replicate(rd("documents")) { (df, k) =>
      val text =
        if (k == 0) col("text")
        else translate(col("text"), alphabet, permutedAlphabet(k))
      df.select(off(k)("doc_id"), text.as("text"), col("lang"),
        col("source"), col("n_chars"))
    }, "documents")

    wr(replicate(rd("embeddings")) { (df, k) =>
      val r = k % 64
      val emb =
        if (r == 0) col("embedding")
        else concat(slice(col("embedding"), r + 1, 64 - r),
          slice(col("embedding"), 1, r))
      df.select(off(k)("vec_id"), emb.as("embedding"), col("label"))
    }, "embeddings")

    println(s"[scaleup] wrote $out (${reps}x $src)")
    spark.stop()
  }
}
