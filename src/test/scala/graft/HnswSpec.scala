package graft

import graft.ops.{Hnsw, Similarity}
import org.apache.spark.sql.functions._

/** HNSW-style layered ANN (ops/Hnsw.scala): replayable level walk,
  * banded-bucket layered adjacency, fixed-step batch beam search. */
class HnswSpec extends SparkSpec {
  import spark.implicits._

  // a clusterable corpus: 8 well-separated unit directions in 8-d, each
  // with 30 jittered members — the regime a graph index is FOR
  private def clustered = (0 until 240).map { i =>
    val c = i % 8
    val v = Array.tabulate(8)(j =>
      (if (j == c) 1.0f else 0.0f) +
        (math.sin(i * 7.31 + j) * 0.05).toFloat)
    (i.toLong, v.toSeq)
  }

  test("assignLevels: deterministic, bounded, geometric-ish halving") {
    val df = spark.range(4000).select(col("id"))
    val lv = Hnsw.assignLevels(df, "id", seed = 9, maxLevel = 3)
      .groupBy("level").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(lv.keySet.subsetOf(Set(0, 1, 2, 3)))
    // P(level ≥ 1) = 1/2, ≥2 = 1/4, ≥3 = 1/8 (level 3 absorbs the tail)
    val ge1 = lv.filterKeys(_ >= 1).values.sum.toDouble / 4000
    val ge3 = lv.getOrElse(3, 0L).toDouble / 4000
    assert(math.abs(ge1 - 0.5) < 0.05, s"P(>=1)=$ge1")
    assert(math.abs(ge3 - 0.125) < 0.03, s"P(>=3)=$ge3")
    // replay: identical on a second run (pure function of (id, seed))
    val again = Hnsw.assignLevels(df, "id", seed = 9, maxLevel = 3)
      .groupBy("level").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(again == lv)
  }

  test("buildAdjacency: symmetric, self-loop-free, members-only, " +
    "vectors embedded") {
    val corpus = clustered.toDF("id", "v")
    val adj = Hnsw.buildAdjacency(corpus, "id", "v", seed = 9,
      maxLevel = 2, m = 4, bands = 2,
      Hnsw.defaultBucketFn(nPlanes = 3, dim = 8, seed = 9))
    val edges = adj.select("lvl", "src", "dst").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(edges.nonEmpty)
    assert(edges.forall { case (_, s, d) => s != d }, "self loop")
    assert(edges.forall { case (l, s, d) => edges.contains((l, d, s)) },
      "reverse edge missing")
    // layer ℓ edges only among level ≥ ℓ members
    val lv = Hnsw.assignLevels(corpus.select(col("id")), "id", 9, 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(edges.forall { case (l, s, d) => lv(s) >= l && lv(d) >= l })
    // embedded vector is the destination's corpus vector
    val one = adj.limit(1).collect()(0)
    val dvec = one.getSeq[Float](3)
    assert(dvec == clustered.find(_._1 == one.getLong(2)).get._2)
  }

  test("searchTopK: contract shape, determinism, cosine bounded by " +
    "brute-force, high recall on a clusterable corpus") {
    val corpus = clustered.toDF("id", "v")
    val queries = (0 until 16).map { i =>
      val c = i % 8
      (1000L + i, Array.tabulate(8)(j =>
        (if (j == c) 1.0f else 0.0f) +
          (math.cos(i * 3.7 + j) * 0.05).toFloat).toSeq)
    }.toDF("qid", "qv")
    def run() = Hnsw.hnswTopK(corpus, queries, "id", "v", "qid", "qv",
      k = 3, seed = 9, maxLevel = 2, m = 6, bands = 2, steps = 2,
      ef = 6, nPlanes = 3, dim = 8)
    val out = run().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    // shape: ≤k ranked rows per query, ranks contiguous, cos descending
    val byQ = out.groupBy(_._1)
    assert(byQ.size == 16)
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to rows.length))
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sortBy(-_).toSeq)
    }
    // determinism: bit-identical second run
    val again = run().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(out.toSet == again.toSet)
    // never better than exact, and on clusterable data the top-1 IS the
    // exact nearest for nearly every query
    val exact = Similarity.bruteForceTopK(corpus, queries, "id", "v",
        "qid", "qv", k = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val top1 = byQ.view.mapValues(_.minBy(_._4)).toMap
    top1.foreach { case (q, (_, id, c, _)) =>
      assert(c <= exact(q)._2 + 1e-6, s"q $q: $c > exact ${exact(q)._2}")
    }
    val hit = top1.count { case (q, (_, id, _, _)) => id == exact(q)._1 }
    assert(hit >= 13, s"recall@1 on clustered corpus: $hit/16")
  }

  test("hnswTopK production path auto-scales planes and levels with " +
    "the corpus (linear-build guardrail) and still answers well") {
    val corpus = clustered.toDF("id", "v")
    val queries = (0 until 8).map { i =>
      (1000L + i, Array.tabulate(8)(j =>
        (if (j == i % 8) 1.0f else 0.0f)).toSeq)
    }.toDF("qid", "qv")
    // tiny targets force the auto path well past the defaults:
    // 240 rows / bucketTarget 8 → 5 planes; headTarget 32 → 3 levels
    val out = Hnsw.hnswTopK(corpus, queries, "id", "v", "qid", "qv",
      k = 2, seed = 9, maxLevel = 1, m = 6, bands = 2, steps = 2,
      ef = 6, nPlanes = 1, dim = 8, bucketTarget = 8, headTarget = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3)))
    assert(out.groupBy(_._1).size == 8)
    val exact = Similarity.bruteForceTopK(corpus, queries, "id", "v",
        "qid", "qv", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hit = out.filter(_._4 == 1)
      .count { case (q, id, _, _) => exact(q) == id }
    assert(hit >= 6, s"auto-path recall@1: $hit/8")
  }

  test("buildWorkCounters equals an independent Σ n·(n−1) over the " +
    "same banded buckets; searchTopKCounted(counted) returns the " +
    "identical result plus exact init work") {
    val corpus = clustered.toDF("id", "v")
    val bf = Hnsw.defaultBucketFn(nPlanes = 3, dim = 8, seed = 9)
    val counters = Hnsw.buildWorkCounters(corpus, "id", "v", seed = 9,
        maxLevel = 2, bands = 2, bf)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // independent recomputation from the PUBLIC pieces: level walk,
    // per-layer membership, per-band bucket assignment
    val base = corpus.select(col("id").cast("long").as("vid"),
      col("v"))
    val mem = base.join(
        Hnsw.assignLevels(base.select("vid"), "vid", 9, 2), "vid")
      .select(explode(sequence(lit(0), col("level"))).as("lvl"),
        col("vid"), col("v"))
    for (lvl <- 0 to 2; band <- 0 to 1) {
      val ns = mem.filter(col("lvl") === lvl)
        .select(bf(lvl, band, col("v")).as("bkt"))
        .groupBy("bkt").count()
        .collect().map(_.getLong(1))
      val expected = (ns.length.toLong, ns.sum,
        ns.map(n => n * (n - 1)).sum)
      assert(counters((lvl, band)) == expected,
        s"(lvl=$lvl band=$band): ${counters((lvl, band))} != $expected")
    }
    // counted search: same rows as the uncounted path, init work =
    // |queries| × |head|, beam counters present for every (lvl, step)
    val queries = (0 until 8).map { i =>
      (1000L + i, Array.tabulate(8)(j =>
        (if (j == i % 8) 1.0f else 0.0f)).toSeq)
    }.toDF("qid", "qv")
    val adj = Hnsw.buildAdjacency(corpus, "id", "v", 9, 2, 4, 2, bf)
      .localCheckpoint(true)
    val plain = Hnsw.searchTopK(adj, corpus, "id", "v", queries,
      "qid", "qv", 9, 2, 2, 6, 3).collect().map(_.toSeq).toSet
    val (countedDf, work) = Hnsw.searchTopKCounted(adj, corpus, "id",
      "v", queries, "qid", "qv", 9, 2, 2, 6, 3, counted = true)
    assert(countedDf.collect().map(_.toSeq).toSet == plain)
    val headN = base
      .join(Hnsw.assignLevels(base.select("vid"), "vid", 9, 2), "vid")
      .filter(col("level") >= 2).count()
    val init = work.filter(_.phase == "init")
    assert(init.map(w => (w.lvl, w.step, w.cand_cos)) ==
      Seq((2, -1, 8 * headN)))
    val beam = work.filter(_.phase == "beam")
    assert(beam.map(w => (w.lvl, w.step)) ==
      (2 to 0 by -1).flatMap(l => Seq((l, 0), (l, 1))))
    assert(beam.forall(_.cand_cos >= 0) && beam.map(_.cand_cos).sum > 0)
  }

  test("insertKnn(buildKnn(A), A, B) ≡ buildKnn(A ∪ B) row-for-row " +
    "including cosines, for several splits; the adjacency derived " +
    "from the inserted kNN matches buildAdjacency the same way") {
    val all = clustered.toDF("id", "v")
    val bf = Hnsw.defaultBucketFn(nPlanes = 3, dim = 8, seed = 9)
    def knnSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    val full = knnSet(Hnsw.buildKnn(all, "id", "v", 9, 2, 4, 2, bf))
    // splits: tail batch, interleaved, tiny arrival batch
    for (pred <- Seq[org.apache.spark.sql.Column => org.apache.spark.sql.Column](
        c => c < 180, c => c % 3 =!= 1, c => c < 232)) {
      val a = all.filter(pred(col("id")))
      val b = all.filter(!pred(col("id")))
      val oldKnn = Hnsw.buildKnn(a, "id", "v", 9, 2, 4, 2, bf)
      val merged = knnSet(Hnsw.insertKnn(oldKnn, a, b, "id", "v", 9,
        2, 4, 2, bf))
      assert(merged == full, s"insertKnn diverged from full build " +
        s"(split sizes ${a.count()}/${b.count()}): " +
        s"missing ${(full -- merged).take(3)}, " +
        s"extra ${(merged -- full).take(3)}")
    }
    // adjacency equivalence carries over (sym + dvec are derived)
    val a = all.filter(col("id") % 3 =!= 1)
    val b = all.filter(col("id") % 3 === 1)
    val oldKnn = Hnsw.buildKnn(a, "id", "v", 9, 2, 4, 2, bf)
    def adjSet(df: org.apache.spark.sql.DataFrame) =
      df.select("lvl", "src", "dst").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val inserted = Hnsw.insertKnn(oldKnn, a, b, "id", "v", 9, 2, 4, 2,
      bf)
    assert(adjSet(Hnsw.adjacencyFromKnn(inserted, all, "id", "v")) ==
      adjSet(Hnsw.buildAdjacency(all, "id", "v", 9, 2, 4, 2, bf)))
  }

  test("deleteKnn(buildKnn(A), A, D) ≡ buildKnn(A ∖ D) row-for-row " +
    "including cosines, for several delete sets (exact repair: only " +
    "edge-losing groups recompute)") {
    val all = clustered.toDF("id", "v")
    val bf = Hnsw.defaultBucketFn(nPlanes = 3, dim = 8, seed = 9)
    val fullKnn = Hnsw.buildKnn(all, "id", "v", 9, 2, 4, 2, bf)
      .localCheckpoint(true)
    def knnSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    import spark.implicits._
    // scattered ids, a whole residue class, a single hot vector
    for (delIds <- Seq(Seq(5L, 77L, 160L, 231L),
        (0L until 240L).filter(_ % 4 == 2),
        Seq(0L))) {
      val d = delIds.toDF("id")
      val kept = all.join(d, Seq("id"), "left_anti")
      val viaDelete = knnSet(Hnsw.deleteKnn(fullKnn, all, d, "id", "v",
        9, 2, 4, 2, bf))
      val rebuilt = knnSet(Hnsw.buildKnn(kept, "id", "v", 9, 2, 4, 2,
        bf))
      assert(viaDelete == rebuilt,
        s"delete ${delIds.take(4)}…: missing " +
          s"${(rebuilt -- viaDelete).take(3)}, extra " +
          s"${(viaDelete -- rebuilt).take(3)}")
      // no deleted id survives anywhere in the index
      assert(viaDelete.forall { case (_, s2, d2, _) =>
        !delIds.contains(s2) && !delIds.contains(d2) })
    }
  }

}
