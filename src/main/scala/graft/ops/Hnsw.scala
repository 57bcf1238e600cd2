package graft.ops

import graft.expressions.{AggregateFunctions, VectorFunctions}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HNSW-style LAYERED navigable ANN, re-expressed for Spark's batch
  * model (the last common production ANN shape next to the LSH / IVF /
  * IVF-PQ / int8 family in [[Similarity]]). True HNSW (Malkov &
  * Yashunin, 1603.09320) is a sequential insert-and-greedy-search
  * structure; the batch re-expression keeps its two load-bearing ideas
  * — geometric level assignment (a logarithmic hierarchy of sparser
  * and sparser layers) and greedy/beam descent through the layers —
  * and replaces sequential insertion with a BULK layered kNN-graph
  * build:
  *
  *  - levels: each vector draws level ℓ ~ Geometric(1/2) from a seeded
  *    48-bit md5 digit walk, compared on EXACT integer thresholds
  *    (level ≥ ℓ ⇔ leading ℓ bits zero) — deterministic, replayable,
  *    no stored randomness. Layer ℓ holds every vector with level ≥ ℓ.
  *  - adjacency: per layer, each member links to its top-M neighbors
  *    by (round-6 cosine DESC, id ASC) among BANDED sign-bucket
  *    candidates (several independent hyperplane families — the extra
  *    bands restore the cross-bucket connectivity a single partition
  *    of bucket cells would lose), symmetrized with reverse edges.
  *    Never all-pairs: candidates meet in a (layer, band, bucket)
  *    equi-join, and the top-M rank is the map-side-combinable
  *    [[AggregateFunctions.topKByScore]] aggregate. Neighbor VECTORS
  *    are embedded into the adjacency rows once at build time, so the
  *    search loop never touches the corpus table again.
  *  - search: ALL queries descend together — beam search with a fixed
  *    `ef`-wide frontier and a FIXED number of expansion steps per
  *    layer (the replay discipline: no convergence test). Each step is
  *    one equi-join of the (query, frontier) state against the layer's
  *    adjacency plus one top-ef rank; state is ≤ |queries|·ef rows
  *    throughout, checkpointed per layer to truncate lineage.
  *
  * 100 TB posture: the build is the bucketed-kNN shape already proven
  * for [[Similarity.knnGraph]] (bounded equi-join candidates, k-bounded
  * partial-agg exchanges); the search touches only the adjacency
  * (layer-partitioned equi-joins on the frontier) and a broadcast of
  * the query vectors — corpus-size-independent per step. Recall is the
  * tunable LSH-band trade, measured end-to-end by
  * [[Similarity.recallAtK]] (the q231 contract query).
  *
  * Determinism: every comparison happens on 6-dp-rounded cosines with
  * id tie-breaks, levels/buckets are integer arithmetic over md5 — the
  * whole pipeline replays bit-for-bit in an external engine (the
  * q75/q78/q82 twin discipline, applied to the full build+search). */
object Hnsw {

  /** (id, level): level ℓ ∈ [0, maxLevel], P(level ≥ ℓ) = 2^-ℓ via the
    * replayable md5 digit walk — `hx` is the first 12 hex digits of
    * md5("id:seed") as a 48-bit integer; level ≥ ℓ ⇔ hx < 2^(48-ℓ)
    * (exact integer compares, no FP thresholds). */
  def assignLevels(df: DataFrame, idCol: String, seed: Long,
      maxLevel: Int): DataFrame = {
    require(maxLevel >= 0 && maxLevel <= 40, s"maxLevel $maxLevel")
    val hx = conv(substring(md5(concat(col(idCol).cast("string"),
      lit(":" + seed)).cast("binary")), 1, 12), 16, 10).cast("bigint")
    var lvl: Column = lit(0)
    var l = 1
    while (l <= maxLevel) {
      lvl = when(hx < lit(1L << (48 - l)), lit(l)).otherwise(lvl)
      l += 1
    }
    df.withColumn("level", lvl)
  }

  /** Default production bucket family: seeded xxhash64 hyperplanes,
    * one independent family per band, COARSENED with height — layer ℓ
    * uses max(1, nPlanes − ℓ) planes. Layer populations halve per
    * level while bucket counts halve too, so per-bucket candidate
    * work is CONSTANT across layers, and the top layer is near-fully
    * connected — the long-range links that let the descent cross
    * cluster boundaries (a single plane count per layer leaves
    * strongly-clustered corpora as disconnected per-cluster islands
    * the beam can never leave). */
  def defaultBucketFn(nPlanes: Int, dim: Int, seed: Long)
      : (Int, Int, Column) => Column =
    (lvl, band, v) => Similarity.hyperplaneBucket(v,
      math.max(1, nPlanes - lvl), dim, seed * 1000 + band)

  /** Layered adjacency `(lvl, src, dst, dvec)`: per layer, top-M
    * neighbors by (round-6 cos DESC, dst ASC) among banded-bucket
    * candidates, symmetrized, with the destination vector embedded.
    * `bucketFn(band, vec)` is overridable for engine-replayable
    * families (the q82 twin discipline) — everything downstream of the
    * bucket column is identical production code. Ids must be castable
    * to long (the state/rank currency of the ANN family). */
  /** The (lvl, band, bkt, vid, v) banded membership relation both the
    * adjacency build and its work audit derive from: every corpus
    * vector, replicated to each layer ≤ its level and each band, keyed
    * by that band's (coarsened-with-height) bucket. */
  private def bandedMembers(vecs: DataFrame, idCol: String,
      vecCol: String, seed: Long, maxLevel: Int, bands: Int,
      bucketFn: (Int, Int, Column) => Column): DataFrame = {
    val base = vecs.select(col(idCol).cast("long").as("vid"),
      col(vecCol).as("v"))
    val lv = assignLevels(base.select("vid"), "vid", seed, maxLevel)
    val mem = base.join(lv, "vid")
      .select(explode(sequence(lit(0), col("level"))).as("lvl"),
        col("vid"), col("v"))
    // the bucket family varies by layer (coarsening) — dispatch on the
    // lvl column with a generated when-chain per band
    val bandStructs = (0 until bands).map { b =>
      var e: Column = lit(null)
      var l = 0
      while (l <= maxLevel) {
        e = when(col("lvl") === l, bucketFn(l, b, col("v"))).otherwise(e)
        l += 1
      }
      struct(lit(b).as("band"), e.as("bkt"))
    }
    mem
      .select(col("lvl"), col("vid"), col("v"),
        explode(array(bandStructs: _*)).as("bb"))
      .select(col("lvl"), col("bb.band").as("band"),
        col("bb.bkt").as("bkt"), col("vid"), col("v"))
  }

  /** MEASURED build work, per (lvl, band): bucket count, member rows,
    * and `cand_cos` — the exact number of candidate-cosine evaluations
    * the banded bucket join feeds the top-M aggregate (Σ_buckets
    * n·(n−1); both directions, self-pairs excluded — the row count of
    * the `pairs` relation in [[buildAdjacency]], computed from the
    * SAME membership dataflow without running the join). This is the
    * scale audit's primary evidence: at fixed structural params,
    * cand_cos grows quadratically with per-bucket population (the q47
    * fixed-block-count hazard); on the auto-scaled production path it
    * stays ~linear in the corpus because plane count grows to hold
    * per-bucket population at bucketTarget. */
  def buildWorkCounters(vecs: DataFrame, idCol: String, vecCol: String,
      seed: Long, maxLevel: Int, bands: Int,
      bucketFn: (Int, Int, Column) => Column): DataFrame =
    bandedMembers(vecs, idCol, vecCol, seed, maxLevel, bands, bucketFn)
      .groupBy("lvl", "band", "bkt").agg(count(lit(1)).as("n"))
      .groupBy("lvl", "band")
      .agg(count(lit(1)).as("buckets"), sum(col("n")).as("members"),
        sum(col("n") * (col("n") - 1)).as("cand_cos"))
      .orderBy("lvl", "band")

  /** Candidate edges `(lvl, band, src, dst, c)` from a banded-bucket
    * equi-join of two membership relations (both [[bandedMembers]]
    * shaped): every cross pair inside a shared (lvl, band, bkt) cell,
    * self-pairs excluded, cosine rounded to 6 dp at birth. */
  private def pairsOf(lhs: DataFrame, rhs: DataFrame): DataFrame = {
    val l = lhs.select(col("lvl"), col("band"), col("bkt"),
      col("vid").as("src"), col("v").as("__sv"))
    val r = rhs.select(col("lvl"), col("band"), col("bkt"),
      col("vid").as("dst"), col("v").as("__dv"))
    l.join(r, Seq("lvl", "band", "bkt"))
      .filter(col("src") =!= col("dst"))
      .select(col("lvl"), col("band"), col("src"), col("dst"),
        round(VectorFunctions.cosineSimilarity(col("__sv"), col("__dv")),
          6).as("c"))
  }

  /** Global (lvl, src) top-M under (c DESC, dst ASC) over DISTINCT
    * (lvl, src, dst) edges — identical edges carry identical c (the
    * cosine is a pure 6dp-rounded function of the endpoint vectors),
    * so the dedup is sound on the edge key alone, and it runs INSIDE
    * the top-k aggregation buffer ([[AggregateFunctions
    * .topKByScoreDistinct]]): one map-side-combinable exchange where
    * the former `dropDuplicates(lvl, src, dst)` + top-k pattern
    * shuffled the full candidate stream twice (guide §2.4 — two
    * operations keyed the same way share one exchange). */
  private def topMEdges(edges: DataFrame, m: Int): DataFrame =
    edges.groupBy("lvl", "src")
      .agg(AggregateFunctions.topKByScoreDistinct(col("c"), col("dst"),
        m).as("t"))
      .select(col("lvl"), col("src"), explode(col("t")).as("e"))
      .select(col("lvl"), col("src"), col("e.id").as("dst"),
        col("e.score").as("c"))

  /** Top-M in two k-bounded stages so the full candidate-pair stream
    * NEVER crosses an exchange: per-(lvl, band, src) top-M first (the
    * map-side-combinable aggregate — only ≤ M survivors per key reach
    * the wire), then dedup + re-rank over the ≤ members·bands·M union.
    * A pair's cosine is band-invariant, so top-M of the unioned
    * per-band top-Ms equals global top-M over DISTINCT candidates
    * exactly (the standard distributed top-k identity) — the oracle
    * replays the one-stage DISTINCT+rank form and hash-matches. */
  private def topMPerSrc(pairs: DataFrame, m: Int): DataFrame =
    topMEdges(
      pairs.groupBy("lvl", "band", "src")
        .agg(AggregateFunctions.topKByScore(col("c"), col("dst"), m)
          .as("t"))
        .select(col("lvl"), col("src"), explode(col("t")).as("e"))
        .select(col("lvl"), col("src"), col("e.id").as("dst"),
          col("e.score").as("c")),
      m)

  /** The DIRECTED per-layer top-M kNN `(lvl, src, dst, c)` — the
    * build's core relation and the UNIT of incremental maintenance
    * ([[insertKnn]]): cosines are kept so a later insert can merge
    * stored edges with fresh candidates without recomputing them.
    * [[adjacencyFromKnn]] derives the symmetrized search adjacency. */
  def buildKnn(vecs: DataFrame, idCol: String, vecCol: String,
      seed: Long, maxLevel: Int, m: Int, bands: Int,
      bucketFn: (Int, Int, Column) => Column): DataFrame = {
    // NOT pinned, by measurement (r15): the self-join sides each
    // recompute the md5 level walk + hyperplane hashing, but a
    // localCheckpoint here stores the membership DESERIALIZED —
    // corpus × bands × levels rows each carrying the vector — and the
    // paired A/B bench showed the pin SLOWER (q231 16.5 s pinned vs
    // 9.7 s unpinned at equal calibration) plus collateral block-
    // manager/GC pressure on queries sharing the JVM (q257 13.9 vs
    // 10.8). The hashing is cheap relative to materializing the
    // blown-up relation; saveIndex pins its member rows only because
    // the WRITE path must materialize them anyway.
    val withB = bandedMembers(vecs, idCol, vecCol, seed, maxLevel,
      bands, bucketFn)
    topMPerSrc(pairsOf(withB, withB), m)
  }

  /** Symmetrized search adjacency `(lvl, src, dst, dvec)` from a
    * directed kNN: reverse edges unioned in, destination vectors
    * embedded so the beam search never touches the corpus again. */
  def adjacencyFromKnn(knn: DataFrame, vecs: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val base = vecs.select(col(idCol).cast("long").as("vid"),
      col(vecCol).as("v"))
    val sym = knn.select("lvl", "src", "dst").unionByName(
        knn.select(col("lvl"), col("dst").as("src"),
          col("src").as("dst")))
      .distinct()
    sym.join(base.select(col("vid").as("dst"), col("v").as("dvec")),
        Seq("dst"))
      .select(col("lvl"), col("src"), col("dst"), col("dvec"))
  }

  /** INCREMENTAL maintenance of the layered kNN: merge a batch of new
    * vectors into an existing index WITHOUT rebuilding it —
    * contractually `insertKnn(buildKnn(A), A, B) ≡ buildKnn(A ∪ B)`
    * row-for-row including the stored cosines (the q253 oracle replays
    * the FULL build while Spark runs the insert path; HnswSpec pins
    * the same equivalence as a property). Soundness: levels and
    * buckets are pure functions of (id, vec, seed), so A's assignments
    * never move; the fresh candidate set is exactly every banded-
    * bucket pair touching B (`(A∪B)×B ∪ B×A`); and for any split of a
    * candidate set, topM(P ∪ Q) = topM(topM(P) ∪ topM(Q)) — the stored
    * kNN IS topM(A×A pairs), so merging it with the bounded fresh
    * top-M and re-ranking reproduces the full build exactly.
    *
    * 100 TB posture: a daily arrival batch B costs one banded bucket
    * equi-join of B against the corpus (O(|B| · bucketPop · bands ·
    * levels) candidate cosines — the same per-row price the original
    * build paid, instead of re-paying the whole corpus) plus a merge
    * bounded by the |A|·M stored edges; no old pair is re-scored.
    * Persist the kNN between arrivals as params-as-data
    * ([[graft.ops.AnnIndex]]).
    *
    * `newVecs` rows whose id already exists in `oldVecs` are DROPPED
    * up front (one id-only anti-join, no extra job): the
    * insert ≡ rebuild identity assumes disjoint arrivals, and an
    * overlapping id would otherwise plant duplicate membership rows
    * and leave stale stored edges to the old copy — re-arrivals are
    * treated as already-present, never as silent corruption; updates
    * are [[deleteKnn]] then insert. */
  def insertKnn(oldKnn: DataFrame, oldVecs: DataFrame,
      newVecs: DataFrame, idCol: String, vecCol: String, seed: Long,
      maxLevel: Int, m: Int, bands: Int,
      bucketFn: (Int, Int, Column) => Column): DataFrame = {
    val onlyNew = newVecs.join(oldVecs.select(idCol), Seq(idCol),
      "left_anti")
    val memA = bandedMembers(oldVecs, idCol, vecCol, seed, maxLevel,
      bands, bucketFn)
    val memB = bandedMembers(onlyNew, idCol, vecCol, seed, maxLevel,
      bands, bucketFn)
    topMEdges(
      oldKnn.select("lvl", "src", "dst", "c")
        .unionByName(freshTopM(memA, memB, m)),
      m)
  }

  /** The bounded fresh-candidate top-M both insert forms merge from:
    * every banded-bucket pair with a NEW endpoint (`memB`), in both src
    * roles (src ∈ A∪B gains dst ∈ B candidates; src ∈ B also scans
    * dst ∈ A). Both memberships are [[bandedMembers]]-shaped. */
  private def freshTopM(memA: DataFrame, memB: DataFrame, m: Int)
      : DataFrame =
    topMPerSrc(
      pairsOf(memA.unionByName(memB), memB)
        .unionByName(pairsOf(memB, memA)),
      m)

  /** Only the (lvl, src) groups whose replacement rows differ from the
    * stored rows, each in full. Sound for insert-side deltas because a
    * replacement is the top-M of a candidate SUPERSET of the stored
    * group — equality of the row sets means latest-batch-wins
    * resolution is a no-op for that group, and a genuine change always
    * surfaces as a replacement row absent from the stored set (the
    * superset top-M can never only LOSE rows). Cosine equality is
    * exact: both sides are the same round-6 pure function of the same
    * stored vectors (or parquet-round-tripped doubles of it). */
  private def changedGroups(replacement: DataFrame,
      stored: DataFrame): DataFrame = {
    val changed = replacement
      .join(stored, Seq("lvl", "src", "dst", "c"), "left_anti")
      .select("lvl", "src").distinct()
    replacement.join(changed, Seq("lvl", "src"), "left_semi")
  }

  // ------------------------------------------------------------------
  // Stored-membership maintenance: probes ∝ batch, never ∝ corpus
  // ------------------------------------------------------------------

  /** Literal-inlining bound for driver-collected prune keys (cells,
    * touched srcs, delete ids): below it the probe pushes `IN (...)`
    * predicates into the parquet scan (batch-sized literal lists —
    * the micro-batch regime); above it the same relation joins
    * distributively instead (correct, one more exchange — the
    * bulk-arrival regime, where the key set is itself a sizable
    * fraction of the part). */
  private val MaxInlineKeys = 100000

  /** Chunk width for inlined prune lists — and the parquet In-pushdown
    * bound (`spark.sql.parquet.pushdown.inFilterThreshold`) every
    * [[graft.Harness]] session sets from it, see [[sortedByKey]]: an
    * `IN` list at or below the threshold reaches the scan as a real
    * per-row-group or-chain filter, and parquet evaluates that chain
    * RECURSIVELY —
    * ~4000 literals always overflow a default-size executor stack,
    * and 1000 overflowed ONCE under a deep whole-stage-codegen
    * calling context (an r14 search-curve run). The fix is at the
    * root: the JVMs run `-Xss4m` (build.sbt), 4× the default task
    * stack, which moves the overflow boundary far above the chunk
    * width; the width itself stays at the threshold so every slice is
    * a real pushed or-chain and the slice count (scan passes) stays
    * minimal. Lists above the width are sliced into chunk-sized scans
    * over the SORTED key list, each conjoined with its own `[lo, hi]`
    * range bound — on the range-clustered parts the min/max bound
    * row-group-prunes even where a big `IN` would degrade to a
    * row-level InSet over a full-part scan, so probe reads stay
    * ∝ keys instead of hitting a corpus-scan floor (measured: the r13
    * sf100 bulk taper — a 4096-row batch cost 134.7 s at 1.8M vectors
    * vs 25.2 s at 180k because its ~25k-cell list scanned the whole
    * members part row-level; chunked r14: 55.9 s, walls tracking
    * delta rows — bench/ANN_STREAM_AUDIT_SF100_r14.json). */
  private[graft] val InlineChunk = 1000

  /** Upper bound on the beam frontier (|queries|·ef rows) the search
    * loop will still broadcast: 4M narrow (qid, id, c) triples is
    * ~100–400 MB as a built hash relation — inside guide §3.1's
    * comfortable range, far under the 8 GB/512M-row hard cap. Above
    * it the frontier joins without the hint (the planner's size-safe
    * default). */
  private val MaxBroadcastFrontierRows = 4000000

  private def inlineKeys(df: DataFrame, c: String): Option[Seq[Long]] = {
    val ks = df.select(col(c).cast("long")).distinct()
      .limit(MaxInlineKeys + 1).collect().map(_.getLong(0)).toIndexedSeq
    if (ks.length > MaxInlineKeys) None else Some(ks)
  }

  /** Prune `df` to rows whose `c` ∈ `keys`-column of `keys` — as
    * inlined IN literals when the key set is micro-batch-sized (the
    * predicate reaches the parquet scan as PushedFilters; on keyed
    * parts a KEY-column predicate also commutes below the
    * latest-batch-wins window), as a UNION of range-bounded
    * chunk-sized IN scans when it exceeds the In-pushdown ceiling
    * (disjoint sorted slices — exact, and each branch row-group-prunes
    * on its own [lo, hi]), else as a semi-join. */
  private[graft] def pruneBy(df: DataFrame, c: String, keys: DataFrame,
      keyCol: String): DataFrame =
    inlineKeys(keys, keyCol) match {
      case Some(ks) if ks.isEmpty => df.limit(0)
      case Some(ks) if ks.length <= InlineChunk =>
        df.filter(col(c).isin(ks: _*))
      case Some(ks) =>
        ks.sorted.grouped(InlineChunk).map { ch =>
          df.filter(col(c).between(lit(ch.head), lit(ch.last)) &&
            col(c).isin(ch: _*))
        }.reduce(_ unionByName _)
      case None => df.join(
        keys.select(col(keyCol).cast("long").as(c)).distinct(),
        Seq(c), "left_semi")
    }

  /** The PERSISTED form of the banded membership relation — the index
    * part that makes maintenance compute delta-sized: `(lvl, band,
    * bkt, cell, vid, v, mb)` where `cell = xxhash64(lvl, band, bkt)`
    * (ONE comparable pruning key; hash collisions only widen the
    * pruned superset — the exact (lvl, band, bkt) equi-join follows)
    * and `mb` is the members part's batch number at write time, the
    * version the deletion ledger `memdead (vid, th)` thresholds
    * against ([[AnnIndex.liveRows]]). Membership is a
    * pure function of (id, vec, seed), so it is written ONCE per
    * vector at save/insert time and probed forever after — the
    * alternative (re-hashing the stored corpus per micro-batch) makes
    * maintenance wall ∝ corpus instead of ∝ batch (measured 3.6 s →
    * 21.6 s per fixed 16-row batch across one corpus decade before
    * this part existed — bench/ANN_STREAM_AUDIT_*_r12). */
  def memberRows(vecs: DataFrame, idCol: String, vecCol: String,
      seed: Long, maxLevel: Int, bands: Int,
      bucketFn: (Int, Int, Column) => Column, mb: Int): DataFrame =
    bandedMembers(vecs, idCol, vecCol, seed, maxLevel, bands, bucketFn)
      .withColumn("cell", xxhash64(col("lvl"), col("band"), col("bkt")))
      .withColumn("mb", lit(mb))
      .select("lvl", "band", "bkt", "cell", "vid", "v", "mb")

  /** Seed a maintenance-ready persisted index: the kNN (keyed), the
    * corpus vectors (keyed — CDC tombstones need it), the banded
    * membership part and an empty deletion ledger. This is the save
    * [[graft.streaming.StreamOps.annIndexMaintenanceStream]] grows
    * from with batch-sized per-micro-batch COMPUTE — the only seed it
    * accepts: the membership part and the ledger are what its
    * [[insertKnnDeltaIndexed]] / [[deleteKnnDeltaIndexed]] probes
    * read. */
  def saveIndex(path: String, vecs: DataFrame, idCol: String,
      vecCol: String, seed: Long, maxLevel: Int, m: Int, bands: Int,
      bucketFn: (Int, Int, Column) => Column,
      params: Map[String, String] = Map.empty): Unit = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val base = vecs.select(col(idCol), col(vecCol))
    // ONE banded-membership materialization feeds BOTH the kNN build
    // and the persisted members part — they are the same relation
    // modulo the derived cell/mb columns, and computing it twice
    // re-paid the md5 level walk + per-band hyperplane hashing over
    // corpus × bands × levels rows (guide §1.2: don't compute things
    // twice before tuning anything else)
    val mem0 = memberRows(base, idCol, vecCol, seed, maxLevel, bands,
      bucketFn, mb = 0).localCheckpoint(true)
    val slim = mem0.select("lvl", "band", "bkt", "vid", "v")
    AnnIndex.save(path,
      Map(
        "knn" -> sortedByKey(topMPerSrc(pairsOf(slim, slim), m), "src"),
        "vectors" -> base,
        "members" -> sortedByKey(mem0, "cell"),
        "memdead" -> Seq.empty[(Long, Int)].toDF("vid", "th")),
      params ++ Map("kind" -> "hnsw", "seed" -> seed.toString,
        "max_level" -> maxLevel.toString, "m" -> m.toString,
        "bands" -> bands.toString),
      keys = Map("knn" -> Seq("lvl", "src"),
        "vectors" -> Seq(idCol)))
  }

  /** Members-aware physical fold for [[AnnIndex.compactToNextGen]]:
    * keyed parts resolve as usual, dead member rows drop, `mb` resets
    * to 0 and the ledger empties — REQUIRED instead of the generic
    * [[AnnIndex.compact]] whenever a members part exists, because a
    * generic fold would preserve old `mb` stamps while the batch
    * counter restarts, letting a post-fold delete threshold undercut
    * pre-fold rows (they would survive their own deletion). */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      src: String, dst: String): Unit = {
    val (parts, params) = AnnIndex.load(spark, src)
    require(parts.contains("members") && parts.contains("memdead"),
      s"Hnsw.compactIndex: $src has no membership parts — use " +
        "AnnIndex.compact")
    val members =
      AnnIndex.liveRows(parts("members"), parts("memdead"), "vid")
        .withColumn("mb", lit(0))
    AnnIndex.save(dst,
      parts ++ Map("knn" -> sortedByKey(parts("knn"), "src"),
        "members" -> sortedByKey(members, "cell"),
        "memdead" -> parts("memdead").limit(0)),
      params, keys = AnnIndex.partKeys(spark, src))
  }

  /** Range-cluster a part on its prune key before the parquet write:
    * each row group then covers a narrow key span, so a maintenance
    * probe's `IN (...)` predicate skips every row group whose
    * [min, max] misses all of its batch-sized key list — the probe
    * reads ∝ batch × row-group size instead of the part. Sessions
    * set `spark.sql.parquet.pushdown.inFilterThreshold` to
    * [[InlineChunk]] (its measured safe ceiling — parquet evaluates
    * the pushed or-chain recursively and ~4000 values overflow the
    * executor stack; the default 10 barely ever prunes): lists under
    * it row-group-prune, larger lists remain row-level InSet filters
    * that still commute
    * below the keyed-resolve window — a narrow un-shuffled scan, the
    * graceful middle before [[MaxInlineKeys]] falls back to a
    * semi-join. */
  private def sortedByKey(df: DataFrame, key: String): DataFrame =
    df.repartitionByRange(col(key)).sortWithinPartitions(key)

  /** The cell-pruned live-membership probe [[insertKnnDeltaIndexed]]
    * scans — public so the plan-shape ratchet can pin that the cell
    * predicate reaches the members part's parquet scan as
    * PushedFilters (the same discipline [[TextIndex.search]] pins for
    * query terms). */
  def memberProbe(members: DataFrame, memdead: DataFrame,
      batchMembers: DataFrame): DataFrame =
    pruneBy(AnnIndex.liveRows(members, memdead, "vid"), "cell",
      batchMembers, "cell")

  /** DELTA form of [[insertKnn]] for [[AnnIndex.append]], answered from
    * the PERSISTED membership part: only the (lvl, src) groups whose
    * top-M ACTUALLY CHANGES are returned, each as its FULL replacement
    * top-M (stored edges of the group merged with the fresh candidates
    * and re-ranked — insertKnn's topM(P∪Q) identity, scoped to touched
    * groups — then diffed against the stored rows by [[changedGroups]],
    * so a group that merely GAINED a losing candidate stays out of the
    * delta). Latest-batch-wins resolution over (lvl, src) then yields
    * exactly insertKnn's relation, so `load(saveIndex(A) +
    * append(delta))` ≡ `buildKnn(A ∪ B)` (PersistenceSpec pins it).
    *
    * Per-batch compute is one cell-pruned scan of stored membership
    * (the batch's own banded cells, inlined as an `IN` predicate the
    * parquet scan prunes row groups by) joined against the batch —
    * O(|B| · bucketPop · bands · levels) candidate cosines and
    * blast-radius-sized scans, NEVER a corpus re-hash. Exact: members
    * outside the batch's cells cannot pair with it, so the pruned
    * relation feeds insertKnn's own fresh-pair algebra unchanged.
    * Returns (knn delta, member delta) — the two parts the caller
    * appends together, `mb`-stamped with the members part's current
    * batch count. Caller guarantees `newVecs` ids are not live in the
    * index (the stream's pruned overlap anti-join). */
  def insertKnnDeltaIndexed(oldKnn: DataFrame, members: DataFrame,
      memdead: DataFrame, newVecs: DataFrame, idCol: String,
      vecCol: String, seed: Long, maxLevel: Int, m: Int, bands: Int,
      bucketFn: (Int, Int, Column) => Column, mb: Int)
      : (DataFrame, DataFrame) = {
    val memB = memberRows(newVecs, idCol, vecCol, seed, maxLevel,
      bands, bucketFn, mb).localCheckpoint(true)
    val slim = Seq("lvl", "band", "bkt", "vid", "v")
    val memBSlim = memB.select(slim.map(col): _*)
    val memA = memberProbe(members, memdead, memB)
      .select(slim.map(col): _*)
    val fresh = freshTopM(memA, memBSlim, m).localCheckpoint(true)
    val touched = fresh.select("lvl", "src").distinct()
    val stored = pruneBy(oldKnn, "src", touched, "src")
      .select("lvl", "src", "dst", "c")
      .join(touched, Seq("lvl", "src"), "left_semi")
      .localCheckpoint(true)
    val delta =
      changedGroups(topMEdges(stored.unionByName(fresh), m), stored)
    (delta, memB)
  }

  /** DELTA form of [[deleteKnn]] for [[AnnIndex.append]]: replacement
    * rows for every (lvl, src) group the delete can change, plus
    * TOMBSTONES (all-null non-key rows — [[AnnIndex]]'s deletion
    * convention for an append-only store) so groups that vanish
    * entirely (src ∈ D, or an affected group whose recompute comes
    * back empty) actually leave on load; a tombstoned group that also
    * gets replacement rows in the same batch resolves to them (the
    * whole latest batch wins the group, then the tombstone drops).
    *
    * Answered from the PERSISTED membership part — it needs NO
    * vectors, seed or bucket family: the deleted ids'
    * stored member rows already carry their cells, affected groups are
    * found by pruning the stored kNN to vids sharing those cells (a
    * KEY-column predicate that commutes below the keyed-resolve
    * window; sound because every stored edge was born in a shared
    * cell of the CURRENT live membership), and the recompute joins
    * cell-pruned live members only. Returns (knn delta with
    * tombstones, ledger delta (vid, th)) where `th` must be the
    * members part's CURRENT batch count — rows a same-batch re-insert
    * appends get `mb = th` and stay alive, the CDC update order. */
  def deleteKnnDeltaIndexed(oldKnn: DataFrame, members: DataFrame,
      memdead: DataFrame, deleteIds: DataFrame, idCol: String,
      m: Int, th: Int): (DataFrame, DataFrame) = {
    val del = deleteIds.select(col(idCol).cast("long").as("vid"))
      .distinct().localCheckpoint(true)
    val newDead = del.select(col("vid"),
      lit(th).cast("int").as("th"))
    val live = AnnIndex.liveRows(members, memdead, "vid")
    val delMem = pruneBy(live, "vid", del, "vid")
      .localCheckpoint(true)
    val liveAfter = live.join(del, Seq("vid"), "left_anti")
    // candidate affected srcs: live vids sharing a cell with D
    val candSrcs = pruneBy(liveAfter, "cell", delMem, "cell")
      .select("vid").distinct().localCheckpoint(true)
    // groups that actually lost a stored edge (src filter commutes
    // below the keyed window; the dst test runs on the pruned rows)
    val affected = pruneBy(oldKnn, "src", candSrcs, "vid")
      .join(del.select(col("vid").as("dst")), Seq("dst"), "left_semi")
      .select("lvl", "src").distinct().localCheckpoint(true)
    val gone = pruneBy(oldKnn, "src", del, "vid")
      .select("lvl", "src").distinct()
    val memAff = pruneBy(liveAfter, "vid", affected, "src")
      .join(affected.select(col("lvl"), col("src").as("vid")),
        Seq("lvl", "vid"))
      .localCheckpoint(true)
    val slim = Seq("lvl", "band", "bkt", "vid", "v")
    val memAll = pruneBy(liveAfter, "cell", memAff, "cell")
    val recomputed = topMPerSrc(
      pairsOf(memAff.select(slim.map(col): _*),
        memAll.select(slim.map(col): _*)),
      m)
    val delta = affected.unionByName(gone)
      .select(col("lvl"), col("src"),
        lit(null).cast("long").as("dst"),
        lit(null).cast("double").as("c"))
      .unionByName(recomputed)
    (delta, newDead)
  }

  /** INCREMENTAL deletion from the layered kNN — the
    * right-to-be-forgotten path (a production vector index must shed
    * vectors without a rebuild, and a dedup/dedup-audit corpus shrinks
    * too): contractually `deleteKnn(buildKnn(A), A, D) ≡
    * buildKnn(A ∖ D)` row-for-row including cosines (q255; HnswSpec
    * pins the property). Exactness argument, per (lvl, src) group:
    *
    *  - src ∈ D: every edge drops (src leaves all layers).
    *  - src kept, NO stored edge to D: top-M(C ∖ D) = top-M(C)
    *    whenever top-M(C) ∩ D = ∅ — removing candidates that were
    *    not in the top-M cannot change it. The stored group survives
    *    verbatim (minus nothing).
    *  - src kept, SOME stored edge to D (the "affected" set): the
    *    truncated-away replacement candidates are not recoverable
    *    from the index, so the group is RECOMPUTED exactly — its
    *    banded buckets (pure functions of (id, vec, seed), unchanged
    *    by deletion) joined against the RETAINED members only.
    *
    * Cost: affected (lvl, src) groups are found with one join against
    * the delete set; the recompute pair scan is |affected members| ·
    * bucketPop · bands — proportional to the blast radius of the
    * delete, never to the corpus. Deletes compose with [[insertKnn]]
    * and [[AnnIndex]] persistence into the full index lifecycle. */
  def deleteKnn(oldKnn: DataFrame, oldVecs: DataFrame,
      deleteIds: DataFrame, idCol: String, vecCol: String, seed: Long,
      maxLevel: Int, m: Int, bands: Int,
      bucketFn: (Int, Int, Column) => Column): DataFrame = {
    val del = deleteIds.select(col(idCol).cast("long").as("__did"))
      .distinct()
    val keptVecs = oldVecs.join(
      del.select(col("__did").as(idCol)), Seq(idCol), "left_anti")
    // stored edges touching D drop; srcs ∈ D vanish with them
    val cleaned = oldKnn
      .join(del.select(col("__did").as("src")), Seq("src"), "left_anti")
      .join(del.select(col("__did").as("dst")), Seq("dst"), "left_anti")
      .select("lvl", "src", "dst", "c")
    // (lvl, src) groups that LOST a stored edge — only these can gain
    // a replacement candidate the index no longer remembers
    val affected = oldKnn
      .join(del.select(col("__did").as("dst")), Seq("dst"))
      .select("lvl", "src").distinct()
      .join(del.select(col("__did").as("src")), Seq("src"), "left_anti")
    val memAll = bandedMembers(keptVecs, idCol, vecCol, seed, maxLevel,
      bands, bucketFn)
    val memAff = memAll.join(
      affected.select(col("lvl"), col("src").as("vid")),
      Seq("lvl", "vid"))
    val recomputed = topMPerSrc(pairsOf(memAff, memAll), m)
    cleaned
      .join(affected, Seq("lvl", "src"), "left_anti")
      .unionByName(recomputed)
  }

  def buildAdjacency(vecs: DataFrame, idCol: String, vecCol: String,
      seed: Long, maxLevel: Int, m: Int, bands: Int,
      bucketFn: (Int, Int, Column) => Column): DataFrame =
    adjacencyFromKnn(
      buildKnn(vecs, idCol, vecCol, seed, maxLevel, m, bands, bucketFn),
      vecs, idCol, vecCol)

  /** Batch layered beam search over a prebuilt adjacency: the beam
    * INITIALIZES on the whole TOP layer — a deterministic 2^-maxLevel
    * sample of the corpus (the index "head"), so the initial frontier
    * is cluster-diverse by construction (a single entry point would
    * strand every query inside the entry's graph component; an M-NN
    * graph over well-separated clusters IS the cluster partition, so
    * diversity must come from the init, not the edges). Each query
    * takes its top-ef head members by cosine, then descends with
    * `steps` FIXED expansions per layer. Choose maxLevel so
    * corpus/2^maxLevel is a scan-cheap head (it broadcasts against
    * the queries exactly like [[Similarity.bruteForceTopK]]'s query
    * side). Returns the ANN-family contract `(qIdCol, idCol, cos,
    * rank)`, top-k under (cos DESC, id ASC). Queries must be
    * broadcast-sized (the usual ANN regime). */
  def searchTopK(adj: DataFrame, vecs: DataFrame, idCol: String,
      vecCol: String, queries: DataFrame, qIdCol: String,
      qVecCol: String, seed: Long, maxLevel: Int, steps: Int, ef: Int,
      k: Int): DataFrame =
    searchTopKCounted(adj, vecs, idCol, vecCol, queries, qIdCol,
      qVecCol, seed, maxLevel, steps, ef, k, counted = false)._1

  /** One row of measured search work: `cand_cos` candidate-cosine
    * evaluations at (`lvl`, `step`); the head-initialization scan is
    * `phase = "init"` (lvl = maxLevel, step = −1). */
  final case class SearchWork(phase: String, lvl: Int, step: Int,
      cand_cos: Long)

  /** [[searchTopK]] plus, when `counted`, the MEASURED per-(layer,
    * step) candidate-cosine counts — the search-side scale evidence
    * (each count is the exact row count of that step's
    * frontier ⋈ adjacency join; counting reruns each step's join once,
    * so this is the audit path, not the serving path). */
  def searchTopKCounted(adj: DataFrame, vecs: DataFrame, idCol: String,
      vecCol: String, queries: DataFrame, qIdCol: String,
      qVecCol: String, seed: Long, maxLevel: Int, steps: Int, ef: Int,
      k: Int, counted: Boolean): (DataFrame, Seq[SearchWork]) = {
    val work = Seq.newBuilder[SearchWork]
    val base = vecs.select(col(idCol).cast("long").as("vid"),
      col(vecCol).as("v"))
    val lv = assignLevels(base.select("vid"), "vid", seed, maxLevel)
    val head = base.join(lv, "vid").filter(col("level") >= maxLevel)
      .select(col("vid"), col("v"))
    val qv = queries.select(col(qIdCol).as("qid"),
      col(qVecCol).as("qv"))
    // the beam frontier is ≤ |queries|·ef rows by construction, but an
    // explicit broadcast() hint BYPASSES the planner's size threshold —
    // for an over-sized query set that would turn a size-safe shuffle
    // join into a driver OOM. One cheap bounded count gates the hint:
    // count at most (bound/ef + 1) query rows, and only hint when the
    // implied frontier stays under MaxBroadcastFrontierRows (narrow
    // (qid, id, c) triples — well inside guide §3.1's "few hundred MB").
    val qCap = MaxBroadcastFrontierRows / math.max(1, ef) + 1
    val smallFrontier = qv.limit(qCap).count() < qCap.toLong
    def hinted(df: DataFrame): DataFrame =
      if (smallFrontier) broadcast(df) else df
    if (counted)
      work += SearchWork("init", maxLevel, -1, qv.count() * head.count())
    var state = qv.crossJoin(broadcast(head))
      .select(col("qid"), col("vid").as("id"),
        round(VectorFunctions.cosineSimilarity(col("qv"), col("v")), 6)
          .as("c"))
      .groupBy("qid")
      .agg(AggregateFunctions.topKByScore(col("c"), col("id"), ef)
        .as("t"))
      .select(col("qid"), explode(col("t")).as("e"))
      .select(col("qid"), col("e.id").as("id"), col("e.score").as("c"))
    var lvl = maxLevel
    while (lvl >= 0) {
      val lvlAdj = adj.filter(col("lvl") === lvl)
        .select(col("src"), col("dst"), col("dvec"))
      var s = 0
      while (s < steps) {
        // the frontier is ≤ |queries|·ef rows by construction — BROADCAST
        // it so the layer adjacency (the big side) is probed in place
        // instead of being shuffled+sorted once per expansion step
        // (guide §3.1: a broadcast join replaces a shuffle of the large
        // side with a broadcast of the small side); the hint is gated
        // above on the counted |queries|·ef bound
        val cand = hinted(state)
          .join(lvlAdj, state("id") === lvlAdj("src"))
          .join(hinted(qv), "qid")
          .select(col("qid"), col("dst").as("id"),
            round(VectorFunctions.cosineSimilarity(col("qv"),
              col("dvec")), 6).as("c"))
        if (counted) work += SearchWork("beam", lvl, s, cand.count())
        // per-(qid, id) dedup runs inside the top-ef buffer (duplicate
        // ids carry identical c — a pure function of the stored vector),
        // folding the former dropDuplicates exchange into the agg.
        // (r15 measured a per-STEP localCheckpoint here — it doubled
        // q231's wall at sf0.1: the eager frontier-sized jobs cost more
        // than the in-plan duplication they remove. Kept per-layer.)
        state = state.unionByName(cand)
          .groupBy("qid")
          .agg(AggregateFunctions.topKByScoreDistinct(col("c"),
            col("id"), ef).as("t"))
          .select(col("qid"), explode(col("t")).as("e"))
          .select(col("qid"), col("e.id").as("id"),
            col("e.score").as("c"))
        s += 1
      }
      // truncate the per-step join/agg lineage before descending
      state = state.localCheckpoint(true)
      lvl -= 1
    }
    val out = state.groupBy("qid")
      .agg(AggregateFunctions.topKByScore(col("c"), col("id"), k)
        .as("t"))
      .select(col("qid").as(qIdCol),
        posexplode(col("t")).as(Seq("__p", "__e")))
      .select(col(qIdCol), col("__e.id").as(idCol),
        col("__e.score").as("cos"),
        (col("__p") + 1).cast("int").as("rank"))
    (out, work.result())
  }

  /** Convenience: build + search in one call. On the PRODUCTION path
    * (no bucketFn override) the structural knobs AUTO-SCALE with the
    * corpus — this is what keeps the build LINEAR instead of
    * quadratic: plane count grows so per-bucket population stays at
    * `bucketTarget` (total candidate-cosine work = bands · levels ·
    * n · bucketTarget — linear in n), and maxLevel grows so the
    * search-init head (the 2^-maxLevel top-layer sample every query
    * scans) stays at `headTarget` rows. One count() job decides both
    * (fixed structural params over a growing corpus are the q47
    * fixed-block-count hazard: per-cell population, and with it the
    * per-cell quadratic term, grows with the data). A bucketFn
    * override (the replayable contract family) pins everything
    * explicitly and skips the count. */
  def hnswTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, qIdCol: String, qVecCol: String, k: Int,
      seed: Long = 9, maxLevel: Int = 3, m: Int = 10, bands: Int = 4,
      steps: Int = 2, ef: Int = 10, nPlanes: Int = 4, dim: Int = 64,
      bucketTarget: Long = 256, headTarget: Long = 4096,
      bucketFn: Option[(Int, Int, Column) => Column] = None)
      : DataFrame = {
    val (bf, lvls) = bucketFn match {
      case Some(f) => (f, maxLevel)
      case None =>
        val n = corpus.count()
        val planes = math.max(nPlanes,
          Similarity.autoNPlanes(n, bucketTarget))
        val ml = math.min(40,
          math.max(maxLevel, Similarity.autoNPlanes(n, headTarget)))
        (defaultBucketFn(planes, dim, seed), ml)
    }
    val adj = buildAdjacency(corpus, idCol, vecCol, seed, lvls, m,
      bands, bf).localCheckpoint(true)
    searchTopK(adj, corpus, idCol, vecCol, queries, qIdCol, qVecCol,
      seed, lvls, steps, ef, k)
  }
}
