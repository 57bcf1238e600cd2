package graft.ops

import graft.expressions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines (north-star
  * extensions). Each method documents its shuffle profile — dedup is the
  * most shuffle-prone stage of a 100 TB pipeline and the design goal is ONE
  * wide stage each, keyed so AQE can split skewed buckets.
  */
object Dedup {

  /** Exact dedup on a normalized-content hash: keep the lowest-id
    * document(s) per fingerprint — the rows whose id equals the minimum
    * id of their fingerprint, so exactly one row per fingerprint when
    * ids are unique (a repeated id keeps each of its rows that holds
    * its fingerprint's minimum; null text is one fingerprint like any
    * other). One pass: a per-fingerprint window, so the upstream is
    * evaluated ONCE and only one hash-partition shuffle on the 64-bit
    * fingerprint moves the rows. The former agg + semi-join form
    * evaluated an unpinned upstream on both join sides (2× the narrow
    * cost of an HTML-extract chain), and kept a second survivor in a
    * fingerprint whose non-minimum row carried an id that was another
    * fingerprint's minimum. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.withColumn("__fp", TextOps.fingerprint(col(textCol)))
      .withColumn("__keep",
        min(col(idCol)).over(Window.partitionBy(col("__fp"))))
      .filter(col(idCol) === col("__keep"))
      .drop("__fp", "__keep")

  /** The fingerprint STORE for incremental dedup: one (fp, docId) row
    * per distinct normalized content, docId = first (minimum) holder —
    * 16 bytes/doc, the only state a rolling-crawl pipeline persists
    * between snapshots. Bucket it by fp ([[graft.ingest.Bucketing]]) and
    * every later snapshot's anti-join reads it exchange-free. */
  def fingerprintStore(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(TextOps.fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy("fp").agg(min(col(idCol)).as(idCol))

  /** Incremental (snapshot-over-snapshot) exact dedup — the rolling
    * CommonCrawl shape: each new snapshot dedups against the accumulated
    * fingerprint store of every prior snapshot (8-byte keys, never prior
    * text), then first-occurrence dedups within itself. Survivors +
    * `priorStore.unionByName(fingerprintStore(survivors))` is the next
    * round's state.
    *
    * Plan: both wide stages key on fp — the store anti-join (store-side
    * exchange disappears when the store is bucketed by fp) and the
    * intra-batch min-id groupBy, which moves (fp, id) pairs only.
    * [[graft.ops.Sketch.bloomDecontaminate]]'s counting-Bloom grid is
    * the constant-state prefilter variant; this is the exact pass. */
  def incrementalExact(newDocs: DataFrame, idCol: String,
      textCol: String, priorStore: DataFrame,
      fpCol: String = "fp"): DataFrame = {
    val withFp = newDocs.withColumn("__fp",
      TextOps.fingerprint(col(textCol)))
    val fresh = withFp.join(
      priorStore.select(col(fpCol).as("__fp")), Seq("__fp"), "left_anti")
    val keep = fresh.groupBy("__fp").agg(min(col(idCol)).as(idCol))
      .select(idCol)
    fresh.join(keep, Seq(idCol), "left_semi").drop("__fp")
  }

  /** Corpus snapshot diff (the data-ops audit between two crawl/corpus
    * versions — what a release's "changes since v1" data card reports):
    * content-level added / removed / kept rollup via a FULL OUTER join
    * of the two sides' distinct-content tables. Runs on normalized-
    * content fingerprints (8-byte keys — the [[fingerprintStore]]
    * state, so diffing 100 TB snapshots moves 16 B per distinct doc),
    * with per-status distinct-content counts and char volumes (the
    * char count of each distinct content = min across its copies, so
    * the rollup is copy-multiplicity-free and deterministic).
    * `n_chars` reports the CURRENT side's volume for kept content. */
  def corpusDiff(a: DataFrame, b: DataFrame, textCol: String)
      : DataFrame = {
    def side(df: DataFrame, fpName: String, nchName: String) =
      df.select(TextOps.fingerprint(col(textCol)).as(fpName),
          length(col(textCol)).cast("long").as(nchName))
        .groupBy(fpName).agg(min(col(nchName)).as(nchName))
    val fa = side(a, "fp", "nch_a")
    val fb = side(b, "fp", "nch_b")
    fa.join(fb, Seq("fp"), "full_outer")
      .select(
        when(col("nch_b").isNull, lit("removed"))
          .when(col("nch_a").isNull, lit("added"))
          .otherwise(lit("kept")).as("status"),
        coalesce(col("nch_b"), col("nch_a")).as("nch"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_contents"), sum("nch").as("n_chars"))
  }

  /** MinHash signature as an array column: k independent permutations
    * approximated by k seeded xxhash64 draws, min per shingle set. Pure
    * higher-order functions — one pass over the shingle array per hash.
    *
    * NOTE: Spark evaluates higher-order-function lambdas interpreted, per
    * element — k×|shingles| lambda calls per doc. Fine for small arrays;
    * for corpus-scale signatures use `minhashSignatures` below, which is
    * whole-stage-codegen end to end.
    */
  def minhashSignature(shingles: Column, k: Int = 128): Column =
    transform(sequence(lit(0), lit(k - 1)), seed =>
      when(size(shingles) === 0, lit(Long.MaxValue))
        .otherwise(array_min(transform(shingles,
          s => xxhash64(s, seed)))))

  /** Deterministic plan-time permutation-seed constants — shared
    * definition (graft.core.Hashing) with MinHashSigExpr, which must stay
    * bit-compatible. */
  private def splitmix64(x0: Long): Long =
    graft.core.Hashing.splitmix64(x0)

  /** Corpus-scale MinHash: shingle hashes come straight off the byte
    * stream (CharShingleHashExpr — zero per-shingle string allocation;
    * xxhash64-of-bytes seed 42 is bit-identical to hashing the shingle
    * string), and the k-permutation signature is one native expression
    * (MinHashSigExpr) over that hash array — a fully NARROW plan: no
    * explode, no k-buffer aggregation, no shuffle at all. The permutation
    * family is min over xxhash64(const_i, h), identical to the former
    * explode+aggregate form (and, unlike a multiply-add family, free of
    * ANSI-mode overflow — Spark 4 throws on wrapping long arithmetic).
    * Returns (id, sig ARRAY<LONG>); docs with an empty shingle set are
    * absent (no candidates by construction). */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      k: Int, shingleN: Int): DataFrame =
    docs.select(
      col(idCol).as("id"),
      graft.expressions.TextExpressions.minhashSig(
        TextOps.charShingleHashes(col(textCol), shingleN), k).as("sig"))
      .filter(col("sig").isNotNull)

  /** MinHash-LSH near-duplicate candidate pairs: band the signature
    * (bands × rowsPerBand = k), hash each band, group by (band, bandHash).
    * Docs sharing any band bucket are candidates; verify with exact Jaccard
    * on the shingle sets. Returns (id_a, id_b, jaccard) with id_a < id_b.
    *
    * Shuffle profile: explode to bands (narrow), one shuffle on the band
    * bucket, pairs generated inside each bucket via self-join on the bucket
    * key; oversized buckets (degenerate content) are capped to bound the
    * quadratic blowup, and the cap is logged via the `bucket_n` column.
    */
  def minhashLsh(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 128, bands: Int = 16, shingleN: Int = 5,
      jaccardThreshold: Double = 0.5, maxBucketSize: Int = 1000)
      : DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    // shingle sets as sorted hash arrays: exact Jaccard over 64-bit longs
    // is both cheaper to compare and ~5-10× narrower to join than the
    // string shingle arrays (hash collisions at 64 bits are negligible at
    // any corpus size). localCheckpoint: the two verify-join sides (sh_a,
    // sh_b) partition on DIFFERENT keys, so AQE exchange reuse cannot
    // dedupe them — without materialization the byte-stream shingle
    // hashing of the whole corpus runs twice. (localCheckpoint, not
    // .cache(): CacheManager entries tax every later query's plan lookup
    // in long sessions — measured.)
    // ONE corpus scan materializes BOTH per-doc artifacts (shingle-hash
    // array + signature): the signature expression consumes the `sh`
    // column directly, so hashing the byte stream happens once — the
    // former separate withSh/sigs checkpoints each re-scanned the
    // corpus (measured ~25% of q27/q41 wall). Same stored bytes (sh+sig
    // either way), same results bit-for-bit (minhashSignatures IS
    // minhashSig∘charShingleHashes; empty-shingle docs are absent from
    // both sides — they can never be candidates).
    val base = docs.select(
        col(idCol).as("id"),
        TextOps.charShingleHashes(col(textCol), shingleN).as("sh"))
      .withColumn("sig",
        graft.expressions.TextExpressions.minhashSig(col("sh"), k))
      .filter(col("sig").isNotNull)
      .localCheckpoint(true)
    val withSh = base.select("id", "sh")
    val sigs = base.select("id", "sig")
    // Bands carry ONLY (id, band, bucket): the shingle arrays — by far the
    // widest payload — never ride through the band explode or the bucket
    // shuffle; they are joined back for the (deduped) candidate pairs only.
    // No checkpoint: the three consumers (oversized-bucket scan, anti-join
    // left side, pair self-join) replay only this narrow explode over the
    // CHECKPOINTED sigs — a per-doc posexplode is cheaper than a
    // materialization job.
    val banded = sigs
      .select(col("id"),
        // xxhash64 hashes the band's signature slice (array) + band id.
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(b, slice(col("sig"), b * rows + 1, lit(rows)))))
          .as(Seq("band", "bucket")))
    // Degenerate buckets (boilerplate/empty content hashing together) are
    // DROPPED whole: keeping even a capped prefix of a 100k-doc bucket
    // still yields a quadratic pair blowup, and a broadcast anti-join on
    // the (tiny) oversized-bucket list is cheaper than the per-bucket
    // sort a row_number cap needs. True near-dups lost this way are
    // pathological duplicates that collide in other bands anyway.
    val oversized = CapAudit.oversizedKeys(banded.select("band", "bucket"),
      Seq("band", "bucket"), maxBucketSize, "minhashLsh.bucket")
    val capped = banded
      .join(broadcast(oversized), Seq("band", "bucket"), "left_anti")
      .select("band", "bucket", "id")
    val pairs = capped
      .join(capped.withColumnRenamed("id", "id_b"), Seq("band", "bucket"))
      .filter(col("id") < col("id_b"))
      .select(col("id").as("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    // Candidate sets are orders of magnitude larger than the true-positive
    // set (measured 435k candidates → 256 true pairs on the driver corpus):
    // first filter by the UNBIASED signature estimate of jaccard (matching
    // minhash components / k — the sigs are already in hand, 64 longs vs
    // ~200-string shingle arrays), keeping a 3σ recall margin below the
    // threshold; exact-verify only the survivors.
    val margin = 3.0 * math.sqrt(
      jaccardThreshold * (1 - jaccardThreshold) / k)
    val estKeep = math.max(0.0, jaccardThreshold - margin)
    val withEst = pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")),
        Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")),
        Seq("id_b"))
      .withColumn("est",
        VectorFunctions.arrayLongEqCount(col("sig_a"), col("sig_b"))
          .cast("double") / k)
      .filter(col("est") >= estKeep)
      .select("id_a", "id_b")
    val shA = withSh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val shB = withSh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    withEst.join(shA, Seq("id_a")).join(shB, Seq("id_b"))
      // merge-walk Jaccard: the shingle-hash arrays are sorted distinct
      .withColumn("jaccard", VectorFunctions.sortedLongJaccard(
        col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= jaccardThreshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Connected components over a near-dup pair list via iterative
    * min-label propagation — the step every dedup pipeline needs after
    * candidate pairs: transitively-linked docs form one cluster keyed by
    * the minimum id. Converges in O(log(longest path)) label-exchange
    * rounds in practice (near-dup clusters are small and dense); each
    * round is one join + one aggregation, all hash-partitioned on id —
    * no driver-side graph. Returns (id, label) for every id that appears
    * in a pair; non-paired docs are implicitly their own cluster. */
  def clusterPairs(pairs: DataFrame, idA: String = "id_a",
      idB: String = "id_b", maxIter: Int = 20,
      maxLocalEdges: Long = 1L << 20): DataFrame = {
    // Materialize the (small) pair list ONCE via localCheckpoint: the
    // union references it twice and the iterative loop would otherwise
    // replay the potentially-expensive upstream plan (e.g. a full LSH)
    // every iteration. localCheckpoint truncates lineage without
    // registering a CacheManager entry that would tax later queries.
    val p = pairs.localCheckpoint(true)
    // Adaptive execution: the near-dup pair graph is usually ORDERS OF
    // MAGNITUDE smaller than the corpus (it holds only docs with a
    // verified near-duplicate). Below the threshold, collect the edges
    // and run union-find on the driver — one job instead of 2 per
    // propagation round, and exactly the same (id, min-label) output.
    // Above it, fall through to the distributed label propagation.
    val nEdges = p.count()
    val integralIds = Seq(idA, idB).forall { n =>
      p.schema(n).dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType => true
        case _ => false
      }
    }
    // the union coerces both id columns to their common type — BOTH
    // execution paths emit exactly this type, so the output schema does
    // not flip with data volume
    val edges = p.select(col(idA).as("src"), col(idB).as("dst"))
      .union(p.select(col(idB).as("src"), col(idA).as("dst")))
    if (nEdges <= maxLocalEdges && integralIds) {
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.types._
      val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x
        while (parent.get(c) != r) { val n: Long = parent.get(c)
          parent.put(c, r); c = n }
        r
      }
      p.select(col(idA).cast("long"), col(idB).cast("long")).collect()
        .foreach { row =>
          val a = row.getLong(0); val b = row.getLong(1)
          if (!parent.containsKey(a)) parent.put(a, a)
          if (!parent.containsKey(b)) parent.put(b, b)
          val ra = find(a); val rb = find(b)
          // union by MIN id so the cluster label is the minimum member —
          // identical to the min-label propagation fixpoint
          if (ra < rb) parent.put(rb, ra)
          else if (rb < ra) parent.put(ra, rb)
        }
      val idType = edges.schema("src").dataType
      val narrow: Long => Any = idType match {
        case LongType    => (x: Long) => x
        case IntegerType => (x: Long) => x.toInt
        case ShortType   => (x: Long) => x.toShort
        case ByteType    => (x: Long) => x.toByte
        case t => throw new IllegalStateException(s"unexpected id type $t")
      }
      val rows = parent.keySet().asScala.toSeq.map(Long.unbox).sorted
        .map(id => org.apache.spark.sql.Row(narrow(id), narrow(find(id))))
      val schema = StructType(Seq(
        StructField("id", idType, nullable = false),
        StructField("label", idType, nullable = false)))
      return pairs.sparkSession.createDataFrame(rows.asJava, schema)
    }
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint(true)
    // Convergence via the label-sum invariant: min-propagation only ever
    // DECREASES labels over a fixed id set, so the (exact, decimal) label
    // sum is strictly monotone until fixpoint — one aggregation per round
    // replaces a join + filter + count against the previous labels.
    def labelSum(df: org.apache.spark.sql.DataFrame): java.math.BigDecimal =
      df.agg(sum(col("label").cast("decimal(38,0)")))
        .collect().head.getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val prop = edges.join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("label"))
      // localCheckpoint per round: truncates the iterative lineage (no
      // exponential replay) without CacheManager registration
      val next = labels.unionByName(prop)
        .groupBy("id").agg(min("label").as("label")).localCheckpoint(true)
      val newSum = labelSum(next)
      labels = next
      converged = newSum.compareTo(prevSum) == 0
      prevSum = newSum
      i += 1
    }
    if (!converged)
      System.err.println(s"[graft] clusterPairs: NOT converged after " +
        s"$maxIter rounds — labels may split clusters whose graph " +
        s"diameter exceeds the budget; raise maxIter")
    labels
  }

  /** Keep one canonical doc (minimum id) per near-dup cluster: docs in a
    * cluster survive iff they ARE the cluster label; unpaired docs always
    * survive. */
  def dedupByPairs(docs: DataFrame, idCol: String, pairs: DataFrame)
      : DataFrame = {
    // reserved names on the label side — bare "id"/"label" would collide
    // with (or silently delete) caller columns
    val labels = clusterPairs(pairs)
      .select(col("id").as("__cc_id"), col("label").as("__cc_label"))
    docs.join(labels, docs(idCol) === col("__cc_id"), "left")
      .filter(col("__cc_id").isNull || col("__cc_label") === docs(idCol))
      .drop("__cc_id", "__cc_label")
  }

  /** Quality-aware canonical dedup: like [[dedupByPairs]] but each
    * near-dup cluster keeps its BEST member — max `scoreCol`, ties to
    * the smallest id — instead of blindly the min id (the "keep the
    * longest / highest-quality duplicate" rule real curation pipelines
    * prefer: the min-id copy is often the truncated or boilerplate
    * variant). Selection is one map-side-combinable `max_by` over the
    * tie-free (score, −id) order — no per-cluster sort window — so the
    * only cost over min-id dedup is the score column itself.
    * Singletons keep themselves (cluster labels are member ids, so a
    * singleton's own id can't collide with a cluster label).
    *
    * Returns one row per kept doc: (idCol, n_members). */
  def dedupByPairsBest(docs: DataFrame, idCol: String, pairs: DataFrame,
      scoreCol: String): DataFrame = {
    val labels = clusterPairs(pairs)
      .select(col("id").as("__cc_id"), col("label").as("__cc_label"))
    docs.join(labels, docs(idCol) === col("__cc_id"), "left")
      .withColumn("__lab", coalesce(col("__cc_label"), col(idCol)))
      .groupBy("__lab")
      .agg(
        max_by(col(idCol),
          struct(col(scoreCol), (col(idCol) * -1).as("__neg")))
          .as("__keep"),
        count(lit(1)).as("n_members"))
      .select(col("__keep").as(idCol), col("n_members"))
  }

  /** Exact Jaccard similarity of two (distinct-element) array columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, 0.0).otherwise(inter / union)
  }

  /** SimHash: 64-bit signature where bit i is the sign of the sum over
    * tokens of (token-hash bit i ? +1 : -1). Near-dups differ in few bits
    * (Hamming distance). Implemented bit-parallel over 64 bits with
    * higher-order array functions — narrow, no shuffle. */
  def simhash(tokens: Column): Column = {
    val hashes = transform(tokens, t => xxhash64(t))
    // For each bit position, count tokens with that bit set; bit set in the
    // result iff count*2 > n_tokens (majority).
    val n = size(hashes)
    // shiftright/shiftleft by a COLUMN amount exist in SQL but the Scala
    // functions API only takes Int — call_function reaches the SQL form.
    aggregate(
      sequence(lit(0), lit(63)),
      lit(0L),
      (acc, bit) => {
        val cnt = aggregate(hashes, lit(0L), (c, h) =>
          c + call_function("shiftright", h, bit).bitwiseAND(1L))
        acc.bitwiseOR(
          when(cnt * 2 > n.cast("long"),
            call_function("shiftleft", lit(1L), bit))
            .otherwise(0L))
      })
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Corpus-scale SimHash: token hashes straight off the byte stream
    * (WsTokenHashExpr — no per-token string allocation; empty tokens from
    * leading separators are skipped), then the 64 majority-vote bits in
    * one native expression (SimHashSigExpr; bit set iff the ±1 sum over
    * token occurrences is positive — identical semantics to `simhash`'s
    * cnt*2 > n). Fully narrow: no explode, no 64-buffer aggregation, no
    * shuffle. Docs with ZERO tokens (empty/whitespace-only) are excluded:
    * a majority vote over no tokens is meaningless, and such docs are
    * byte-identical duplicates of each other — exact dedup's job, not
    * SimHash's. (Deliberate change from the earlier explode form, where
    * split()'s [""] artifact gave every empty doc the same signature and
    * simhashPairs reported all-pairs among them.) */
  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val th = graft.expressions.TextExpressions.wsTokenHashes(
      lower(col(textCol)))
    docs.select(col(idCol).as("id"), th.as("__th"))
      .filter(size(col("__th")) > 0)
      .select(col("id"),
        graft.expressions.TextExpressions.simhashSig(col("__th"))
          .as("sig"))
  }

  /** SimHash near-dup pairs: band the 64-bit signature into 4×16-bit chunks
    * (any pair within Hamming distance 3 shares at least one exact chunk —
    * the classic pigeonhole trick), bucket-join on chunks, verify by
    * Hamming distance. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    // the 4×16-bit chunking guarantees candidates only up to distance 3
    // (pigeonhole: d+1 chunks needed) — reject budgets it can't honor
    require(maxHamming <= 3,
      s"4-chunk banding only guarantees recall for maxHamming <= 3, " +
        s"got $maxHamming")
    val sigs = simhashSignatures(docs, idCol, textCol)
    val chunked = sigs.select(col("id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(3)), i =>
        call_function("shiftright", col("sig"), i * 16)
          .bitwiseAND(0xFFFFL)))
        .as(Seq("chunk_pos", "chunk")))
    val a = chunked.select(col("chunk_pos"), col("chunk"),
      col("id").as("id_a"), col("sig").as("sig_a"))
    val b = chunked.select(col("chunk_pos"), col("chunk"),
      col("id").as("id_b"), col("sig").as("sig_b"))
    a.join(b, Seq("chunk_pos", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        hamming64(col("sig_a"), col("sig_b")).as("hamming"))
      .dropDuplicates("id_a", "id_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** N-gram Jaccard near-dup pairs within candidate blocks: docs are blocked
    * on a cheap key (e.g. language) to bound the pair space, then exact
    * word-shingle Jaccard verifies. For unblocked discovery use minhashLsh.
    *
    * Scale guards (both result-preserving at sane corpora): blocks larger
    * than `maxBlockSize` are dropped before the self-join — a degenerate
    * block (corpus-wide boilerplate collapsing the block key) would pay
    * quadratic pairs for no signal, same rationale as minhashLsh's
    * oversized-bucket cap; and pairs whose DISTINCT shingle-set sizes
    * differ by more than the threshold ratio are pruned with an integer
    * compare before the merge-walk — exact, since
    * J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|).
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, n: Int = 3, threshold: Double = 0.8,
      maxBlockSize: Int = 5000): DataFrame = {
    // word-shingle HASHES (native expression): Jaccard over the hash sets
    // equals Jaccard over the string shingles (64-bit collisions are
    // negligible) at zero per-shingle allocation
    // localCheckpoint: both self-join sides consume this frame — without
    // materialization the (possibly expensive) block key and shingling
    // compute twice. (id, blk, hashes) is a fraction of the corpus width.
    val sh = docs.select(col(idCol).as("id"), col(blockCol).as("blk"),
      graft.expressions.TextExpressions.wordShingleHashes(
        lower(col(textCol)), n).as("sh"))
      .withColumn("ns", size(col("sh")))
      .localCheckpoint(true)
    val oversized = CapAudit.oversizedKeys(sh.select("blk"), "blk",
      maxBlockSize, "ngramJaccardPairs.block")
    val capped = sh.join(broadcast(oversized), Seq("blk"), "left_anti")
    val a = capped.select(col("blk"), col("id").as("id_a"),
      col("sh").as("sh_a"), col("ns").as("ns_a"))
    val b = capped.select(col("blk"), col("id").as("id_b"),
      col("sh").as("sh_b"), col("ns").as("ns_b"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b") &&
        least(col("ns_a"), col("ns_b")).cast("double") >=
          lit(threshold) * greatest(col("ns_a"), col("ns_b")))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.sortedLongJaccard(col("sh_a"), col("sh_b"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Global first-occurrence unit dedup — the paragraph-dedup core of
    * modern corpus curation (RefinedWeb / Dolma drop repeated paragraphs
    * corpus-wide, not just repeated documents), generalized to any
    * (doc, position, unit) decomposition: a unit string seen before — in
    * an earlier doc, or earlier in the same doc — is dropped; the first
    * occurrence by (docId, idx) survives.
    *
    * One shuffle, partitioned by the unit itself (the exchange hashes
    * the string; at 100 TB project a 128-bit content hash alongside to
    * shrink wire rows — same plan, keyed on the hash instead).
    *
    * First-occurrence selection is `min_by` over the (docId, idx)
    * total order — a PARTIAL-AGGREGATABLE form: a boilerplate unit
    * repeated corpus-wide collapses to one candidate per map partition
    * before the exchange, where the previous `row_number` window form
    * shuffled the unit's full multiplicity into ONE partition and
    * sorted it there (the classic hot-key hazard). Output rows are
    * identical: (docId, idx) is unique per row by construction, so the
    * min is a total order and merge-order-invariant. */
  def dedupUnits(units: DataFrame, docIdCol: String, idxCol: String,
      unitCol: String): DataFrame = {
    val others = units.columns.filter(_ != unitCol)
    units.groupBy(col(unitCol))
      .agg(min_by(struct(others.map(col): _*),
        struct(col(docIdCol), col(idxCol))).as("__w"))
      .select(col(unitCol) +: others.map(c => col(s"__w.`$c`").as(c)): _*)
      .select(units.columns.map(col).toIndexedSeq: _*)
  }

  /** Reassemble document text from surviving units in position order
    * (docs that lost every unit disappear — standard curation
    * behavior; left-join the id table to audit them). The per-doc sort
    * runs on collected structs: paragraph counts are small, so the
    * interpreted lambda is off the hot path. */
  def reassembleUnits(units: DataFrame, docIdCol: String, idxCol: String,
      unitCol: String, sep: String = " "): DataFrame =
    units.groupBy(col(docIdCol))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col(idxCol).as("i"),
            col(unitCol).as("u")))),
          x => x.getField("u")),
        sep).as("text"))

  /** Corpus document-frequency unit filter — the CCNet shard line-dedup
    * / RefinedWeb "line-wise correction" rule: a unit (line, paragraph)
    * whose normalized form appears in ≥ `maxDocFreq` DISTINCT documents
    * is boilerplate (nav bars, cookie banners, "Sign in") and is removed
    * from EVERY document — including its first occurrence, which is the
    * contract difference from [[dedupUnits]] (first-occurrence dedup
    * keeps one copy; a frequency rule keeps none). Units under the
    * threshold keep all their occurrences.
    *
    * Plan: doc-frequency is `(unit, doc) distinct → unit-keyed count` —
    * both stages partial-aggregatable, so a corpus-wide banner collapses
    * per map partition before either exchange (no hot-key sort). The
    * over-threshold set is then CARDINALITY-BOUNDED BY CONSTRUCTION
    * (≤ |corpus units| / maxDocFreq survivors), so the removal anti-join
    * broadcasts at any corpus scale with a production-sized threshold;
    * AQE picks that up from the runtime size. */
  def dropFrequentUnits(units: DataFrame, docIdCol: String,
      unitCol: String, maxDocFreq: Long): DataFrame = {
    val hot = units.select(col(unitCol), col(docIdCol)).distinct()
      .groupBy(col(unitCol)).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= maxDocFreq)
      .select(col(unitCol))
    units.join(hot, Seq(unitCol), "left_anti")
      .select(units.columns.map(col).toIndexedSeq: _*)
  }

  /** Content-defined chunking (the rsync/LBFS/FastCDC rolling-hash
    * idiom, Muthitacharoen et al. SOSP'01): a cut fires after every
    * k-gram whose rolling hash ≡ 0 (mod divisor), so boundaries are
    * anchored to CONTENT — inserting text shifts only the chunk it
    * lands in, and every later chunk stays byte-identical, which is
    * the property fixed-size blocks lack and the reason storage dedup
    * and insertion-robust long-doc dedup chunk this way. Expected
    * chunk length ≈ divisor (geometric). No min/max clamps — the
    * textbook form, exactly replayable by the SQL oracle; production
    * clamps are a `filter`/`greatest` away and don't change the plan.
    *
    * Narrow except nothing: boundary discovery is one native
    * expression pass; chunk spans derive from a per-doc lead() window.
    * Returns (id, chunk_start, chunk_end, chunk), 1-based inclusive.
    * Compose with [[dedupUnits]] for corpus-wide chunk dedup. */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, divisor: Int = 64): DataFrame = {
    val b = docs
      .select(col(idCol).as("id"), col(textCol).as("__t"),
        graft.expressions.TextExpressions.cdcBoundaries(
          col(textCol), k, divisor).as("__bs"))
      .filter(length(col("__t")) > 0)
    // chunk starts: 1 plus (gram start + k) for each boundary gram that
    // does not cut at the very end (tiny per-doc arrays — the HOF
    // lambdas run over ~len/divisor elements, off the hot path)
    val starts = b.select(col("id"), col("__t"),
      explode(concat(array(lit(1)),
        filter(transform(col("__bs"), x => x + k),
          x => x <= length(col("__t"))))).as("s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy("s")
    starts
      .withColumn("e",
        coalesce(lead(col("s"), 1).over(w) - 1, length(col("__t"))))
      .select(col("id"), col("s").cast("long").as("chunk_start"),
        col("e").cast("long").as("chunk_end"),
        expr("substring(__t, s, e - s + 1)").as("chunk"))
  }

  /** Paragraph-level exact dedup: split on `delim` (blank lines by
    * default), drop corpus-wide repeated paragraphs, reassemble. */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
      delim: String = "\\n{2,}"): DataFrame = {
    val units = docs.select(col(idCol),
        posexplode(split(col(textCol), delim)).as(Seq("idx", "unit")))
      .filter(trim(col("unit")) =!= "")
    reassembleUnits(dedupUnits(units, idCol, "idx", "unit"),
      idCol, "idx", "unit", "\n\n")
  }

  /** Exact duplicated-substring spans — the suffix-array dedup of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better"
    * (arXiv:2107.06499), re-expressed relationally. Every position whose
    * L-char gram occurred EARLIER in the corpus (global occurrence order
    * = (docId, position)) is a duplicated position; runs of duplicated
    * positions merge into maximal spans. A region of length m ≥ L
    * repeated verbatim yields m−L+1 flagged grams in each later
    * occurrence, and those overlapping grams merge back into ONE
    * [start, start+m−1] span — the suffix-array answer without building
    * a suffix array (the relational form trades its O(total chars) index
    * for one gram-keyed exchange, which is what a cluster wants anyway).
    *
    * Shuffle profile: gram explode (narrow; L bytes × positions on the
    * wire) → one exchange partitioned by the gram (first-occurrence
    * window) → one exchange by doc (island merge). With
    * `hashShuffleKey=true` the first exchange is keyed on
    * xxhash64(gram) instead of the gram string — 8 bytes instead of L
    * on the wire and in the sort, at a ~2⁻⁶⁴-per-pair collision risk
    * whose worst case is excising one extra span: the 100 TB setting.
    * Default false so the oracle compares true string equality.
    *
    * Returns (id, span_start, span_end), 1-based inclusive positions.
    */
  def substringSpans(docs: DataFrame, idCol: String, textCol: String,
      L: Int = 50, hashShuffleKey: Boolean = false): DataFrame = {
    require(L >= 2, s"span gram length must be >= 2: $L")
    val grams = docs
      .select(col(idCol).as("id"), col(textCol).as("__t"))
      .filter(length(col("__t")) >= L)
      .select(col("id"), col("__t"),
        explode(sequence(lit(1), length(col("__t")) - (L - 1))).as("i"))
      .select(col("id"), col("i"),
        expr(s"substring(__t, i, $L)").as("gram"))
    val key = if (hashShuffleKey) xxhash64(col("gram")) else col("gram")
    // First-occurrence flagging via an UNORDERED window min rather than
    // row_number: same single gram-keyed exchange, but the executor-side
    // sort is by the partition key alone — a corpus-hot gram's rows are
    // all EQUAL under that sort (one TimSort run, near-linear) where the
    // row_number form had to truly order the gram's full multiplicity by
    // (id, i), O(m log m) with real comparisons, in one task. The min
    // itself is a single O(m) frame pass. Semantics identical: every
    // occurrence except the global (id, i) minimum per gram, and (id, i)
    // is unique by construction. (An agg+join form was measured 4×
    // slower here: it pays the gram-scale exchange twice.)
    val wMin = Window.partitionBy(key)
    val flagged = grams
      .withColumn("__first",
        min(struct(col("id"), col("i"))).over(wMin))
      .filter(struct(col("id"), col("i")) =!= col("__first"))
      .select(col("id"), col("i").as("s"), (col("i") + (L - 1)).as("e"))
    // gaps-and-islands merge: a flagged start adjacent to (or inside) the
    // running max end extends the island; otherwise it opens a new one
    val byDoc = Window.partitionBy("id").orderBy("s")
    val prevMax = max(col("e"))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    flagged
      .withColumn("__new",
        when(col("s") > coalesce(prevMax, lit(-1)) + 1, 1).otherwise(0))
      .withColumn("__isl", sum(col("__new")).over(byDoc))
      .groupBy(col("id"), col("__isl"))
      .agg(min("s").as("span_start"), max("e").as("span_end"))
      .select(col("id"), col("span_start"), col("span_end"))
  }

  /** Substring-level dedup: excise every duplicated span found by
    * [[substringSpans]] and stitch the survivors back together. Output is
    * one row per input doc: (id, n_spans, dup_chars, clean_text) — docs
    * with nothing duplicated pass through verbatim, a doc that is one
    * giant duplicate comes back with clean_text = "".
    *
    * The rebuild is relational, not per-char: kept segments are the gaps
    * between consecutive spans (plus the tail), each a single codegen'd
    * `substring`, assembled per doc with an array_sort over the handful
    * of segment structs. Spans are localCheckpointed once — three
    * consumers (stats, gaps, tails), tiny frame. */
  def substringDedup(docs: DataFrame, idCol: String, textCol: String,
      L: Int = 50, hashShuffleKey: Boolean = false): DataFrame = {
    val spans = substringSpans(docs, idCol, textCol, L, hashShuffleKey)
      .localCheckpoint(true)
    val base = docs.select(col(idCol).as("id"), col(textCol).as("__t"))
    val bySpan = Window.partitionBy("id").orderBy("span_start")
    val gaps = spans.select(col("id"),
        coalesce(lag(col("span_end"), 1).over(bySpan) + 1, lit(1)).as("ss"),
        (col("span_start") - 1).as("se"))
      .filter(col("se") >= col("ss"))
    // tail sentinel se = -1 → "to end of text" (resolved after the join,
    // where length(__t) is in scope)
    val tails = spans.groupBy("id")
      .agg((max("span_end") + 1).as("ss"))
      .withColumn("se", lit(-1))
    val rebuilt = gaps.unionByName(tails)
      .join(base, Seq("id"))
      .select(col("id"), col("ss"),
        expr("substring(__t, ss, (CASE WHEN se = -1 THEN length(__t) " +
          "ELSE se END) - ss + 1)").as("seg"))
      .groupBy("id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("ss"), col("seg")))),
          x => x.getField("seg")), "").as("clean_text"))
    val stats = spans.groupBy("id")
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_end") - col("span_start") + 1).as("dup_chars"))
    base
      .join(stats, Seq("id"), "left")
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        coalesce(col("clean_text"), col("__t")).as("clean_text"))
  }

  /** Exact all-pairs Jaccard self-join via PREFIX FILTERING (the
    * AllPairs / PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    * WWW'08): under any fixed global element order, a pair with
    * J(A,B) ≥ t must share at least one element among the smallest
    * (|X| − ⌈t·|X|⌉ + 1) elements of each side (pigeonhole: fewer
    * shared prefix elements would leave too few elements to reach t).
    * Candidates therefore come from an inverted index over PREFIXES
    * only — no blocking key, and the result is EXACT, unlike the
    * probabilistic minhashLsh discovery route.
    *
    * Element order: ascending shingle hash — wordShingleHashes already
    * emits it, so the prefix is a zero-copy `slice`. (The literature
    * orders by ascending document frequency for tighter postings; hash
    * order is frequency-agnostic but unbiased and saves the global
    * df pass + per-doc re-sort. `maxPostingSize` bounds the posting
    * blowup either way: a prefix token shared by more docs than that is
    * corpus boilerplate — dropping it can only lose pairs whose EVERY
    * shared prefix element is boilerplate, the same degenerate-key
    * concession as minhashLsh/winnowOverlapPairs, and no posting comes
    * near the cap on non-pathological corpora.)
    *
    * Shuffle profile: sketch pass (narrow) → explode prefixes → one
    * shuffle building postings → in-posting pairs → distinct candidate
    * (id_a,id_b) → two joins back to the sketch frame for the hash
    * sets → integer size-ratio prune → exact merge-walk verify. Every
    * stage is bounded: candidates ≤ Σ posting² ≤ postings·cap. */
  def prefixJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8,
      maxPostingSize: Int = 1000): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold in (0,1]: $threshold")
    val sh = docs.select(col(idCol).as("id"),
      graft.expressions.TextExpressions.wordShingleHashes(
        lower(col(textCol)), n).as("sh"))
      .withColumn("ns", size(col("sh")))
      .filter(col("ns") > 0)
      .localCheckpoint(true) // feeds prefix explode AND both verify sides
    // prefix length p = ns - ceil(t*ns) + 1 (≥ 1 for t ≤ 1)
    val p = (col("ns") -
      ceil(lit(threshold) * col("ns")).cast("int") + 1)
    val posts = sh.select(col("id"),
      explode(slice(col("sh"), lit(1), p)).as("tok"))
    val oversized = CapAudit.oversizedKeys(posts.select("tok"), "tok",
      maxPostingSize, "prefixJaccardPairs.posting")
    val capped = posts.join(broadcast(oversized), Seq("tok"), "left_anti")
    val cand = capped.select(col("tok"), col("id").as("id_a"))
      .join(capped.select(col("tok"), col("id").as("id_b")), Seq("tok"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    val a = sh.select(col("id").as("id_a"), col("sh").as("sh_a"),
      col("ns").as("ns_a"))
    val b = sh.select(col("id").as("id_b"), col("sh").as("sh_b"),
      col("ns").as("ns_b"))
    cand.join(a, Seq("id_a")).join(b, Seq("id_b"))
      // exact prune: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|)
      .filter(least(col("ns_a"), col("ns_b")).cast("double") >=
        lit(threshold) * greatest(col("ns_a"), col("ns_b")))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.sortedLongJaccard(col("sh_a"), col("sh_b"))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Partial-overlap document pairs via a winnowing-fingerprint inverted
    * index (the MOSS pipeline, Schleimer et al. SIGMOD'03): docs sharing
    * ≥ `minShared` selected fingerprints — catches COPIED PASSAGES between
    * otherwise-different docs, which whole-document MinHash/SimHash miss.
    *
    * Shuffle profile: explode fingerprints (narrow) → one shuffle building
    * the (fp → docs) posting lists → pairs within each posting → one
    * count aggregation on (id_a, id_b). Fingerprints appearing in more
    * than `maxPostingSize` docs are boilerplate (standard winnowing
    * practice drops them) — the cap also bounds the per-posting quadratic
    * pair blowup, exactly like minhashLsh's oversized-bucket drop. */
  def winnowOverlapPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 16, minShared: Long = 5,
      maxPostingSize: Int = 50): DataFrame = {
    val fps = docs.select(col(idCol).as("id"),
      explode(graft.expressions.TextExpressions.winnowFingerprints(
        col(textCol), k, w)).as("fp"))
      .localCheckpoint(true) // feeds the posting-size scan AND both join sides
    val oversized = CapAudit.oversizedKeys(fps.select("fp"), "fp",
      maxPostingSize, "winnowOverlapPairs.posting")
    val capped = fps.join(broadcast(oversized), Seq("fp"), "left_anti")
    val a = capped.select(col("fp"), col("id").as("id_a"))
    val b = capped.select(col("fp"), col("id").as("id_b"))
    a.join(b, Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Asymmetric containment pairs (Broder, "On the resemblance and
    * containment of documents", SEQUENCES'97): C(A→B) =
    * |fp(A)∩fp(B)| / |fp(A)| over winnowing fingerprint SETS — catches
    * a short document quoted inside a much larger one, where symmetric
    * Jaccard vanishes (|A∩B|/|A∪B| → 0 as |B| grows). Same bounded
    * posting shape as [[winnowOverlapPairs]] plus each doc's
    * fingerprint-set size joined back. DIRECTED output (both rows
    * appear when both directions clear the threshold); boilerplate
    * fingerprints (posting > maxPostingSize) drop from the numerator
    * but stay in the denominator — conservative, never inflating. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 16, threshold: Double = 0.8,
      maxPostingSize: Int = 50): DataFrame = {
    val fps = docs.select(col(idCol).as("id"),
      explode(graft.expressions.TextExpressions.winnowFingerprints(
        col(textCol), k, w)).as("fp"))
      .localCheckpoint(true) // sizes + posting scan + both join sides
    val sizes = fps.groupBy("id").agg(count(lit(1)).as("n_fp"))
    val oversized = CapAudit.oversizedKeys(fps.select("fp"), "fp",
      maxPostingSize, "containmentPairs.posting")
    val capped = fps.join(broadcast(oversized), Seq("fp"), "left_anti")
    val a = capped.select(col("fp"), col("id").as("id_a"))
    val b = capped.select(col("fp"), col("id").as("id_b"))
    a.join(b, Seq("fp"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("id").as("id_a"), col("n_fp")), Seq("id_a"))
      .withColumn("containment",
        col("n_shared").cast("double") / col("n_fp"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_shared"), col("n_fp"),
        round(col("containment"), 6).as("containment"))
  }

  /** Embedding-cosine near-duplicate pairs, LSH-bucketed by random
    * hyperplane signs (sign bits of dot products with `nPlanes` seeded
    * pseudo-random hyperplanes → one bucket key; near-identical vectors
    * collide with high probability). Verify with the native cosine
    * expression. */
  /** Brute-force embedding near-dup pairs: exact all-pairs cosine — the
    * verification path of [[embeddingNearDups]] without the hyperplane
    * candidate filter. Quadratic: for small N, re-ranking a candidate
    * set, or oracle verification; production discovery uses the bucketed
    * form. */
  def embeddingNearDupsExact(vecs: DataFrame, idCol: String,
      vecCol: String, threshold: Double = 0.95): DataFrame = {
    val a = vecs.select(col(idCol).as("id_a"), col(vecCol).as("v_a"))
    val b = vecs.select(col(idCol).as("id_b"), col(vecCol).as("v_b"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosineSimilarity(col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * documents whose EMBEDDINGS are near-identical (cosine ≥ threshold)
    * are semantic duplicates even when their surface text differs —
    * paraphrases, templated rewrites, machine translations. Connected
    * components of the pair graph collapse to their min-id
    * representative ([[dedupByPairs]]).
    *
    * Discovery route is pluggable, mirroring the paper's design where
    * k-means cluster scoping only bounds the candidate space: the
    * default is the hyperplane-bucketed [[embeddingNearDups]] (one
    * bucket exchange, no all-pairs); `exact = true` swaps in the
    * quadratic [[embeddingNearDupsExact]] — for small corpora,
    * re-ranking, and oracle verification only. */
  def semanticDedup(vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, exact: Boolean = false,
      nPlanes: Int = 12, seed: Long = 7, dim: Int = 64): DataFrame = {
    val pairs =
      if (exact) embeddingNearDupsExact(vecs, idCol, vecCol, threshold)
      else embeddingNearDups(vecs, idCol, vecCol, threshold, nPlanes,
        seed, dim)
    dedupByPairs(vecs, idCol, pairs.select("id_a", "id_b"))
  }

  /** k-means-scoped SemDeDup discovery — the paper's ACTUAL candidate
    * scoping (Abbas et al. 2303.09540 §2: cluster the corpus, compare
    * pairs only WITHIN each cluster): assignment is the zero-exchange
    * [[Similarity.ivfAssign]] projection against a model-sized
    * centroid table (typically [[Similarity.kmeansIterate]]'s fit),
    * candidates meet in a centroid-keyed equi-join — per-cluster
    * quadratic, never corpus-quadratic, with cluster count k the
    * explicit cost lever, SALTED across `saltSlices` sub-keys so the
    * quadratic work parallelizes to k·saltSlices tasks instead of
    * capping at k (small k is the common regime — SemDeDup's paper
    * uses k ≈ √n; with k=8 a bare join pins 8 cores whatever the
    * cluster size). Cosines are rounded to 6 dp BEFORE the
    * threshold compare (the q222 engine-portability rule). Returns
    * `(centroid_id, id_a, id_b, cos)` for surviving pairs; feed
    * `(id_a, id_b)` to [[dedupByPairs]] for the keep/drop table. */
  def embeddingNearDupsKmeans(vecs: DataFrame, idCol: String,
      vecCol: String, threshold: Double, centroids: DataFrame,
      cIdCol: String = "centroid_id", cVecCol: String = "c_vec",
      saltSlices: Int = 8): DataFrame = {
    require(saltSlices >= 1, s"saltSlices must be >= 1: $saltSlices")
    val assigned = Similarity.ivfAssign(vecs, idCol, vecCol, centroids,
        cIdCol, cVecCol, nProbe = 1).drop("probe_rank")
      .select(col(cIdCol), col(idCol).as("__id"), col(vecCol).as("__v"))
    // SALTED pair join: a bare centroid_id equi-join has only k
    // distinct keys, so the per-cluster-quadratic work (the dominant
    // cost — measured 174M cosines at sf1 for q254) lands on at most
    // k tasks no matter how many cores exist. Slice the rhs by
    // id % saltSlices and replicate the lhs across slices: identical
    // pair set (every (a, b) meets in exactly the slice b belongs
    // to), parallelism k·saltSlices, extra wire = saltSlices copies
    // of the ROW STREAM (linear), never of the pair stream. The slice
    // key is xxhash64(id), NOT a long cast: ids of any type (string
    // doc ids included) slice correctly, whereas a failed cast would
    // null the key and silently drop every pair touching those rows.
    val a = assigned
      .select(col(cIdCol), col("__id").as("id_a"), col("__v").as("v_a"),
        explode(sequence(lit(0), lit(saltSlices - 1))).as("__slice"))
    val b = assigned.select(col(cIdCol), col("__id").as("id_b"),
      col("__v").as("v_b"),
      pmod(xxhash64(col("__id")), lit(saltSlices.toLong))
        .cast("int").as("__slice"))
    a.join(b, Seq(cIdCol, "__slice"))
      .filter(col("id_a") < col("id_b"))
      .select(col(cIdCol), col("id_a"), col("id_b"),
        round(VectorFunctions.cosineSimilarity(col("v_a"), col("v_b")),
          6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** EXACT candidate-pair work counter for [[embeddingNearDupsKmeans]]
    * without running the quadratic join: the pair stage scores exactly
    * Σ_c s_c·(s_c−1)/2 cosines where s_c is cluster c's population, so
    * one [[Similarity.ivfAssign]] projection + one count-by-centroid
    * (a k-bounded exchange) prices the whole stage. Returns
    * (centroid_id, n, cand_pairs) — the scale audit's raw rows (sum
    * `cand_pairs`, divide by Σn for pairs-per-row). This is the
    * SemDeDup analogue of [[graft.ops.Hnsw.buildWorkCounters]]: it
    * turns "would this k survive a 10× corpus" into a measured number
    * BEFORE the quadratic stage runs — a deployment sizes k with
    * [[Similarity.autoK]], prices it here, then commits. */
  def kmeansPairWork(vecs: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, cIdCol: String = "centroid_id",
      cVecCol: String = "c_vec"): DataFrame =
    Similarity.ivfAssign(vecs, idCol, vecCol, centroids, cIdCol,
        cVecCol, nProbe = 1)
      .groupBy(col(cIdCol))
      .agg(count(lit(1)).as("n"))
      // integral DIV: n·(n−1) is even, and a double quotient would
      // lose exactness past 2^53 pairs (reachable per-cluster at 100 TB
      // with a mis-sized k — exactly when the counter matters most)
      .select(col(cIdCol), col("n"),
        expr("(n * (n - 1)) DIV 2").as("cand_pairs"))

  /** PRODUCTION parameterization of k-means-scoped SemDeDup — the
    * auto-scaled path a deployment runs, vs the fixed-k demo the
    * contract pins for oracle replayability (q239/q254). Fixed k over
    * a growing corpus is the documented scale hazard: per-cluster
    * population grows with the data, so pair work grows quadratically
    * (measured 99.6× pairs at 10× data for the q239 demo). Here k is
    * [[Similarity.autoK]](n, targetClusterSize) — expected cluster
    * population, hence pairs-per-row, held ~constant as the corpus
    * grows; total pair work ~linear (the SemDeDup paper's own k ≈ √n
    * regime, Abbas et al. 2303.09540 §2).
    *
    * Fit: [[Similarity.fitIvfCentroids]] (one deterministic-sample
    * scan + driver Lloyd's — `maxSample` must comfortably exceed k;
    * required 4× here) then `iters` full-corpus
    * [[Similarity.kmeansIterate]] refinement passes so tail domains
    * the sample under-represents still shape the final cells. Pass
    * `corpusSize` when the caller already knows n (usually from an agg
    * it has anyway) to skip the count job. Returns (survivors,
    * centroids) — survivors are [[dedupByPairs]]'s min-id
    * representatives; centroids are reusable for assignment audits
    * and [[kmeansPairWork]] pricing. */
  def semanticDedupKmeansAuto(vecs: DataFrame, idCol: String,
      vecCol: String, threshold: Double,
      targetClusterSize: Long = 1024L, corpusSize: Long = -1L,
      seed: Long = 42, iters: Int = 2, saltSlices: Int = 8,
      maxSample: Int = 1 << 16): (DataFrame, DataFrame) = {
    val n = if (corpusSize >= 0L) corpusSize else vecs.count()
    val k = Similarity.autoK(n, targetClusterSize)
    require(k.toLong * 4 <= math.min(maxSample.toLong, n.max(1L)) ||
      k == 1,
      s"semanticDedupKmeansAuto: k=$k needs a fit sample >= 4k " +
        s"(maxSample=$maxSample, n=$n) — raise maxSample or " +
        "targetClusterSize")
    val init = Similarity.fitIvfCentroids(vecs, vecCol, k, seed,
      maxIter = 20, maxSample = maxSample)
    val cents =
      if (iters >= 1)
        Similarity.kmeansIterate(vecs, idCol, vecCol, init, iters)
      else init
    val pairs = embeddingNearDupsKmeans(vecs, idCol, vecCol, threshold,
      cents, saltSlices = saltSlices)
    (dedupByPairs(vecs, idCol, pairs.select("id_a", "id_b")), cents)
  }

  def embeddingNearDups(vecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, nPlanes: Int = 12, seed: Long = 7,
      dim: Int = 64): DataFrame = {
    val bucketed = vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("bucket", Similarity.hyperplaneBucket(col("v"), nPlanes,
        dim, seed))
    val a = bucketed.select(col("bucket"), col("id").as("id_a"),
      col("v").as("v_a"))
    val b = bucketed.select(col("bucket"), col("id").as("id_b"),
      col("v").as("v_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosineSimilarity(col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Corpus-overlap audit: pairwise Jaccard ESTIMATES between groups
    * (sources, snapshots, shards) from per-group UNION MinHash
    * signatures — "how much does source A overlap source B" answered
    * without ever joining text. MinHash composes under union
    * (min of mins), so each group's signature is one k-column min-agg
    * over its members' element hashes: group state is k longs
    * regardless of corpus size, the pairwise stage compares
    * |groups|² / 2 signature pairs (sources/snapshots number in the
    * thousands — broadcast-joinable), and E[matches/k] = J(A,B) with
    * the usual 1/√k error.
    *
    * `perms` are affine (a, b) permutations over Z_p — pass a
    * replayable family (q78's) for oracle-checked runs or
    * splitmix-derived constants in production; the operator is
    * agnostic. Returns (grp_a, grp_b, n_match, est_jaccard) for
    * grp_a < grp_b; est_jaccard = n_match/k is exact binary FP. */
  def groupMinhashOverlap(elems: DataFrame, grpCol: String,
      hashCol: String, perms: Seq[(Long, Long)],
      p: Long = 1000000007L): DataFrame = {
    require(perms.nonEmpty, "perms must be non-empty")
    val k = perms.length
    val aggs = perms.zipWithIndex.map { case ((a, b), j) =>
      min((col(hashCol) * a + b) % p).as(s"m$j")
    }
    val sig = elems.groupBy(col(grpCol).as("grp"))
      .agg(aggs.head, aggs.tail: _*)
      .localCheckpoint(true)
    val matches = (0 until k).map(j =>
      when(col(s"a.m$j") === col(s"b.m$j"), 1).otherwise(0))
      .reduce(_ + _)
    sig.as("a").join(broadcast(sig.as("b")),
        col("a.grp") < col("b.grp"))
      .select(col("a.grp").as("grp_a"), col("b.grp").as("grp_b"),
        matches.cast("long").as("n_match"),
        (matches.cast("double") / k).as("est_jaccard"))
  }

  /** Edit-distance verify stage for candidate pairs — the PRECISION half
    * of a candidate→verify dedup pipeline (MinHash/SimHash bands recall
    * near-dups cheaply; Levenshtein is the strict final judge a
    * set-similarity verify can't be: it sees order and position, so
    * shuffled-token twins that fool Jaccard fail here).
    *
    * The scale lever is the `maxDist` bound: Spark's 3-arg
    * `levenshtein(l, r, threshold)` runs the banded DP — O(maxDist ·
    * min(|a|,|b|)) and early-exit, not the O(|a|·|b|) full matrix — and
    * pairs whose LENGTHS already differ by more than `maxDist` exit
    * before any DP. Work is per-pair codegen'd compute on the join
    * output; the only exchanges are the two id-keyed text joins, and the
    * candidate generator has already bounded pair count (never
    * all-pairs).
    *
    * Returns (idA, idB, dist, sim) for pairs with dist ≤ maxDist;
    * sim = 1 − dist/max(|a|,|b|) (the normalized edit similarity). */
  def editDistanceVerify(docs: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, maxDist: Int, idA: String = "id_a",
      idB: String = "id_b"): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0: $maxDist")
    // Length-gap prefilter BEFORE the text joins: |len(a) − len(b)| is
    // a Levenshtein lower bound, so gap > maxDist pairs can never pass
    // — and band candidates are mostly chance collisions between
    // unrelated (differently-sized) docs, so dropping them against the
    // 12-byte (id, len) projection spares the expensive full-text
    // shuffle its dead weight (measured sf1: 383k candidates → 119k
    // survivors; dropped pairs are exactly those the DP would have
    // rejected, so output hashes cannot move).
    val lens = docs.select(col(idCol), length(col(textCol)).as("__len"))
      .localCheckpoint(true)
    pairs.select(col(idA), col(idB))
      .join(lens.select(col(idCol).as(idA), col("__len").as("__la")),
        Seq(idA))
      .join(lens.select(col(idCol).as(idB), col("__len").as("__lb")),
        Seq(idB))
      .filter(abs(col("__la") - col("__lb")) <= maxDist)
      .join(docs.select(col(idCol).as(idA), col(textCol).as("__ta")),
        Seq(idA))
      .join(docs.select(col(idCol).as(idB), col(textCol).as("__tb")),
        Seq(idB))
      .withColumn("dist", levenshtein(col("__ta"), col("__tb"), maxDist))
      .filter(col("dist") >= 0)
      .select(col(idA), col(idB), col("dist").cast("long").as("dist"),
        round(lit(1.0) - col("dist").cast("double") /
          greatest(length(col("__ta")), length(col("__tb")))
            .cast("double"), 6).as("sim"))
  }
}
