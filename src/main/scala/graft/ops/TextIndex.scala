package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Persisted, incrementally-maintained BM25 inverted index — the
  * text-retrieval twin of the [[AnnIndex]]+[[Hnsw]] maintenance
  * lifecycle (Robertson et al., Okapi at TREC-3 1994; identical
  * scoring to [[TextOps.bm25]]/[[TextOps.bm25Search]], spec-pinned).
  * A growing RAG/retrieval corpus should not re-tokenize 100 TB to
  * refresh df and avg-length every day: every BM25 statistic is a sum
  * of per-batch integers, so the index stores ADDITIVE deltas in the
  * same batch-directory parquet store [[AnnIndex]] uses (the store is
  * generic parts + params + manifest-written-last; nothing in it is
  * ANN-specific), and a query resolves them with vocabulary-bounded
  * rollups — never a corpus rescan.
  *
  * Parts (un-keyed — plain batch unions, append cost = the delta):
  *  - `postings` (idCol, term, tf, dl, mb): one row per distinct
  *    (doc, term), with the doc length DENORMALIZED onto the posting
  *    (the Lucene norms idiom) so scoring never joins a doc table;
  *  - `docs` (idCol, dl, mb): the stored-id set — the maintenance
  *    stream's re-arrival anti-join target;
  *  - `termdf` (term, df_delta): per-batch document frequencies —
  *    exact because re-arrivals are dropped before the delta is
  *    computed, so SUM(df_delta) IS df;
  *  - `stats` (n_docs, len_sum): ONE row per batch; N and avg_dl come
  *    from summing this batches-sized table. len_sum is an exact
  *    integer sum, so len_sum/N equals the double-avg of
  *    integer-valued lengths ([[TextOps.bm25]]'s q94 invariant) in
  *    every summation order;
  *  - `deleted` (idCol, th): the deletion LEDGER — the same rule as
  *    the HNSW membership ledger ([[AnnIndex.liveRows]]): a `postings`
  *    or `docs` row is live iff its `mb` (the `postings` batch count
  *    when it was written) is ≥ every `th` of its id. Deletes and CDC
  *    updates are ledger rows plus ordinary delta appends, so a search
  *    between folds pays one ledger filter and nothing else;
  *  - `pending` (idCol, textCol): keyed on the id and always empty —
  *    kept so the layout readers name stays the same.
  *
  * Query plan shape at 100 TB: `search` filters `postings` and
  * `termdf` on the query's terms BEFORE any join or agg — parquet
  * min/max + dictionary pushdown prunes the scan to the query
  * vocabulary, the df/stats rollups are ≤ |terms|- and
  * ≤ |batches|-sized rows collected in ONE small job when `search` is
  * called (the ledger rides along), and the only wide stage of the
  * returned plan is the per-doc score agg over matched postings
  * (map-side combinable, k-bounded output). That is the difference
  * between BM25-as-a-nightly-batch-job and BM25-as-a-service.
  */
object TextIndex {
  private val Kind = "bm25"

  /** Every part [[save]] and [[compact]] write — the one store layout
    * every other entry point accepts. */
  private val Layout =
    Seq("postings", "docs", "termdf", "stats", "deleted", "pending")

  /** The one store check every entry point runs first, against the
    * params and part names the caller already holds (no job, no
    * manifest read): the store must be a BM25 index with every
    * [[Layout]] part. */
  private def requireStore(op: String, path: String,
      params: Map[String, String], parts: Iterable[String]): Unit = {
    require(params.get("kind").contains(Kind),
      s"TextIndex.$op: index at $path has kind " +
        s"${params.getOrElse("kind", "?")}, expected $Kind")
    val missing = Layout.filterNot(parts.toSet)
    require(missing.isEmpty,
      s"TextIndex.$op: index at $path has no ${missing.mkString("/")} " +
        "part — seed it with TextIndex.save")
  }

  private def requireStore(op: String, store: AnnIndex.Store): Unit =
    requireStore(op, store.path, store.params, store.manifest.map(_._1))

  /** Range-cluster a part on its probe key before writing — the same
    * discipline as [[Hnsw]]'s `sortedByKey`: `postings` clustered on
    * `term` makes a query's pushed term-IN prune at the row-group
    * level (min/max stats bound each group's term range) instead of
    * decoding the whole part per query; `docs` clustered on the id
    * makes [[append]]'s stored-id overlap probe ∝ matching row
    * groups. No explicit partition count — AQE coalesces a
    * micro-batch delta to one file while an index-sized compact
    * write spreads across the cluster. Applied at INDEX-SIZED write
    * sites only (save/compact, plus bulk-regime appends past
    * [[ClusterDeltaMinDocs]]) — NOT to micro-batch delta appends: a
    * `repartitionByRange` costs a range-sampling job + an exchange
    * PER PART PER BATCH, and a batch-sized delta lands in a couple of
    * row groups whatever its order, so there is nothing for the
    * min/max bounds to prune (the driver's r14 protocol measured the
    * per-delta clustering as a net loss at local[32]: q257
    * 9.3 → 14.2 s). The scheduled [[compact]] clusters the folded
    * index — where the row-group pruning actually pays. */
  private def clustered(df: DataFrame, key: String): DataFrame =
    df.repartitionByRange(col(key)).sortWithinPartitions(key)

  private def clusteredParts(d: Map[String, DataFrame], idCol: String)
      : Map[String, DataFrame] =
    d + ("postings" -> clustered(d("postings"), "term")) +
      ("docs" -> clustered(d("docs"), idCol)) +
      ("termdf" -> clustered(d("termdf"), "term"))

  /** Literal-inlining bound for driver-collected batch ids (see the
    * scale-shape note above [[append]]); declared HERE because
    * [[ClusterDeltaMinDocs]] below aligns with it (Scala object vals
    * initialize in declaration order). */
  private val MaxInlineIds = 100000

  /** Delta-append clustering boundary, aligned with the
    * [[MaxInlineIds]] two-regime line: at or below it (the micro-batch
    * regime) the delta writes UNCLUSTERED — its files are too small
    * for row-group pruning to matter and later probes push inlined
    * id/term IN lists anyway; above it (the bulk-load regime, where
    * probes fall back to distributed joins over the whole part) the
    * range clustering pays at read and is kept. */
  private val ClusterDeltaMinDocs = MaxInlineIds

  private def deltaWriteParts(d: Map[String, DataFrame], idCol: String,
      nDocs: Long): Map[String, DataFrame] =
    if (nDocs > ClusterDeltaMinDocs) clusteredParts(d, idCol) else d

  /** The four delta parts for a batch of NEW documents (caller
    * guarantees ids are not already stored — the maintenance stream
    * anti-joins against `docs` first). Rows with empty/whitespace text
    * are excluded from every statistic, matching [[TextOps.bm25]].
    * `postings` and `docs` come back without the `mb` stamp; the write
    * sites add it ([[stamped]]). */
  def deltaParts(docs: DataFrame, idCol: String, textCol: String)
      : Map[String, DataFrame] = {
    val d = docs.filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), col(textCol))
    // The four parts are all derived from two relations — (id, dl) and
    // the (id, term, tf, dl) postings — and every caller writes ALL of
    // them. Without pinning, the tokenize→explode→agg chain re-ran
    // once PER PART (guide §1.2: don't compute things twice);
    // localCheckpoint runs it once and the derived rollups (termdf,
    // stats) fold over the pinned rows. termdf counts postings rows
    // per term, which equals tf rows per term exactly: the tf→lens
    // join is 1:1 (both sides derive from the same non-empty-text
    // rows, one lens row per id).
    val lens = d.select(col(idCol),
      TextOps.tokenCount(col(textCol)).cast("long").as("dl"))
      .localCheckpoint(true)
    val tf = d
      .select(col(idCol),
        explode(TextOps.tokens(lower(col(textCol)))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val postings = tf.join(lens, Seq(idCol))
      .select(col(idCol), col("term"), col("tf"), col("dl"))
      .localCheckpoint(true)
    val termdf = postings.groupBy(col("term"))
      .agg(count(lit(1)).as("df_delta"))
    val stats = lens.agg(count(lit(1)).as("n_docs"),
      coalesce(sum(col("dl")), lit(0L)).as("len_sum"))
    Map("postings" -> postings, "docs" -> lens,
      "termdf" -> termdf, "stats" -> stats)
  }

  /** Stamp the per-doc parts with `mb`, the `postings` batch count at
    * write time — the version the `deleted (idCol, th)` ledger
    * thresholds against ([[AnnIndex.liveRows]]): 0 at [[save]] and
    * [[compact]], the store's current `postings` batch count on an
    * append. */
  private def stamped(d: Map[String, DataFrame], mb: Int)
      : Map[String, DataFrame] =
    d ++ Seq("postings", "docs").map(p => p -> d(p).withColumn("mb", lit(mb)))

  /** The empty `deleted` ledger and `pending` part every fresh store
    * starts with. `pending (idCol, textCol)` stays in the layout, empty
    * and keyed on the id, for readers that name it; nothing appends to
    * it or reads it. */
  private def emptyParts(docs: DataFrame, idCol: String,
      textCol: String): Map[String, DataFrame] =
    Map("deleted" -> docs.select(col(idCol), lit(0).as("th")).limit(0),
      "pending" -> docs.select(col(idCol),
        lit(null).cast("string").as(textCol)).limit(0))

  /** Build and persist the index from scratch (the seed save the
    * maintenance stream grows from), with `mb` = 0 and an empty
    * deletion ledger. */
  def save(path: String, docs: DataFrame, idCol: String,
      textCol: String): Unit =
    AnnIndex.save(path,
      clusteredParts(stamped(deltaParts(docs, idCol, textCol), 0),
        idCol) ++ emptyParts(docs, idCol, textCol),
      Map("kind" -> Kind, "id_col" -> idCol, "text_col" -> textCol),
      keys = Map("pending" -> Seq(idCol)))

  /** Delete documents — the Lucene live-docs semantics: the ids land
    * on the `deleted (idCol, th)` ledger with `th` = the current
    * `postings` batch count, so every stored row of theirs (`mb < th`)
    * stops scoring at once, while their contribution to df and N stays
    * in the statistics until [[compact]] physically merges them out.
    * The write is |ids|-sized; nothing scans the index. A deleted id
    * cannot be re-inserted by a plain [[append]] until a compact frees
    * it ([[append]] treats it as still stored); [[applyCdc]] re-inserts
    * ids deleted in the same batch — the CDC update. */
  def delete(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String): Unit = {
    val store = AnnIndex.open(spark, path)
    requireStore("delete", store)
    AnnIndex.appendTo(store, Map("deleted" -> ledgerRows(store, ids, idCol)))
    ()
  }

  private def ledgerRows(store: AnnIndex.Store, ids: DataFrame,
      idCol: String): DataFrame =
    ids.select(col(idCol), lit(store.partBatches("postings")).as("th"))

  /** Bounded driver-side id collection WITH the conflict guard folded
    * in: `rel` is already dropDuplicates(id, text)-collapsed, so a
    * repeated id in the collected list IS a conflict (two different
    * texts under one id) — detected on the driver for free instead of
    * as a separate groupBy job per micro-batch. Past [[MaxInlineIds]]
    * (the bulk regime, where a driver list would bloat) returns None
    * after running the distributed conflict check unchanged. */
  private def idsWithConflictGuard(rel: DataFrame, idCol: String,
      msg: Seq[Any] => String): Option[IndexedSeq[Any]] = {
    val rows = rel.select(col(idCol)).limit(MaxInlineIds + 1)
      .collect().map(_.get(0)).toIndexedSeq
    if (rows.length > MaxInlineIds) {
      val conflicts = rel.groupBy(col(idCol))
        .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
        .select(col(idCol)).limit(5).collect().map(_.get(0))
      require(conflicts.isEmpty, msg(conflicts.toSeq))
      None
    } else {
      val dups = rows.groupBy(identity).collect {
        case (k, v) if v.size > 1 => k
      }.take(5).toSeq
      require(dups.isEmpty, msg(dups))
      Some(rows)
    }
  }

  /** ONE CDC micro-batch — deletes and arrivals — applied as ONE index
    * load and ONE multi-part [[AnnIndex.append]] (one manifest
    * version): the `dels` ids land on the ledger at `th` = the current
    * `postings` batch count, and the `inserts` are appended exactly as
    * [[append]] appends them, stamped `mb` = that same count — except
    * that ids deleted in THIS batch do not count as stored, so a
    * delete + re-arrival of one id (the CDC update) retires the old
    * version (`mb < th`) and indexes the new one (`mb = th`) in the
    * same append. The update's df_delta and stats row are those of a
    * fresh doc; the retired version's df/N stay counted until the
    * fold, as a delete's do (Lucene) — including every superseded
    * version of an id updated more than once between folds. `dels` is
    * read twice (the ledger write and the prune); pin it if it is
    * expensive to recompute. */
  def applyCdc(spark: SparkSession, path: String, dels: DataFrame,
      inserts: DataFrame, idCol: String, textCol: String): Long =
    applyCdc(AnnIndex.open(spark, path), dels, inserts, idCol,
      textCol)._1

  /** [[applyCdc]] against an OPEN [[AnnIndex.Store]] handle — the
    * maintenance loop's per-micro-batch entry point: the caller's
    * handle already carries the resolved generation, manifest, parts
    * and params, and the returned successor handle serves the
    * follow-up compaction probe, so ONE manifest read backs the whole
    * micro-batch. */
  def applyCdc(store: AnnIndex.Store, dels: DataFrame,
      inserts: DataFrame, idCol: String, textCol: String)
      : (Long, AnnIndex.Store) =
    land("applyCdc", store, Some(dels), inserts, idCol, textCol)

  /** Fold the index to single-batch form AND physically apply the
    * deletion ledger — the Lucene merge: the live `postings` and
    * `docs` rows ([[liveUnder]], against the ledger collected once for
    * both — an inlined filter, no join) are kept with
    * `mb` reset to 0 (no stored text is ever re-tokenized), df is
    * re-counted from the kept postings (one vocabulary-bounded agg
    * over index rows), stats re-derive from the kept doc list, and the
    * ledger empties — freeing the deleted ids for re-insertion and
    * making search's df/N exact again (equality with save(final
    * corpus) is spec-pinned). `dst` must differ from `src`, as in
    * [[AnnIndex.compact]]. */
  def compact(spark: SparkSession, srcPath: String, dstPath: String)
      : Unit = {
    require(srcPath != dstPath,
      "TextIndex.compact: dstPath must differ from srcPath")
    val (parts, params) = AnnIndex.load(spark, srcPath)
    requireStore("compact", srcPath, params, parts.keys)
    val idCol = params("id_col")
    // the ledger is collected once for both parts
    val ledger = parts("deleted").select(col(idCol), col("th")).collect()
      .map(r => r.get(0) -> r.getInt(1)).toSeq
    val live = Seq("postings", "docs").map { p =>
      p -> liveUnder(parts(p), parts("deleted").schema(idCol), ledger)
        .withColumn("mb", lit(0))
    }.toMap
    AnnIndex.save(dstPath,
      clusteredParts(live + ("termdf" -> live("postings")
        .groupBy(col("term")).agg(count(lit(1)).as("df_delta"))),
        idCol) +
        ("stats" -> live("docs").agg(count(lit(1)).as("n_docs"),
          coalesce(sum(col("dl")), lit(0L)).as("len_sum"))) ++
        emptyParts(parts("pending"), idCol, params("text_col")),
      params, keys = Map("pending" -> Seq(idCol)))
  }

  /** Append a batch of documents as one more batch directory per part
    * (manifest bumped last — a torn append is invisible). Re-arrivals
    * of stored ids — deleted ones included, until a fold frees them —
    * are dropped HERE so df_delta stays exact no matter the caller.
    * Exact replays within a batch (same id, same text) collapse; two
    * DIFFERENT texts under one id are a data bug and FAIL LOUDLY — a
    * silent arbitrary winner would make the index partition-order
    * dependent. Returns the number of genuinely-new docs appended.
    *
    * Scale shape: the stored-id overlap check collects UP TO
    * [[MaxInlineIds]] batch ids to the driver (bounded by the
    * micro-batch, the trigger-sized quantity), probes the `docs`
    * part with an `id IN (...)` predicate and collects the stored ids
    * it finds (the same job returns the batch's deletes among them),
    * so the prune is an IN filter and the count needs no job — and
    * because the
    * INDEX-SIZED write sites id-cluster the docs part (save/compact
    * via [[clusteredParts]]; micro-batch deltas stay unclustered —
    * they are a couple of row groups regardless), parquet row-group
    * min/max pruning keeps the probe ∝ matching row groups on the
    * bulk of the store (raise
    * `spark.sql.parquet.pushdown.inFilterThreshold` above the batch
    * size so large batches keep the In-pushdown instead of degrading
    * to a min/max range). A batch past the cap — the bulk-load
    * regime, where a driver-side literal list would OOM the driver or
    * blow up planning — falls back to the distributed anti-join
    * against the full `docs` part (correct, one more exchange; the
    * same two-regime discipline as [[Hnsw]]'s prune keys). */
  def append(spark: SparkSession, path: String, docs: DataFrame,
      idCol: String, textCol: String): Long =
    append(AnnIndex.open(spark, path), docs, idCol, textCol)._1

  /** [[append]] against an OPEN [[AnnIndex.Store]] handle (see
    * [[applyCdc]]'s handle overload for why): one manifest read per
    * micro-batch, successor handle returned for the compaction probe. */
  def append(store: AnnIndex.Store, docs: DataFrame,
      idCol: String, textCol: String): (Long, AnnIndex.Store) =
    land("append", store, None, docs, idCol, textCol)

  /** The one write path behind [[append]] and [[applyCdc]]: dedup and
    * conflict guard, stored-id prune (ids in `dels` do not count as
    * stored; a collected probe in the inline regime, the anti-join in
    * the bulk one), then ONE [[AnnIndex.appendTo]] of the ledger rows
    * and the `mb`-stamped deltas. Nothing to write returns the same
    * handle. */
  private def land(op: String, store: AnnIndex.Store,
      dels: Option[DataFrame], docs: DataFrame, idCol: String,
      textCol: String): (Long, AnnIndex.Store) = {
    requireStore(op, store)
    val arriving = docs.select(col(idCol), col(textCol))
      .dropDuplicates(idCol, textCol)
      .localCheckpoint(true)
    val ids = idsWithConflictGuard(arriving, idCol, cs =>
      s"TextIndex.$op: conflicting texts for id(s) " +
        s"${cs.mkString(", ")} within one batch — an " +
        "arbitrary winner would be partition-order dependent; " +
        "resolve upstream (the maintenance stream's seqCol)")
    val (n, fresh) = ids match {
      case Some(ks) if ks.isEmpty => (0L, arriving)
      case Some(ks) =>
        // inline regime: ONE job collects the stored ids among the
        // batch ids together with the batch's deletes among them; the
        // prune is an IN filter over the pinned arrivals and the count
        // is known on the driver
        val docIds = store.parts("docs")
          .select(col(idCol), lit(false).as("__del"))
        val probe = dels.fold(docIds)(d => docIds.unionByName(
            d.select(col(idCol), lit(true).as("__del"))))
          .filter(col(idCol).isin(ks: _*)).collect()
        val (deleted, kept) = probe.partition(_.getBoolean(1))
        val gone = deleted.map(_.get(0)).toSet
        val stored = kept.map(_.get(0)).filterNot(gone).distinct.toSeq
        // a null id is never stored, and the anti-join this replaces
        // kept it
        (ks.length - stored.length.toLong,
          if (stored.isEmpty) arriving
          else arriving.filter(col(idCol).isNull ||
            !col(idCol).isin(stored: _*)))
      case None =>
        // bulk regime: the distributed anti-join against the full
        // `docs` part
        val docIds = store.parts("docs").select(col(idCol))
        val stored = dels.fold(docIds)(d =>
          docIds.join(d.select(col(idCol)), Seq(idCol), "left_anti"))
        val fresh = arriving.join(stored, Seq(idCol), "left_anti")
          .localCheckpoint(true)
        (fresh.count(), fresh)
    }
    val delta =
      if (n == 0) Map.empty[String, DataFrame]
      else deltaWriteParts(stamped(deltaParts(fresh, idCol, textCol),
        store.partBatches("postings")), idCol, n)
    val writes = delta ++
      dels.map(d => "deleted" -> ledgerRows(store, d, idCol))
    (n, if (writes.isEmpty) store else AnnIndex.appendTo(store, writes))
  }

  /** BM25 top-`k` from the persisted index: (idCol, n_hit, score) by
    * (round-6 score desc, id asc) — the [[TextOps.bm25Search]]
    * contract, answered from disk with term-pruned scans. Between
    * folds the matched postings pass the deletion ledger
    * ([[AnnIndex.liveRows]]): deleted and superseded versions never
    * score, while their df/N stay counted until the fold (the Lucene
    * semantics). Updates need no query-time work — they were indexed
    * as ordinary deltas when they arrived.
    *
    * Calling `search` runs ONE small job ([[rollupRows]]): every
    * `stats` row, the query terms' `termdf` rows and the ledger,
    * collected together. N and the length sum are summed on the driver
    * as longs (avg_dl is the same double division the SQL form did),
    * df per term becomes a literal map, and the ledger an inlined
    * filter ([[liveUnder]]) — none of them is an exchange or a
    * broadcast job of the returned plan, whose only wide stage is the
    * per-doc score agg over matched postings. */
  def search(spark: SparkSession, path: String, query: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qt = query.trim.toLowerCase.split("\\s+")
      .filter(_.nonEmpty).distinct.toSeq
    require(qt.nonEmpty, "TextIndex.search needs a non-empty query")
    val (parts, params) = AnnIndex.load(spark, path)
    requireStore("search", path, params, parts.keys)
    val idCol = params("id_col")
    val rows = rollupRows(parts, qt, idCol).collect()
    def of(part: Int) = rows.iterator.filter(_.getInt(0) == part)
    val (nDocs, lenSum) = of(0).foldLeft((0L, 0L)) { case ((n, l), r) =>
      (n + r.getLong(3), l + r.getLong(4))
    }
    val df = of(1).toSeq.groupMapReduce(_.getString(1))(_.getLong(3))(_ + _)
    // a query term without a df row has no postings: filtering on the
    // terms WITH one is the inner join the df rollup used to be
    val terms = qt.filter(df.contains)
    val dfOf = element_at(typedLit(df), col("term"))
    val matched = parts("postings").filter(col("term").isin(terms: _*))
    liveUnder(matched, parts("deleted").schema(idCol),
        of(2).map(r => r.get(2) -> r.getLong(3).toInt).toSeq)
      .select(col(idCol),
        (log(lit(1.0) + (lit(nDocs.toDouble) - dfOf + 0.5) /
            (dfOf + 0.5)) *
          (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl").cast("double") /
              lit(lenSum.toDouble / nDocs.toDouble))))
          .as("bm25"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit"),
        round(sum(col("bm25")), 6).as("score"))
      .orderBy(desc("score"), asc(idCol)).limit(k)
  }

  /** The small inputs of [[search]] as ONE narrow union, collected in
    * one job: `(part, term, id, a, b)` rows — part 0 = every `stats`
    * row (a = n_docs, b = len_sum), 1 = the `termdf` rows of the query
    * terms (term, a = df_delta; the term IN is pushed into the scan),
    * 2 = the `deleted` ledger (id, a = th). */
  private[graft] def rollupRows(parts: Map[String, DataFrame],
      qt: Seq[String], idCol: String): DataFrame = {
    val idType = parts("deleted").schema(idCol).dataType
    val none = lit(null)
    def tagged(df: DataFrame, part: Int, term: Column, id: Column,
        a: Column, b: Column) =
      df.select(lit(part).as("part"), term.cast("string").as("term"),
        id.cast(idType).as("id"), a.cast("long").as("a"),
        b.cast("long").as("b"))
    tagged(parts("stats"), 0, none, none, col("n_docs"), col("len_sum"))
      .union(tagged(parts("termdf").filter(col("term").isin(qt: _*)), 1,
        col("term"), none, col("df_delta"), none))
      .union(tagged(parts("deleted"), 2, none, col(idCol), col("th"), none))
  }

  /** `rows` stamped `mb` that are live under a collected deletion
    * ledger `(id, th)` — the [[AnnIndex.liveRows]] rule: dead iff some
    * ledger row of its id has `th > mb`. Up to [[MaxInlineIds]] ledger
    * rows the rule is an inlined filter, one hashed IN set per distinct
    * `th` (one per append since the fold): no join and no broadcast
    * job. A larger ledger joins as a broadcast local relation of each
    * id's maximum `th` — the driver-side size the broadcast of the
    * former SQL `max(th)` rollup had. A null id matches no ledger row,
    * as in the join. */
  private[graft] def liveUnder(rows: DataFrame, idField: StructField,
      ledger: Seq[(Any, Int)], inlineMax: Int = MaxInlineIds)
      : DataFrame = {
    val id = col(idField.name)
    val keyed = ledger.filter(_._1 != null)
    if (keyed.isEmpty) rows
    else if (keyed.length <= inlineMax)
      rows.filter(id.isNull || !keyed.groupMap(_._2)(_._1).toSeq
        .sortBy(_._1).map { case (th, ids) =>
          col("mb") < th && id.isin(ids.distinct: _*)
        }.reduce(_ || _))
    else AnnIndex.liveUnder(rows, rows.sparkSession.createDataFrame(
        keyed.groupMapReduce(_._1)(_._2)(math.max).toSeq
          .map { case (k, th) => Row(k, th) }.asJava,
        StructType(Seq(idField.copy(nullable = true),
          StructField("__th", IntegerType)))),
      idField.name)
  }
}
