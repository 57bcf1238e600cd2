package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured-Streaming surface for event streams.
  *
  * The reference has no incremental execution (SURVEY §2.11) — its "event
  * stream" is a data shape. These operators give the engine a true
  * streaming path for the same data shape: the batch `EventDataset`
  * operators compose with these because both speak the
  * (subject_id, timestamp, event_type, value) schema.
  *
  * All operators take/return untyped DataFrames so they bind to
  * `spark.readStream` sources (kafka/files/memory) unchanged. Each
  * documents its state-store footprint — the streaming analogue of
  * shuffle discipline at 100 TB/day rates.
  */
object StreamOps {

  /** Sliding/tumbling windowed event counts + value stats per event_type,
    * late data bounded by `watermarkDelay`. State: one row per
    * (window, event_type) — bounded by watermark eviction. */
  def windowedTypeStats(events: DataFrame, windowDur: String,
      slideDur: Option[String] = None,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val w = slideDur match {
      case Some(s) => window(col("timestamp"), windowDur, s)
      case None    => window(col("timestamp"), windowDur)
    }
    events
      .withWatermark("timestamp", watermarkDelay)
      .groupBy(w.as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("avg_value"))
      .select(col("win.start").as("win_start"),
        col("win.end").as("win_end"), col("event_type"), col("n"),
        col("avg_value"))
  }

  /** Streaming exact dedup on a normalized-content fingerprint: first
    * arrival of each fingerprint passes, later duplicates drop. The
    * streaming twin of Dedup.exact (same TextOps.fingerprint key — a
    * batch-deduped corpus and a stream-deduped one agree up to which
    * duplicate survives: batch keeps min-id, streaming keeps
    * first-arrival). State: one row per distinct fingerprint INSIDE the
    * watermark horizon (dropDuplicatesWithinWatermark) — bounded, the only
    * sound option for an unbounded stream; duplicates farther apart than
    * the delay need the batch operator. */
  def dedupStream(docs: DataFrame, textCol: String, tsCol: String,
      watermarkDelay: String = "1 hour"): DataFrame =
    docs
      .withColumn("__fp", graft.ops.TextOps.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Streaming decontamination: drop stream docs sharing any word
    * n-gram with a STATIC benchmark corpus — an arriving corpus
    * scrubbed against a fixed eval suite before it reaches training
    * storage. The doc-level verdict is an aggregate of its gram hits,
    * which the pure streaming DSL can't express statelessly (the
    * clean-doc set is the ABSENCE of hits, and deriving it from the
    * same stream would be a stream-stream self-join), so this is the
    * documented `foreachBatch` idiom: each micro-batch runs the batch
    * operator ([[graft.ops.TextOps.contaminationMatches]] — broadcast
    * eval grams, no corpus shuffle) and anti-joins the flagged ids.
    * Zero state store entries; the eval relation is static.
    *
    * Usage: `stream.writeStream.foreachBatch { (b, _) =>
    *   decontaminateBatch(evalStatic, "doc_id", "text")(b).write....}`
    */
  /** Stream-static enrichment join — the dimension-lookup pattern
    * every event feed needs (user tier, device class, geo): each
    * micro-batch joins the STATIC side, which Spark re-resolves per
    * batch (a dim-table refresh between batches is picked up without
    * restarting the query). Broadcast by hint: the stream side never
    * shuffles and the state store holds NOTHING — unlike a
    * stream-stream join there is no watermark bookkeeping, which is
    * exactly why the static form is the right shape whenever the
    * dimension fits an executor (the 100 TB/day feed joins a MB-scale
    * dim). Left join: events with no dim row survive with nulls —
    * dropping a feed row because a dimension is late is a data-loss
    * bug, not a join semantic. */
  def enrichStream(events: DataFrame, dim: DataFrame,
      key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  def decontaminateBatch(evalStatic: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame => DataFrame = {
    batch => {
      val flagged = graft.ops.TextOps.contaminationMatches(
        batch, evalStatic, idCol, textCol, n)
        .select(col("id").as(idCol))
      batch.join(flagged, Seq(idCol), "left_anti")
    }
  }

  /** The rolling-crawl loop, LIVE: each micro-batch (= one crawl
    * snapshot under `maxFilesPerTrigger=1`) anti-joins the PERSISTED
    * fingerprint store ([[graft.ops.Dedup.fingerprintStore]] parquet at
    * `storePath`), keeps first-occurrence within itself, appends kept
    * docs to `outPath` and their fingerprints to the store — so the
    * next batch dedups against everything that survived before it.
    *
    * This is [[graft.ops.Dedup.incrementalExact]] driven by the
    * streaming engine instead of an orchestrator. State is 16 B/doc
    * parquet DATA, never executor memory — the state store holds
    * nothing, so a 100 TB/day crawl rate costs two fp-keyed wide
    * stages per snapshot and the store can be bucketed by fp
    * ([[graft.ingest.Bucketing]]) to make the anti-join exchange-free.
    * Caller seeds `storePath` (possibly with an empty (fp, id) table)
    * before starting. */
  def incrementalDedupStream(stream: DataFrame, idCol: String,
      textCol: String, storePath: String, outPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val sp = batch.sparkSession
        val store = sp.read.parquet(storePath)
        val kept = graft.ops.Dedup
          .incrementalExact(batch, idCol, textCol, store)
          .persist()
        kept.write.mode("append").parquet(outPath)
        graft.ops.Dedup.fingerprintStore(kept, idCol, textCol)
          .write.mode("append").parquet(storePath)
        kept.unpersist()
        ()
    }

  /** The ANN-index maintenance loop, LIVE — the full lifecycle
    * (build → insert → persist) as a running stream: each micro-batch
    * of arriving vectors loads the PERSISTED index
    * ([[graft.ops.AnnIndex]] at `indexPath`), computes the
    * delta-sized incremental merge
    * ([[graft.ops.Hnsw.insertKnnDeltaIndexed]] — only the (lvl, src)
    * groups whose top-M the batch changes), and appends the kNN delta,
    * the new vectors and their membership rows as one more batch
    * directory, manifest last. The next
    * micro-batch inserts against everything that arrived before it,
    * and a search process can [[graft.ops.AnnIndex.load]] the same
    * path at any time for a fully-consistent index (torn appends are
    * invisible until the manifest bump).
    *
    * Caller seeds `indexPath` with [[graft.ops.Hnsw.saveIndex]] —
    * which persists the BANDED MEMBERSHIP part + deletion ledger
    * alongside knn/vectors, making per-batch COMPUTE batch-sized:
    * probes read the stored membership through cell-pruned parquet
    * scans ([[graft.ops.Hnsw.insertKnnDeltaIndexed]] /
    * [[graft.ops.Hnsw.deleteKnnDeltaIndexed]]) instead of re-hashing
    * the stored corpus every micro-batch. A store without the
    * `members`/`memdead` parts fails its first micro-batch loudly,
    * before anything is appended. Re-arrivals of stored
    * ids are dropped (insert idempotence) via an id-pruned anti-join
    * (the batch's own ids pushed into the stored scan — never a
    * corpus re-scan).
    *
    * State is parquet DATA, never executor memory: per batch, compute
    * is one cell-pruned membership probe joined against the batch +
    * a merge bounded by the touched groups' stored edges (and only
    * groups whose top-M ACTUALLY CHANGES are written); write is
    * delta-sized (measured curve: bench/ANN_STREAM_AUDIT_*). The
    * streamed final index is contractually the from-scratch build
    * over everything that arrived, however the stream sliced into
    * batches (spec-pinned — the q250 equivalence discipline applied
    * to the index lifecycle).
    *
    * CDC mode (`opCol` non-empty): rows whose `opCol` = "delete" are
    * removals (only `idCol` is read); everything else inserts. Within
    * a micro-batch deletes apply FIRST, so delete+insert of the same
    * id in one batch is an UPDATE (the standard CDC-upsert order).
    * `seqCol` (optional, insert-or-CDC mode): a CDC sequence/offset
    * column — several versions of one id in a batch resolve to the
    * HIGHEST sequence deterministically; without it, conflicting
    * same-id vectors fail loudly (see [[resolveLatest]]).
    * Deletes ride [[graft.ops.Hnsw.deleteKnnDeltaIndexed]] + a
    * deletion-ledger append + a vector TOMBSTONE append (saveIndex
    * declares the knn and vectors parts keyed, so both shed deleted
    * rows on load).
    *
    * In-loop compaction (`compactEvery` > 0): after a micro-batch
    * whose append leaves any part at ≥ `compactEvery` batch
    * directories, the loop folds the index into its NEXT GENERATION
    * ([[graft.ops.AnnIndex.compactToNextGen]] with the ledger-aware
    * [[graft.ops.Hnsw.compactIndex]] — the fold's own
    * manifest-last write commits the flip; the prior generation stays
    * on disk one cycle for in-flight readers, and a crash at any point
    * leaves the previous index live). Read cost of a keyed part grows
    * ~linearly with the batch list (measured:
    * bench/ANN_LOAD_CURVE_SF1_r12.json — ~0.13 s per batch at sf1 vs
    * a 9 s rewrite), so a bounded batch list keeps every subsequent
    * load flat at the one-rewrite price. Concurrent searchers are
    * safe throughout: [[graft.ops.AnnIndex.load]] resolves the
    * highest committed generation, and scans already planned against
    * the prior generation keep answering until the fold after next. */
  def annIndexMaintenanceStream(stream: DataFrame, idCol: String,
      vecCol: String, indexPath: String, seed: Long, maxLevel: Int,
      m: Int, bands: Int,
      bucketFn: (Int, Int, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column, opCol: String = "",
      compactEvery: Int = 0, seqCol: String = "")
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val sp = batch.sparkSession
        // ONE store handle per micro-batch: generation + manifest
        // resolved once; the delete/insert appends chain successor
        // handles, so the loop's former per-call manifest re-reads
        // (load, partBatches, append, maxBatches — 3–4 small jobs a
        // batch) and per-part schema footer re-reads collapse into
        // the open (guide §1.2: per-batch fixed cost is pass count)
        var store = graft.ops.AnnIndex.open(sp, indexPath)
        val missing = Seq("members", "memdead")
          .filterNot(p => store.manifest.exists(_._1 == p))
        require(missing.isEmpty,
          s"annIndexMaintenanceStream: index at $indexPath has no " +
            s"${missing.mkString("/")} part — seed it with " +
            "Hnsw.saveIndex")
        if (opCol.nonEmpty) {
          val dels = batch.toDF()
            .filter(col(opCol) === "delete")
            .select(idCol).distinct().localCheckpoint(true)
          if (!dels.isEmpty) {
            val vecType = store.parts("vectors").schema(vecCol).dataType
            val vecTombs = dels.select(col(idCol),
              lit(null).cast(vecType).as(vecCol))
            val th = store.partBatches("members")
            val (delta, dead) = graft.ops.Hnsw.deleteKnnDeltaIndexed(
              store.parts("knn"), store.parts("members"),
              store.parts("memdead"), dels, idCol, m, th)
            store = graft.ops.AnnIndex.appendTo(store,
              Map("knn" -> delta.localCheckpoint(true),
                "vectors" -> vecTombs, "memdead" -> dead))
            // the successor handle IS the post-delete state — the
            // insert half reads it (a deleted-then-reinserted id must
            // not be dropped as an overlap, and its old edges must
            // not survive the merge) with no fresh load
          }
        }
        val oldKnn = store.parts("knn")
        val oldVecs = store.parts("vectors")
        // null-safe: a NULL/unknown op APPENDS as documented (plain
        // `=!=` would evaluate to null and silently drop the row)
        val arrivals =
          if (opCol.isEmpty) batch.toDF()
          else batch.toDF().filter(!(col(opCol) <=> lit("delete")))
        // one overlap anti-join shared by the kNN delta and the
        // vectors append (the vectors part must not store duplicate
        // ids). In-batch version resolution is DETERMINISTIC: with
        // seqCol the highest-sequence vector wins (resolveLatest);
        // without it, exact replays collapse (an at-least-once source
        // can replay a row inside one micro-batch) and genuinely
        // CONFLICTING same-id vectors FAIL LOUDLY — an arbitrary
        // partition-order winner would make the stream ≡ rebuild
        // identity nondeterministic (the TextIndex.append policy,
        // applied to vectors). The stored side of the anti-join is
        // PRUNED to the batch's own ids (micro-batch-sized driver
        // list, an id-column predicate that commutes below the keyed
        // window and into the parquet scan) — the stored corpus is
        // never re-scanned per batch; localCheckpoint pins the batch
        // + loaded state so the appended parts share one snapshot
        val resolved = resolveLatest(arrivals, idCol, seqCol, vecCol)
          .select(col(idCol), col(vecCol))
        val deduped =
          (if (seqCol.nonEmpty) resolved
          else resolved.dropDuplicates(idCol, vecCol))
            .localCheckpoint(true)
        val arrIds = deduped.select(col(idCol))
          .limit(100001).collect().map(_.get(0)).toIndexedSeq
        // conflict guard (no seqCol): deduped collapsed exact replays,
        // so a REPEATED id in the collected list is two DIFFERENT
        // vectors under one id — checked driver-side for free on the
        // micro-batch-sized list (the separate groupBy job this used
        // to cost ran EVERY batch); the bulk regime past the inline
        // cap keeps the distributed check
        if (seqCol.isEmpty) {
          val conflicts =
            if (arrIds.length <= 100000)
              arrIds.groupBy(identity).collect {
                case (k, v) if v.size > 1 => k
              }.take(5).toSeq
            else deduped.groupBy(col(idCol))
              .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
              .select(col(idCol)).limit(5).collect().map(_.get(0)).toSeq
          require(conflicts.isEmpty,
            s"annIndexMaintenanceStream: conflicting vectors for " +
              s"id(s) ${conflicts.mkString(", ")} within one " +
              "micro-batch — pass seqCol (a CDC sequence/offset " +
              "column) or dedup upstream; an arbitrary winner " +
              "would be partition-order dependent")
        }
        val storedIds =
          if (arrIds.length > 100000) oldVecs.select(idCol)
          else oldVecs.select(idCol)
            .filter(col(idCol).isin(arrIds.distinct: _*))
        val fresh = deduped
          .join(storedIds, Seq(idCol), "left_anti")
          .localCheckpoint(true)
        if (!fresh.isEmpty) {
          val mb = store.partBatches("members")
          val (delta, memDelta) = graft.ops.Hnsw.insertKnnDeltaIndexed(
            oldKnn, store.parts("members"), store.parts("memdead"),
            fresh, idCol, vecCol, seed, maxLevel, m, bands, bucketFn,
            mb)
          store = graft.ops.AnnIndex.appendTo(store,
            Map("knn" -> delta.localCheckpoint(true),
              "vectors" -> fresh, "members" -> memDelta))
        }
        // the ledger-aware fold: a generic fold would keep old mb
        // stamps while the batch counter restarts, letting later
        // deletes undercut them. the successor handle's manifest
        // answers the trigger probe — no fresh manifest read
        if (compactEvery > 0 && store.maxBatches >= compactEvery)
          graft.ops.AnnIndex.compactToNextGen(sp, indexPath,
            graft.ops.Hnsw.compactIndex)
        ()
    }

  /** The BM25-index maintenance loop, LIVE — [[annIndexMaintenanceStream]]
    * for the text-retrieval index ([[graft.ops.TextIndex]]): each
    * micro-batch of arriving documents appends its tokenized postings,
    * per-batch term document-frequencies and one corpus-stats row as
    * additive deltas (every BM25 statistic is a sum of per-batch
    * integers — no stored group is ever recomputed, unlike the ANN
    * loop's touched-group rewrites), and a search process can
    * [[graft.ops.TextIndex.search]] the same path at any time with
    * term-pruned scans. Re-arrivals of stored ids are dropped inside
    * [[graft.ops.TextIndex.append]] (which keeps df_delta exact).
    * Caller seeds the path with [[graft.ops.TextIndex.save]] first.
    * `compactEvery` folds the batch list exactly as the ANN loop does
    * (same store, same measured read-cost growth —
    * bench/ANN_LOAD_CURVE_SF1_r12.json), and the BM25 fold ALSO
    * applies the deletion list (the Lucene merge).
    *
    * CDC mode (`opCol` non-empty): rows whose `opCol` = "delete" ride
    * [[graft.ops.TextIndex.delete]] (live-docs semantics — dead
    * immediately, df/N stale until the fold); everything else —
    * including NULL/unknown ops — appends. Deletes apply FIRST within
    * a micro-batch; when the same id also ARRIVES in that batch (the
    * standard CDC update order: delete + re-insert), the replacement
    * text is STAGED on the index's keyed `pending` part
    * ([[graft.ops.TextIndex.stageUpdates]]) at |batch| write cost:
    * search serves it immediately (query-time postings over the
    * broadcast-sized pending relation) and the next SCHEDULED fold
    * merges it in — N colliding batches cost N small appends and ONE
    * fold, not N Lucene merges. Every CDC micro-batch lands through
    * [[graft.ops.TextIndex.applyCdc]], which refuses a store without
    * the `pending` part before appending anything.
    *
    * `seqCol` (optional): a CDC sequence/offset column. A micro-batch
    * can legitimately carry SEVERAL versions of one id (delete X,
    * insert A, delete X, insert B); with `seqCol` set the non-delete
    * arrival with the HIGHEST sequence wins (ties broken on the text
    * itself, so the winner is a pure function of the data, never of
    * partition order). Without it, conflicting same-id texts in one
    * batch FAIL LOUDLY (the [[graft.ops.TextIndex.append]] /
    * `stageUpdates` guard) — and because a restart replays the same
    * batch, an upstream that can collide MUST either pass `seqCol` or
    * dedup before the sink. */
  def bm25MaintenanceStream(stream: DataFrame, idCol: String,
      textCol: String, indexPath: String, compactEvery: Int = 0,
      opCol: String = "", seqCol: String = "")
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val sp = batch.sparkSession
        // null-safe arrival split: a NULL/unknown op appends (plain
        // `=!=` would evaluate to null and silently drop the row)
        val raw =
          if (opCol.isEmpty) batch.toDF()
          else batch.toDF().filter(!(col(opCol) <=> lit("delete")))
        val arrivals = resolveLatest(raw, idCol, seqCol, textCol)
        // ONE store handle per micro-batch (see the ANN loop): the
        // former partKeys + load-per-call + trigger-probe manifest
        // re-reads collapse into this open; appends chain successors
        val opened = graft.ops.AnnIndex.open(sp, indexPath)
        val dels =
          if (opCol.isEmpty) None
          else Some(batch.toDF().filter(col(opCol) === "delete")
            .select(idCol).localCheckpoint(true)).filterNot(_.isEmpty)
        // same-batch delete + re-arrival = a CDC UPDATE, staged on the
        // keyed pending part; the whole micro-batch — deletes, staged
        // updates, leftover appends — lands as ONE load + ONE
        // multi-part append
        val store = dels match {
          case Some(d) => graft.ops.TextIndex.applyCdc(opened, d,
              arrivals.join(d, Seq(idCol), "left_semi"),
              arrivals.join(d, Seq(idCol), "left_anti"),
              idCol, textCol)._2
          case None => graft.ops.TextIndex.append(opened, arrivals,
              idCol, textCol)._2
        }
        // the BM25 fold also APPLIES the deletion list and merges the
        // staged pending updates in (Lucene merge) — deleted ids free
        // up and df/N return to exact; the successor handle's manifest
        // answers the trigger probe with no fresh read
        if (compactEvery > 0 && store.maxBatches >= compactEvery)
          graft.ops.AnnIndex.compactToNextGen(sp, indexPath,
            graft.ops.TextIndex.compact)
        ()
    }

  /** Deterministic in-batch CDC version resolution: with `seqCol`
    * set, keep ONE row per id — the highest sequence, ties broken on
    * the remaining columns' xxhash64 so the winner is a pure function
    * of the DATA (an exact-duplicate replay resolves to that same
    * row; two different payloads under one (id, seq) resolve
    * deterministically, never by partition order). With `seqCol`
    * empty the batch passes through untouched — the downstream
    * conflict guards then fail loudly on genuinely conflicting
    * payloads. */
  private def resolveLatest(batch: DataFrame, idCol: String,
      seqCol: String, payloadCols: String*): DataFrame =
    if (seqCol.isEmpty) batch
    else batch.withColumn("__rn",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col(idCol))
            .orderBy(desc(seqCol),
              xxhash64(payloadCols.map(col): _*).desc_nulls_last)))
      .filter(col("__rn") === 1).drop("__rn")

  /** Per-subject session windows: events closer than `gap` merge into one
    * session (native session_window — state per open session, evicted at
    * watermark + gap). */
  def sessionize(events: DataFrame, gap: String,
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("timestamp", watermarkDelay)
      .groupBy(session_window(col("timestamp"), gap).as("sess"),
        col("subject_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("subject_id"), col("sess.start").as("sess_start"),
        col("sess.end").as("sess_end"), col("n_events"), col("sum_value"))

  /** Stream-stream interval join — the streaming twin of
    * `BatchBuilder.taskWindows`: a stream of task rows
    * `(task_subject_id, start_time, end_time, ...)` selects each
    * subject's events inside `[start_time, end_time]` as they arrive on
    * the event stream. Both sides carry watermarks, and the join
    * condition bounds the two event-time columns against each other
    * (`timestamp ∈ [start_time, start_time + maxTaskWindow]`), which is
    * what lets Spark EVICT buffered rows: without the explicit
    * `maxTaskWindow` bound the `end_time` predicate alone is opaque to
    * the state manager and both sides buffer forever. State: events and
    * tasks within watermark + maxTaskWindow of the stream head.
    *
    * DIVERGENCE from the batch twin, by construction: the eviction bound
    * doubles as a hard truncation — a task whose `end_time` exceeds
    * `start_time + maxTaskWindow` silently loses its in-window events past
    * the bound, where batch `taskWindows` returns the full `[start, end]`
    * range. Size `maxTaskWindow` to the longest task span you expect; the
    * bound exists because unbounded task spans mean unbounded join state. */
  def taskWindowsStream(events: DataFrame, tasks: DataFrame,
      maxTaskWindow: String = "30 days",
      eventWatermarkDelay: String = "10 minutes",
      taskWatermarkDelay: String = "10 minutes"): DataFrame = {
    val ev = events.withWatermark("timestamp", eventWatermarkDelay)
    val tk = tasks.withWatermark("start_time", taskWatermarkDelay)
    ev.join(tk,
      ev("subject_id") === tk("task_subject_id") &&
        col("timestamp") >= col("start_time") &&
        col("timestamp") <=
          col("start_time") + expr(s"INTERVAL $maxTaskWindow") &&
        col("timestamp") <= col("end_time"))
  }

  /** Running per-subject state via mapGroupsWithState: event count,
    * last-seen timestamp, and an online (Welford) mean of `value` — the
    * custom-state path for semantics session_window can't express.
    * State: one SubjectState per live subject. Production deployments
    * bound liveness with an event-time watermark + timeout; kept NoTimeout
    * here because processing-time timeouts re-trigger empty batches
    * (and deadlock processAllAvailable in tests). */
  final case class SubjectEvent(subject_id: Long, timestamp: Timestamp,
      event_type: String, value: Double)
  final case class SubjectState(nEvents: Long, lastTs: Long, mean: Double)
  final case class SubjectUpdate(subject_id: Long, n_events: Long,
      last_ts: Long, mean_value: Double)

  /** Closed-session emission via flatMapGroupsWithState — the custom-state
    * twin of `sessionize` for sinks that want ONLY finalized sessions: the
    * open session per subject is buffered in state and a session row is
    * emitted the moment a later event's gap exceeds `gapMs` (same
    * new-session-iff-delta-STRICTLY->-gap semantics as session_window —
    * touching windows merge — verified against the q45 batch twin at
    * sf0.1 where an exact-gap delta exists). State: one SessionState per
    * live subject. Production bounds state with an event-time timeout;
    * NoTimeout here for deterministic tests (processing-time timeouts
    * re-trigger empty batches).
    *
    * MEMORY BOUND (the `rows.toSeq.sortBy` below): the per-invocation
    * buffer is ONE GROUP'S rows in ONE trigger. In streaming execution
    * that is the subject's events per micro-batch — bounded by trigger
    * sizing (`maxFilesPerTrigger`/`maxOffsetsPerTrigger`), the knob that
    * already bounds every stateful operator's per-batch input. In BATCH
    * execution (the q119 oracle twin) the group is the subject's whole
    * history, so the twin carries the same hot-subject hazard
    * `SkewTools.saltedCollectList` documents — acceptable at contract
    * scale (≤10³ events/subject in the testdata); a batch caller at
    * 100 TB should use the q45 `sessionize` aggregation (or a
    * sort-within-partitions walk) instead of this lambda. See SCALE.md
    * "Stateful-lambda buffer bounds". */
  final case class SessionState(start: Long, last: Long, n: Long,
      sum: Double)
  final case class ClosedSession(subject_id: Long, sess_start: Long,
      sess_end: Long, n_events: Long, sum_value: Double)

  def closedSessions(events: Dataset[SubjectEvent], gapMs: Long)
      : Dataset[ClosedSession] = {
    implicit val se = Encoders.product[SessionState]
    implicit val ce = Encoders.product[ClosedSession]
    implicit val le = Encoders.scalaLong
    events.groupByKey(_.subject_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (sid, rows, state: GroupState[SessionState]) =>
          // rows within a micro-batch are unordered — impose event time
          val sorted = rows.toSeq.sortBy(_.timestamp.getTime)
          var cur = if (state.exists) Option(state.get) else None
          val closed = Seq.newBuilder[ClosedSession]
          sorted.foreach { e =>
            val t = e.timestamp.getTime
            cur match {
              case Some(s) if t - s.last > gapMs =>
                closed += ClosedSession(sid, s.start, s.last, s.n, s.sum)
                cur = Some(SessionState(t, t, 1L, e.value))
              case Some(s) if s.start - t > gapMs =>
                // cross-batch LATE event older than the open session by
                // more than the gap: it belongs to an earlier, already-
                // gone session — emit it as its own closed session
                // immediately (documented late-data policy; production
                // bounds this with a watermark) rather than corrupting
                // the open session's start/count.
                closed += ClosedSession(sid, t, t, 1L, e.value)
              case Some(s) =>
                // in-gap event (possibly earlier than start): extends the
                // open session on either side
                cur = Some(SessionState(math.min(s.start, t),
                  math.max(s.last, t), s.n + 1, s.sum + e.value))
              case None =>
                cur = Some(SessionState(t, t, 1L, e.value))
            }
          }
          cur.foreach(state.update)
          closed.result().iterator
      }
  }

  /** STREAMING maintenance of the mergeable lattice-moments state
    * ([[graft.ops.Linalg.momentsLatticeState]]): each micro-batch fits
    * its own d-row state and integer-merges it into the persisted one
    * — per-dim embedding stats stay current as vectors arrive, and
    * NOTHING rescans history (the vector-world twin of
    * [[incrementalDedupStream]]). Because the lattice core is integer,
    * the drained state is BIT-identical to a one-pass batch fit over
    * everything that arrived, regardless of how the stream sliced into
    * batches — q250 makes that contractual by sharing q249's
    * full-recompute oracle. The state is d rows (model-sized), so the
    * merge materializes driver-side before the overwrite — the only
    * sound way to replace a parquet dir a job also reads. */
  def incrementalMomentsStream(stream: DataFrame, vecCol: String,
      statePath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val sp = batch.sparkSession
        val delta = graft.ops.Linalg.momentsLatticeState(
          batch.toDF(), vecCol)
        // state existence must be checked on the filesystem Spark
        // actually reads (HDFS/S3/local per the path's scheme) — a
        // driver-local java.io.File probe is always false for remote
        // stores and would silently reset the state every batch
        val stateP = new org.apache.hadoop.fs.Path(statePath)
        val fs = stateP.getFileSystem(
          sp.sparkContext.hadoopConfiguration)
        val merged =
          if (fs.exists(stateP))
            graft.ops.Linalg.mergeMomentsState(
              sp.read.parquet(statePath), delta)
          else delta
        val rows = merged.collect() // ≤ d rows — model-sized state
        sp.createDataFrame(
            sp.sparkContext.parallelize(rows.toIndexedSeq, 1),
            merged.schema)
          .write.mode("overwrite").parquet(statePath)
        ()
    }

  final case class SemVecRow(vec_id: Long, bucket: Long,
      vec: Array[Double])
  final case class SemVerdict(vec_id: Long, bucket: Long, kept: Boolean)
  final case class SemState(ids: Array[Long], vecs: Array[Double],
      dim: Int)

  /** Streaming SEMANTIC dedup — the dedup-at-ingest production shape
    * for vector corpora (SemDeDup's decision rule, applied as data
    * arrives): vectors bucket by a caller-supplied LSH column (a
    * narrow projection — [[graft.expressions.VectorFunctions
    * .hyperplaneBucket]] or its replayable QuantizedSignBucket twin),
    * and within each bucket a stateful greedy pass KEEPS a vector only
    * if its 6dp-rounded cosine against every previously-kept vector in
    * the bucket stays below `threshold`. Emits every row with its
    * verdict (`kept`), so callers can route dups to quarantine instead
    * of silently dropping.
    *
    * Determinism: rows within a micro-batch are sorted by id before
    * the walk, so a single-batch drain (one staged file + AvailableNow,
    * the q129 discipline) is globally canonical — the same greedy
    * chain a batch replay produces in id order. Across micro-batches
    * the verdict is arrival-order dependent (the q129 batch-vs-stream
    * survivor caveat, inherent to streaming dedup).
    *
    * State: ≤ `maxKeptPerBucket` kept vectors per bucket, stored as
    * one flat double array (Spark's product encoder round-trips nested
    * arrays poorly; flat is also the smaller state-store row). Once a
    * bucket's keeper set is full, new non-dup rows still pass
    * (kept=true) but stop enlarging the state — the comparison basis
    * freezes at the first `maxKeptPerBucket` keepers. At 100 TB rates
    * the knobs compose: more planes → exponentially more buckets →
    * per-bucket population (and state) stays O(maxKeptPerBucket) while
    * recall follows the LSH band math; the cosine rounding-before-
    * compare mirrors the q222/q239 cross-engine rule.
    *
    * Dim discipline: rows whose vector length disagrees with the
    * bucket's dim can't enter the cosine walk — they pass through
    * kept=true (quarantine-style: never silently dropped, never
    * allowed to corrupt the state). With the default `expectedDim=0`
    * the dim pins on the first non-empty vector the bucket sees,
    * which means ONE aberrant-length first arrival would quarantine
    * every correct row after it; a production caller knows its
    * embedding dim, so pass `expectedDim > 0` to pin it a priori and
    * make aberrant rows (not correct ones) the quarantined side. */
  def semanticDedupStream(vecs: DataFrame, idCol: String,
      vecCol: String, bucketCol: String, threshold: Double,
      maxKeptPerBucket: Int = 64, expectedDim: Int = 0)
      : Dataset[SemVerdict] = {
    require(expectedDim >= 0,
      s"expectedDim must be >= 0 (0 = pin from first): $expectedDim")
    require(maxKeptPerBucket > 0,
      s"maxKeptPerBucket must be positive: $maxKeptPerBucket")
    implicit val re = Encoders.product[SemVecRow]
    implicit val se = Encoders.product[SemState]
    implicit val oe = Encoders.product[SemVerdict]
    implicit val le = Encoders.scalaLong
    def cos6(a: Array[Double], vecsFlat: Array[Double], k: Int,
        dim: Int): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      val off = k * dim
      while (i < dim) {
        val x = a(i); val y = vecsFlat(off + i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    vecs
      // null vectors can't be compared and null buckets can't key
      // state — drop both up front (mirrors the batch operators'
      // null-vector semantics)
      .filter(col(vecCol).isNotNull && col(bucketCol).isNotNull)
      .select(col(idCol).cast("long").as("vec_id"),
        col(bucketCol).cast("long").as("bucket"),
        col(vecCol).cast("array<double>").as("vec"))
      .as[SemVecRow]
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[SemState, SemVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (bucket, rows, state: GroupState[SemState]) =>
          val sorted = rows.toArray.sortBy(_.vec_id)
          // dim: pinned a priori when the caller declared expectedDim;
          // otherwise on the FIRST NON-EMPTY vector the bucket sees.
          // Rows whose length disagrees (or empty vectors) can't enter
          // the cosine walk — they pass through kept=true
          // (quarantine-style: never silently dropped, never allowed
          // to corrupt or crash the state walk)
          var dim =
            if (expectedDim > 0) expectedDim
            else if (state.exists) state.get.dim else 0
          var ids = if (state.exists) state.get.ids else Array.empty[Long]
          var flat =
            if (state.exists) state.get.vecs else Array.empty[Double]
          val out = sorted.map { r =>
            if (dim == 0 && r.vec.length > 0) dim = r.vec.length
            if (r.vec.length != dim || dim == 0)
              SemVerdict(r.vec_id, bucket, kept = true)
            else {
              var isDup = false
              var k = 0
              while (!isDup && k < ids.length) {
                if (cos6(r.vec, flat, k, dim) >= threshold) isDup = true
                k += 1
              }
              if (!isDup && ids.length < maxKeptPerBucket) {
                ids = ids :+ r.vec_id
                flat = flat ++ r.vec
              }
              SemVerdict(r.vec_id, bucket, !isDup)
            }
          }
          state.update(SemState(ids, flat, dim))
          out.iterator
      }
  }

  def runningSubjectStats(events: Dataset[SubjectEvent])
      : Dataset[SubjectUpdate] = {
    implicit val se = Encoders.product[SubjectState]
    implicit val ue = Encoders.product[SubjectUpdate]
    implicit val le = Encoders.scalaLong
    events.groupByKey(_.subject_id)
      .mapGroupsWithState[SubjectState, SubjectUpdate](
        GroupStateTimeout.NoTimeout) {
        case (sid, rows, state: GroupState[SubjectState]) =>
          val prev =
            if (state.exists) state.get else SubjectState(0L, 0L, 0.0)
          var n = prev.nEvents
          var last = prev.lastTs
          var mean = prev.mean
          rows.foreach { e =>
            n += 1
            mean += (e.value - mean) / n // Welford online mean
            last = math.max(last, e.timestamp.getTime)
          }
          state.update(SubjectState(n, last, mean))
          SubjectUpdate(sid, n, last, mean)
      }
  }
}
