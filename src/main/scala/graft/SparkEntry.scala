package graft

import graft.core.Vocabulary
import graft.functors.TimeOfDayFunctor
import graft.ingest.{EventDataset, Splits}
import graft.ops.{Dedup, Hnsw, Linalg, Multimodal, Similarity, TextOps, Unigram, WordPiece}
import graft.preprocess.{NumericKernel, Preprocessor, Viod}
import graft.serve.{BatchBuilder, EmbeddingGather}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry (+ DuckDB oracle where the semantics
  * are ANSI-SQL-expressible) per implemented operator from SURVEY.md §2 and
  * the north-star extension ops.
  *
  * Oracle-fidelity notes (learned against the driver testdata):
  *  - `events.ts` is nanosecond-precision parquet; Spark truncates to
  *    microseconds on read while DuckDB keeps ns. Any query whose OUTPUT
  *    depends on sub-second arithmetic truncates to whole seconds on BOTH
  *    sides (`date_trunc('second', ts)`) so the values are bit-identical.
  *    Pure ORDERING by ts is safe untruncated (no two events share a µs).
  *  - Money aggregates go through DECIMAL casts (per-row double→decimal is
  *    deterministic and tie-free; decimal sums are exact in both engines)
  *    then back to DOUBLE, sidestepping FP-order differences between Spark's
  *    partial aggregation and DuckDB's sequential sum.
  *  - Aggregates that are inherently FP-order-sensitive (mean/stddev of logs)
  *    are rounded to 6 dp on both sides.
  *  - Every aggregate/computed column is aliased to the SAME name in the
  *    Spark query and the SQL (driver compares by sorted column name).
  *  - Outputs are ROW SETS: the driver's comparator sorts rows itself, so
  *    queries do not end with cosmetic global sorts — a terminal orderBy
  *    adds a range-sampling pass plus a full sort to every plan (the
  *    exact anti-pattern this engine avoids at scale). Ordering appears
  *    only where it is semantic (top-k limits, window specs).
  */
object SparkEntry {

  /** Table reader, adaptive to the two generations of driver testdata.
    * Older drivers wrote `events.ts` as TIMESTAMP(NANOS) parquet, which
    * Spark 4 refuses outright — read nanos as LONG and convert with integer
    * division (ns values ≈ 1.7e18 overflow double's 2^53 mantissa, so
    * `DIV`, never `/`). Current drivers write native timestamp[us], which
    * Spark reads as TIMESTAMP_NTZ — cast to session-TZ TIMESTAMP (identity
    * on the stored micros under the UTC sessions every runner configures)
    * so every downstream query sees one ts type regardless of generation.
    * DuckDB reads both generations natively, so the oracle SQL is unchanged.
    * Queries whose VALUES depend on sub-second arithmetic truncate to whole
    * seconds on both sides (see oracle-fidelity notes above). */
  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The NTZ→TIMESTAMP cast below is an identity on the stored micros
    // ONLY under a UTC session — pin it here so an externally-launched
    // SparkSession without the conf can't silently shift every timestamp.
    s.conf.set("spark.sql.session.timeZone", "UTC")
    val df = s.read.parquet(s"$dir/$name.parquet")
    if (name == "events") {
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case _: org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df
      }
    } else df
  }

  /** Events with raw (µs) timestamps — ordering-only queries. */
  private def dsRaw(s: SparkSession, dir: String): EventDataset =
    EventDataset.fromRawEvents(t(s, dir, "events"))

  /** Events truncated to whole seconds — value-bearing time arithmetic. */
  private def dsSec(s: SparkSession, dir: String): EventDataset =
    EventDataset.fromRawEvents(
      t(s, dir, "events").withColumn("ts", date_trunc("second", col("ts"))))

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q18_subject_seqs")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ───────────── reference-parity core (events table) ─────────────
    "q01_ingest_events" -> ((s, dir) => {
      dsRaw(s, dir).events
        .select(col("event_id"), col("subject_id"),
          unix_timestamp(col("timestamp")).as("ts_sec"), col("event_type"))
    }),

    "q02_sort_events" -> ((s, dir) => {
      dsRaw(s, dir).eventsOrdered
        .select(col("event_id"), col("subject_id"), col("event_type"),
          col("event_idx"))
    }),

    "q03_event_types" -> ((s, dir) => dsRaw(s, dir).eventTypes),

    "q04_events_per_subject" -> ((s, dir) =>
      dsRaw(s, dir).eventsPerSubject),

    "q05_agg_by_time_type" -> ((s, dir) => {
      val agg = dsRaw(s, dir).aggByTimeType
      val nMeas = agg.measurements.groupBy("event_id")
        .agg(count(lit(1)).as("n_meas"))
      agg.events.join(nMeas, Seq("event_id"))
        .select(col("event_id"), col("subject_id"),
          unix_timestamp(col("timestamp")).as("ts_sec"), col("event_type"),
          col("n_meas"))
    }),

    "q06_inter_event_min" -> ((s, dir) => {
      dsSec(s, dir).interEventMinutes
        .select(col("event_id"), col("subject_id"), col("delta_min"))
    }),

    "q07_tte_stats" -> ((s, dir) => {
      val d = dsSec(s, dir)
      d.tteStats(d.events).select(
        round(col("mean_log_inter_event_time_min"), 6)
          .as("mean_log_tte"),
        round(col("std_log_inter_event_time_min"), 6).as("std_log_tte"))
    }),

    "q08_time_of_day" -> ((s, dir) => {
      dsRaw(s, dir).events
        .withColumn("time_of_day", TimeOfDayFunctor().expr)
        .groupBy("time_of_day").agg(count(lit(1)).as("n"))
    }),

    "q09_vocab_event_type" -> ((s, dir) => {
      Vocabulary.fit(dsRaw(s, dir).events, "event_type")
        .select(col("element"), col("n"), col("idx"),
          round(col("freq"), 9).as("freq"))
    }),

    "q10_value_types" -> ((s, dir) => {
      NumericKernel.inferValueTypes(
        t(s, dir, "lineitem"), "l_returnflag", "l_quantity",
        minValidVocabElementObservations = 10,
        minTrueFloatFrequency = 0.25,
        minUniqueNumericalObservations = 20,
        maxNumericalValueFrequency = 0.3)
        .select(col("key"), col("n"), col("n_unique"),
          round(col("int_fraction"), 9).as("int_fraction"),
          round(col("mode_frequency"), 9).as("mode_frequency"),
          col("value_type"))
    }),

    "q11_drop_censor" -> ((s, dir) => {
      // inclusive drop bounds (reference semantics: the bound value itself
      // is dropped) — oracle: value <= 0.05 OR value >= 300 → NULL
      val v = col("value")
      t(s, dir, "events").select(col("event_id"), v,
        NumericKernel.dropOrCensor(v,
          lit(0.05), lit(true), lit(300.0), lit(true),
          lit(1.0), lit(200.0)).as("value_clean"))
    }),

    "q12_std_scaler" -> ((s, dir) => {
      NumericKernel.fitStandardScaler(t(s, dir, "events"), "event_type",
          "value")
        .select(col("key"), round(col("norm_mean"), 6).as("norm_mean"),
          round(col("norm_std"), 6).as("norm_std"))
    }),

    "q13_quantiles" -> ((s, dir) => {
      // posexplode to scalar rows: the driver's comparator hashes columns
      // and cannot sort array cells, so list outputs are contract-hostile.
      NumericKernel.fitQuantiles(t(s, dir, "events"), "event_type", "value",
          nQuantiles = 5)
        .select(col("key"), posexplode(col("quantiles")))
        .select(col("key"), col("pos").cast("int").as("q_idx"),
          round(col("col"), 6).as("q"))
    }),

    "q14_reencode" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.select(col("l_orderkey"), col("l_linenumber"),
        NumericKernel.reencodeKey(col("l_returnflag"), col("l_quantity"),
          lit("categorical_integer")).as("key2"),
        NumericKernel.reencodeValue(col("l_quantity"),
          lit("categorical_integer")).as("v2"))
    }),

    // xxhash64-seeded → not DuckDB-expressible → rows-only checks.
    // Same rank-and-cut operator as the production xxhash64 split, driven
    // by the SQL-replayable md5 key so DuckDB can replay the assignment
    // bit-for-bit (md5 hex ordering is engine-independent).
    "q15_splits" -> ((s, dir) => {
      Splits.subjectSplitsByKey(
        dsRaw(s, dir).subjects, Seq(0.8), Seq("train", "held_out"),
        Splits.md5SplitKey(42))
    }),

    "q16_viod" -> ((s, dir) => {
      Viod.fitPerKey(t(s, dir, "events"), "event_type", "value")
    }),

    "q17_task_windows" -> ((s, dir) => {
      val ev = dsSec(s, dir).events
      val tasks = ev.groupBy(col("subject_id").as("task_subject_id"))
        .agg(min(col("timestamp")).as("start_time"))
        .withColumn("end_time",
          col("start_time") + expr("INTERVAL 30 DAYS"))
      BatchBuilder.taskWindows(ev, tasks)
        .groupBy(col("task_subject_id").as("subject_id"))
        .agg(count(lit(1)).as("n_in_window"))
    }),

    "q18_subject_seqs" -> ((s, dir) => {
      val d = dsSec(s, dir)
      // event_type vocab at unified offset 1 (event_type pinned measurement,
      // SURVEY §2.9) — the flagship collect_list pipeline.
      // fitLocal: the vocab feeds a broadcast lookup — the LocalTableScan
      // form costs zero cluster jobs (identical rows to Vocabulary.fit)
      val vocab = Vocabulary.fitLocal(d.events, "event_type")
      val indexed = Vocabulary.lookup(d.measurements, "key", vocab, "vidx")
        .select(col("event_id"), (col("vidx") + 1L).as("unified_idx"),
          col("value"), lit(1L).as("measurement_idx"))
      BatchBuilder.subjectSequences(d.events, indexed)
        .select(col("subject_id"), size(col("time")).as("seq_len"),
          element_at(col("time"), -1).as("last_min"),
          aggregate(flatten(col("dynamic_indices")), lit(0L),
            (acc, x) => acc + x).as("sum_uidx"))
    }),

    // ───────────── TPC-H-ish relational/bench queries ─────────────
    "q19_pricing" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").as("sum_base"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast("decimal(20,4)")).cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .withColumn("avg_qty", col("sum_qty") / col("count_order"))
    }),

    "q20_revenue_priority" -> ((s, dir) => {
      // Partial aggregation PUSHED BELOW the join: lineitem pre-aggregates
      // revenue per order key (map-side combine on the same shuffle the
      // join needs anyway), so the join carries one row per order instead
      // of ~4 line items and the expensive countDistinct degenerates to a
      // plain count. Decimal sums are associative — regrouping is exact.
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(20,4)")).as("o_rev"))
      o.join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(sum(col("o_rev")).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))
    }),

    "q21_region_stats" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
            .as("sum_acctbal"))
    }),

    "q22_topk_customers" -> ((s, dir) => {
      // top-k the scalable way: orderBy+limit plans as TakeOrderedAndProject
      // (per-partition heaps, no global window funneling the table through
      // one partition); the rank is then assigned over just the k rows.
      val top = t(s, dir, "customer")
        .orderBy(desc("c_acctbal"), asc("c_custkey"))
        .limit(10)
        .select("c_custkey", "c_name", "c_acctbal")
      graft.ingest.Ids.denseIdsBy(top, "rank0",
          Seq(col("c_acctbal").desc, col("c_custkey")))
        .select((col("rank0") + 1L).cast("int").as("rank"),
          col("c_custkey"), col("c_name"), col("c_acctbal"))
    }),

    // ───────────── north-star: dedup / text / similarity ─────────────
    "q23_dedup_exact" -> ((s, dir) => {
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
        .select("doc_id")
    }),

    "q24_token_count" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), length(col("text")).cast("long").as("n_chars"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextOps.bpeishTokenCount(col("text")).cast("long")
          .as("n_bpeish"))
    }),

    "q25_quality" -> ((s, dir) => {
      val f = TextOps.qualityFeatures(col("text"))
      t(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), f("n_tokens").cast("long").as("n_tokens"),
          round(f("stopword_ratio"), 6).as("stopword_ratio"),
          round(f("mean_word_len"), 6).as("mean_word_len"))
    }),

    "q26_langid" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))
    }),

    "q27_minhash_lsh" -> ((s, dir) => {
      // char-5 shingles: the driver corpus is same-vocabulary word soup, so
      // char-3 shingles saturate (every doc pair ≥ 0.5 jaccard → O(n²)
      // verified pairs); 5-grams spanning word boundaries discriminate.
      Dedup.minhashLsh(t(s, dir, "documents"), "doc_id", "text",
        k = 64, bands = 16, shingleN = 5, jaccardThreshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6)
          .as("jaccard"))
    }),

    "q28_simhash_pairs" -> ((s, dir) => {
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3)
    }),

    "q43_tumbling_daily" -> ((s, dir) => {
      // Batch twin of StreamOps.windowedTypeStats: tumbling 1-day windows
      // per event_type — identical semantics batch/stream (the streaming
      // path adds only the watermark).
      // avg over the in-window OFFSET (0..86400), not raw epoch seconds:
      // epoch ~1.7e9 with 6 decimals overflows double's 15.9 significant
      // digits, so FP-order noise breaks the round-6 oracle compare.
      dsSec(s, dir).events
        .withColumn("win", window(col("timestamp"), "1 day"))
        .groupBy(col("win"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(avg(unix_timestamp(col("timestamp")) -
            unix_timestamp(col("win.start"))), 6).as("avg_offset_sec"))
        .select(unix_timestamp(col("win.start")).as("win_start"),
          col("event_type"), col("n"), col("avg_offset_sec"))
    }),

    "q42_corpus_pipeline" -> ((s, dir) => {
      // the pre-training corpus pipeline in one plan: exact dedup →
      // quality filter (Gopher-rules composite ≥ 0.75) → language rollup
      val docs = Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
      docs.select(TextOps.langId(col("text")).as("lang_pred"),
          TextOps.qualityScore(col("text")).as("qs"))
        .filter(col("qs") >= 0.75)
        .groupBy("lang_pred")
        .agg(count(lit(1)).as("n_docs"),
          round(avg(col("qs")), 6).as("avg_quality"))
    }),

    // Full near-dup dedup chain: LSH pairs → connected components →
    // canonical survivor per cluster (seeded-hash → rows-only check).
    "q41_neardup_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
        k = 64, bands = 16, shingleN = 5, jaccardThreshold = 0.5)
      Dedup.dedupByPairs(docs, "doc_id", pairs)
        .select("doc_id")
    }),

    "q29_ann_brute" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_vec"))
      Similarity.bruteForceTopK(emb, queries,
        "vec_id", "embedding", "q_vec_id", "q_vec", k = 10)
        .select(col("q_vec_id"), col("vec_id"), col("rank"))
    }),

    "q30_embed_neardup" -> ((s, dir) => {
      // Driver embeddings are near-orthogonal random vectors (max pairwise
      // cos ≈ 0.51) — 0.3/8-planes exercises the bucketed pipeline with a
      // non-empty result; production near-dup would use 0.95.
      Dedup.embeddingNearDups(t(s, dir, "embeddings"), "vec_id",
        "embedding", threshold = 0.3, nPlanes = 8)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
    }),

    "q39_age_functor" -> ((s, dir) => {
      // AgeFunctor over a synthesized subjects table (testdata has no
      // dob column): dob = 2000-01-01 + subject_id days.
      val d = dsSec(s, dir)
      val subjects = d.subjects.withColumn("dob",
        timestamp_seconds(lit(946684800L) + col("subject_id") * 86400L))
      graft.functors.TimeDependentFunctor.addColumns(
        d.events, subjects, Seq(graft.functors.AgeFunctor("dob")))
        .select(col("event_id"), round(col("age"), 9).as("age"))
    }),

    "q40_log_tte_time" -> ((s, dir) => {
      // Log-TTE-normalized cumulative time: μ/σ rounded to 9 dp on BOTH
      // sides so the exp/cumsum chain is bit-deterministic downstream.
      val d = dsSec(s, dir)
      val stats = d.tteStats(d.events).select(
        round(col("mean_log_inter_event_time_min"), 9).as("m"),
        round(col("std_log_inter_event_time_min"), 9).as("sd"))
      BatchBuilder.logTteNormalizedTime(
          d.events.crossJoin(broadcast(stats)), col("m"), col("sd"))
        .select(col("event_id"), round(col("t_norm"), 6).as("t_norm"))
    }),

    "q37_to_events_nested" -> ((s, dir) => {
      // to_events normalization (event_stream_dataset.py:370-413): orders
      // become 'order' events with nested metadata, then nested→flat
      // explode (:570-593) and a per-subject rollup.
      val orders = t(s, dir, "orders")
      val ev = EventDataset.toEvents(orders, "order", "o_custkey",
        "o_orderdate", Seq("o_totalprice"))
        .withColumn("event_id", col("subject_id") * 1000000 +
          row_number().over(Window.partitionBy("subject_id")
            .orderBy("timestamp")).cast("long"))
      EventDataset.explodeNested(ev)
        .groupBy("subject_id")
        .agg(count(lit(1)).as("n_meta"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
    }),

    "q38_restricted_scan" -> ((s, dir) => {
      // Restricted measurements scan (event_stream_dataset.py:789-863):
      // conjunctive predicate on the denormalized event_type/subject_id —
      // both push down to the parquet scan in the long layout.
      val ds = dsRaw(s, dir)
      ds.measurementsFor(
        eventTypes = Some(Seq("click", "purchase")),
        subjectIds = Some((0L until 50L).toSeq))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
    }),

    "q34_embedding_gather" -> ((s, dir) => {
      // DataEmbeddingLayer relational form: per subject, weighted sum of
      // the event_type-vocab-indexed embedding vectors (weight = value).
      val ev = dsRaw(s, dir)
      val vocab = Vocabulary.fitLocal(ev.events, "event_type")
      val items = Vocabulary.lookup(
        t(s, dir, "events").select(
          col("user_id").as("subject_id"), col("event_type"),
          col("value")),
        "event_type", vocab, "vidx")
      EmbeddingGather.gather(items, "subject_id", "vidx", "value",
        t(s, dir, "embeddings"), "vec_id", "embedding")
        // scalar rows (subject, 1-based pos, value): array cells break the
        // driver's pandas comparator.
        .select(col("subject_id"), posexplode(col("emb")))
        .select(col("subject_id"), (col("pos") + 1).as("pos"),
          round(col("col"), 6).as("emb_val"))
    }),

    "q35_task_labels" -> ((s, dir) => {
      // Task-conditioned extraction with label passthrough
      // (event_stream_pytorch_dataset.py:239-246): two labelled windows
      // per subject ([start, start+15d) 'early', [start+15d, start+30d]
      // 'late'), one aggregate row per task row.
      val ev = dsSec(s, dir).events
      val base = ev.groupBy(col("subject_id").as("task_subject_id"))
        .agg(min(col("timestamp")).as("t0"))
      val tasks = base.select(col("task_subject_id"),
        explode(array(
          struct(col("t0").as("start_time"),
            (col("t0") + expr("INTERVAL 15 DAYS") -
              expr("INTERVAL 1 SECOND")).as("end_time"),
            lit("early").as("label")),
          struct((col("t0") + expr("INTERVAL 15 DAYS")).as("start_time"),
            (col("t0") + expr("INTERVAL 30 DAYS")).as("end_time"),
            lit("late").as("label")))).as("w"))
        .select(col("task_subject_id"), col("w.*"))
      BatchBuilder.taskWindows(ev, tasks)
        .groupBy(col("task_subject_id").as("subject_id"), col("label"))
        .agg(count(lit(1)).as("n_events"))
    }),

    "q36_unit_bounds" -> ((s, dir) => {
      // Unit-implied bounds enrichment (reference UNIT_BOUNDS,
      // event_stream_dataset.py:59-62: % → [0,1] exclusive): broadcast-
      // join the unit→bounds table, then drop with the unit bounds. A
      // synthetic proportion column keeps the test discriminative (raw
      // values are 0.03–327 — all would drop against [0,1]).
      val ev = t(s, dir, "events")
        .withColumn("unit",
          when(col("event_type") === "click", lit("proportion"))
            .otherwise(lit("%")))
        .withColumn("prop", col("value") / 400.0)
      val enriched = ev.join(broadcast(NumericKernel.unitBounds(s)),
        Seq("unit"), "left")
      enriched.select(col("event_id"), col("unit"),
        NumericKernel.dropOrCensor(col("prop"),
          col("unit_lo"), col("unit_lo_incl"),
          col("unit_hi"), col("unit_hi_incl"),
          lit(null).cast("double"), lit(null).cast("double"))
          .as("value_bounded"))
    }),

    // ─────── end-to-end preprocess lifecycle (fit on train → transform
    // all). The split here is subject_id % 5 < 4 — deliberately
    // SQL-expressible so the WHOLE pipeline is oracle-checked (the
    // production split is the seeded-hash Splits operator, q15). ───────
    "q32_preprocess_std" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val train = ev.filter(col("user_id") % 5 < 4)
      val fit = Preprocessor.fit(train, "event_type", "value",
        Preprocessor.Config(normalizer = Some("std")))
      Preprocessor.transform(ev, "event_type", "value", fit)
        .select(col("event_id"), col("final_key"),
          round(col("value_norm"), 6).as("value_norm"), col("key_idx"))
    }),

    "q229_ml_pipeline" -> ((s, dir) => {
      // q32's preprocess lifecycle driven through the spark.ml
      // Estimator/Transformer wrapper (SURVEY §7 step 8): an
      // org.apache.spark.ml.Pipeline fit on the train slice, its
      // PipelineModel transforming the full table — byte-identical
      // output to q32 (same oracle SQL), proving the wrapper adds an
      // API surface, not new semantics.
      val ev = t(s, dir, "events")
      val train = ev.filter(col("user_id") % 5 < 4)
      val prep = new graft.ml.NumericPreprocessor()
        .setKeyCol("event_type").setValueCol("value")
      val model = new org.apache.spark.ml.Pipeline()
        .setStages(Array(prep)).fit(train)
      model.transform(ev)
        .select(col("event_id"), col("final_key"),
          round(col("value_norm"), 6).as("value_norm"), col("key_idx"))
    }),

    "q235_ml_pipeline_composed" -> ((s, dir) => {
      // TWO real graft.ml stages composed, oracle-checked end-to-end:
      // the leakage-safe split stamp (Transformer over
      // Splits.groupedSplit), then a VocabIndexer FIT ON THE TRAIN
      // SLICE ONLY and applied to every row. The indexed key is
      // (event_type : user_id), so held-out users' keys are genuinely
      // UNSEEN at fit time and must index to the pinned UNK 0 — the
      // unseen-category semantics MLlib's StringIndexer errors on.
      val ev = t(s, dir, "events")
        .withColumn("subject_key",
          concat(col("event_type"), lit(":"),
            col("user_id").cast("string")))
      val split = new graft.ml.GroupedSplitAssigner()
        .setGroupCol("user_id").setFractions(Array(0.8))
        .setSplitNames(Array("train", "held_out")).setSeed(9L)
      val stamped = split.transform(ev)
      val model = new graft.ml.VocabIndexer()
        .setInputCol("subject_key").setOutputCol("key_idx")
        .fit(stamped.filter(col("split") === "train"))
      model.transform(stamped)
        .select(col("event_id"), col("split"), col("subject_key"),
          col("key_idx"))
    }),

    "q243_ml_kmeans" -> ((s, dir) => {
      // q238's Lloyd's fit driven through the spark.ml wrapper: a
      // KMeansClusterer Estimator (dyadic init, 2 fixed iterations)
      // fit + transform, reduced to per-cluster sizes. The oracle is
      // q238's unrolled SQL replay's third assignment — the wrapper
      // adds an API surface, not new semantics.
      val m = new graft.ml.KMeansClusterer()
        .setInputCol("embedding").setOutputCol("centroid_id")
        .setK(8).setIters(2)
        .fit(t(s, dir, "embeddings"))
      m.transform(t(s, dir, "embeddings"))
        .groupBy("centroid_id").agg(count(lit(1)).as("n"))
    }),

    "q244_ml_ridge_probe" -> ((s, dir) => {
      // q228's standardized ridge probe driven through the spark.ml
      // RidgeProbe Estimator — fit on the labeled corpus, the model's
      // transform appends (score, keep). Byte-identical to
      // Linalg.ridgeScoreStd (same oracle SQL): the wrapper adds an
      // API surface, not new semantics.
      val emb = t(s, dir, "embeddings")
        .withColumn("y", (col("label") === 0).cast("double"))
      val m = new graft.ml.RidgeProbe()
        .setInputCol("embedding").setLabelCol("y")
        .setLambda(0.1).setEta(0.5).setIters(50).setThreshold(0.1)
        .fit(emb)
      m.transform(emb).select("vec_id", "score", "keep")
    }),

    "q245_ml_hash_embed" -> ((s, dir) =>
      // q236's feature-hashed embeddings driven through the stateless
      // HashedEmbedder Transformer (same oracle SQL) — the Pipeline
      // bridge from the documents world to the vector-world stages.
      new graft.ml.HashedEmbedder()
        .setIdCol("doc_id").setInputCol("text")
        .setDim(64).setSeed(7L).setFamily("md5")
        .transform(t(s, dir, "documents"))),

    "q250_stream_moments" -> ((s, dir) => {
      // REAL streaming maintenance of the lattice-moments state: the
      // embeddings staged as FOUR files, maxFilesPerTrigger=1 so
      // AvailableNow genuinely slices into four micro-batches, each
      // integer-merged into the persisted state by foreachBatch. The
      // drained state must be BIT-identical to a one-pass batch fit —
      // this query shares q249's full-recompute oracle verbatim, so
      // the batch-slicing invariance is hash-checked, not asserted.
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        .repartition(4)
      val tmp = java.nio.file.Files.createTempDirectory("graft-q250")
        .toString
      emb.write.mode("overwrite").parquet(s"$tmp/in")
      val stream = s.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
      val sq = graft.streaming.StreamOps.incrementalMomentsStream(
          stream, "embedding", s"$tmp/state")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
      Linalg.statsFromLatticeState(s.read.parquet(s"$tmp/state"))
    }),

    "q249_incremental_moments" -> ((s, dir) => {
      // Incremental embedding stats WITHOUT a history rescan: fit a
      // lattice-moments state on the "history" half (even vec_ids),
      // fit a second state on the arriving "delta" (odd vec_ids),
      // integer-merge them, and read per-dim mean/variance off the
      // merged state. The oracle recomputes over the WHOLE corpus in
      // one pass — the query is green only because merged incremental
      // state ≡ full recompute, BIT-exact on the integer lattice.
      val emb = t(s, dir, "embeddings")
      val hist = Linalg.momentsLatticeState(
        emb.filter(col("vec_id") % 2 === 0), "embedding")
      val delta = Linalg.momentsLatticeState(
        emb.filter(col("vec_id") % 2 === 1), "embedding")
      Linalg.statsFromLatticeState(
        Linalg.mergeMomentsState(hist, delta))
    }),

    "q248_embed_drift" -> ((s, dir) => {
      // Embedding-distribution drift audit between two snapshots (the
      // monitor that guards every cosine-threshold operator): even
      // vec_ids play crawl N, odd ones crawl N+1. Two one-pass
      // gram-moments reads, neither side shuffles; per-dim mean/var
      // algebra on 9dp-rounded reductions, 6dp EAV out.
      val emb = t(s, dir, "embeddings")
      Linalg.embeddingDriftEav(s,
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1), "embedding")
    }),

    "q247_stream_semantic_dedup" -> ((s, dir) => {
      // REAL streaming execution of StreamOps.semanticDedupStream —
      // SemDeDup's decision rule applied at ingest: stage the
      // embeddings (with their replayable md5-parity hyperplane
      // bucket) as ONE parquet file, read back as a file-source
      // STREAM, run the stateful per-bucket greedy keeper, drain with
      // AvailableNow into a memory sink. One file → one micro-batch,
      // and the operator sorts each bucket's rows by id before the
      // walk, so the verdict is the canonical id-ascending greedy
      // chain the oracle replays. Decision margins on this corpus:
      // min |round6(maxcos) − 0.3| = 6.7e-4 (measured) — far above
      // cross-engine cosine ulp.
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          HyperplaneReplay.bucketCol(col("embedding")).as("bucket"))
        .repartition(1)
      val tmp = java.nio.file.Files.createTempDirectory("graft-q247")
        .toString
      emb.write.mode("overwrite").parquet(tmp)
      val stream = s.readStream.schema(emb.schema).parquet(tmp)
      val sink = "q247_sink_" + java.util.UUID.randomUUID()
        .toString.replace("-", "")
      val sq = graft.streaming.StreamOps.semanticDedupStream(stream,
          "vec_id", "embedding", "bucket", threshold = 0.3,
          maxKeptPerBucket = 64)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
      s.table(sink).select(col("vec_id"), col("bucket"), col("kept"))
    }),

    "q246_ml_text_cluster_pipeline" -> ((s, dir) => {
      // The composed documents→clusters Pipeline, oracle-checked END
      // TO END: HashedEmbedder (q236's hashing trick, md5 replay
      // family) → EavToVector (sparse EAV → dense zero-filled 64-d)
      // → KMeansClusterer (q238's 2-iteration Lloyd's fit from the
      // dyadic init). One org.apache.spark.ml.Pipeline.fit + one
      // PipelineModel.transform produce every doc's cluster id; the
      // oracle replays the whole chain in SQL. Assignment-margin
      // audit (DuckDB, this corpus): min argmax margin 3.7e-6 at
      // sf0.1 — three orders above cross-engine cosine ulp, the q238
      // stability argument; inputs are 6dp-quantized on both sides.
      val docs = t(s, dir, "documents")
      val model = new org.apache.spark.ml.Pipeline().setStages(
        Array(
          new graft.ml.HashedEmbedder()
            .setIdCol("doc_id").setInputCol("text")
            .setDim(64).setSeed(7L).setFamily("md5"),
          new graft.ml.EavToVector()
            .setIdCol("doc_id").setDimCol("dim").setValCol("val")
            .setOutputCol("embedding").setDim(64),
          new graft.ml.KMeansClusterer()
            .setInputCol("embedding").setOutputCol("centroid_id")
            .setK(8).setIters(2)))
        .fit(docs)
      model.transform(docs)
        .select(col("doc_id"), col("centroid_id").cast("long"))
    }),

    "q33_preprocess_reencode" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val train = li.filter(col("l_orderkey") % 5 < 4)
      // minUnique=60 > the 50 distinct quantities → categorical_integer
      // branch: keys re-encode to "flag__EQ_qty", values null, vocab over
      // the re-encoded key space.
      val fit = Preprocessor.fit(train, "l_returnflag", "l_quantity",
        Preprocessor.Config.counts(minUniqueNumericalObservations = 60,
          normalizer = None))
      Preprocessor.transform(li, "l_returnflag", "l_quantity", fit)
        .select(col("l_orderkey"), col("l_linenumber"), col("final_key"),
          col("value_clean"), col("key_idx"))
    }),

    // ─────── round-2 coverage: orchestration, sessions, quantile
    // transform, blocked n-gram jaccard, temporal encoding, ANN ───────
    "q44_dataset_preprocess" -> ((s, dir) => {
      // DatasetPreprocessor end-to-end: all three temporality routings in
      // one fit/transform (dynamic numeric 'value', static vocab 'grp',
      // functional-time-dependent 'age') with an SQL-expressible subject
      // split so the WHOLE orchestration is oracle-checked.
      import graft.core.{DataModality => DM, DatasetConfig, MeasurementConfig, TemporalityType => TT}
      val d0 = dsSec(s, dir)
      val subjects = d0.subjects
        .withColumn("grp",
          concat(lit("g"), (col("subject_id") % 3).cast("string")))
        .withColumn("dob",
          timestamp_seconds(lit(946684800L) + col("subject_id") * 86400L))
      val d = d0.copy(subjects = subjects)
      val splits = subjects.select(col("subject_id"),
        when(col("subject_id") % 5 < 4, "train").otherwise("held_out")
          .as("split"))
      val cfg = DatasetConfig(measurements = Seq(
        MeasurementConfig("value", TT.Dynamic, DM.MultivariateRegression,
          valuesColumn = Some("value")),
        MeasurementConfig("grp", TT.Static, DM.SingleLabelClassification),
        MeasurementConfig("age", TT.FunctionalTimeDependent,
          DM.UnivariateRegression, functor = Some("age"))))
      val functors = Seq(graft.functors.AgeFunctor("dob"))
      val fit = graft.preprocess.DatasetPreprocessor.fit(d, splits, cfg,
        functors)
      val (meas, ev, subj) = graft.preprocess.DatasetPreprocessor
        .transform(d, fit, functors)
      meas.select(col("metadata_id"), col("subject_id"), col("final_key"),
          round(col("value_norm"), 6).as("value_norm"), col("key_idx"))
        .join(ev.select(col("event_id").as("metadata_id"),
          round(col("age_norm"), 6).as("age_norm")), Seq("metadata_id"))
        .join(subj.select(col("subject_id"), col("grp_idx")),
          Seq("subject_id"))
        .select("metadata_id", "final_key", "value_norm", "key_idx",
          "grp_idx", "age_norm")
    }),

    "q45_sessions_batch" -> ((s, dir) => {
      // Batch twin of StreamOps.sessionize (same session_window function;
      // the streaming path adds only the watermark): 30-minute gap
      // sessions per subject. Gap boundary is INCLUSIVE — an event at
      // exactly last+gap still merges (session_window merges touching
      // windows); a new session needs delta STRICTLY > gap. Caught at
      // sf0.1 where an exact-1800s delta exists.
      t(s, dir, "events")
        .withColumn("ts2", date_trunc("second", col("ts")))
        .groupBy(session_window(col("ts2"), "30 minutes").as("sess"),
          col("user_id").as("subject_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
        .select(col("subject_id"),
          unix_timestamp(col("sess.start")).as("sess_start"),
          col("n_events"), col("sum_value"))
    }),

    "q46_quantile_transform" -> ((s, dir) => {
      // Quantile-normalizer TRANSFORM oracle-checked end-to-end (the fit
      // is q13): interpolated ECDF against train-fit quantiles. Quantile
      // PARAMETERS round to 9 dp on both sides (q40 trick) so the
      // interpolation chain is bit-deterministic.
      val ev = t(s, dir, "events")
      val train = ev.filter(col("user_id") % 5 < 4)
      val q = NumericKernel.fitQuantiles(train, "event_type", "value",
          nQuantiles = 5)
        .select(col("key"),
          transform(col("quantiles"), x => round(x, 9)).as("qs"))
      ev.join(broadcast(q), ev("event_type") === q("key"), "left")
        .select(col("event_id"),
          round(NumericKernel.applyQuantileTransform(col("value"),
            col("qs")), 6).as("v_q"))
    }),

    "q47_ngram_jaccard" -> ((s, dir) => {
      // Blocked word-3-gram Jaccard near-dup pairs. Block = predicted
      // language × 10-char length bucket: near-dups have near-identical
      // lengths, so the bucket bounds the quadratic pair space (~100-doc
      // blocks) where language alone degenerates to one giant block.
      val docs = t(s, dir, "documents")
        .withColumn("blk", concat(TextOps.langId(col("text")), lit("_"),
          floor(length(col("text")) / 10).cast("string")))
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", "blk", n = 3,
          threshold = 0.25)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
    }),

    "q48_temporal_encoding" -> ((s, dir) => {
      // Continuous-time sinusoidal encoding (reference transformer.py:
      // 362-403) of minutes-from-subject-start, dim=4 → component columns
      // (scalar outputs; the driver comparator cannot sort array cells).
      val ev = dsSec(s, dir).events
      val t0 = ev.groupBy("subject_id")
        .agg(min(col("timestamp")).as("t0"))
      val enc = graft.serve.TemporalEncoding.encode(
        (unix_timestamp(col("timestamp")) - unix_timestamp(col("t0")))
          .cast("double") / 60.0, dim = 4)
      ev.join(t0, Seq("subject_id"))
        .withColumn("enc", enc)
        .select(col("event_id"),
          round(element_at(col("enc"), 1), 6).as("enc_sin0"),
          round(element_at(col("enc"), 2), 6).as("enc_cos0"),
          round(element_at(col("enc"), 3), 6).as("enc_sin1"),
          round(element_at(col("enc"), 4), 6).as("enc_cos1"))
    }),

    "q51_vocab_fold" -> ((s, dir) => {
      // Categorical.fitVocab end-to-end: null filtering, rare-element
      // folding into UNK (proportion threshold), dense re-rank, and the
      // observation_frequency stamp (reference
      // event_stream_dataset.py:1341-1364 + vocabulary.py:84-112).
      // Nulls synthesized on doc_id % 10 == 0 so observed < totalPossible.
      val docs = t(s, dir, "documents")
        .withColumn("lang2",
          when(col("doc_id") % 10 === 0, lit(null).cast("string"))
            .otherwise(col("lang")))
      val total = docs.count()
      val fit = graft.preprocess.Categorical.fitVocab(docs, "lang2", total,
        minValidVocabElementObservations =
          Some(graft.core.CountOrProportion.proportion(0.15)))
      fit.vocab.select(col("element"), col("n"), col("idx"),
          round(col("freq"), 9).as("freq"))
        .withColumn("obs_frequency",
          round(lit(fit.observationFrequency), 9))
    }),

    "q53_props_ingest" -> ((s, dir) => {
      // JSON-properties ingestion: events.props ('{"k": N}') parsed to
      // long-layout measurement rows, rolled up per (event_type, key).
      EventDataset.propsToMeasurements(t(s, dir, "events"))
        .groupBy("event_type", "key")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
    }),

    "q52_task_labels_norm" -> ((s, dir) => {
      // Task-label normalization (reference :61-81): string labels →
      // lexicographic multi-class codes, bool → binary double, int/float
      // pass through, each typed by dtype.
      val ev = dsRaw(s, dir).events
      val w = Window.partitionBy("subject_id")
        .orderBy("timestamp", "event_id")
      val firstType = ev.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("subject_id"), col("event_type").as("outcome"))
      val aggs = ev.groupBy("subject_id").agg(count(lit(1)).as("n"))
      val tasks = firstType.join(aggs, Seq("subject_id"))
        .select(col("subject_id"), col("outcome"),
          (col("n") % 4).as("severity"),
          (col("n") % 2 === 0).as("flag"),
          (col("n") / lit(100.0)).as("risk"))
      val norm = graft.serve.TaskLabels.normalize(tasks,
        ignore = Seq("subject_id"))
      norm.df.select(col("subject_id"), col("outcome"), col("severity"),
          col("flag"), col("risk"))
    }),

    // seeded-bucket / iterative-model ANN → rows-only checks
    "q49_lsh_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_vec"))
      Similarity.lshTopK(emb, queries, "vec_id", "embedding",
          "q_vec_id", "q_vec", k = 5, nPlanes = 4)
        .select(col("q_vec_id"), col("vec_id"), col("rank"))
    }),

    "q50_ivf_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_vec"))
      val cents = Similarity.fitIvfCentroids(emb, "embedding", k = 8,
        seed = 42)
      Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
          "q_vec_id", "q_vec", cents, k = 5, nProbe = 2)
        .select(col("q_vec_id"), col("vec_id"), col("rank"))
    }),

    "q31_media_frames" -> ((s, dir) => {
      // REAL frame counting over VARIABLE-length containers: 3 + id%4
      // frame animated GIFs through the JDK sequence writer, then a
      // stride-1 read decodes every frame — n_frames comes from the
      // reader's own container walk (getNumImages), not metadata, so a
      // truncated or miscounted container breaks the hash. Complements
      // q113 (fixed-length stride sampling + per-frame features).
      val gifs = Multimodal.synthesizeGifs(
        t(s, dir, "documents"), "doc_id", nFrames = 3, varyMod = 4)
      Multimodal.sampleGifFrames(gifs, stride = 1)
        .groupBy("media_id")
        .agg(count(lit(1)).as("n_frames"),
          max("width").as("width"), max("height").as("height"))
    }),

    "q54_collate_pad" -> ((s, dir) => {
      // Collate/pad (event_stream_pytorch_dataset.py:444-567): ragged
      // per-subject minutes-from-start sequences padded rectangular to the
      // batch max length, RIGHT padding side (nulls appended — the
      // reference's pad-then-mask shape, kept as null rather than NaN→0 so
      // the mask is recoverable). Scalar (subject, pos, t_min) rows: array
      // cells are contract-hostile.
      val ev = dsSec(s, dir).events
      // batch max length as a broadcast 1-row aggregate crossJoined into
      // the plan — no driver-side collect, one composed job
      val maxLen = ev.groupBy("subject_id").count()
        .agg(max("count").cast("int").as("__max_len"))
      val seqs = ev.groupBy("subject_id")
        .agg(sort_array(collect_list(struct(
          col("timestamp").cast("double").as("ts"), col("event_id"))))
          .as("evs"))
        .select(col("subject_id"), transform(col("evs"),
          e => (e("ts") - element_at(col("evs"), 1)("ts")) / 60.0)
          .as("tmins"))
      seqs.crossJoin(broadcast(maxLen))
        .select(col("subject_id"),
          posexplode(BatchBuilder.padToCol(col("tmins"), col("__max_len"))))
        .select(col("subject_id"), (col("pos") + 1).cast("int").as("pos"),
          round(col("col"), 6).as("t_min"))
    }),

    "q56_static_gather" -> ((s, dir) => {
      // DataEmbeddingLayer static mode SUM (data_embedding_layer.py:
      // 245-397): the subject's static-measurement embedding is SUMMED into
      // the bag — relationally, static items (weight 1.0) simply UNION into
      // the gather input. Static vocab block occupies ids 10..12 here.
      val ev = dsRaw(s, dir)
      val vocab = Vocabulary.fitLocal(ev.events, "event_type")
      val items = Vocabulary.lookup(
        t(s, dir, "events").select(
          col("user_id").as("subject_id"), col("event_type"),
          col("value")),
        "event_type", vocab, "vidx")
        .select(col("subject_id"), col("vidx"), col("value"))
      val staticItems = ev.subjects.select(col("subject_id"),
        (pmod(col("subject_id"), lit(3)) + 10).as("vidx"),
        lit(1.0).as("value"))
      EmbeddingGather.gather(items.unionByName(staticItems),
        "subject_id", "vidx", "value",
        t(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("subject_id"), posexplode(col("emb")))
        .select(col("subject_id"), (col("pos") + 1).as("pos"),
          round(col("col"), 6).as("emb_val"))
    }),

    "q55_winnow_fp" -> ((s, dir) => {
      // Winnowing fingerprints (SIGMOD'03 min-sampling): one narrow native
      // expression per doc, exploded to scalar (doc_id, fp) rows. The
      // rolling hash is base-257 mod 1e9+7 over codepoints — deliberately
      // SQL-replayable, so THIS hash-based op gets a full DuckDB oracle
      // (the xxhash64 family ops are rows-only-checkable).
      t(s, dir, "documents").select(col("doc_id"),
        explode(TextOps.winnowFingerprints(col("text"), k = 8, w = 16))
          .as("fp"))
    }),

    "q58_winnow_overlap" -> ((s, dir) => {
      // MOSS-style partial-overlap pairs over the q55 fingerprints —
      // oracle-checkable because the rolling hash is SQL-replayable.
      // maxPostingSize 5: the synthetic corpus is same-vocabulary word
      // soup, so common 8-grams appear corpus-wide — a tight boilerplate
      // cap keeps only genuinely rare shared passages
      Dedup.winnowOverlapPairs(t(s, dir, "documents"), "doc_id", "text",
        k = 8, w = 16, minShared = 5, maxPostingSize = 5)
    }),

    "q59_split_gather" -> ((s, dir) => {
      // DataEmbeddingLayer SPLIT_CATEGORICAL_NUMERICAL
      // (data_embedding_layer.py:150-172): categorical bag (weight 1) and
      // numerical bag (weight = value, unvalued → 0) gathered against two
      // embedding tables, combined cw·cat + nw·num. The numerical table is
      // the reversed embedding — a deterministic stand-in for a second
      // projection.
      val ev = dsRaw(s, dir)
      val vocab = Vocabulary.fitLocal(ev.events, "event_type")
      val items = Vocabulary.lookup(
        t(s, dir, "events").select(col("user_id").as("subject_id"),
          col("event_type"), col("value")),
        "event_type", vocab, "vidx")
        .select(col("subject_id"), col("vidx"), col("value"))
      val emb = t(s, dir, "embeddings")
      val numEmb = emb.select(col("vec_id"),
        reverse(col("embedding")).as("embedding"))
      EmbeddingGather.splitGather(items, "subject_id", "vidx", "value",
        emb, "vec_id", "embedding", numEmb, "vec_id", "embedding")
        .select(col("subject_id"), posexplode(col("emb")))
        .select(col("subject_id"), (col("pos") + 1).as("pos"),
          round(col("col"), 6).as("emb_val"))
    }),

    "q60_normalized_gather" -> ((s, dir) => {
      // Measurement-index normalization (data_embedding_layer.py:200-230):
      // each observation's weight is 1/(count of its measurement in the
      // bag × distinct-measurement count) — every measurement contributes
      // equal total mass. Two synthetic measurement groups from the vocab
      // index parity.
      val ev = dsRaw(s, dir)
      val vocab = Vocabulary.fitLocal(ev.events, "event_type")
      val items = Vocabulary.lookup(
        t(s, dir, "events").select(col("user_id").as("subject_id"),
          col("event_type")),
        "event_type", vocab, "vidx")
        // UNK rows (vidx 0) never reach the bag (gather drops padding) —
        // exclude them BEFORE normalization so they don't inflate the
        // per-measurement counts (and to match the oracle's inner join)
        .filter(col("vidx") =!= 0)
        .select(col("subject_id"), col("vidx"),
          (pmod(col("vidx"), lit(2)) + 1).as("midx"))
      val normed = EmbeddingGather.withMeasurementNormalization(
        items, "subject_id", "midx")
      EmbeddingGather.gather(normed, "subject_id", "vidx", "__meas_norm",
        t(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("subject_id"), posexplode(col("emb")))
        .select(col("subject_id"), (col("pos") + 1).as("pos"),
          round(col("col"), 6).as("emb_val"))
    }),

    "q61_asof_join" -> ((s, dir) => {
      // As-of join: every event sees the latest prior-or-equal purchase
      // value of its subject (LOCF). Right side pre-aggregated unique per
      // (subject, ts). One shuffle (union + ordered carry-forward) — see
      // AsofJoin scaladoc. Values pass through untouched → exact compare.
      val raw = t(s, dir, "events")
        .withColumn("ts2", date_trunc("second", col("ts")))
      val left = raw.select(col("event_id"),
        col("user_id").as("subject_id"), col("ts2"))
      val right = raw.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("subject_id"), col("ts2"))
        .agg(max(col("value")).as("p_val"))
      graft.ops.AsofJoin.asofJoin(left, right, "subject_id", "ts2",
          Seq("p_val"))
        .select(col("event_id"), col("p_val"))
    }),

    "q88_asof_tolerance" -> ((s, dir) => {
      // Bounded-staleness as-of join (merge_asof tolerance semantics):
      // the q61 join, but purchases older than 2 days don't match — the
      // left row survives with a null value. Same single-shuffle plan.
      val raw = t(s, dir, "events")
        .withColumn("ts2", date_trunc("second", col("ts")))
      val left = raw.select(col("event_id"),
        col("user_id").as("subject_id"), col("ts2"))
      val right = raw.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("subject_id"), col("ts2"))
        .agg(max(col("value")).as("p_val"))
      graft.ops.AsofJoin.asofJoin(left, right, "subject_id", "ts2",
          Seq("p_val"), toleranceSeconds = Some(172800.0))
        .select(col("event_id"), col("p_val"))
    }),

    "q62_sliding_daily" -> ((s, dir) => {
      // Sliding (hopping) windows: 2-day window, 1-day slide — each event
      // lands in exactly two windows. Batch twin of
      // StreamOps.windowedTypeStats(slideDur) (identical semantics; the
      // streaming path adds only the watermark).
      dsSec(s, dir).events
        .withColumn("win", window(col("timestamp"), "2 days", "1 day"))
        .groupBy(col("win"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("win.start")).as("win_start"),
          col("event_type"), col("n"))
    }),

    "q63_rollup_pricing" -> ((s, dir) => {
      // Grouping sets via the built-in rollup (SURVEY §2.11: the reference
      // has none; Spark covers it): per-(flag, status) + per-flag +
      // grand-total sums in one pass.
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n"))
    }),

    "q64_media_features" -> ((s, dir) => {
      // REAL decode → fixed-width feature vector: PNG payloads decoded
      // with the JDK codec, red channel bucketed into an 8-bin level
      // histogram (bucket = r >> 5) — the replayable stand-in for a CNN
      // feature, zeros kept so the vector stays rectangular. The oracle
      // replays the pixel formula per (x, y); any codec or binning
      // defect breaks the hash.
      val imgs = Multimodal.synthesizeImages(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      Multimodal.decodeImageHistogram(imgs, bins = 8)
        .select(col("media_id"), col("n_px"), posexplode(col("hist")))
        .select(col("media_id"), col("n_px"),
          (col("pos") + 1).cast("int").as("bin"), col("col").as("cnt"))
    }),

    "q65_topk_per_group" -> ((s, dir) => {
      // Per-group top-k: rank PARTITIONED by the group (scales — no
      // global-window funnel; contrast q22's global TakeOrdered form).
      val byOrder = t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(20,4)")).as("rev"))
      val o = t(s, dir, "orders")
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(desc("rev"), asc("o_orderkey"))
      o.join(byOrder, o("o_orderkey") === byOrder("l_orderkey"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_orderpriority"), col("rk").cast("int").as("rk"),
          col("o_orderkey"), col("rev").cast("double").as("rev"))
    }),

    "q66_anti_join" -> ((s, dir) => {
      // Left-anti join (set difference): customers with no URGENT order
      // (the unrestricted version is empty on this dense testdata). The
      // filter pushes to the orders scan; AQE broadcasts the shrunken
      // anti side.
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_custs"),
          sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
            .as("sum_bal"))
    }),

    "q57_nested_view" -> ((s, dir) => {
      // Flat→nested metadata view (event_stream_dataset.py:599-631): base
      // EAV rows ∪ JSON-props rows grouped into per-event metadata arrays.
      // Aggregates use native array ops on extracted field arrays
      // (metadata.key is a codegen GetArrayStructFields, no HOF lambdas).
      val raw = t(s, dir, "events")
      val d0 = dsRaw(s, dir)
      val cols = Seq("event_id", "event_type", "subject_id", "measurement",
        "key", "value")
      val meas = d0.measurements.select(cols.map(col): _*)
        .unionByName(EventDataset.propsToMeasurements(raw)
          .select(cols.map(col): _*))
        .withColumn("metadata_id", col("event_id"))
      d0.copy(measurements = meas).eventsWithMetadata
        .select(col("event_id"),
          size(col("metadata")).as("n_meta"),
          array_min(col("metadata.key")).as("min_key"),
          array_max(col("metadata.key")).as("max_key"))
    }),

    "q67_concat_gather" -> ((s, dir) => {
      // DataEmbeddingLayer static mode CONCAT: dynamic bag (q34's gather)
      // and the subject's static bag embedded independently, vectors
      // concatenated → 128 dims. Static vocab ids 10..12 as in q56.
      val ev = dsRaw(s, dir)
      val vocab = Vocabulary.fitLocal(ev.events, "event_type")
      val items = Vocabulary.lookup(
        t(s, dir, "events").select(
          col("user_id").as("subject_id"), col("event_type"),
          col("value")),
        "event_type", vocab, "vidx")
      val emb = t(s, dir, "embeddings")
      val dyn = EmbeddingGather.gather(items, "subject_id", "vidx",
        "value", emb, "vec_id", "embedding")
      val statics = ev.subjects.select(col("subject_id"),
        (pmod(col("subject_id"), lit(3)) + 10).as("vidx"),
        lit(1.0).as("value"))
      val stat = EmbeddingGather.gather(statics, "subject_id", "vidx",
        "value", emb, "vec_id", "embedding")
      EmbeddingGather.concatStatic(dyn, stat, "subject_id", staticDim = 64)
        .select(col("subject_id"), posexplode(col("emb")))
        .select(col("subject_id"), (col("pos") + 1).as("pos"),
          round(col("col"), 6).as("emb_val"))
    }),

    "q68_obs_frequency" -> ((s, dir) => {
      // Observation-frequency stamp (event_stream_dataset.py:1341-1343):
      // observed/total per measurement, plus the fitted vocab size.
      // Driver-side fit state → LocalTableScan (StringIndexerModel idiom).
      val ev = t(s, dir, "events")
      val total = ev.count()
      val etFit = graft.preprocess.Categorical.fitVocab(
        ev.select(col("event_type")), "event_type", total)
      val kFit = graft.preprocess.Categorical.fitVocab(
        EventDataset.propsToMeasurements(ev).select(col("key")), "key",
        total)
      import s.implicits._
      Seq(
        ("event_type", etFit.observationFrequency, etFit.vocab.count(),
          etFit.dropped),
        ("props.k", kFit.observationFrequency, kFit.vocab.count(),
          kFit.dropped))
        .toDF("measurement", "obs_freq", "n_vocab", "dropped")
    }),

    "q69_repetition" -> ((s, dir) => {
      // Gopher repetition signals (top-bigram / duplicate-trigram
      // occurrence fractions) — one narrow native pass per doc.
      val r = TextOps.repetitionSignals(col("text"))
      t(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"),
          r("top_bigram_frac").as("top_bigram_frac"),
          r("dup_trigram_frac").as("dup_trigram_frac"))
    }),

    "q70_stratified_sample" -> ((s, dir) => {
      // Deterministic 20-per-segment sample, md5-ranked (SQL-replayable;
      // production default is the xxhash64 rank — same operator).
      graft.ops.Sampling.stratifiedSample(
        t(s, dir, "customer"), "c_mktsegment", "c_custkey", 20,
        graft.ops.Sampling.md5Rank(col("c_custkey"), 7))
        .select(col("c_custkey"), col("c_mktsegment"))
    }),

    "q71_tfidf" -> ((s, dir) => {
      TextOps.tfIdf(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          round(col("tfidf"), 6).as("tfidf"))
    }),

    "q72_ann_recall" -> ((s, dir) => {
      // Recall@10 of the LSH index against brute-force ground truth — the
      // ANN tuning metric. Hash-bucketed → rows-only check.
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_vec"))
      val exact = Similarity.bruteForceTopK(emb, queries,
        "vec_id", "embedding", "q_vec_id", "q_vec", k = 10)
      val approx = Similarity.lshTopK(emb, queries,
        "vec_id", "embedding", "q_vec_id", "q_vec", k = 10)
      Similarity.recallAtK(approx, exact, "q_vec_id", "vec_id", k = 10)
    }),

    "q82_hyperplane_replay" -> ((s, dir) => {
      // lshTopK with the REPLAYABLE hyperplane family (md5-parity signs,
      // integer-quantized dot products) — hash-checks the bucket join +
      // in-bucket cosine top-k that q49 runs with seeded xxhash64 planes.
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_vec"))
      Similarity.lshTopK(emb, queries, "vec_id", "embedding",
          "q_vec_id", "q_vec", k = 5,
          bucketFn = Some(HyperplaneReplay.bucketCol))
        .select(col("q_vec_id"), col("vec_id"), col("rank"))
    }),

    "q83_recall_replay" -> ((s, dir) => {
      // recallAtK over the replayable-bucket lshTopK vs brute-force ground
      // truth — the full q72 pipeline (index + exact + recall metric)
      // under an engine-portable bucket family, end-to-end oracle-checked.
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_vec"))
      val exact = Similarity.bruteForceTopK(emb, queries,
        "vec_id", "embedding", "q_vec_id", "q_vec", k = 10)
      val approx = Similarity.lshTopK(emb, queries,
        "vec_id", "embedding", "q_vec_id", "q_vec", k = 10,
        bucketFn = Some(HyperplaneReplay.bucketCol))
      Similarity.recallAtK(approx, exact, "q_vec_id", "vec_id", k = 10)
        .select(col("q_vec_id"), round(col("recall"), 6).as("recall"))
    }),

    "q126_ivf_replay" -> ((s, dir) => {
      // IVF twin (the q75/q78/q79 replay discipline applied to the last
      // zero-oracle component): the Lloyd's FIT isn't SQL-replayable,
      // but everything the index DOES — nearest-centroid assignment
      // (argmin distance), nProbe cell probing, in-cell cosine top-k —
      // is pure relational algebra over whatever centroid table exists.
      // A LITERAL formula centroid table (exact dyadic rationals, so FP
      // is engine-portable) drives the same ivfAssign/ivfTopK production
      // code as q50; the oracle replays assignment + probe + rank.
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_vec"))
      val cents = s.range(8).select(col("id").as("centroid_id"),
        expr("transform(sequence(0, 63)," +
          " i -> CAST((id * 31 + i * 7) % 17 - 8 AS DOUBLE) / 8.0)")
          .as("c_vec"))
      Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
          "q_vec_id", "q_vec", cents, k = 5, nProbe = 2)
        .select(col("q_vec_id"), col("vec_id"), col("rank"))
    }),

    "q73_prepend_gather" -> ((s, dir) => {
      // DataEmbeddingLayer static mode PREPEND (data_embedding_layer.py:
      // 395-396): per-EVENT dynamic embeddings as sequence positions 1..L,
      // the subject's static embedding prepended at position 0. Subjects
      // restricted to user_id < 10 to keep the contract output compact.
      val evds = dsRaw(s, dir)
      val vocab = Vocabulary.fitLocal(evds.events, "event_type")
      val raw = t(s, dir, "events").filter(col("user_id") < 10)
      val items = Vocabulary.lookup(
        raw.select(col("event_id"), col("user_id").as("subject_id"),
          col("event_type"), col("value")),
        "event_type", vocab, "vidx")
      val emb = t(s, dir, "embeddings")
      val dynBags = EmbeddingGather.gather(items, "event_id", "vidx",
        "value", emb, "vec_id", "embedding")
      val w = Window.partitionBy("subject_id").orderBy("event_id")
      val pos = raw.select(col("event_id"),
          col("user_id").as("subject_id"))
        .withColumn("seq_pos", row_number().over(w).cast("int"))
      val dynSeq = dynBags.join(pos, Seq("event_id"))
        .select(col("subject_id"), col("seq_pos"), col("emb"))
      val statics = raw.select(col("user_id").as("subject_id")).distinct()
        .select(col("subject_id"),
          (pmod(col("subject_id"), lit(3)) + 10).as("vidx"),
          lit(1.0).as("value"))
      val statBags = EmbeddingGather.gather(statics, "subject_id", "vidx",
        "value", emb, "vec_id", "embedding")
      EmbeddingGather.prependStatic(dynSeq, statBags, "subject_id",
          "seq_pos")
        .select(col("subject_id"), col("seq_pos"),
          posexplode(col("emb")))
        .select(col("subject_id"), col("seq_pos"),
          (col("pos") + 1).cast("int").as("pos"),
          round(col("col"), 6).as("emb_val"))
    }),

    "q74_seq_window" -> ((s, dir) => {
      // Random contiguous window truncation (event_stream_pytorch_dataset
      // .py:299-304) oracle-checked end-to-end: same operator as the
      // production xxhash64-seeded slice, driven by an SQL-replayable
      // uniform key (the md5SplitKey pattern; 1000003 is prime, so
      // u·(n−L+1) never lands on an integer boundary and floor() is
      // FP-safe to replay).
      val d = dsSec(s, dir)
      val vocab = Vocabulary.fitLocal(d.events, "event_type")
      val indexed = Vocabulary.lookup(d.measurements, "key", vocab, "vidx")
        .select(col("event_id"), (col("vidx") + 1L).as("unified_idx"),
          col("value"), lit(1L).as("measurement_idx"))
      val u = pmod(col("subject_id") * lit(2654435761L), lit(1000003L))
        .cast("double") / 1000003.0
      BatchBuilder.subjectSequences(d.events, indexed, maxSeqLen = 50,
          windowU = Some(u))
        .select(col("subject_id"), size(col("time")).as("seq_len"),
          element_at(col("time"), -1).as("last_min"),
          aggregate(flatten(col("dynamic_indices")), lit(0L),
            (acc, x) => acc + x).as("sum_uidx"))
    }),

    "q75_viod_oracle" -> ((s, dir) => {
      // VIOD fit, DuckDB-hash-checked: the prefix-stats twin of the
      // verbatim port (same trim loop; window moments from prefix-sum
      // differences, the arithmetic order a SQL cumulative window
      // aggregate pins down — Viod.fitArrayPrefix scaladoc). Outliers are
      // planted deterministically (event_id % 997 → ×50, % 1009=1 → ×−50)
      // so the trim loop actually runs — on the clean synthetic values it
      // never trims and only the closed-form initial bounds are tested.
      // Trimmed bounds are exact data values; untrimmed ones carry a
      // pow() ulp → round-6 both sides.
      val ev = t(s, dir, "events").filter(col("value").isNotNull)
        .select(col("event_type"),
          when(col("event_id") % 997 === 0, col("value") * 50.0)
            .when(col("event_id") % 1009 === 1, col("value") * -50.0)
            .otherwise(col("value")).as("v"))
      Viod.fitPerKey(ev, "event_type", "v", prefixStats = true)
        .select(col("key"), round(col("viod_lo"), 6).as("viod_lo"),
          round(col("viod_hi"), 6).as("viod_hi"))
    }),

    "q76_media_resize" -> ((s, dir) => {
      // PROGRESSIVE real resize — the two-stage downsample ladder
      // (w×h → 12×10 → 6×5) runs the PNG codec three times (encode,
      // decode+re-encode, decode) and composes the nearest-neighbor
      // index math twice; the oracle replays the composed integer
      // arithmetic sx0 = ((2·x)·w) DIV 12, sy0 = ((2·y)·h) DIV 10.
      // Complements q85 (single-stage resize).
      val imgs = Multimodal.synthesizeImages(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      val r1 = Multimodal.resizeNearest(imgs, dstW = 12, dstH = 10)
      val r2 = Multimodal.resizeNearest(r1, dstW = 6, dstH = 5)
      Multimodal.decodeImageFeatures(r2)
        .select(col("media_id"), col("width"), col("height"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"))
    }),

    "q84_image_decode" -> ((s, dir) => {
      // REAL codec path: deterministic formula rasters → JDK ImageIO PNG
      // encode → ImageIO decode → per-channel means. The oracle replays
      // the pixel formulas directly; a codec bug (wrong channel order,
      // lossy round-trip, dimension swap) breaks the hash.
      val imgs = Multimodal.synthesizeImages(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      Multimodal.decodeImageFeatures(imgs)
        .select(col("media_id"), col("width"), col("height"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"))
    }),

    "q85_image_resize" -> ((s, dir) => {
      // decode → nearest-neighbor resample (integer index math) →
      // re-encode → decode again: the codec runs twice and the resample
      // arithmetic is SQL-replayable (src index = dst·srcDim DIV dstDim).
      val imgs = Multimodal.synthesizeImages(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      val resized = Multimodal.resizeNearest(imgs, dstW = 8, dstH = 6)
      Multimodal.decodeImageFeatures(resized)
        .select(col("media_id"), col("width"), col("height"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"))
    }),

    "q87_pii_redact" -> ((s, dir) => {
      // PII redaction over documents salted with deterministic PII
      // (email + IP + phone derived from doc_id — the corpus itself is
      // PII-free word soup): the full redacted string is hash-checked, so
      // a pattern or replacement-order defect breaks the oracle.
      val docs = t(s, dir, "documents")
      val withPii = docs.select(col("doc_id"),
        concat(col("text"),
          lit(" user"), col("doc_id").cast("string"),
          lit("@example.com 10.0."),
          (col("doc_id") % 256).cast("string"), lit(".7 +1 555 "),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
          .as("text"))
      withPii.select(col("doc_id"),
        TextOps.redactPii(col("text")).as("redacted"))
    }),

    "q86_audio_decode" -> ((s, dir) => {
      // REAL audio codec path: deterministic 16-bit PCM from the formula
      // → JDK AudioSystem WAV encode → AudioSystem decode (RIFF header
      // parse gives rate + frame count) → RMS / zero-crossings /
      // mean-|amplitude|. Oracle replays the sample formula.
      val wavs = Multimodal.synthesizeAudio(
        t(s, dir, "documents").select(col("doc_id")), "doc_id")
      Multimodal.decodeAudioFeatures(wavs)
        .select(col("media_id"), col("n_samples"), col("sample_rate"),
          round(col("rms"), 6).as("rms"), col("zero_crossings"),
          round(col("mean_amp"), 6).as("mean_amp"))
    }),

    "q89_prefix_jaccard" -> ((s, dir) => {
      // Exact all-pairs Jaccard WITHOUT a blocking key: prefix-filtered
      // inverted index (AllPairs/PPJoin family) — the scale path q47's
      // blocked variant upgrades to when no cheap block key exists.
      // Restricted to even doc_ids so the oracle's brute-force
      // quadratic replay stays tractable in DuckDB.
      val docs = t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
      Dedup.prefixJaccardPairs(docs, "doc_id", "text", n = 3,
          threshold = 0.5)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
    }),

    "q90_decontaminate" -> ((s, dir) => {
      // Train-vs-benchmark decontamination: training docs sharing any
      // word 5-gram with the "benchmark" subset (doc_id % 7 = 0 stands
      // in for an eval suite). The tiny eval-gram set broadcasts; the
      // train side streams narrow — no corpus shuffle.
      val docs = t(s, dir, "documents")
      val evalSet = docs.filter(col("doc_id") % 7 === 0)
      val train = docs.filter(col("doc_id") % 7 =!= 0)
      TextOps.contaminationMatches(train, evalSet, "doc_id", "text",
          n = 5)
        .select(col("id").as("doc_id"), col("n_matched"))
    }),

    "q91_seq_packing" -> ((s, dir) => {
      // Concat-and-chunk sequence packing into 512-token windows over 8
      // hash shards — the op between a curated corpus and fixed-shape
      // training sequences. Oracle replays the per-shard cumsum windows.
      val docs = t(s, dir, "documents")
        .withColumn("shard", col("doc_id") % 8)
        .withColumn("n_tok", TextOps.tokenCount(col("text")))
      graft.serve.Packing.packSequences(docs, "doc_id", "n_tok",
          ctxLen = 512, shardCol = "shard")
        .select(col("shard"), col("id").as("doc_id"), col("n_tok"),
          col("off"), col("first_seq"), col("offset_in_seq"),
          col("n_seqs"))
    }),

    "q92_mixture_sample" -> ((s, dir) => {
      // Temperature-flattened domain mixture (α = 0.5): domains are
      // 200-char length buckets; expected kept total 200 of 500 docs.
      // Replayable md5 keep-hash → the oracle replays the exact row set
      // (production default is the xxhash64 path, same operator).
      val docs = t(s, dir, "documents")
        .withColumn("domain", floor(length(col("text")) / 200))
      graft.ops.Sampling.temperatureSample(docs, "domain", "doc_id",
          alpha = 0.5, targetRows = 200, seed = 11, replayable = true)
        .select(col("doc_id"), col("domain"))
    }),

    "q96_bigram_lm" -> ((s, dir) => {
      // Corpus-fit bigram LM quality score (CCNet/KenLM perplexity-
      // filter idiom, LM fit in-engine): add-k smoothed transition
      // logprobs, per-doc mean. Train = score = documents (the
      // self-perplexity variant for gibberish/repetition cuts).
      val docs = t(s, dir, "documents")
      TextOps.bigramLogProb(docs, docs, "doc_id", "text", k = 0.5)
        .select(col("doc_id"), col("n_transitions"),
          round(col("avg_logprob"), 6).as("avg_logprob"))
    }),

    "q99_naive_bayes" -> ((s, dir) => {
      // Multinomial Naive Bayes language classifier fit IN-ENGINE (the
      // closed-form stand-in for the fastText-style quality/language
      // filters of CCNet/GPT-3 pipelines): train on the doc_id%5!=0
      // fold with the lang label, predict the held-out fold. Round-6
      // scores + label tiebreak pin the argmax across engines.
      val docs = t(s, dir, "documents")
      TextOps.naiveBayesClassify(
        docs.filter(col("doc_id") % 5 =!= 0),
        docs.filter(col("doc_id") % 5 === 0),
        "doc_id", "text", "lang")
        .select(col("id").as("doc_id"), col("pred_label"), col("score"))
    }),

    "q94_bm25" -> ((s, dir) => {
      // Okapi BM25 term weights (k1=1.2, b=0.75) — the retrieval/data-
      // selection scorer; same shuffle profile as q71's tf-idf plus the
      // doc-length join. avg doc length is an exact integer-sum mean,
      // so the only FP-order sensitivity is handled by round-6.
      TextOps.bm25(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          round(col("bm25"), 6).as("bm25"))
    }),

    "q95_det_shuffle" -> ((s, dir) => {
      // Deterministic global training order: dense 0-based rank over a
      // seeded md5 permutation (replayable; production default is the
      // xxhash64 rank — same operator). Range-partition + zipWithIndex,
      // no single-partition window stage.
      graft.ops.Sampling.deterministicShuffle(
        t(s, dir, "documents").select(col("doc_id")), "doc_id", seed = 5,
        rank = graft.ops.Sampling.md5Rank(col("doc_id"), 5))
        .select(col("doc_id"), col("shuffle_rank"))
    }),

    "q93_paragraph_dedup" -> ((s, dir) => {
      // Paragraph-level exact dedup (RefinedWeb/Dolma curation: repeated
      // paragraphs keep only their first corpus occurrence, docs
      // reassembled from survivors, fully-deduped docs vanish). The
      // corpus is single-line, so deterministic 3-token chunks stand in
      // for paragraphs; paragraphDedup runs the same dedupUnits +
      // reassembleUnits pair on blank-line splits.
      val toks = filter(
        split(trim(lower(col("text"))), "\\s+"), x => x =!= "")
      val units = t(s, dir, "documents")
        .select(col("doc_id"), toks.as("tok"))
        .select(col("doc_id"), posexplode(
          transform(
            sequence(lit(0),
              ceil(size(col("tok")) / lit(3.0)).cast("int") - 1),
            i => concat_ws(" ", slice(col("tok"), i * 3 + 1, lit(3)))))
          .as(Seq("idx", "unit")))
      Dedup.reassembleUnits(
        Dedup.dedupUnits(units, "doc_id", "idx", "unit"),
        "doc_id", "idx", "unit")
        .select(col("doc_id"), col("text"))
    }),

    "q135_boilerplate_lines" -> ((s, dir) => {
      // Corpus document-frequency line filtering (the CCNet shard
      // line-dedup / RefinedWeb line-wise-correction rule — stage 2 of
      // every web pipeline, after HTML extraction and before document
      // dedup): a line appearing in >= 3 DISTINCT documents is
      // boilerplate and is removed from every doc INCLUDING its first
      // occurrence — the contract difference from q93's
      // first-occurrence dedup, which keeps one copy. The corpus is
      // single-line, so q93's deterministic 3-token chunks stand in
      // for lines; docs losing every line disappear (standard
      // curation behavior).
      val toks = filter(
        split(trim(lower(col("text"))), "\\s+"), x => x =!= "")
      val units = t(s, dir, "documents")
        .select(col("doc_id"), toks.as("tok"))
        .select(col("doc_id"), posexplode(
          transform(
            sequence(lit(0),
              ceil(size(col("tok")) / lit(3.0)).cast("int") - 1),
            i => concat_ws(" ", slice(col("tok"), i * 3 + 1, lit(3)))))
          .as(Seq("idx", "unit")))
      Dedup.reassembleUnits(
        Dedup.dropFrequentUnits(units, "doc_id", "unit", maxDocFreq = 3),
        "doc_id", "idx", "unit")
        .select(col("doc_id"), col("text"))
    }),

    "q136_incremental_dedup" -> ((s, dir) => {
      // Incremental snapshot dedup (the rolling CommonCrawl shape:
      // today's crawl dedups against the accumulated 16-byte/doc
      // fingerprint store of all prior snapshots, then within itself).
      // Prior snapshot = doc_id % 3 == 0; new batch = the rest. The
      // oracle replays both stages on the normalized text key — q23's
      // fingerprint-injectivity discipline.
      val docs = t(s, dir, "documents")
      val prior = Dedup.fingerprintStore(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
      Dedup.incrementalExact(
          docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", prior)
        .select(col("doc_id"))
    }),

    "q137_unigram_viterbi" -> ((s, dir) => {
      // Unigram-LM subword tokenizer (Kudo arXiv:1804.10959, the
      // SentencePiece unigram model — the second tokenizer family next
      // to BPE q100/q101): relational seed vocab (all ≤3-codepoint
      // substrings of the distinct-word table, singles always kept,
      // top-60 multis), exact-rational probs cnt/total, then native
      // Viterbi segmentation. The DP runs MULTIPLICATIVE on purpose:
      // IEEE multiply/compare replay bit-for-bit (the oracle's
      // recursive-CTE DP matches the raw double scores exactly), where
      // the ln form would hang the argmax on libm last-ulp diffs.
      val wt = Unigram.words(t(s, dir, "documents"), "text")
      val vocab = Unigram.withProbs(
        Unigram.seedVocab(wt, maxPieceLen = 3, topM = 60))
      Unigram.segmentWords(wt, vocab)
        .select(col("w").as("word"), col("freq"),
          concat_ws("|", col("pieces")).as("seg"),
          size(col("pieces")).as("n_pieces"), col("score"))
    }),

    "q138_unigram_em" -> ((s, dir) => {
      // One hard-EM step of the unigram fit: re-count pieces over each
      // word's Viterbi-best segmentation, weighted by word frequency —
      // the M-step counts are INTEGERS, which is exactly why the
      // hard-EM variant (vs Baum-Welch soft counts) was chosen: the
      // whole fit loop is engine-replayable.
      val wt = Unigram.words(t(s, dir, "documents"), "text")
      val vocab = Unigram.withProbs(
        Unigram.seedVocab(wt, maxPieceLen = 3, topM = 60))
      Unigram.hardEmStep(wt, vocab)
    }),

    "q139_datacard" -> ((s, dir) => {
      // Corpus data card (the Dolma/ROOTS data-statement reporting
      // stage every released training set ships): per-(lang, source)
      // and rollup-total doc counts, whitespace-token and char
      // volumes, mean doc length. One narrow per-doc pass, one rollup
      // agg — the 100 TB shape is a single partial-aggregatable
      // grouping-sets exchange.
      val d = t(s, dir, "documents")
        .select(col("lang"), col("source"),
          TextOps.tokenCount(col("text")).cast("long").as("ntok"),
          length(col("text")).cast("long").as("nch"))
      d.rollup(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum("ntok").as("n_tokens"), sum("nch").as("n_chars"),
          (sum("nch").cast("double") / count(lit(1)).cast("double"))
            .as("mean_chars"))
    }),

    "q140_kmeans_step" -> ((s, dir) => {
      // Distributed k-means Lloyd step over the FULL embedding corpus
      // (vs the bounded-sample driver fit behind q50/q126 — at 100 TB
      // the cluster structure itself is sometimes the product, e.g.
      // SemDeDup's cluster-then-dedup, and a 64k sample is biased).
      // Assignment reuses q126's literal formula centroid table (zero-
      // exchange narrow); the M-step accumulates on the INTEGER lattice
      // floor(x·1e6 + 0.5) so the sums are order-invariant and the
      // mean is one exact divide — bit-replayable (the q132 rule).
      val emb = t(s, dir, "embeddings")
      val cents = s.range(8).select(col("id").as("centroid_id"),
        expr("transform(sequence(0, 63)," +
          " i -> CAST((id * 31 + i * 7) % 17 - 8 AS DOUBLE) / 8.0)")
          .as("c_vec"))
      Similarity.kmeansStep(emb, "vec_id", "embedding", cents)
        .select(col("centroid_id"), col("dim"), col("n"), col("qsum"),
          col("mean"))
    }),

    "q141_wordpiece" -> ((s, dir) => {
      // WordPiece greedy segmentation (Wu et al. 1609.08144, the BERT
      // tokenizer — the THIRD tokenizer family next to BPE q100/q101
      // and unigram q137/q138): positional (piece, is_continuation)
      // vocabulary from one relational substring count, all single
      // codepoints kept (coverage), top-120 multis by a total order,
      // then the native greedy longest-match walk. No floats anywhere
      // — the oracle replays the walk verbatim as a recursive CTE.
      val wt = Unigram.words(t(s, dir, "documents"), "text")
      val v = WordPiece.vocab(wt, maxPieceLen = 4, topM = 120)
      WordPiece.segmentWords(wt, v)
        .select(col("w").as("word"), col("freq"),
          concat_ws("|", col("pieces")).as("seg"),
          size(col("pieces")).as("n_pieces"))
    }),

    "q142_image_phash_dedup" -> ((s, dir) => {
      // Perceptual image near-dup (dHash — the pHash-family signature
      // that survives resize/re-encode, where the byte fingerprint
      // q23 sees three unrelated files): three renditions per base
      // image — original PNG, 12×10 nearest-neighbor resize, a
      // decode→re-encode copy — hashed onto the 9×8 difference grid
      // (REAL codec decode in every path), then band-blocked Hamming
      // ≤ 7 pairs: the copies match at distance 0 and the gentlest
      // resizes at 4..7. The banding is result-preserving at
      // maxDist ≤ 7 (pigeonhole over 8 8-bit chunks), so the oracle
      // replays formula pixels → grid → bits → ALL-pairs Hamming.
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 40)
      val orig = Multimodal.synthesizeImages(ids, "doc_id")
      val resized = Multimodal.resizeNearest(orig, 12, 10)
        .withColumn("media_id", col("media_id") + 1000)
      val copies = Multimodal.recodePng(orig)
        .withColumn("media_id", col("media_id") + 2000)
      val corpus = orig.unionByName(resized).unionByName(copies)
      Multimodal.perceptualDupPairs(Multimodal.dHash(corpus),
        maxDist = 7)
    }),

    "q143_domain_cap" -> ((s, dir) => {
      // Per-domain document quota (the C4/Gopher per-host cap — no
      // single domain may dominate the corpus): q125's synthesized
      // URLs → canonical host → registered domain, then keep ≤ 5 docs
      // per domain under the deterministic md5 order. The cap runs as
      // the map-side-combinable top-k aggregate, NOT a per-key sort
      // window — each partition reduces a domain to ≤ 5 candidates
      // before the wire, so the crawl's head-domain skew never
      // concentrates on one reducer.
      val urls = t(s, dir, "documents").select(col("doc_id"),
        concat(
          when(col("doc_id") % 3 === 0, lit("HTTPS://WWW."))
            .when(col("doc_id") % 3 === 1, lit("http://"))
            .otherwise(lit("https://")),
          lit("w"), (col("doc_id") % 40).cast("string"), lit("."),
          col("source"),
          when(col("doc_id") % 2 === 0, lit(".com")).otherwise(lit(".org")),
          lit("/a/"), (col("doc_id") % 300).cast("string")).as("url"))
      val d = urls.select(col("doc_id"),
        graft.ops.UrlOps.registeredDomain(graft.ops.UrlOps.hostOf(
          graft.ops.UrlOps.canonicalizeUrl(col("url")))).as("domain"))
      graft.ops.Sampling.capPerKey(d, "domain", "doc_id", n = 5,
        seed = 11)
    }),

    "q144_audio_fp_dedup" -> ((s, dir) => {
      // Perceptual audio near-dup (energy-derivative fingerprint, the
      // Haitsma–Kalker family reduced to its replayable core): three
      // renditions per base clip — original chirp WAV (quadratic
      // phase: the plain q86 ramp collapses every energy profile to
      // the same V shape and the fingerprint loses discrimination), a
      // hard-limited copy (dynamics compression), a 3-sample trim
      // (shorter intro) — all through the REAL codec round trip,
      // fingerprinted on 33 abs-energy frames, then band-blocked
      // Hamming ≤ 3 pairs (pigeonhole-exact, the q142 discipline).
      // Byte dedup q23 sees three unrelated files.
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 40)
      val orig = Multimodal.synthesizeChirps(ids, "doc_id")
      val limited = Multimodal.limitAudio(orig, 1024)
        .withColumn("media_id", col("media_id") + 1000)
      val trimmed = Multimodal.trimAudio(orig, 3)
        .withColumn("media_id", col("media_id") + 2000)
      val corpus = orig.unionByName(limited).unionByName(trimmed)
      Multimodal.fingerprintPairs(Multimodal.audioFingerprint(corpus),
        maxDist = 3)
    }),

    "q145_partitioned_sink" -> ((s, dir) => {
      // Hive-partitioned sink + partition-pruned scan (the 100 TB
      // output-layout contract: a reader filtering one lang must TOUCH
      // only that lang's files — at corpus scale the difference
      // between scanning 1/5th and scanning everything): write
      // documents partitioned by lang to scratch, re-open COLD, filter
      // one partition, aggregate. The oracle proves the round trip
      // loses nothing; the PRUNING itself is spec-pinned
      // (PlanShapeSpec: one selected partition, PartitionFilters in
      // the scan, data filter absent from the row-level predicate).
      val tmp = java.nio.file.Files.createTempDirectory("graft-q145")
        .toString
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("text"))
        .write.partitionBy("lang").mode("overwrite").parquet(tmp)
      s.read.parquet(tmp).filter(col("lang") === "en")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(TextOps.tokenCount(col("text")).cast("long"))
            .as("n_tokens"),
          min("doc_id").as("min_doc"))
    }),

    "q146_jsonl_roundtrip" -> ((s, dir) => {
      // JSONL sink + source round trip (the LLM-corpus interchange
      // format — every public dataset release ships it): write
      // documents as line-delimited JSON to scratch, re-open COLD with
      // an EXPLICIT schema (schema inference is a second full scan —
      // never at 100 TB), and return every row verbatim. The oracle
      // compares full text bytes, so any escaping/unicode loss in
      // either codec direction breaks the hash.
      val tmp = java.nio.file.Files.createTempDirectory("graft-q146")
        .toString
      t(s, dir, "documents").select("doc_id", "lang", "text")
        .write.mode("overwrite").json(tmp)
      s.read.schema("doc_id LONG, lang STRING, text STRING").json(tmp)
        .select(col("doc_id"), col("lang"), col("text"))
    }),

    "q147_video_neardup" -> ((s, dir) => {
      // Video near-dup via shared frame signatures (the q116 directed-
      // containment idea lifted to frames): per-frame dHash over REAL
      // animated-GIF containers, videos sharing ≥ 2 distinct frame
      // hashes pair. The gifV formula makes time-shifted copies
      // naturally (frame content depends on (7f + id) mod 8, so
      // same-dimension videos are shifted versions of each other) —
      // shared content, zero shared container bytes. One equi-join on
      // the frame hash, never all-pairs.
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 30)
      val gifs = Multimodal.synthesizeGifs(ids, "doc_id", nFrames = 6,
        varyMod = 4)
      Multimodal.videoDupPairs(Multimodal.gifFrameHashes(gifs),
        minShared = 2)
    }),

    "q148_stage0_pipeline" -> ((s, dir) => {
      // Composed crawl stage 0 in ONE declarative plan (the chain
      // every web corpus runs before tokenization): HTML extract →
      // canonical normalize → token-count quality gate → exact
      // first-occurrence dedup. Catalyst fuses extract+normalize+gate
      // into one codegen span over the scan; the only exchange is
      // the dedup's fingerprint window — composing operators
      // does NOT stack their plan costs, which is the point of
      // declaring them as columns instead of running staged jobs.
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title><style type=\"text/css\"> p { color: #a0b1c2; } " +
          "</style><script>if (a < b && c > 1) { emit(\"x&y\"); }" +
          "</script><!-- hidden <b>comment</b> --></head><body><h1>"),
        col("lang"), lit("</h1><p>"), col("text"),
        lit("</p><div class=\"f\">footer &amp;amp; &lt;tag&gt; " +
          "&#39;q&#39;&nbsp;end</div></body></html>"))
      val cleaned = t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.normalize(TextOps.extractHtmlText(html))
            .as("clean_text"))
        .filter(TextOps.tokenCount(col("clean_text")) >= 30)
      // first-occurrence dedup: Dedup.exact is one per-fingerprint
      // window, so the extract/normalize chain stays single-pass
      Dedup.exact(cleaned, "doc_id", "clean_text")
        .select(col("doc_id"), col("clean_text"),
          TextOps.tokenCount(col("clean_text")).cast("long").as("n_tok"))
    }),

    "q149_rolling_dedup_stream" -> ((s, dir) => {
      // The rolling-crawl loop run by the STREAMING engine (q136's
      // operator driven by foreachBatch instead of an orchestrator):
      // snapshot 0 seeds the persisted fingerprint store; snapshots 1
      // and 2 arrive as two mtime-ordered files on a file-source
      // stream (maxFilesPerTrigger=1 → one micro-batch per snapshot);
      // each batch anti-joins the store, keeps first-occurrence within
      // itself, and appends its survivors' fingerprints — so batch 2
      // dedups against everything batch 1 kept. Determinism: the
      // normalized-content key is arrival-order-free WITHIN a batch
      // (min doc_id), and the batch ORDER is pinned by explicit file
      // mtimes, so the kept set is argmin(snapshot, doc_id) per key —
      // which is exactly what the oracle replays.
      import java.nio.file.{Files, StandardCopyOption}
      val root = Files.createTempDirectory("graft-q149")
      val inDir = Files.createDirectory(root.resolve("in"))
      val storePath = root.resolve("store").toString
      val outPath = root.resolve("out").toString
      val docs = t(s, dir, "documents").select(col("doc_id"),
        regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("text"))
      graft.ops.Dedup.fingerprintStore(
          docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
        .write.mode("overwrite").parquet(storePath)
      Seq(1, 2).foreach { snap =>
        val stage = root.resolve(s"stage$snap")
        docs.filter(col("doc_id") % 3 === snap).coalesce(1)
          .write.mode("overwrite").parquet(stage.toString)
        val listing = Files.list(stage)
        val part =
          try listing.filter(p => p.toString.endsWith(".parquet"))
            .findFirst().get()
          finally listing.close() // directory handle — don't leak
        val dst = inDir.resolve(s"snap$snap.parquet")
        Files.copy(part, dst, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime
            .fromMillis(1700000000000L + snap * 60000L))
      }
      val stream = s.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
      val sq = graft.streaming.StreamOps.incrementalDedupStream(
          stream, "doc_id", "text", storePath, outPath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
      s.read.parquet(outPath).select(col("doc_id"))
    }),

    "q150_char_entropy" -> ((s, dir) => {
      // Character-entropy quality gate (the gibberish/base64 filter
      // dimension — repeated-char spam scores low, binary blobs score
      // high, prose sits in the middle): native one-pass stats, the
      // keep decision on the ROUND-6 value so the comparison is
      // engine-exact (the entropy sum's term order differs between
      // engines at ~1e-14; the round-6 discipline absorbs it, q40's
      // rule).
      val st = TextOps.charStats(col("text"))
      t(s, dir, "documents").filter(length(col("text")) > 0)
        .select(col("doc_id"), st.as("cs"))
        .select(col("doc_id"),
          round(col("cs.entropy_bits"), 6).as("entropy_bits"),
          col("cs.n_unique").cast("long").as("n_unique"),
          col("cs.n_chars").cast("long").as("n_chars"))
        .withColumn("keep",
          col("entropy_bits") >= 3.0 && col("entropy_bits") <= 5.5)
    }),

    "q151_bpe_apply" -> ((s, dir) => {
      // BPE tokenizer APPLY against a LITERAL merge table (the q126
      // literal-params twin discipline applied to the one BPE kernel
      // without its own oracle row — q100/q101 replay the FIT; this
      // replays the production tokenize path, greedy-leftmost islands
      // and all, against 8 fixed English merges). The oracle runs the
      // identical lock-step merge walk as a recursive CTE with
      // window-function islands — the same algorithm the engine's
      // mergeStep implements relationally.
      val merges = s.createDataFrame(Seq(
        (1, "t", "h"), (2, "th", "e"), (3, "i", "n"), (4, "a", "n"),
        (5, "an", "d"), (6, "e", "r"), (7, "o", "n"), (8, "r", "e")))
        .toDF("rank", "lhs", "rhs")
      graft.ops.Bpe.applyMerges(t(s, dir, "documents"), "text", merges)
        .groupBy("w", "freq")
        .agg(expr("transform(array_sort(collect_list(struct(i, sym)))," +
          " s -> s.sym)").as("__syms"))
        .select(col("w").as("word"), col("freq"),
          concat_ws("|", col("__syms")).as("seg"),
          size(col("__syms")).as("n_sym"))
    }),

    "q152_tokenize_pack" -> ((s, dir) => {
      // End-to-end tokenize → budget → pack (the last mile between a
      // curated corpus and fixed-shape training sequences, with a REAL
      // subword tokenizer in the loop instead of q91's whitespace
      // proxy): the literal 8-merge BPE (q151) tokenizes the distinct-
      // word table once, per-doc token counts come from one word join
      // (corpus tokenization never re-runs the merge walk per
      // occurrence — the distinct-word compression IS the apply-path
      // scale story), then the q91 shard-cumsum packing lays the docs
      // into 256-token windows.
      val merges = s.createDataFrame(Seq(
        (1, "t", "h"), (2, "th", "e"), (3, "i", "n"), (4, "a", "n"),
        (5, "an", "d"), (6, "e", "r"), (7, "o", "n"), (8, "r", "e")))
        .toDF("rank", "lhs", "rhs")
      val docs = t(s, dir, "documents")
      val wordSyms = graft.ops.Bpe.applyMerges(docs, "text", merges)
        .groupBy("w").agg(count(lit(1)).as("n_sym"))
      val occ = docs.select(col("doc_id"),
          explode(TextOps.tokens(lower(col("text")))).as("w"))
        .filter(col("w") =!= "")
      val perDoc = occ.join(wordSyms, Seq("w"))
        .groupBy("doc_id").agg(sum("n_sym").as("n_tok"))
        .withColumn("shard", col("doc_id") % 8)
      graft.serve.Packing.packSequences(perDoc, "doc_id", "n_tok",
          ctxLen = 256, shardCol = "shard")
        .select(col("shard"), col("id").as("doc_id"), col("n_tok"),
          col("off"), col("first_seq"), col("offset_in_seq"),
          col("n_seqs"))
    }),

    "q153_corpus_diff" -> ((s, dir) => {
      // Corpus snapshot diff (the "changes since v1" audit every
      // versioned dataset release reports): overlapping snapshots
      // A = thirds {0,1}, B = thirds {1,2} of documents, diffed at the
      // distinct-CONTENT level on 8-byte fingerprints — 100 TB
      // snapshots diff by moving 16 B per distinct doc, never text.
      val docs = t(s, dir, "documents")
      val a = docs.filter(col("doc_id") % 3 < 2)
      val b = docs.filter(col("doc_id") % 3 > 0)
      Dedup.corpusDiff(a, b, "text")
    }),

    "q154_knn_graph" -> ((s, dir) => {
      // k-NN graph over the whole embedding corpus (every vector's 3
      // nearest in-bucket neighbors — the SemDeDup/cluster primitive,
      // where q29/q82's shape was a small QUERY set): replayable
      // hyperplane buckets (q82's family), bucket equi-join, top-k per
      // source via the map-side-combinable aggregate. Never all-pairs.
      Similarity.knnGraph(t(s, dir, "embeddings"), "vec_id",
          "embedding", k = 3,
          bucketFn = Some(HyperplaneReplay.bucketCol))
        .select(col("src_id"), col("dst_id"), col("rank"))
    }),

    "q155_sentence_split" -> ((s, dir) => {
      // Sentence segmentation (the unit stage under sentence-level
      // dedup/filtering): the corpus has no punctuation, so a
      // deterministic synthesis ends every 7th word with a period,
      // then the RE2-portable marker split (no lookbehind — the
      // q117/q133 portability rule) recovers the sentences. Narrow,
      // zero exchanges.
      val toks = filter(
        split(trim(col("text")), "\\s+"), x => x =!= "")
      val synth = concat_ws(" ", transform(toks, (w, i) =>
        when((i + 1) % 7 === 0, concat(w, lit("."))).otherwise(w)))
      t(s, dir, "documents").filter(trim(col("text")) =!= "")
        .select(col("doc_id"), TextOps.sentenceSplit(synth).as("ss"))
        .select(col("doc_id"),
          posexplode(col("ss")).as(Seq("idx", "raw")))
        .select(col("doc_id"), col("idx"),
          trim(col("raw")).as("sentence"),
          length(trim(col("raw"))).cast("long").as("n_chars"))
        .filter(col("sentence") =!= "")
    }),

    "q156_bottomk_quantiles" -> ((s, dir) => {
      // Mergeable quantile sketch via deterministic bottom-k hash
      // sampling (the KMV idiom): per-lang doc-length deciles from the
      // 64 smallest-md5-ranked docs per lang — k·16 B of state per
      // group at ANY group size where q114's exact percentile buffers
      // every value. Unlike t-digest/KLL the estimate is a pure
      // function of (ids, seed) — partition-invariant and replayable.
      graft.ops.Sketch.bottomKQuantiles(
          t(s, dir, "documents")
            .withColumn("n_chars", length(col("text"))),
          "lang", "n_chars", "doc_id", k = 64,
          probs = Seq(0.1, 0.5, 0.9), seed = 5)
        .select(col("lang"), col("p"), col("est"), col("n_sample"))
    }),

    "q157_sentence_dedup" -> ((s, dir) => {
      // Sentence-level corpus dedup (the RefinedWeb/CCNet line-wise
      // rule at SENTENCE granularity — boilerplate sentences in ≥ 3
      // distinct docs vanish everywhere, docs reassemble from what
      // survives): q155's terminator synthesis + marker split feeds
      // q135's dropFrequentUnits + ordered reassembly. A real
      // three-operator composition — unit extraction is narrow, the
      // df count and reassembly are the only exchanges.
      val toks = filter(
        split(trim(col("text")), "\\s+"), x => x =!= "")
      val synth = concat_ws(" ", transform(toks, (w, i) =>
        when((i + 1) % 7 === 0, concat(w, lit("."))).otherwise(w)))
      val units = t(s, dir, "documents")
        .filter(trim(col("text")) =!= "")
        .select(col("doc_id"), TextOps.sentenceSplit(synth).as("ss"))
        .select(col("doc_id"),
          posexplode(col("ss")).as(Seq("idx", "raw")))
        .select(col("doc_id"), col("idx"),
          trim(col("raw")).as("sentence"))
        .filter(col("sentence") =!= "")
      Dedup.reassembleUnits(
        Dedup.dropFrequentUnits(units, "doc_id", "sentence",
          maxDocFreq = 3),
        "doc_id", "idx", "sentence")
        .select(col("doc_id"), col("text"))
    }),

    "q177_skew_audit" -> ((s, dir) => {
      // Key-skew audit of the subject key: the measurement that
      // decides salting BEFORE a 100 TB join, not after the straggler.
      // One partial-aggregatable count + one bounded top-k; output is
      // a single row of distribution numbers.
      graft.ops.SkewTools.skewReport(t(s, dir, "events"), "user_id",
        topK = 10)
    }),

    "q178_binary_ingest" -> ((s, dir) => {
      // Media-lake ingest: real PNGs land as LOOSE FILES (the layout
      // crawlers hand over — executors write partitions in parallel),
      // then Spark's binaryFile source reads them back with a glob
      // filter, the id parses from the path, and q172's IHDR sniff
      // audits every container without decoding. The oracle replays
      // dims from the synthesis formula — bytes survive the file
      // system round trip or the hash breaks.
      val tmp = java.nio.file.Files.createTempDirectory("graft-q178")
        .toString
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 60)
      Multimodal.writeBinaryFiles(
        Multimodal.synthesizeImages(ids, "doc_id"), "media_id",
        "payload", tmp, ".png")
      val files = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.png").load(tmp)
      Multimodal.withPngMetadata(
          files.select(regexp_extract(col("path"), "/(\\d+)\\.png$", 1)
            .cast("long").as("media_id"), col("content").as("payload")),
          "payload")
        .select(col("media_id"), col("png_width"), col("png_height"),
          col("png_bit_depth"), col("png_color_type"))
    }),

    "q179_sql_registry" -> ((s, dir) => {
      // The SQL surface of the native-function registry — the last
      // spec-only extension row promoted to the contract. The driver
      // hands in a session built WITHOUT the extensions conf (exactly
      // the notebook/JDBC reality), GraftExtensions.register injects
      // the SAME Catalyst builders into its live FunctionRegistry, and
      // the whole query is spark.sql TEXT: native cosine + replayable
      // whole-string poly hash reached with zero Scala API. The oracle
      // replays both functions' math in DuckDB — a registry defect
      // (wrong builder, wrong arg wiring) breaks the hash.
      GraftExtensions.register(s)
      t(s, dir, "documents").createOrReplaceTempView("g_docs")
      t(s, dir, "embeddings").createOrReplaceTempView("g_embs")
      s.sql("""
        SELECT d.doc_id,
               graft_str_poly_hash(
                 regexp_replace(d.text, '[^ -~]', ''),
                 257, 40) AS text_hash,
               round(graft_cosine(e.embedding, a.embedding), 6)
                 AS cos_anchor
        FROM g_docs d
        JOIN g_embs e ON e.vec_id = d.doc_id
        CROSS JOIN (SELECT embedding FROM g_embs WHERE vec_id = 0) a
        WHERE d.doc_id < 200""")
    }),

    "q180_nfc_normalize" -> ((s, dir) => {
      // Unicode NFC canonical composition (UAX #15) — the codepoint-
      // level hygiene pass that makes decomposed `e`+U+0301 and
      // composed U+00E9 the same bytes BEFORE any fingerprint. Planted
      // decomposed sequences (é as e+combining-acute, Å as A+ring)
      // spliced into every doc; the native expression must compose
      // them exactly as DuckDB's nfc_normalize does, and the
      // codepoint counts prove the composition actually shortened the
      // string (2 codepoints → 1 per planted pair).
      val raw = concat(substring(col("text"), 1, 40),
        lit(" e\u0301 A\u030A "), substring(col("text"), 41, 20))
      t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), TextOps.nfcNormalize(raw).as("nfc_text"),
          length(raw).as("n_cp_raw"),
          length(TextOps.nfcNormalize(raw)).as("n_cp_nfc"))
    }),

    "q181_wav_sniff" -> ((s, dir) => {
      // WAV/RIFF container sniff WITHOUT decode — the audio twin of
      // q172's PNG IHDR projection: rate/channels/bits/duration for a
      // billion-clip lake as pure codegen substring/hex arithmetic
      // (RIFF is little-endian — bytes assemble as Σ byte·256^i), no
      // codec init anywhere in the plan. Payloads are REAL JDK-encoded
      // WAVs; the oracle replays every field from the PCM synthesis
      // formula, so a header-layout defect breaks the hash.
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 80)
      Multimodal.withWavMetadata(
          Multimodal.synthesizeAudio(ids, "doc_id")
            .select(col("media_id"), col("payload")),
          "payload")
        .select(col("media_id"), col("wav_valid"), col("wav_channels"),
          col("wav_sample_rate"), col("wav_bits"), col("wav_data_bytes"),
          col("wav_duration_ms"))
    }),

    "q182_gif_scenes" -> ((s, dir) => {
      // Shot-boundary detection over REAL animated GIFs (the classic
      // pixel-difference cut measure): scene-structured synthesis
      // (9 frames, scenes of 3 — intra-scene frames differ only by a
      // sparse jitter lattice, cuts re-pattern the whole raster),
      // sequential decode with one running prev-frame buffer, EXACT
      // integer Σ|Δgray| per consecutive pair, and the cut rule is a
      // relational filter (mean diff > 8) the oracle replays from the
      // formula — through the real GIF codec both ways.
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 40)
      Multimodal.gifFrameDeltas(
          Multimodal.synthesizeSceneGifs(ids, "doc_id"))
        .select(col("media_id"), col("frame_idx"), col("n_pixels"),
          col("sum_abs_gray_diff"),
          (col("sum_abs_gray_diff") >
            col("n_pixels").cast("long") * 8L).as("is_cut"))
    }),

    "q183_rank_langid" -> ((s, dir) => {
      // TRAINED language ID (Cavnar–Trenkle rank-order profiles, the
      // textcat family) — the fitted complement to q26's fixed-stopword
      // heuristic: per-lang top-50 char-trigram document-frequency
      // profiles fit from the corpus's own labels, docs classified by
      // rank-sum distance with exact integer tie rules end to end
      // (df desc/gram asc in the profile, score asc/lang asc at the
      // argmin). Profiles are model-sized and broadcast; the apply is
      // one narrow gram explode + two partial-aggregatable aggs.
      val docs = t(s, dir, "documents")
      val profiles = TextOps.fitLangProfiles(docs, "text", "lang")
      TextOps.rankLangId(docs.filter(col("doc_id") < 150), "doc_id",
          "text", profiles)
        .select(col("doc_id"), col("pred_lang"), col("score"))
    }),

    "q184_gzip_text" -> ((s, dir) => {
      // Compressed text interchange — the .txt.gz/.jsonl.gz reality of
      // crawl corpora: doc_id TAB text lines → gzip text sink → cold
      // re-read (Spark's transparent codec detection) → parse back.
      // Identity oracle: every byte must survive the gzip codec both
      // ways AND the line framing. limit=2 on the splitter so a tab
      // inside the text could never shear the row.
      val tmp = java.nio.file.Files.createTempDirectory("graft-q184")
        .toString
      t(s, dir, "documents")
        .select(concat(col("doc_id").cast("string"), lit("\t"),
          col("text")).as("value"))
        .write.mode("overwrite").option("compression", "gzip").text(tmp)
      s.read.text(tmp)
        .select(split(col("value"), "\t", 2).getItem(0).cast("long")
            .as("doc_id"),
          split(col("value"), "\t", 2).getItem(1).as("text"))
    }),

    "q185_pmi_collocations" -> ((s, dir) => {
      // PMI collocation table (Church & Hanks association scores — the
      // phrase-induction / collocation-audit pass): exact integer
      // counts, vocab-bounded checkpointed count tables, one ln-ratio
      // replayed verbatim. ASCII-projected lowered text, the corpus
      // tokenization the other LM rows use.
      TextOps.pmiCollocations(
        t(s, dir, "documents").select(col("doc_id"),
          lower(regexp_replace(col("text"), "[^ -~]", "")).as("t")),
        "doc_id", "t", minCount = 30)
    }),

    "q186_code_fences" -> ((s, dir) => {
      // Markdown fenced-code extraction (The Stack/StarCoder stage 0
      // for code corpora): deterministic markdown synthesis — every
      // doc gets a ```scala fence, every 3rd doc a second ```python
      // fence — then (lang tag, body) extraction via the RE2-portable
      // non-greedy pattern, parallel arrays zipped to one row per
      // fence. The oracle rebuilds the same markdown and extracts
      // with the same pattern.
      val md = concat(
        substring(col("text"), 1, 30), lit("\n```scala\nval x = "),
        col("doc_id").cast("string"), lit("\n```\n"),
        substring(col("text"), 31, 20),
        when(col("doc_id") % 3 === 0,
          concat(lit("\n```python\nprint("),
            col("doc_id").cast("string"), lit(")\n```\n")))
          .otherwise(lit("")),
        lit("tail"))
      t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), TextOps.codeFenceLangs(md).as("ls"),
          TextOps.codeFenceBodies(md).as("bs"))
        .select(col("doc_id"),
          posexplode(arrays_zip(col("ls"), col("bs"))))
        .select(col("doc_id"), col("pos").cast("int").as("fence_idx"),
          col("col.ls").as("fence_lang"), col("col.bs").as("fence_body"))
    }),

    "q187_code_line_stats" -> ((s, dir) => {
      // Code-likeness line stats (The Stack/StarCoder file filters:
      // max/mean line length, alphanumeric fraction, indented-line
      // count): deterministic 4-line synthesis with one indented line,
      // split on newline, one doc-keyed partial-aggregatable agg. The
      // filters that decide whether a "code" file is minified junk,
      // data blobs, or real source.
      val doc = concat(
        substring(col("text"), 1, 25), lit("\n  indented "),
        substring(col("text"), 26, 15), lit("\nx = "),
        col("doc_id").cast("string"), lit("\n"),
        substring(col("text"), 41, 30))
      t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          posexplode(split(doc, "\n")).as(Seq("idx", "line")))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("int").as("n_lines"),
          max(length(col("line"))).as("max_line_len"),
          round(avg(length(col("line"))), 6).as("mean_line_len"),
          sum(when(col("line").rlike("^[ \\t]"), 1L).otherwise(0L))
            .as("n_indented"),
          round(sum(length(regexp_replace(col("line"),
              "[^A-Za-z0-9]", ""))).cast("double") /
            sum(length(col("line"))).cast("double"), 6)
            .as("alnum_frac"))
    }),

    "q188_audio_resample" -> ((s, dir) => {
      // Integer-factor decimation through the REAL codec chain
      // (training-data resample to a model's expected rate): 8 kHz
      // synthesis → decode → keep every 2nd sample, container rate
      // halved → re-encode → re-decode → features. The oracle
      // enumerates the even-index samples straight from the PCM
      // formula, so decode, decimation indexing, the re-encoded
      // header's rate AND the second decode are all sample-exact.
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 60)
      Multimodal.decodeAudioFeatures(
          Multimodal.decimateAudio(
            Multimodal.synthesizeAudio(ids, "doc_id"), 2))
        .select(col("media_id"), col("n_samples"), col("sample_rate"),
          round(col("rms"), 6).as("rms"), col("zero_crossings"),
          round(col("mean_amp"), 6).as("mean_amp"))
    }),

    "q221_bloom_prod_verified" -> ((s, dir) => {
      // The q105 production-family (full-gram xxhash64) Bloom path,
      // graded on its HASH-FREE invariants — the q126 literal-twin
      // discipline applied to the last rows-only family. Engine-seeded
      // xxhash64 buckets aren't externally replayable, but two exact
      // contracts are: (1) a Bloom filter has NO false negatives, so
      // the verified-match count per doc is EXACTLY |distinct train
      // 5-grams ∩ eval gram set| — pure set algebra DuckDB computes
      // directly; (2) n_bloom ≥ n_matched always (FPs only add). The
      // n_matched > 0 row set is also hash-free (every true match
      // survives the prefilter), so rows/schema/hash all replay while
      // the production grid/probe/verify stages run for real.
      val docs = t(s, dir, "documents")
      graft.ops.Sketch.bloomDecontaminate(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0),
        "doc_id", "text", n = 5, replayable = false)
        .filter(col("n_matched") > 0)
        .select(col("id").as("doc_id"), col("n_matched"),
          (col("n_bloom") >= col("n_matched")).as("bloom_sound"))
    }),

    "q222_embed_decontam" -> ((s, dir) => {
      // Embedding-space decontamination audit: every corpus vector's
      // nearest EVAL vector by cosine plus a contamination flag — the
      // semantic twin of the q90/q104 n-gram decontam (a paraphrase
      // shares no 8-gram but sits next to its source in embedding
      // space). Eval suites are small by construction, so the eval
      // side broadcasts and the corpus never shuffles; the only
      // exchange is the per-corpus-row max. 0.3 on the driver's
      // near-orthogonal vectors (max pairwise cos ≈ 0.51, see q30)
      // yields a non-trivial contaminated/clean mix; production
      // paraphrase detection would use ~0.9.
      val emb = t(s, dir, "embeddings")
      Similarity.decontaminateByEmbedding(
        emb.filter(col("vec_id") % 10 =!= 0)
          .select(col("vec_id"), col("embedding")),
        emb.filter(col("vec_id") % 10 === 0)
          .select(col("vec_id").as("eval_id"),
            col("embedding").as("eval_emb")),
        "vec_id", "embedding", "eval_id", "eval_emb", threshold = 0.3)
    }),

    "q230_hnsw_ann" -> ((s, dir) => {
      // HNSW-style layered ANN under the replayable banded sign-bucket
      // family (the q82 twin discipline applied to the FULL layered
      // build + fixed-step beam search): geometric md5 levels, per-layer
      // top-M adjacency from 4 independent sign-bucket bands,
      // symmetrized, then all queries beam-descend together (ef=10,
      // 2 fixed steps per layer). Everything downstream of the bucket
      // columns is identical production code; the oracle replays the
      // whole pipeline as an unrolled MATERIALIZED CTE chain.
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 10 =!= 0)
        .select("vec_id", "embedding")
      val queries = emb.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("q_vec_id"),
          col("embedding").as("q_vec"))
      Hnsw.hnswTopK(corpus, queries, "vec_id", "embedding",
        "q_vec_id", "q_vec", k = HnswReplay.k, seed = HnswReplay.seed,
        maxLevel = HnswReplay.maxLevel, m = HnswReplay.m,
        bands = HnswReplay.bands, steps = HnswReplay.steps,
        ef = HnswReplay.ef, bucketFn = Some(HnswReplay.bucketFn))
    }),

    "q231_hnsw_recall" -> ((s, dir) => {
      // Recall@4 of the layered beam search vs brute-force ground
      // truth — the q83 index-quality audit applied to the HNSW family,
      // end-to-end oracle-checked (recall ≈ 0.77 on the driver's
      // near-orthogonal vectors, the hardest case for a graph index).
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 10 =!= 0)
        .select("vec_id", "embedding")
      val queries = emb.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("q_vec_id"),
          col("embedding").as("q_vec"))
      val approx = Hnsw.hnswTopK(corpus, queries, "vec_id", "embedding",
        "q_vec_id", "q_vec", k = HnswReplay.k, seed = HnswReplay.seed,
        maxLevel = HnswReplay.maxLevel, m = HnswReplay.m,
        bands = HnswReplay.bands, steps = HnswReplay.steps,
        ef = HnswReplay.ef, bucketFn = Some(HnswReplay.bucketFn))
      val exact = Similarity.bruteForceTopK(corpus, queries,
        "vec_id", "embedding", "q_vec_id", "q_vec", k = HnswReplay.k)
      Similarity.recallAtK(approx, exact, "q_vec_id", "vec_id",
          k = HnswReplay.k)
        .select(col("q_vec_id"), round(col("recall"), 6).as("recall"))
    }),

    "q253_hnsw_insert" -> ((s, dir) => {
      // INCREMENTAL index maintenance, oracle-proven: Spark builds the
      // layered kNN over 2/3 of the corpus, then INSERTS the remaining
      // third (Hnsw.insertKnn — level-assign arrivals, bucket-join
      // them against existing members only, top-M merge per touched
      // key; no old pair re-scored). The oracle replays the FULL
      // build over everything (q230's buildCtes verbatim), so
      // insert(build(A), B) ≡ build(A ∪ B) is CONTRACTUAL row-for-row
      // including the stored cosines — the production daily-arrival
      // path provably converges to the from-scratch index.
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 10 =!= 0)
        .select("vec_id", "embedding")
      val a = corpus.filter(col("vec_id") % 3 =!= 1)
      val b = corpus.filter(col("vec_id") % 3 === 1)
      val oldKnn = Hnsw.buildKnn(a, "vec_id", "embedding",
        HnswReplay.seed, HnswReplay.maxLevel, HnswReplay.m,
        HnswReplay.bands, HnswReplay.bucketFn)
      Hnsw.insertKnn(oldKnn, a, b, "vec_id", "embedding",
          HnswReplay.seed, HnswReplay.maxLevel, HnswReplay.m,
          HnswReplay.bands, HnswReplay.bucketFn)
        .select(col("lvl"), col("src"), col("dst"), col("c"))
    }),

    "q255_hnsw_delete" -> ((s, dir) => {
      // INCREMENTAL index deletion, oracle-proven (the q253 twin on
      // the shrink side — together they close the index lifecycle:
      // build / insert / delete / persist): Spark builds the layered
      // kNN over the full corpus, then DELETES the vec_id % 7 = 3
      // slice (Hnsw.deleteKnn — edges touching the deleted set drop;
      // ONLY the (lvl, src) groups that lost a stored edge recompute,
      // against retained members in their own buckets — work
      // proportional to the delete's blast radius, never the corpus).
      // The oracle replays the FULL from-scratch build over the
      // retained corpus, so delete(build(A), D) ≡ build(A ∖ D) is
      // CONTRACTUAL row-for-row including the stored cosines.
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") % 10 =!= 0)
        .select("vec_id", "embedding")
      val d = corpus.filter(col("vec_id") % 7 === 3).select("vec_id")
      val fullKnn = Hnsw.buildKnn(corpus, "vec_id", "embedding",
        HnswReplay.seed, HnswReplay.maxLevel, HnswReplay.m,
        HnswReplay.bands, HnswReplay.bucketFn)
      Hnsw.deleteKnn(fullKnn, corpus, d, "vec_id", "embedding",
          HnswReplay.seed, HnswReplay.maxLevel, HnswReplay.m,
          HnswReplay.bands, HnswReplay.bucketFn)
        .select(col("lvl"), col("src"), col("dst"), col("c"))
    }),

    "q256_ann_index_stream" -> ((s, dir) => {
      // The index LIFECYCLE as a RUNNING maintenance loop, oracle-
      // proven end-to-end: build(A) is SAVED as a params-as-data
      // AnnIndex (batch-partitioned parquet, manifest last), the
      // remaining arrivals stream in as two mtime-ordered snapshot
      // files (maxFilesPerTrigger=1 → one micro-batch each, the q149
      // discipline), each micro-batch runs Hnsw.insertKnnDeltaIndexed
      // (cell-pruned probes of the persisted banded membership — no
      // corpus re-hash) and AnnIndex.append (delta-sized write: only
      // (lvl, src) groups whose top-M CHANGED land in the batch), and the
      // result is the index READ BACK FROM DISK (latest-batch-wins
      // resolution). The oracle replays the FULL from-scratch build
      // over everything (q253's claim, now through a real streaming
      // run + persistence round-trip): stream-of-inserts + appends ≡
      // build-once, row-for-row including stored cosines. Corpus is
      // the vec_id % 4 = 1 quarter — the lifecycle claim doesn't need
      // the q230 demo corpus, and the pinned-params build is
      // by-design quadratic (contract tier; production auto-scales).
      import java.nio.file.{Files, StandardCopyOption}
      val root = Files.createTempDirectory("graft-q256")
      val inDir = Files.createDirectory(root.resolve("in"))
      val idxPath = root.resolve("idx").toString
      val corpus = t(s, dir, "embeddings")
        .filter(col("vec_id") % 4 === 1)
        .select("vec_id", "embedding")
      val a = corpus.filter(col("vec_id") % 3 =!= 1)
      // membership-bearing seed (Hnsw.saveIndex): the stream's
      // micro-batches run the INDEXED probes — per-batch compute reads
      // the persisted banded membership through cell-pruned scans
      // instead of re-hashing the stored corpus, and the oracle still
      // replays the from-scratch build (the identity is unchanged)
      graft.ops.Hnsw.saveIndex(idxPath, a, "vec_id", "embedding",
        HnswReplay.seed, HnswReplay.maxLevel, HnswReplay.m,
        HnswReplay.bands, HnswReplay.bucketFn)
      // arrivals (vec_id % 3 = 1, all ≡ 1 mod 4 → ≡ 1 or 5 mod 8)
      // as two snapshot files in pinned mtime order
      Seq(1, 5).zipWithIndex.foreach { case (r8, snap) =>
        val stage = root.resolve(s"stage$snap")
        corpus.filter(col("vec_id") % 3 === 1 &&
            col("vec_id") % 8 === r8)
          .coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val listing = Files.list(stage)
        val part =
          try listing.filter(p => p.toString.endsWith(".parquet"))
            .findFirst().get()
          finally listing.close() // directory handle — don't leak
        val dst = inDir.resolve(s"snap$snap.parquet")
        Files.copy(part, dst, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime
            .fromMillis(1700000000000L + snap * 60000L))
      }
      val stream = s.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>")
        .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
      val sq = graft.streaming.StreamOps.annIndexMaintenanceStream(
          stream, "vec_id", "embedding", idxPath, HnswReplay.seed,
          HnswReplay.maxLevel, HnswReplay.m, HnswReplay.bands,
          HnswReplay.bucketFn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
      graft.ops.AnnIndex.load(s, idxPath)._1("knn")
        .select(col("lvl"), col("src"), col("dst"), col("c"))
    }),

    "q257_bm25_index_stream" -> ((s, dir) => {
      // The text-retrieval index lifecycle as a RUNNING maintenance
      // loop (the q256 discipline applied to BM25): a TextIndex is
      // SEEDED from two thirds of the corpus, the remaining documents
      // stream in as two mtime-ordered snapshot files (one micro-batch
      // each), every micro-batch appends ADDITIVE deltas (postings
      // with denormalized doc length, per-batch df, one stats row —
      // BM25's statistics are sums of per-batch integers, so no stored
      // group is ever recomputed), the loop COMPACTS the batch list
      // back to single-batch form after each append (compactEvery=2 —
      // the fold must not change any answer), and the result is a
      // top-20 search answered FROM THE INDEX ON DISK with term-pruned
      // scans. The oracle replays the full-corpus BM25 search (q94's
      // formula, q197's retrieval shape): streamed-additive-deltas +
      // compaction ≡ scoring everything from scratch.
      import java.nio.file.{Files, StandardCopyOption}
      val root = Files.createTempDirectory("graft-q257")
      val inDir = Files.createDirectory(root.resolve("in"))
      val idxPath = root.resolve("idx").toString
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.ops.TextIndex.save(idxPath,
        docs.filter(col("doc_id") % 3 =!= 1), "doc_id", "text")
      Seq(1, 0).zipWithIndex.foreach { case (r2, snap) =>
        val stage = root.resolve(s"stage$snap")
        docs.filter(col("doc_id") % 3 === 1 && col("doc_id") % 2 === r2)
          .coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val listing = Files.list(stage)
        val part =
          try listing.filter(p => p.toString.endsWith(".parquet"))
            .findFirst().get()
          finally listing.close() // directory handle — don't leak
        val dst = inDir.resolve(s"snap$snap.parquet")
        Files.copy(part, dst, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime
            .fromMillis(1700000000000L + snap * 60000L))
      }
      val stream = s.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
      val sq = graft.streaming.StreamOps.bm25MaintenanceStream(
          stream, "doc_id", "text", idxPath, compactEvery = 2)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
      graft.ops.TextIndex.search(s, idxPath, "merge window sort", 20)
    }),

    "q258_bm25_cdc_update" -> ((s, dir) => {
      // The BM25 CDC-UPDATE lifecycle (the q257 discipline, update
      // edition): a TextIndex is seeded from the WHOLE corpus, then
      // two CDC micro-batches each UPDATE a slice of it (delete +
      // re-arrival of the same id in one batch — batch 1 even carries
      // TWO versions per id, resolved to the highest `seq`
      // deterministically). With compactEvery=0 the burst forces ZERO
      // Lucene merges: every replacement text is indexed as a delta
      // append (its old version retired on the deletion ledger) and
      // already searchable; ONE explicit fold then drops the retired
      // rows, and the search FROM DISK must equal scoring
      // the updated corpus from scratch (the oracle replays the
      // updates as a CASE over `documents` + the q257 BM25 chain).
      import java.nio.file.{Files, StandardCopyOption}
      val root = Files.createTempDirectory("graft-q258")
      val inDir = Files.createDirectory(root.resolve("in"))
      val idxPath = root.resolve("idx").toString
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.ops.TextIndex.save(idxPath, docs, "doc_id", "text")
      def cdc(sel: Column, suffixes: Seq[String]): DataFrame = {
        val dels = docs.filter(sel).select(col("doc_id"),
          lit(null).cast("string").as("text"),
          lit("delete").as("op"), lit(0L).as("seq"))
        suffixes.zipWithIndex.map { case (sfx, i) =>
          docs.filter(sel).select(col("doc_id"),
            concat(col("text"), lit(sfx)).as("text"),
            lit("insert").as("op"), lit(i + 1L).as("seq"))
        }.foldLeft(dels)(_ unionByName _)
      }
      // batch 1: ids % 7 = 2 get two candidate versions — ' updated
      // alpha' (seq 1) loses to ' updated beta' (seq 2); batch 2:
      // ids % 7 = 3 get ' updated gamma'
      val snaps = Seq(
        cdc(col("doc_id") % 7 === 2,
          Seq(" updated alpha", " updated beta")),
        cdc(col("doc_id") % 7 === 3, Seq(" updated gamma")))
      snaps.zipWithIndex.foreach { case (b, snap) =>
        val stage = root.resolve(s"stage$snap")
        b.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val listing = Files.list(stage)
        val part =
          try listing.filter(p => p.toString.endsWith(".parquet"))
            .findFirst().get()
          finally listing.close() // directory handle — don't leak
        val dst = inDir.resolve(s"snap$snap.parquet")
        Files.copy(part, dst, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime
            .fromMillis(1700000000000L + snap * 60000L))
      }
      val stream = s.readStream
        .schema("doc_id LONG, text STRING, op STRING, seq LONG")
        .option("maxFilesPerTrigger", 1).parquet(inDir.toString)
      val sq = graft.streaming.StreamOps.bm25MaintenanceStream(
          stream, "doc_id", "text", idxPath, compactEvery = 0,
          opCol = "op", seqCol = "seq")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
      // ONE fold merges the whole update burst (the amortized trade)
      graft.ops.AnnIndex.compactToNextGen(s, idxPath,
        graft.ops.TextIndex.compact)
      graft.ops.TextIndex.search(s, idxPath, "merge window updated", 20)
    }),

    "q254_stage2_curation" -> ((s, dir) => {
      // The COMPOSED stage-2 curation pipeline, end-to-end on raw
      // documents — every stage is a proven operator, chained the way
      // a production curation run chains them, and the ONE oracle
      // replays the whole flow: md5 hash-embed (q236) → dense pivot
      // (q246's EavToVector stage) → 2-iteration Lloyd's clustering
      // (q238) → k-means-scoped semantic dedup with the min-id-keeper
      // rule (q239's pair relation; a doc with a smaller-id in-cluster
      // neighbor at round-6 cos ≥ 0.9 drops) → ridge quality probe
      // FIT ON THE SURVIVORS (q225's raw-feature recipe — the
      // STANDARDIZED form is structurally wrong here: hash dims the
      // small-vocab corpus never touches have zero variance, and
      // σ-division would be 0/0; y = the lang='en' proxy label, keep
      // at rounded score ≥ 0.4, the classifier-gate shape) → weighted
      // mixture
      // materialization of the kept docs (q192's integer-copies
      // algebra, budget 10k tokens). Decision margins audited in
      // DuckDB at sf0.01 (min 2.4e-5 across kmeans argmax / dedup τ /
      // ridge keep — see the oracle's comment). Scale: the only
      // super-linear stage is the within-cluster pair scan, per-
      // cluster quadratic with k the explicit lever (the q239 story);
      // everything else is one-pass moments, broadcast dots, or
      // output-sized explodes.
      import s.implicits._
      val docs = t(s, dir, "documents")
      val eav = TextOps.hashedEmbedding(docs, "doc_id", "text",
        dim = 64, seed = 7, family = "md5")
      // the dense embedding table feeds SEVEN downstream scans (2
      // k-means iterations, both sides of the salted pair join, the
      // survivors anti-join, the ridge fit and the ridge score) — pin
      // it once so the md5 hash-embed + pivot chain doesn't re-run per
      // scan (guide §5: reuse + recompute-cost justifies persisting;
      // same rows, plan-only change)
      val vecs = new graft.ml.EavToVector()
        .setIdCol("doc_id").setDimCol("dim").setValCol("val")
        .setOutputCol("embedding").setDim(64)
        .transform(eav)
        .localCheckpoint(true)
      val cents0 = s.range(8).select(col("id").as("centroid_id"),
        expr("transform(sequence(0, 63)," +
          " i -> CAST((id * 31 + i * 7) % 17 - 8 AS DOUBLE) / 8.0)")
          .as("c_vec"))
      val cents = Similarity.kmeansIterate(vecs, "doc_id", "embedding",
        cents0, iters = 2)
      // saltSlices=32: the doc clusters are SKEWED (one cluster holds
      // most of the corpus at sf1), so the quadratic stage needs the
      // big cluster spread across ≥ cores tasks — measured 104 → 49 s
      // at sf1 vs the bare k-key join (results identical; salting is
      // content-invariant)
      // pin the pair-scan verdict and the keep list: the quadratic
      // salted pair join otherwise re-runs for every downstream
      // consumer (ridge fit, the mixture plan's eager token counts,
      // the final materialize scan — measured 3 full re-runs of the
      // ~4.3 s stage at sf0.1); with both pinned it runs exactly once
      val dupIds = Dedup.embeddingNearDupsKmeans(vecs, "doc_id",
          "embedding", threshold = 0.9, cents, saltSlices = 32)
        .select(col("id_b").as("doc_id")).distinct()
        .localCheckpoint(true)
      val survivors = vecs.join(dupIds, Seq("doc_id"), "left_anti")
      val labeled = survivors.join(
        docs.select(col("doc_id"),
          (col("lang") === "en").cast("double").as("y")), Seq("doc_id"))
      val kept = Linalg.ridgeScore(labeled, "doc_id", "embedding",
          "y", lambda = 0.1, eta = 0.5, iters = 30, threshold = 0.4)
        .filter(col("keep")).select("doc_id")
        .localCheckpoint(true)
      val keptDocs = docs.join(kept, Seq("doc_id"))
      val counts = keptDocs.groupBy("lang")
        .agg(sum(TextOps.tokenCount(col("text")).cast("long"))
          .as("n_tok"))
      val weights = Seq(("en", 4L), ("de", 2L), ("es", 1L),
        ("fr", 1L), ("zh", 1L)).toDF("lang", "w")
      val plan = graft.ops.Sampling.mixturePlan(counts, "lang",
        "n_tok", weights, "lang", "w", budget = 10000L)
      graft.ops.Sampling.materializeMixture(keptDocs, "doc_id", "lang",
        plan, seed = 11L)
    }),

    "q223_embed_covariance" -> ((s, dir) =>
      // Corpus covariance of the embedding column as an EAV relation
      // (i, j, cov), upper triangle — the fit side of whitening/PCA.
      // ONE corpus pass through the gram_moments aggregate: each task
      // folds rows into a constant 1+d+d(d+1)/2-double buffer (d=64 →
      // 17 KB) and only those buffers cross the exchange, so the
      // shuffle is O(partitions) regardless of corpus size.
      Linalg.covarianceEav(s, t(s, dir, "embeddings"), "embedding")),

    "q224_pca_project" -> ((s, dir) =>
      // PC1 projection: fit via the same one-pass moments, dominant
      // eigenvector by 15 FIXED driver-side power iterations over the
      // 9dp-rounded covariance (params-as-data, replayed verbatim by
      // the oracle's recursive CTE), apply as a broadcast-literal dot
      // product — no second corpus shuffle anywhere.
      Linalg.pcaProjectTop1(s, t(s, dir, "embeddings"), "vec_id",
        "embedding", iters = 15)),

    "q225_ridge_probe" -> ((s, dir) => {
      // Ridge-regression quality probe (the fastText/classifier-filter
      // shape): fit y = (label==0) on the embeddings by 50 FIXED
      // gradient-descent steps over the 9dp-rounded n-normalized
      // normal equations — G=XᵀX and b=Σy·x collected in ONE corpus
      // pass (gram_moments + weighted vec sum side by side) — then
      // score every row with the 9dp-rounded β and keep at 0.0 (the
      // corpus median sits at 0.0026; scores span ±0.043).
      val emb = t(s, dir, "embeddings")
        .withColumn("y", (col("label") === 0).cast("double"))
      Linalg.ridgeScore(emb, "vec_id", "embedding", "y",
        lambda = 0.1, eta = 0.5, iters = 50, threshold = 0.0)
    }),

    "q226_pca_components" -> ((s, dir) =>
      // Top-4 principal components of the embedding corpus as an EAV
      // relation (comp, j, loading, eigval) — the whitening/
      // decorrelation FIT surface. Same one-pass gram-moments fold as
      // q223; the deflated power iteration (15 fixed steps per
      // component, every data-dependent intermediate 9dp-rounded
      // before reuse) is driver-side arithmetic the oracle replays
      // verbatim as a (comp, iter) recursive CTE. Component 0 is
      // exactly q224's eigenvector.
      Linalg.pcaComponentsEav(s, t(s, dir, "embeddings"), "embedding",
        k = 4, iters = 15)),

    "q227_whiten" -> ((s, dir) =>
      // Whitening apply: every embedding's coordinates in the top-4
      // eigenbasis scaled to unit variance — (vec_id, comp, w) with
      // w = (x·v_c)/√λ_c. Fit is the same one moments pass; apply is
      // 4 broadcast-literal dot products inside one corpus scan —
      // ZERO additional shuffles at any corpus size.
      Linalg.whitenTopK(s, t(s, dir, "embeddings"), "vec_id",
        "embedding", k = 4, iters = 15)),

    "q251_pca_leverage" -> ((s, dir) =>
      // PCA-leverage outlier score: Mahalanobis distance restricted
      // to the top-4 principal subspace — the "weird vector" filter
      // before embeddings feed dedup/ANN/probes. Same one-pass fit as
      // q227, apply is one narrow scan; score and flag are closed-form
      // over the already-rounded whitened coordinates, so the 8.0
      // threshold replays exactly (measured distribution at sf0.01:
      // median 3.3, p95 8.6, max 17.2 — the flag is non-trivial).
      Linalg.pcaLeverage(s, t(s, dir, "embeddings"), "vec_id",
        "embedding", k = 4, iters = 15, threshold = 8.0)),

    "q228_ridge_std" -> ((s, dir) => {
      // The practical quality-filter recipe (fastText/FineWeb-Edu
      // shape): ridge probe on STANDARDIZED features with an
      // unregularized intercept. Means/variances come out of the same
      // single gram-moments pass as q225 (no second scan); the
      // standardized normal equations and GD run driver-side on
      // 9dp-rounded reductions; the apply folds standardization into
      // one broadcast dot product plus a constant. Keep at 0.1 = ȳ
      // (labels are uniform 0-9, so P(label=0) = 0.1): the intercept
      // centers scores there, making the flag a balanced above-/
      // below-average split.
      val emb = t(s, dir, "embeddings")
        .withColumn("y", (col("label") === 0).cast("double"))
      Linalg.ridgeScoreStd(emb, "vec_id", "embedding", "y",
        lambda = 0.1, eta = 0.5, iters = 50, threshold = 0.1)
    }),

    "q238_kmeans_fit" -> ((s, dir) => {
      // FULL multi-iteration Lloyd's fit, oracle-checked (q140 proves
      // one M-step; q50's production fit is rows-only — this closes
      // the gap): 3 fixed iterations from the q126 literal dyadic
      // centroids. Assignment is the zero-exchange NearestCentroids
      // projection; each M-step is ONE (centroid, dim) lattice-sum
      // exchange; inter-iteration state is k·dim doubles
      // (params-as-data). Argmax margins on this corpus are O(0.1),
      // far above cross-engine cosine ulp, so the unrounded
      // assignment replays stably (the q126 parity, iterated).
      val emb = t(s, dir, "embeddings")
      val cents0 = s.range(8).select(col("id").as("centroid_id"),
        expr("transform(sequence(0, 63)," +
          " i -> CAST((id * 31 + i * 7) % 17 - 8 AS DOUBLE) / 8.0)")
          .as("c_vec"))
      val c2 = Similarity.kmeansIterate(emb, "vec_id", "embedding",
        cents0, iters = 2)
      Similarity.kmeansStep(emb, "vec_id", "embedding", c2)
        .select(col("centroid_id"), col("dim"), col("n"), col("qsum"),
          round(col("mean"), 6).as("mean"))
    }),

    "q239_semdedup_kmeans" -> ((s, dir) => {
      // SemDeDup with the paper's ACTUAL scoping (Abbas et al.
      // 2303.09540: k-means clusters bound the candidate space):
      // q238's 2-iteration Lloyd's fit supplies the clusters, the
      // within-cluster pair discovery compares round-6 cosines to the
      // threshold after rounding (q222 rule). Per-cluster quadratic
      // only — k is the explicit cost lever; 0.3 on the driver's
      // near-orthogonal vectors yields a non-trivial surviving set.
      val emb = t(s, dir, "embeddings")
      val cents0 = s.range(8).select(col("id").as("centroid_id"),
        expr("transform(sequence(0, 63)," +
          " i -> CAST((id * 31 + i * 7) % 17 - 8 AS DOUBLE) / 8.0)")
          .as("c_vec"))
      val cents = Similarity.kmeansIterate(emb, "vec_id", "embedding",
        cents0, iters = 2)
      Dedup.embeddingNearDupsKmeans(emb, "vec_id", "embedding",
        threshold = 0.3, cents)
    }),

    "q240_cluster_terms" -> ((s, dir) => {
      // BERTopic-style data map: q238's Lloyd's fit clusters the
      // embedding space, then each cluster is named by its top-5
      // c-TF-IDF terms from the LINKED documents (doc_id = vec_id) —
      // characteristic, not merely frequent. Rank runs on the round-6
      // score so cross-engine ulp noise can't reorder.
      val emb = t(s, dir, "embeddings")
      val cents0 = s.range(8).select(col("id").as("centroid_id"),
        expr("transform(sequence(0, 63)," +
          " i -> CAST((id * 31 + i * 7) % 17 - 8 AS DOUBLE) / 8.0)")
          .as("c_vec"))
      val cents = Similarity.kmeansIterate(emb, "vec_id", "embedding",
        cents0, iters = 2)
      val assign = Similarity.ivfAssign(emb, "vec_id", "embedding",
        cents, "centroid_id", "c_vec", nProbe = 1)
        .select("vec_id", "centroid_id")
      TextOps.clusterTopTerms(t(s, dir, "documents"), "doc_id", "text",
        assign, "vec_id", "centroid_id", topN = 5)
    }),

    "q241_hybrid_rrf" -> ((s, dir) => {
      // Hybrid retrieval: sparse BM25 top-20 (q115's scorer) ⊕ dense
      // cosine top-20 against doc 0's embedding, fused by Reciprocal
      // Rank Fusion (Cormack SIGIR'09, K=60) — the production hybrid-
      // search combiner; rank-only fusion needs no score calibration.
      // Both lists and the fused rank order on ROUND-6 scores with id
      // tie-breaks, so no raw-FP compare crosses the engine boundary.
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val sparse = Similarity.rankByScore(
        TextOps.bm25Search(docs, "doc_id", "text", "join hash filter",
          k = 20), "doc_id", "score", k = 20)
      val q0 = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_vec"))
      val dense = Similarity.rankByScore(
        emb.crossJoin(broadcast(q0))
          .select(col("vec_id").as("doc_id"),
            round(graft.expressions.VectorFunctions.cosineSimilarity(
              col("q_vec"), col("embedding")), 6).as("cos")),
        "doc_id", "cos", k = 20)
      Similarity.rrfFuse(Seq(sparse, dense), "doc_id", "rank",
        kConst = 60, topN = 10)
    }),

    "q242_kcenter_coreset" -> ((s, dir) =>
      // Greedy k-center diversity selection (Gonzalez 1985): 4 maximally
      // spread exemplars from the embedding corpus starting at vec 0,
      // with the decreasing max-min coverage radius trace. Cosines
      // round-6 before 1−cos and the argmax; ties toward smaller id.
      Similarity.kCenterGreedy(t(s, dir, "embeddings"), "vec_id",
        "embedding", k = 4, seedId = 0L)),

    "q237_label_scatter" -> ((s, dir) =>
      // Fisher class-separability audit: per label, between-class /
      // within-class scatter and their ratio — the "would a linear
      // probe see this label" gate, answered WITHOUT fitting a probe
      // (q225/q228 fit one; this measures whether fitting is even
      // worth it). Exact integer-lattice + DECIMAL arithmetic end to
      // end; FP only in the final two divisions per label row.
      Linalg.labelScatter(t(s, dir, "embeddings"), "embedding",
        "label")),

    "q236_hash_embed" -> ((s, dir) =>
      // Feature-hashed text embeddings (the hashing trick / fastText
      // bag shape, no trained table): the in-engine bridge from the
      // documents world to the vector world — one narrow token scan +
      // two partial-aggregatable exchanges, unit-L2 EAV out. Contract
      // uses the engine-portable md5 digit-walk family (the q15/q124
      // discipline); production defaults to codegen'd xxhash64 with
      // everything downstream of the (bucket, sign) columns identical.
      graft.ops.TextOps.hashedEmbedding(t(s, dir, "documents"),
        "doc_id", "text", dim = 64, seed = 7, family = "md5")),

    "q234_embed_anisotropy" -> ((s, dir) =>
      // Embedding-space anisotropy audit (Ethayarajh 2019 / Mu &
      // Viswanath 2017): covariance trace + top-4 eigenvalue shares in
      // ONE row — the "is the space collapsing onto a dominant
      // direction" health gate that cosine-threshold dedup/ANN/
      // decontam silently depend on. Same one-pass moments + q226
      // deflation; trace is index-order arithmetic on the same
      // 9dp-rounded covariance diagonal.
      Linalg.anisotropyAudit(s, t(s, dir, "embeddings"), "embedding",
        k = 4, iters = 15)),

    "q220_dup_cluster_histogram" -> ((s, dir) => {
      // Duplicate-cluster-size histogram (the release-note table next
      // to q214's per-source rate: how many content clusters have
      // exactly k members, how many docs that is, and how many a
      // keep-one dedup would remove — the number that decides whether
      // exact dedup is worth a corpus pass at all). Same normalized
      // 16 B fingerprint as q214/q23; two partial-aggregatable aggs
      // (fp collapse, then the |distinct k|-sized histogram) — no
      // joins, no windows, nothing driver-side.
      val fp = md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")
        .cast("binary"))
      t(s, dir, "documents")
        .select(fp.as("fp"))
        .groupBy("fp").agg(count(lit(1)).as("k"))
        .groupBy(col("k").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .select(col("cluster_size"), col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs"),
          ((col("cluster_size") - lit(1)) * col("n_clusters"))
            .as("n_removable"))
    }),

    "q219_dau_wau" -> ((s, dir) => {
      // DAU / WAU / stickiness (the product-analytics daily-health
      // table next to q175's retention curve): per observed day, the
      // distinct users active THAT day, the distinct users active in
      // the trailing 7-day window, and their ratio. The only
      // corpus-scale work is ONE distinct collapse to (user, day)
      // (checkpointed); the rolling window is a calendar-bounded 7×
      // explode over that collapsed table + a distinct agg — never a
      // nested-loop range join, so the shape survives any corpus size
      // (the expanded table is ≤ 7·|users×days|). Days with no events
      // drop out of both sides identically (inner join on the day).
      val ud = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
        .localCheckpoint(true)
      val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
      val wau = ud
        .select(col("user_id"),
          explode(sequence(col("day"), date_add(col("day"), 6))).as("d"))
        .groupBy(col("d"))
        .agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, col("day") === col("d"))
        .select(col("day"), col("dau"), col("wau"),
          round(col("dau").cast("double") / col("wau").cast("double"),
            6).as("stickiness"))
    }),

    "q218_cooccurrence_lift" -> ((s, dir) => {
      // Event co-occurrence lift (market-basket association over
      // subject-day baskets — the UNORDERED complement to q174's
      // transitions): lift(A,B) = P(A∧B)/(P(A)·P(B)) over distinct
      // (subject, day) baskets. Basket table and per-type counts are
      // checkpointed; the pair join keys on the basket, the lift
      // arithmetic is exact-integer ratios with one round-6 division.
      val basket = t(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("event_type"))
        .distinct()
        .localCheckpoint(true)
      val nBaskets = basket.select("user_id", "day").distinct().count()
      val na = basket.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_t"))
      val pairs = basket.alias("a")
        .join(basket.alias("b"),
          col("a.user_id") === col("b.user_id") &&
            col("a.day") === col("b.day") &&
            col("a.event_type") < col("b.event_type"))
        .groupBy(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"))
        .agg(count(lit(1)).as("n_ab"))
      pairs
        .join(broadcast(na.select(col("event_type").as("type_a"),
          col("n_t").as("n_a"))), Seq("type_a"))
        .join(broadcast(na.select(col("event_type").as("type_b"),
          col("n_t").as("n_b"))), Seq("type_b"))
        .select(col("type_a"), col("type_b"), col("n_ab"),
          round((col("n_ab") * lit(nBaskets)).cast("double") /
            (col("n_a") * col("n_b")).cast("double"), 6).as("lift"))
    }),

    "q217_weekly_autocorr" -> ((s, dir) => {
      // Weekly seasonality monitor (the complement to q207's anomaly
      // gate: BEFORE flagging a spike, know whether the series has a
      // 7-day rhythm): per-type Pearson correlation between each
      // day's count and the count 7 days earlier, written as the
      // explicit sums formula over EXACT integers (Σx, Σy, Σxy, Σx²,
      // Σy² are all integer sums — order-free), one sqrt + one
      // division, round-6. The corpus pays one daily rollup; the
      // correlation runs over the calendar-bounded pair table.
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(true)
      val pairs = daily.alias("a")
        .join(daily.alias("b"),
          col("a.event_type") === col("b.event_type") &&
            datediff(col("a.day"), col("b.day")) === 7)
        .select(col("a.event_type").as("event_type"),
          col("a.n").as("x"), col("b.n").as("y"))
      pairs.groupBy("event_type")
        .agg(count(lit(1)).as("n_pairs"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .select(col("event_type"), col("n_pairs"),
          // Zero-variance guard: a type with constant daily counts at
          // lag 7 makes either centered sum-of-squares 0 and the ratio
          // undefined — emit null instead of DIVIDE_BY_ZERO (mirrors
          // the CASE in the oracle; q207 has the same sd > 0 guard).
          when(
            (col("n_pairs") * col("sxx") - col("sx") * col("sx")) > 0 &&
              (col("n_pairs") * col("syy") - col("sy") * col("sy")) > 0,
            round((col("n_pairs") * col("sxy") - col("sx") * col("sy"))
              .cast("double") /
              sqrt((col("n_pairs") * col("sxx") - col("sx") * col("sx"))
                .cast("double") *
                (col("n_pairs") * col("syy") - col("sy") * col("sy"))
                  .cast("double")), 6)).as("autocorr_7d"))
    }),

    "q216_incremental_stats" -> ((s, dir) => {
      // Incremental aggregate maintenance (the nightly-stats pattern:
      // history is NEVER rescanned — yesterday's persisted stats merge
      // with today's delta because counts and DECIMAL sums are
      // additive): stats(< cutoff) persist to parquet as STATE-AS-DATA,
      // stats(≥ cutoff) compute from the delta alone, and the merge is
      // a union + re-agg over |types| rows. The oracle computes the
      // full-scan answer — the merged state must equal it exactly,
      // which is the whole point of keeping sums in DECIMAL.
      val cut = lit("2024-01-22 00:00:00").cast("timestamp")
      val ev = t(s, dir, "events")
        .withColumn("ts2", date_trunc("second", col("ts")))
      def statsOf(df: DataFrame): DataFrame =
        df.groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).as("sv"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-q216")
        .toString
      statsOf(ev.filter(col("ts2") < cut))
        .write.mode("overwrite").parquet(tmp)
      s.read.parquet(tmp)
        .unionByName(statsOf(ev.filter(col("ts2") >= cut)))
        .groupBy("event_type")
        .agg(sum(col("n")).as("n_events"),
          sum(col("sv")).cast("double").as("sum_value"))
    }),

    "q215_compaction" -> ((s, dir) => {
      // Small-files compaction (the nightly repair job every
      // long-lived lake runs; q199 PREVENTS the problem at write
      // time, this row FIXES an already-fragmented table): a
      // deliberately shattered write (round-robin repartition(50) →
      // exactly 50 files), then compact by rewriting through
      // coalesce(4), audited on both sides — file counts are
      // deterministic functions of the partitioning, row counts must
      // be lossless.
      val tmpA = java.nio.file.Files.createTempDirectory("graft-q215a")
        .toString
      val tmpB = java.nio.file.Files.createTempDirectory("graft-q215b")
        .toString
      t(s, dir, "documents").select("doc_id", "text")
        .repartition(50).write.mode("overwrite").parquet(tmpA)
      val frag = s.read.parquet(tmpA)
      frag.coalesce(4).write.mode("overwrite").parquet(tmpB)
      val compacted = s.read.parquet(tmpB)
      frag.select(input_file_name().as("f"))
        .agg(countDistinct(col("f")).as("files_before"),
          count(lit(1)).as("rows_before"))
        .crossJoin(broadcast(
          compacted.select(input_file_name().as("f"))
            .agg(countDistinct(col("f")).as("files_after"),
              count(lit(1)).as("rows_after"))))
    }),

    "q214_source_dup_rate" -> ((s, dir) => {
      // Per-source duplication-rate audit (which feed uploads copies —
      // the ops dashboard behind dedup-ordering and provenance
      // decisions; q169 maps CROSS-source copying, this row measures
      // WITHIN-source): exact content fingerprints, per-source
      // distinct-vs-total with the dup fraction. Two
      // partial-aggregatable aggs over 16 B keys.
      val fp = md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")
        .cast("binary"))
      t(s, dir, "documents")
        .select(col("source"), fp.as("fp"))
        .groupBy("source", "fp").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum(col("c")).as("n_docs"),
          count(lit(1)).as("n_distinct"),
          round((sum(col("c")) - count(lit(1))).cast("double") /
            sum(col("c")).cast("double"), 6).as("dup_rate"))
    }),

    "q213_time_split" -> ((s, dir) => {
      // Temporal train/eval split hygiene (the time-travel rule every
      // forecasting/causal eval needs: train strictly before the
      // cutoff, eval at-or-after): per-subject event counts on each
      // side of 2024-01-22 plus the straddle flag — subjects with
      // data on BOTH sides are exactly where point-in-time-incorrect
      // feature joins leak the future (the as-of join q61/q88 is the
      // correct join for them). One partial-aggregatable rollup.
      val cut = lit("2024-01-22 00:00:00").cast("timestamp")
      t(s, dir, "events")
        .withColumn("ts2", date_trunc("second", col("ts")))
        .groupBy(col("user_id").as("subject_id"))
        .agg(sum(when(col("ts2") < cut, 1L).otherwise(0L))
            .as("n_train"),
          sum(when(col("ts2") >= cut, 1L).otherwise(0L)).as("n_eval"))
        .withColumn("straddles",
          col("n_train") > 0 && col("n_eval") > 0)
    }),

    "q211_sketch_accuracy" -> ((s, dir) => {
      // Sketch-accuracy audit: q156's bottom-k median estimate
      // side-by-side with the EXACT per-lang median (the q13
      // percentile parity) and the absolute error — the validation
      // table you publish BEFORE letting a k·16 B sketch replace an
      // exact percentile at 100 TB. Two group aggs + one
      // 5-row join.
      val docs = t(s, dir, "documents")
        .withColumn("nc", length(col("text")))
      val est = graft.ops.Sketch.bottomKQuantiles(docs, "lang", "nc",
          "doc_id", k = 64, probs = Seq(0.5), seed = 5)
        .filter(col("p") === 0.5)
      val exact = docs.groupBy("lang")
        .agg(expr("percentile(nc, 0.5)").as("exact_p50"))
      est.join(exact, Seq("lang"))
        .select(col("lang"), col("est").as("est_p50"),
          round(col("exact_p50"), 6).as("exact_p50"),
          round(abs(col("est").cast("double") - col("exact_p50")), 6)
            .as("abs_err"),
          col("n_sample"))
    }),

    "q212_residual_pii" -> ((s, dir) => {
      // Residual-PII audit AFTER redaction — the privacy gate a
      // release runs on the SCRUBBED corpus: q87's PII-salted docs
      // through the same redact chain, then count documents still
      // carrying long digit runs or @-signs (the signal that a
      // pattern missed its quarry). One narrow pass, one 1-row
      // reduction; both counts must be zero on this corpus and the
      // oracle agrees from the raw text.
      val salted = concat(col("text"), lit(" user"),
        col("doc_id").cast("string"), lit("@example.com 10.0."),
        (col("doc_id") % 256).cast("string"), lit(".7 +1 555 "),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      val red = TextOps.redactPii(salted)
      t(s, dir, "documents")
        .select(red.as("redacted"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("redacted").rlike("[0-9]{6,}"), 1L)
            .otherwise(0L)).as("n_digit_runs"),
          sum(when(col("redacted").contains("@"), 1L).otherwise(0L))
            .as("n_at_signs"))
    }),

    "q210_grouped_auc" -> ((s, dir) => {
      // Per-LANGUAGE rank AUC of the stopword-ratio score (the
      // fairness/segment audit next to q194's global number: a score
      // that separates well globally can still be blind for one
      // language, and that language's corpus gets filtered blind).
      // Same tie-averaged estimator, group key carried through every
      // stage; even-doc_id parity stands in for the label.
      val toks = TextOps.tokens(col("text"))
      val score = graft.expressions.TextExpressions
        .countInSet(toks, TextOps.Stopwords, lowercase = true)
        .cast("double") / size(toks).cast("double")
      graft.ops.Eval.rankAucBy(
        t(s, dir, "documents")
          .filter(length(trim(col("text"))) > 0)
          .select(col("lang"), score.as("s"),
            (col("doc_id") % 2 === 0).as("y")),
        "lang", "s", "y")
        .select(col("grp").as("lang"), col("n_pos"), col("n_neg"),
          col("auc"))
    }),

    "q208_feature_pivot" -> ((s, dir) => {
      // Per-subject feature table (the feature-store materialization a
      // tabular model trains on): per-type counts widened with a
      // PINNED type list, recency, exact DECIMAL value sum — ALL from
      // ONE partial-aggregatable subject rollup (the conditional-sum
      // form of `groupBy().pivot(col, values).agg(...)`; an UNPINNED
      // pivot runs a distinct pre-scan and makes the schema
      // data-dependent, and a pivot + second-scan join would read the
      // corpus twice — both are 100 TB anti-patterns this row's shape
      // avoids).
      val types = Seq("click", "error", "purchase", "signup", "view")
      val typeCounts = types.map(tp =>
        sum(when(col("event_type") === tp, 1L).otherwise(0L))
          .as(s"n_$tp"))
      val rest = Seq(count(lit(1)).as("n_events"),
        max(unix_timestamp(date_trunc("second", col("ts"))))
          .as("last_seen"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"))
      val aggs = typeCounts ++ rest
      t(s, dir, "events")
        .groupBy(col("user_id").as("subject_id"))
        .agg(aggs.head, aggs.tail: _*)
    }),

    "q209_drift_chi2" -> ((s, dir) => {
      // Distribution-drift monitor: χ² statistic between two snapshot
      // halves' language histograms (doc_id parity stands in for
      // release N vs N+1) — the corpus-health gate that catches a
      // crawler or filter change shifting the language mix. Counts
      // exact; expected counts and the χ² sum are the only FP steps,
      // round-6. Output: one row per lang with its contribution plus
      // the totals, so the drifting language is visible, not just the
      // statistic.
      val d = t(s, dir, "documents")
        .groupBy("lang")
        .agg(sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L))
            .as("n_a"),
          sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L))
            .as("n_b"))
        .localCheckpoint(true)
      val tot = d.agg(sum(col("n_a")).as("ta"), sum(col("n_b")).as("tb"))
      val withTot = d.crossJoin(broadcast(tot))
      val ea = (col("n_a") + col("n_b")).cast("double") * col("ta") /
        (col("ta") + col("tb"))
      val eb = (col("n_a") + col("n_b")).cast("double") * col("tb") /
        (col("ta") + col("tb"))
      withTot.select(col("lang"), col("n_a"), col("n_b"),
        round((col("n_a") - ea) * (col("n_a") - ea) / ea +
          (col("n_b") - eb) * (col("n_b") - eb) / eb, 6)
          .as("chi2_term"))
    }),

    "q204_event_motifs" -> ((s, dir) => {
      // Top-20 3-event sequence motifs (frequent paths — the order-2
      // extension of q174's transition matrix): one subject window +
      // one partial-aggregatable count; the rank runs over the
      // checkpointed |types|³-bounded motif table. Second-truncated
      // ts with the event_id tie-break, as every timeline row.
      graft.ops.EventAnalytics.eventMotifs(
        t(s, dir, "events")
          .withColumn("ts", date_trunc("second", col("ts"))),
        "user_id", "ts", "event_id", "event_type", k = 20)
    }),

    "q205_code_switch" -> ((s, dir) => {
      // Code-switching audit: per-SENTENCE heuristic language ID over
      // the q155 sentence synthesis, rolled up per doc — sentence
      // count, distinct predicted langs, and the number of adjacent
      // sentence pairs that switch language. The doc-level q26 call
      // hides exactly this mixture; multilingual pipelines route
      // code-switched docs differently (or drop them).
      val toks = filter(split(trim(col("text")), "\\s+"),
        x => x =!= "")
      val synth = concat_ws(" ", transform(toks, (w, i) =>
        when((i + 1) % 7 === 0, concat(w, lit("."))).otherwise(w)))
      val sents = t(s, dir, "documents")
        .filter(trim(col("text")) =!= "" && col("doc_id") < 200)
        .select(col("doc_id"), TextOps.sentenceSplit(synth).as("ss"))
        .select(col("doc_id"), posexplode(col("ss"))
          .as(Seq("idx", "raw")))
        .select(col("doc_id"), col("idx"),
          trim(col("raw")).as("sentence"))
        .filter(col("sentence") =!= "")
      val preds = sents.select(col("doc_id"), col("idx"),
        TextOps.langId(col("sentence")).as("pred"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("idx")
      preds.withColumn("prev", lag(col("pred"), 1).over(w))
        .groupBy("doc_id")
        .agg(count(lit(1)).cast("long").as("n_sentences"),
          countDistinct(col("pred")).as("n_langs"),
          sum(when(col("prev").isNotNull &&
            col("prev") =!= col("pred"), 1L).otherwise(0L))
            .as("n_switches"))
    }),

    "q206_session_stats" -> ((s, dir) => {
      // Session-duration distribution (the product-analytics table
      // next to q45's per-session rows): 30-minute-gap sessions, exact
      // integer durations from event times, one global row — count,
      // mean, max, and exact interpolated p50/p90 (the q13
      // percentile ↔ quantile_cont parity).
      val sess = t(s, dir, "events")
        .withColumn("ts2", date_trunc("second", col("ts")))
        .groupBy(session_window(col("ts2"), "30 minutes").as("sess"),
          col("user_id"))
        .agg(min(col("ts2")).as("t0"), max(col("ts2")).as("t1"))
        .select((unix_timestamp(col("t1")) -
          unix_timestamp(col("t0"))).as("dur"))
      sess.agg(count(lit(1)).as("n_sessions"),
          round(avg(col("dur")), 6).as("mean_dur_sec"),
          max(col("dur")).as("max_dur_sec"),
          expr("percentile(dur, 0.5)").as("__p50"),
          expr("percentile(dur, 0.9)").as("__p90"))
        .select(col("n_sessions"), col("mean_dur_sec"),
          col("max_dur_sec"), round(col("__p50"), 6).as("p50_sec"),
          round(col("__p90"), 6).as("p90_sec"))
    }),

    "q207_rolling_anomaly" -> ((s, dir) => {
      // Rolling anomaly detection over the event feed: per-(type, day)
      // counts (one partial-aggregatable rollup — the only
      // corpus-scale work), then each day's z-score against its
      // TRAILING 7-day window over the tiny (types × days) table.
      // The anomaly gate compares the ROUNDED z (the q150 discipline)
      // so both engines decide identically; days with fewer than 2
      // trailing points or zero variance yield null z.
      val daily = t(s, dir, "events")
        .groupBy(col("event_type"),
          to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(true)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("day")
        .rowsBetween(-7, -1)
      val mu = avg(col("n")).over(w)
      val sd = stddev_samp(col("n")).over(w)
      val cnt = count(col("n")).over(w)
      val z = when(cnt >= 2 && sd > 0,
        round((col("n") - mu) / sd, 6))
      daily.select(col("event_type"), col("day"), col("n"),
          z.as("z"),
          coalesce(when(z.isNotNull, abs(z) > 2.0), lit(false))
            .as("is_anomaly"))
    }),

    "q200_jaccard_calibration" -> ((s, dir) => {
      // Dedup-threshold CALIBRATION: the Jaccard distribution of the
      // MinHash band candidates (q78's replayable pipeline with the
      // verify floor dropped to 0) — the histogram that says where to
      // put the threshold BEFORE deduping 100 TB. Buckets are
      // floor(10·J) on identically-computed doubles; exact counts.
      minhashReplayVerified(s, dir, minJ = 0.0)
        .select(least(floor(col("jaccard") * 10), lit(9L)).cast("long")
          .as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_pairs"))
        .select(col("bucket"),
          round(col("bucket").cast("double") / 10.0, 1).as("j_lo"),
          col("n_pairs"))
    }),

    "q201_release_manifest" -> ((s, dir) => {
      // Release manifest: per-source doc/char volumes, distinct-content
      // count and an ORDER-INVARIANT content checksum — the sum of
      // per-doc poly hashes mod 1e9+7, accumulated in DECIMAL(38,0)
      // so no corpus size wraps it — plus the grand-total rollup row.
      // q153 diffs releases at content level; this is the O(1)
      // fingerprint a release note pins.
      val h = graft.expressions.TextExpressions.strPolyHash(
        regexp_replace(col("text"), "[^ -~]", ""), 257L, 64)
      t(s, dir, "documents")
        .select(col("source"), col("n_chars"), h.as("h"))
        .rollup("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars"),
          countDistinct(col("h")).as("n_distinct"),
          (sum(col("h").cast("decimal(38,0)")) % lit(1000000007L))
            .cast("long").as("checksum"))
        .select(coalesce(col("source"), lit("__TOTAL__")).as("source"),
          col("n_docs"), col("n_chars"), col("n_distinct"),
          col("checksum"))
    }),

    "q202_embed_centering" -> ((s, dir) => {
      // Embedding mean-centering audit: per-dim corpus means on the
      // exact integer lattice (order-invariant — the kmeansStep M-step
      // idiom), then every vector's CENTERED L2 norm. The "how strong
      // is the common direction" table that decides whether the ANN
      // stack needs centering/whitening before bucketing.
      val emb = t(s, dir, "embeddings")
      val means = broadcast(
        Similarity.dimMeansLattice(emb, "vec_id", "embedding"))
      val d = col("x").cast("double") - col("mean")
      emb.select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .join(means, Seq("dim"))
        .groupBy("vec_id")
        .agg(round(sqrt(sum(d * d)), 6).as("centered_norm"))
    }),

    "q203_zipf_audit" -> ((s, dir) => {
      // Zipf rank-frequency audit: top-50 token ranks with the
      // log-Zipf constant ln(rank) + ln(count) — flat under a healthy
      // Zipfian corpus; bumps flag boilerplate flooding or vocabulary
      // collapse. Counts are vocab-bounded and checkpointed; the rank
      // window runs over THAT table, never the corpus.
      val toks = t(s, dir, "documents")
        .select(explode(TextOps.tokens(lower(
          regexp_replace(col("text"), "[^ -~]", "")))).as("w"))
        .filter(col("w") =!= "")
      val counts = toks.groupBy("w").agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true)
      val wn = org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("w").asc)
      counts.withColumn("rank", row_number().over(wn))
        .filter(col("rank") <= 50)
        .select(col("rank"), col("w"), col("cnt"),
          round(log(col("rank").cast("double")) +
            log(col("cnt").cast("double")), 6).as("zipf_logc"))
    }),

    "q196_stream_enrich" -> ((s, dir) => {
      // REAL streaming run of the stream-static enrichment join (the
      // dimension-lookup shape: event feed ⋈ broadcast user-tier dim;
      // state store holds NOTHING — no watermark bookkeeping, the
      // whole point of stream-static over stream-stream): stage
      // events, re-read as a file-source stream, enrich, drain
      // AvailableNow into a memory sink. The dim derives from
      // subject_id so the oracle replays it as arithmetic.
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-q196")
        .toString
      ev.write.mode("overwrite").parquet(tmp)
      val dim = ev.select(col("user_id")).distinct()
        .select(col("user_id"),
          concat(lit("t"), (col("user_id") % 3).cast("string"))
            .as("tier"))
      val stream = s.readStream.schema(ev.schema).parquet(tmp)
      val sink = "q196_sink_" + java.util.UUID.randomUUID()
        .toString.replace("-", "")
      val sq = graft.streaming.StreamOps
        .enrichStream(stream, dim, "user_id")
        .writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
      s.table(sink)
        .select(col("event_id"), col("user_id"), col("tier"),
          col("event_type"))
    }),

    "q197_rag_retrieval" -> ((s, dir) => {
      // RAG passage retrieval end to end: docs → overlapping 32-token
      // passages (stride 16 — the chunkDocs window math applied to
      // TEXT via slice/array_join), BM25 index over the passages with
      // the query-term filter pushed below the weight joins (the q115
      // plan), top-10 passages. The retrieval shape a RAG corpus
      // actually serves — chunking changes avg_dl and df, so scoring
      // over passages is NOT q115 over docs.
      val toks = TextOps.tokens(lower(col("text")))
      val base = t(s, dir, "documents")
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), toks.as("tk"),
          size(toks).cast("long").as("n"))
      val nWin = ceil(greatest(col("n") - 32L, lit(0L)).cast("double") /
        16.0).cast("long") + 1L
      val passages = base
        .select(col("doc_id"), col("tk"),
          explode(sequence(lit(0L), nWin - 1)).as("w"))
        .select((col("doc_id") * 1000L + col("w")).as("pid"),
          array_join(slice(col("tk"),
            (col("w") * 16L + 1L).cast("int"), lit(32)), " ")
            .as("passage"))
        .filter(length(trim(col("passage"))) > 0)
      TextOps.bm25Search(passages, "pid", "passage",
        "merge window sort", k = 10)
    }),

    "q198_decontam_removal" -> ((s, dir) => {
      // The REMOVAL half of decontamination (q90 finds, this row acts
      // and AUDITS): broadcast anti-join drops every matched train
      // doc, then the matcher re-runs on the clean corpus and must
      // find ZERO residual matches — the audit row a release note
      // records, with the volume deltas. All four scalars are
      // 1-row aggs cross-joined (broadcast).
      val docs = t(s, dir, "documents")
      val evalSet = docs.filter(col("doc_id") % 7 === 0)
      val train = docs.filter(col("doc_id") % 7 =!= 0)
      val matched = TextOps.contaminationMatches(train, evalSet,
          "doc_id", "text", n = 5)
        .select(col("id").as("doc_id"))
      val clean = train.join(broadcast(matched), Seq("doc_id"),
        "left_anti")
      val residual = TextOps.contaminationMatches(clean, evalSet,
        "doc_id", "text", n = 5)
      train.agg(count(lit(1)).as("n_train"))
        .crossJoin(broadcast(matched.agg(count(lit(1))
          .as("n_removed"))))
        .crossJoin(broadcast(clean.agg(count(lit(1)).as("n_clean"))))
        .crossJoin(broadcast(residual.agg(
          coalesce(sum(col("n_matched")), lit(0L))
            .as("n_residual_matches"))))
    }),

    "q199_output_sharding" -> ((s, dir) => {
      // File-size control at the sink — the small-files/giant-files
      // problem that decides whether the NEXT job's scan has 1e3 or
      // 1e7 tasks: partitionBy(lang) + repartition on the partition
      // key (each lang's rows reach ONE task) + maxRecordsPerFile=64
      // makes the per-directory file count EXACTLY ceil(rows/64) —
      // layout as a deterministic function of volume, which is what
      // lets the oracle check a filesystem property as arithmetic.
      val tmp = java.nio.file.Files.createTempDirectory("graft-q199")
        .toString
      val docs = t(s, dir, "documents")
      docs.repartition(col("lang"))
        .write.partitionBy("lang").option("maxRecordsPerFile", 64)
        .mode("overwrite").parquet(tmp)
      val back = s.read.parquet(tmp)
        .select(col("lang"), input_file_name().as("f"))
      back.groupBy("lang", "f").agg(count(lit(1)).as("fr"))
        .groupBy("lang")
        .agg(count(lit(1)).cast("long").as("n_files"),
          sum(col("fr")).as("n_rows"),
          max(col("fr")).as("max_file_rows"))
    }),

    "q193_next_event_pairs" -> ((s, dir) => {
      // Next-event-prediction training pairs — the data-prep form of
      // the reference's generative objective over event streams: per
      // subject, every position ≥ 2 emits (previous ≤5 event types,
      // next type). One subject shuffle; second-truncated ts with the
      // event_id tie-break so the walk is engine-deterministic.
      graft.ops.EventAnalytics.nextEventPairs(
        t(s, dir, "events")
          .withColumn("ts", date_trunc("second", col("ts"))),
        "user_id", "ts", "event_id", "event_type", ctxLen = 5)
        // Harness convention: scalarize array outputs (the driver's
        // pandas sorter can't hash raw ndarray cells) — the operator
        // itself keeps the typed ARRAY<STRING> context column.
        .withColumn("context", concat_ws("|", col("context")))
    }),

    "q194_rank_auc" -> ((s, dir) => {
      // ROC AUC of the stopword-ratio quality score against the
      // lang == 'en' label (tie-AVERAGED Mann–Whitney ranks — the
      // textbook estimator): does the score actually separate English?
      // The score is one exact division (identical double both
      // engines → identical grouping keys); every rank term is a
      // dyadic rational, so the only round-6 is the final division.
      val toks = TextOps.tokens(col("text"))
      val score = graft.expressions.TextExpressions
        .countInSet(toks, TextOps.Stopwords, lowercase = true)
        .cast("double") / size(toks).cast("double")
      graft.ops.Eval.rankAuc(
        t(s, dir, "documents")
          .filter(length(trim(col("text"))) > 0)
          .select(score.as("s"), (col("lang") === "en").as("y")),
        "s", "y")
    }),

    "q195_grouped_split" -> ((s, dir) => {
      // LEAKAGE-safe grouped split: the split is a pure function of
      // the SOURCE key, so templated near-duplicates within a source
      // can never straddle train/test — the doc-level split that
      // quietly inflates held-out scores. Pure hash-threshold (md5
      // digit-walk uniform), zero coordination: no distinct, no
      // count, no rank anywhere in the plan.
      graft.ingest.Splits.groupedSplit(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "source", Seq(0.8, 0.1), Seq("train", "val", "test"), seed = 9L)
    }),

    "q191_word_blocklist" -> ((s, dir) => {
      // C4-style bad-word page gate (Raffel et al. §2.2: a page with
      // ANY blocklisted token is removed whole): planted hits on the
      // %11 and %13 lattices (one uppercase — the case-fold must
      // catch it), native set-probe count, keep = zero hits. The probe
      // is one hash-set lookup per token, narrow, list-size-independent.
      val salted = concat(col("text"),
        when(col("doc_id") % 11 === 0, lit(" frak")).otherwise(lit("")),
        when(col("doc_id") % 13 === 0, lit(" smeg gorram SMEG"))
          .otherwise(lit("")))
      val n = TextOps.blockedWordCount(salted,
        Seq("frak", "smeg", "gorram"))
      t(s, dir, "documents")
        .select(col("doc_id"), n.as("n_blocked"), (n === 0).as("keep"))
    }),

    "q192_mixture_materialize" -> ((s, dir) => {
      // EXECUTE q167's mixture plan: per-lang integer base copies
      // (target DIV group-tokens) + one extra copy for the
      // deterministic md5-uniform fraction matching the remainder —
      // expected materialized tokens hit the target with no FP epoch
      // arithmetic deciding row counts. Output-sized sequence explode,
      // plan broadcasts, nothing shuffles beyond the plan's own aggs.
      import s.implicits._
      val docs = t(s, dir, "documents")
      val counts = docs.groupBy("lang")
        .agg(sum(TextOps.tokenCount(col("text")).cast("long"))
          .as("n_tok"))
      val weights = Seq(("en", 4L), ("de", 2L), ("es", 1L),
        ("fr", 1L), ("zh", 1L)).toDF("lang", "w")
      val plan = graft.ops.Sampling.mixturePlan(counts, "lang", "n_tok",
        weights, "lang", "w", budget = 20000L)
      graft.ops.Sampling.materializeMixture(docs, "doc_id", "lang",
        plan, seed = 11L)
    }),

    "q190_kn_trigram" -> ((s, dir) => {
      // Interpolated Kneser-Ney TRIGRAM scoring (Chen & Goodman §3.3,
      // the order-3 KenLM form — q110 is order 2; real perplexity
      // filters run 3-5): absolute discounting at both upper levels,
      // continuation-type lower orders (the KN correction applied all
      // the way down), add-γ-floored unigram continuation so OOV keeps
      // finite mass. Self-scoring fit, as q96/q110.
      val docs = t(s, dir, "documents")
      TextOps.knTrigramLogProb(docs, docs, "doc_id", "text")
        .select(col("doc_id"), col("n_transitions"),
          round(col("avg_logprob"), 6).as("avg_logprob"))
    }),

    "q189_jsonl_quarantine" -> ((s, dir) => {
      // Permissive JSONL field extraction with corrupt-record
      // quarantine — real feeds are never 100% well-formed, and
      // FAILFAST at 100 TB means one truncated line kills the job
      // while silent-drop loses data unaudited. Synthesized lines
      // (every 7th loses its closing brace), from_json extraction,
      // corrupt flag = parse failure; the oracle branches on
      // json_valid and extracts the same typed fields.
      val line = when(col("doc_id") % 7 === 0,
        concat(lit("{\"id\": "), col("doc_id").cast("string"),
          lit(", \"lang\": \""), col("lang"), lit("\"")))
        .otherwise(concat(lit("{\"id\": "), col("doc_id").cast("string"),
          lit(", \"lang\": \""), col("lang"), lit("\", \"n\": "),
          col("n_chars").cast("string"), lit("}")))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "id BIGINT, lang STRING, n BIGINT")
      t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), from_json(line, schema).as("p"))
        .select(col("doc_id"),
          col("p.id").isNull.as("is_corrupt"),
          col("p.id").as("parsed_id"), col("p.lang").as("parsed_lang"),
          col("p.n").as("parsed_n"))
    }),

    "q174_event_transitions" -> ((s, dir) => {
      // Event-type transition matrix (order-1 Markov / process-mining
      // table) over each subject's second-truncated timeline, ordered
      // (ts, event_id) so same-timestamp events walk deterministically.
      // One subject-keyed window — the shuffle bucketed storage
      // removes.
      graft.ops.EventAnalytics.typeTransitions(
        t(s, dir, "events")
          .withColumn("ts", date_trunc("second", col("ts"))),
        "user_id", "ts", "event_id", "event_type")
    }),

    "q175_retention" -> ((s, dir) => {
      // Day-k retention curve: fraction of subjects with ANY activity
      // exactly k days after their first event — the cohort table
      // product analytics reads daily. Day arithmetic is DATE-level on
      // both engines, so no sub-second discipline is needed.
      graft.ops.EventAnalytics.retentionCurve(
        t(s, dir, "events"), "user_id", "ts")
    }),

    "q176_funnel" -> ((s, dir) => {
      // Strictly-ordered signup → click → purchase funnel, each stage
      // anchored on the earliest qualifying time (standard
      // product-analytics semantics). Second-truncated so the strict >
      // comparisons are engine-identical.
      graft.ops.EventAnalytics.funnel(
        t(s, dir, "events")
          .withColumn("ts", date_trunc("second", col("ts"))),
        "user_id", "ts", "event_type",
        Seq("signup", "click", "purchase"))
    }),

    "q173_tokenizer_fertility" -> ((s, dir) => {
      // Tokenizer fertility audit (chars per subword token by lang —
      // the compression-rate table that decides whether a tokenizer
      // under-serves a language): the q151 literal-merge BPE tokenizes
      // the distinct-word table ONCE, per-lang totals come from one
      // occurrence join. High chars/token = well-compressed; languages
      // the merges never saw stay near 1 char/token — exactly the
      // signal this audit exists to surface.
      val merges = s.createDataFrame(Seq(
        (1, "t", "h"), (2, "th", "e"), (3, "i", "n"), (4, "a", "n"),
        (5, "an", "d"), (6, "e", "r"), (7, "o", "n"), (8, "r", "e")))
        .toDF("rank", "lhs", "rhs")
      val docs = t(s, dir, "documents")
      val wordSyms = graft.ops.Bpe.applyMerges(docs, "text", merges)
        .groupBy("w").agg(count(lit(1)).as("n_sym"))
      docs.select(col("lang"),
          explode(TextOps.tokens(lower(col("text")))).as("w"))
        .join(wordSyms, Seq("w"))
        .groupBy("lang")
        .agg(sum(length(col("w")).cast("long")).as("n_chars"),
          sum("n_sym").as("n_tokens"))
        .select(col("lang"), col("n_chars"), col("n_tokens"),
          round(col("n_chars").cast("double") /
            col("n_tokens").cast("double"), 6).as("chars_per_token"))
    }),

    "q172_png_sniff" -> ((s, dir) => {
      // Container-metadata sniff WITHOUT decode: dimensions/bit-depth/
      // color-type read straight from the PNG IHDR bytes as a codegen'd
      // substring/hex projection — the audit that histograms a billion
      // images while q84's decode path would still be initializing
      // codecs. One deliberately corrupt payload proves the magic check
      // flags instead of throwing. Real JDK-encoded PNGs (TYPE_INT_RGB
      // → color type 2, 8-bit); the oracle replays dims from the
      // synthesis formula.
      val ids = t(s, dir, "documents").select(col("doc_id"))
        .filter(col("doc_id") < 60)
      val media = Multimodal.synthesizeImages(ids, "doc_id")
        .select(col("media_id"), col("payload"))
        .unionByName(ids.filter(col("doc_id") === 0)
          .select((col("doc_id") + 1000000L).as("media_id"),
            lit("not a png".getBytes("UTF-8")).as("payload")))
      Multimodal.withPngMetadata(media, "payload")
        .select(col("media_id"), col("png_valid"), col("png_width"),
          col("png_height"), col("png_bit_depth"),
          col("png_color_type"))
    }),

    "q171_hard_negatives" -> ((s, dir) => {
      // Hard-negative mining over the labeled embedding corpus: each
      // anchor's 3 most-similar OTHER-label vectors (the contrastive-
      // training negatives that actually carry gradient). q154's
      // bucket/rank shape, label predicate before the rank so
      // same-label neighbors never eat slots; replayable hyperplane
      // family.
      Similarity.hardNegatives(t(s, dir, "embeddings"), "vec_id",
          "embedding", "label", k = 3,
          bucketFn = Some(HyperplaneReplay.bucketCol))
    }),

    "q252_contrastive_triplets" -> ((s, dir) =>
      // Contrastive triplet mining (SimCSE/SBERT data prep): anchor +
      // nearest same-label in-bucket positive at round6-cos ≥ 0.3 +
      // the q171 hard negative, with both cosines and the triplet
      // margin. Candidates never leave their LSH bucket's equi-join
      // cell; the positive rank orders on the ROUNDED cosine.
      Similarity.contrastiveTriplets(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label", posThreshold = 0.3,
        bucketFn = Some(HyperplaneReplay.bucketCol))),

    "q170_good_turing" -> ((s, dir) => {
      // Good–Turing smoothing table over the corpus BIGRAM stream
      // (multiplicity kept — these are token frequencies, not doc
      // frequencies): frequency-of-frequencies N_r and adjusted counts
      // r* = (r+1)·N_{r+1}/N_r, the Katz-backoff ingredient next to
      // q110's Kneser–Ney discounts. High-r gaps stay null by design.
      val docs = t(s, dir, "documents").select(col("doc_id"),
        lower(regexp_replace(col("text"), "[^\\x20-\\x7e]", ""))
          .as("t"))
      val grams = graft.ops.Sketch.wordNgrams(docs, "doc_id", "t", 2,
        distinct = false)
      TextOps.goodTuringClasses(grams, "gram")
    }),

    "q169_dup_source_matrix" -> ((s, dir) => {
      // Cross-source duplication matrix — WHICH sources copy from
      // which: q78's verified near-dup pairs rolled up by unordered
      // source pair. The audit that decides source-level dedup order
      // and provenance disputes; output is ≤ |sources|² rows no matter
      // the corpus size.
      val src = t(s, dir, "documents").select(col("doc_id"),
        col("source"))
      minhashReplayVerified(s, dir)
        .join(src.select(col("doc_id").as("id_a"),
          col("source").as("sa")), Seq("id_a"))
        .join(src.select(col("doc_id").as("id_b"),
          col("source").as("sb")), Seq("id_b"))
        .select(least(col("sa"), col("sb")).as("src_a"),
          greatest(col("sa"), col("sb")).as("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
    }),

    "q168_vocab_growth" -> ((s, dir) => {
      // Vocabulary growth curve across corpus snapshots (the Heaps-law
      // novelty audit of a rolling crawl): q158's HLL registers per
      // 100-doc snapshot over word BIGRAMS (the unigram vocabulary here
      // saturates in snapshot 0 — bigrams give a real curve and push
      // the estimator into its harmonic branch), then CUMULATIVE union
      // per snapshot = max over earlier snapshots' registers — the
      // mergeability property doing real work: each snapshot's sketch
      // is built once, unions are register-table joins (≤ snaps·64
      // rows), the corpus is never rescanned per prefix. Exact
      // cumulative distinct alongside for grading.
      val docs = t(s, dir, "documents").select(col("doc_id"),
        lower(regexp_replace(col("text"), "[^\\x20-\\x7e]", ""))
          .as("t"))
      val tok = graft.ops.Sketch.wordNgrams(docs, "doc_id", "t", 2)
        .select(expr("id DIV 100").as("snap"), col("gram").as("term"))
        .localCheckpoint(true)
      val regs = graft.ops.Sketch.hllRegisters(tok, "snap", "term",
        b = 6).localCheckpoint(true)
      val snaps = regs.select(col("grp").as("snap")).distinct()
      val cum = snaps.join(regs, regs("grp") <= snaps("snap"))
        .groupBy(col("snap").as("grp"), col("bucket"))
        .agg(max("reg").as("reg"))
      val est = graft.ops.Sketch.hllEstimate(cum)
      val firsts = tok.groupBy("term").agg(min("snap").as("fs"))
        .groupBy("fs").agg(count(lit(1)).as("n_new"))
        .localCheckpoint(true)
      val exact = snaps.join(firsts, firsts("fs") <= snaps("snap"))
        .groupBy("snap").agg(sum("n_new").as("exact_cum"))
      est.select(col("grp").as("snap"), col("occupied"),
          col("est_distinct"))
        .join(exact, Seq("snap"))
    }),

    "q167_mixture_plan" -> ((s, dir) => {
      // Token-budget mixture plan: per-lang token inventories × an
      // English-heavy integer weight table → proportional budget split
      // and implied epochs at a 10M-token budget. The per-lang epochs
      // > 1 rows are the repeat-data flags a data-constrained run
      // tracks. All integer arithmetic except one round-6 division.
      import s.implicits._
      val counts = t(s, dir, "documents").groupBy("lang")
        .agg(sum(TextOps.tokenCount(col("text")).cast("long"))
          .as("n_tok"))
      val weights = Seq(("en", 4L), ("de", 2L), ("es", 1L),
        ("fr", 1L), ("zh", 1L)).toDF("lang", "w")
      graft.ops.Sampling.mixturePlan(counts, "lang", "n_tok",
        weights, "lang", "w", budget = 10000000L)
    }),

    "q166_canonical_dedup" -> ((s, dir) => {
      // Quality-aware canonical selection: q77's replayable winnow
      // cluster graph, but each near-dup cluster keeps its LONGEST
      // member (ties to min id) — the curation rule that preserves the
      // full variant when truncated copies cluster together, vs q77's
      // min-id rule. One max_by aggregate, no per-cluster sort.
      val docs = t(s, dir, "documents")
      val pairs = Dedup.winnowOverlapPairs(docs, "doc_id", "text",
        k = 8, w = 16, minShared = 5, maxPostingSize = 5)
      Dedup.dedupByPairsBest(
        docs.withColumn("score", length(col("text")).cast("long")),
        "doc_id", pairs, "score")
    }),

    "q164_source_overlap" -> ((s, dir) => {
      // Source-overlap audit: the 20×20 source Jaccard matrix from
      // per-source UNION MinHash signatures (min composes under union,
      // so a source's signature costs one 16-column min-agg — state is
      // 16 longs per source at ANY corpus size, and the text never
      // joins). The q78 replayable permutation family, hash-checked
      // against DuckDB's full replay.
      val elems = t(s, dir, "documents").select(col("source"),
          TextOps.winnowFingerprints(
            lower(regexp_replace(col("text"), "[^\\x20-\\x7e]", "")),
            k = 5, w = 1).as("hs"))
        .select(col("source"), explode(col("hs")).as("h"))
      val perms = (0 until MinhashReplay.nPerm).map(j =>
        (MinhashReplay.aj(j), MinhashReplay.bj(j)))
      Dedup.groupMinhashOverlap(elems, "source", "h", perms)
    }),

    "q165_length_buckets" -> ((s, dir) => {
      // Length-bucketed batching plan: pow2 buckets over whitespace
      // token counts, per-bucket batch counts at batchSize=32 and the
      // padding-waste fraction — the loader-side sibling of q91's
      // concat-and-chunk packing. Entirely map-side-combinable; the
      // replayable bin() pow2 ceiling is the q158 discipline.
      graft.serve.Packing.lengthBucketStats(
        t(s, dir, "documents")
          .select(TextOps.tokenCount(col("text")).as("n_tok")),
        "n_tok", batchSize = 32)
    }),

    "q163_zorder_layout" -> ((s, dir) => {
      // Z-order layout round trip + box query: documents land in a
      // Morton-ordered partitioned layout over (n_chars, doc_id mod
      // 2^16), then a rectangular box query reads back ONLY the
      // z-prefix directories the box's corner-to-corner z-interval
      // touches (both-tier pruning pinned in LayoutSpec via the
      // numFiles scan metric; here the oracle checks the interleave
      // arithmetic and that pruning lost no rows). At 100 TB this is
      // the multi-column data-skipping story: one sort order serves
      // predicates on BOTH dimensions.
      import graft.ops.Layout
      val tmp = java.nio.file.Files.createTempDirectory("graft-q163")
        .toString
      val docs = t(s, dir, "documents").select(col("doc_id"),
        col("n_chars"), pmod(col("doc_id"), lit(65536L)).as("y"))
      Layout.writeZOrdered(docs, "n_chars", "y", tmp, bits = 16,
        prefixBits = 6)
      val pLo = Layout.zOrderKey2(256L, 0L, 16) >>> 26
      val pHi = Layout.zOrderKey2(383L, 1023L, 16) >>> 26
      s.read.parquet(tmp)
        .filter(col("z_prefix") >= pLo && col("z_prefix") <= pHi)
        .filter(col("n_chars").between(256L, 383L) &&
          col("y") <= 1023L)
        .select(col("doc_id"), col("n_chars"), col("y"), col("zkey"))
    }),

    "q161_orc_roundtrip" -> ((s, dir) => {
      // ORC sink + source round trip (the q146 JSONL discipline for the
      // other columnar interchange format Spark ships natively): write
      // documents as ORC to scratch, re-open cold with an explicit
      // schema, return every row verbatim. Distinct codec path from
      // parquet — dictionary/RLE encoders, stripe metadata — so a
      // byte-level loss in either direction breaks the oracle hash.
      val tmp = java.nio.file.Files.createTempDirectory("graft-q161")
        .toString
      t(s, dir, "documents").select("doc_id", "lang", "text")
        .write.mode("overwrite").orc(tmp)
      s.read.schema("doc_id LONG, lang STRING, text STRING").orc(tmp)
        .select(col("doc_id"), col("lang"), col("text"))
    }),

    "q162_csv_roundtrip" -> ((s, dir) => {
      // CSV round trip under ADVERSARIAL content: every text gets a
      // suffix holding the three characters that break naive CSV
      // (comma, double-quote, newline), so the row only survives if
      // quoting, RFC-4180 double-quote escaping, and multiLine reads
      // all work. The oracle replays the same concatenation straight
      // from parquet — the codec sits between the engines.
      val tmp = java.nio.file.Files.createTempDirectory("graft-q162")
        .toString
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          concat(col("text"), lit(",\"\nx")).as("text"))
        .write.mode("overwrite")
        .option("header", "true").option("escape", "\"")
        .csv(tmp)
      s.read.schema("doc_id LONG, lang STRING, text STRING")
        .option("header", "true").option("multiLine", "true")
        .option("escape", "\"")
        .csv(tmp)
        .select(col("doc_id"), col("lang"), col("text"))
    }),

    "q160_pagerank" -> ((s, dir) => {
      // Host-graph PageRank for crawl prioritization, on a deterministic
      // synthetic web graph over doc ids (a ring edge for guaranteed
      // connectivity + two multiplicative-hash links per node — the
      // replayable analogue of a crawl's link table). 8 power
      // iterations of Graph.pageRankFixedPoint: every rank is an exact
      // BIGINT, so the oracle's recursive CTE reproduces all 8
      // iterations bit-for-bit — no FP drift, no round-6 hedging.
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val n = docs.count()
      val edges = docs
        .select(col("doc_id").as("src"),
          explode(typedLit(Seq(0, 1, 2))).as("j"))
        .select(col("src"),
          when(col("j") === 0, (col("src") + 1) % n)
            .otherwise(((col("src") * 2654435761L + col("j") * 40503L
              + 7L) % 1000000007L) % n).as("dst"))
        .filter(col("dst") =!= col("src"))
        .distinct()
      graft.ops.Graph.pageRankFixedPoint(edges, "src", "dst", iters = 8)
    }),

    "q159_edit_verify" -> ((s, dir) => {
      // Cheap-to-expensive verify CASCADE, each stage ~100× the
      // per-pair cost of the last: MinHash bands recall candidates →
      // exact hash-set Jaccard at a loose 0.35 floor prunes the
      // chance band collisions → the banded edit-distance DP is the
      // final order-sensitive judge at ≤ 60 edits (unlike Jaccard,
      // it sees token ORDER — shuffled-token twins die here).
      // Measured at sf1: 383k candidates, Spark Levenshtein ~2 ms/
      // pair → raw candidates cost 18.6 s; the cascade verifies 2.6k.
      // The floor must clear the corpus's CHANCE-similarity baseline:
      // this small-vocabulary corpus measures median J = 0.21 between
      // unrelated docs (a 0.2 floor kept 244k pairs — worse than
      // useless), while planted near-dups sit ≥ 0.5 — 0.35 splits
      // the two modes with margin on both sides. The composite
      // semantics (J ≥ 0.35 AND dist ≤ 60) are what the oracle
      // replays.
      val docs = t(s, dir, "documents").select(col("doc_id"),
        lower(regexp_replace(col("text"), "[^\\x20-\\x7e]", ""))
          .as("text"))
      Dedup.editDistanceVerify(docs, "doc_id", "text",
        minhashReplayVerified(s, dir, minJ = 0.35).localCheckpoint(true),
        maxDist = 60)
    }),

    "q158_hll_distinct" -> ((s, dir) => {
      // HyperLogLog distinct-token audit per source: the register table
      // IS the output (full sketch state hash-checked, not just the
      // estimate), joined with the harmonic-mean estimate and the exact
      // count for grading. Register build is the only token-width
      // exchange — and map-side combine caps it at 64 rows per source
      // per partition; at 100 TB the same plan ships kilobytes per
      // group. Replayable q78 poly-hash family; the rank comes from the
      // binary bit-length (bin()), exact on both engines.
      val tok = t(s, dir, "documents").select(col("source"),
          explode(split(trim(lower(regexp_replace(col("text"),
            "[^\\x20-\\x7e]", ""))), "\\s+")).as("term"))
        .filter(col("term") =!= "")
        .localCheckpoint(true)
      // registers feed BOTH the output rows and the estimate — pin
      // them once (≤ 64·sources rows) so the token scan runs once
      val regs = graft.ops.Sketch.hllRegisters(tok, "source", "term",
        b = 6).localCheckpoint(true)
      val est = graft.ops.Sketch.hllEstimate(regs, b = 6)
      val ex = tok.groupBy("source")
        .agg(countDistinct(col("term")).as("exact_distinct"))
      regs.join(est.select(col("grp"), col("est_distinct")), Seq("grp"))
        .join(ex, regs("grp") === ex("source"))
        .select(col("source"), col("bucket"), col("reg"),
          col("est_distinct"), col("exact_distinct"))
    }),

    "q97_substring_dedup" -> ((s, dir) => {
      // Exact substring-span dedup (Lee et al., arXiv:2107.06499): every
      // 50-char span whose text occurred earlier in the corpus (global
      // order (doc_id, pos)) is excised; overlapping flagged grams merge
      // into maximal spans and each doc is stitched back from the gaps.
      // Production flips hashShuffleKey=true (8-byte exchange keys); the
      // oracle path compares true string equality.
      Dedup.substringDedup(t(s, dir, "documents"), "doc_id", "text",
        L = 50)
        .select(col("id").as("doc_id"), col("n_spans"),
          col("dup_chars"), col("clean_text"))
    }),

    "q77_cluster_dedup" -> ((s, dir) => {
      // Connected components + canonical dedup, ORACLE-CHECKED: the same
      // clusterPairs/dedupByPairs operators as q41, but driven by the
      // SQL-replayable q58 winnow-overlap pairs, so DuckDB replays the
      // clustering as a recursive min-label closure (q41 stays the
      // xxhash64-LSH production path, rows-only).
      val docs = t(s, dir, "documents")
      val pairs = Dedup.winnowOverlapPairs(docs, "doc_id", "text",
        k = 8, w = 16, minShared = 5, maxPostingSize = 5)
      Dedup.dedupByPairs(docs, "doc_id", pairs).select("doc_id")
    }),

    "q78_minhash_replay" -> ((s, dir) => {
      // The full MinHash+LSH pipeline shape with an SQL-replayable hash
      // family: base-257 rolling 5-gram shingle hashes mod 1e9+7 (the q55
      // discipline; ASCII-projected + lowercased so byte == codepoint and
      // case-folding is engine-identical), 16 affine permutations over
      // Z_p, 4 bands × 4 rows, band-bucket candidates, exact hash-set
      // Jaccard verify ≥ 0.5. q27 stays the production xxhash64 path
      // (rows-only); THIS query hash-checks the signature math, banding
      // semantics, and verify threshold against DuckDB.
      minhashReplayVerified(s, dir)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
    }),

    "q79_simhash_replay" -> ((s, dir) => {
      // SimHash with an SQL-replayable token-hash family: two base-b poly
      // hashes mod 1e9+7 (b = 257, 263; first 8 bytes per whitespace
      // token) each feed the SAME SimHashSigExpr majority rule as the
      // production path, packed into a 60-bit signature (30 bits per
      // family — one family saturates at corpus scale: 112k pairs at
      // sf0.1 vs ~300 with 60 bits). 3×20-bit pigeonhole bands guarantee
      // recall for hamming ≤ 2; bit_count verifies on both engines. q28
      // stays the production xxhash64 64-bit path.
      val docs = t(s, dir, "documents").select(col("doc_id"),
        lower(regexp_replace(col("text"), "[^\\x20-\\x7e]", ""))
          .as("text"))
      val thA = graft.expressions.TextExpressions.wsTokenPolyHashes(
        col("text"), 257L)
      val thB = graft.expressions.TextExpressions.wsTokenPolyHashes(
        col("text"), 263L)
      val sigs = docs
        .select(col("doc_id"), thA.as("__ta"), thB.as("__tb"))
        .filter(size(col("__ta")) > 0)
        .select(col("doc_id"),
          (graft.expressions.TextExpressions.simhashSig(col("__ta")) +
            graft.expressions.TextExpressions.simhashSig(col("__tb")) *
              lit(1L << 30)).as("sig"))
      val chunked = sigs.select(col("doc_id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(2)), i =>
          call_function("shiftright", col("sig"),
            (i * 20).cast("int")).bitwiseAND(lit(0xFFFFFL))))
          .as(Seq("cpos", "chunk")))
      val a = chunked.select(col("cpos"), col("chunk"),
        col("doc_id").as("id_a"), col("sig").as("sig_a"))
      val b = chunked.select(col("cpos"), col("chunk"),
        col("doc_id").as("id_b"), col("sig").as("sig_b"))
      a.join(b, Seq("cpos", "chunk"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long")
            .as("hamming"))
        .dropDuplicates("id_a", "id_b")
        .filter(col("hamming") <= 2)
    }),

    "q80_cosine_pairs" -> ((s, dir) => {
      // Brute-force embedding near-dup pairs, oracle-checked: the exact
      // verify math of q30 without the (seeded, un-replayable) hyperplane
      // candidate filter. vec_id < 200 bounds the quadratic pair space;
      // 0.3 matches q30 (driver vectors are near-orthogonal).
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 200)
      graft.ops.Dedup.embeddingNearDupsExact(emb, "vec_id", "embedding",
          threshold = 0.3)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
    }),

    "q98_semantic_dedup" -> ((s, dir) => {
      // SemDeDup (arXiv:2303.09540): embedding-cosine pair graph →
      // connected components → min-id survivor per component. Exact pair
      // route (q80's math) so DuckDB replays it; production uses the
      // hyperplane-bucketed discovery (q30) with identical downstream
      // clustering. vec_id < 200 bounds the quadratic exact path.
      val emb = t(s, dir, "embeddings").filter(col("vec_id") < 200)
      graft.ops.Dedup.semanticDedup(emb, "vec_id", "embedding",
          threshold = 0.3, exact = true)
        .select(col("vec_id"))
    }),

    "q81_unified_offsets" -> ((s, dir) => {
      // Unified vocab offsets with TWO dynamic measurements (reference
      // event_stream_pytorch_dataset.py:124-153): event_type pinned at
      // measurement idx 1 / offset 1, the props-key vocabulary as the
      // next contiguous block (block sizes include the per-vocab UNK
      // slot). q18 exercises only the pinned offset-1 block; this
      // hash-checks the offset table itself through the sequence builder.
      val d = dsRaw(s, dir)
      val raw = t(s, dir, "events")
      val props = EventDataset.propsToMeasurements(raw)
      val vET = Vocabulary.fitLocal(d.events, "event_type")
      val vPK = Vocabulary.fitLocal(props, "key")
      val offs = BatchBuilder.buildOffsets(Seq(
        ("event_type", vET.count()), ("props", vPK.count())))
        .map(o => o.measurement -> o).toMap
      val oET = offs("event_type")
      val oPK = offs("props")
      val itemsET = Vocabulary.lookup(d.measurements, "key", vET, "vidx")
        .select(col("event_id"),
          (col("vidx") + oET.offset).as("unified_idx"), col("value"),
          lit(oET.measurementIdx.toLong).as("measurement_idx"))
      val itemsPK = Vocabulary.lookup(props, "key", vPK, "vidx")
        .select(col("event_id"),
          (col("vidx") + oPK.offset).as("unified_idx"), col("value"),
          lit(oPK.measurementIdx.toLong).as("measurement_idx"))
      BatchBuilder.subjectSequences(d.events,
          itemsET.unionByName(itemsPK))
        .select(col("subject_id"),
          size(flatten(col("dynamic_indices"))).as("n_items"),
          aggregate(flatten(col("dynamic_indices")), lit(0L),
            (a, x) => a + x).as("sum_uidx"),
          aggregate(flatten(col("dynamic_measurement_indices")), lit(0L),
            (a, x) => a + x).as("sum_midx"))
    }),

    "q100_bpe_pairs" -> ((s, dir) => {
      // BPE tokenizer-fit round-1 statistics (Sennrich et al., ACL 2016,
      // arXiv:1508.07909): distinct-word compression (corpus collapses
      // to the word-frequency table before any per-character work) then
      // adjacent character-pair counts weighted by word frequency — the
      // argmax input of Bpe.fit.
      graft.ops.Bpe.pairCounts(
        graft.ops.Bpe.initialSymbols(t(s, dir, "documents"), "text"))
        .select(col("s1"), col("s2"), col("c"))
    }),

    "q101_bpe_merge" -> ((s, dir) => {
      // One full Bpe.fit iteration: corpus argmax pair (count desc, then
      // lexicographic tiebreak), greedy-leftmost merge via gaps-and-
      // islands, re-densified symbol table. The 1-row argmax collect is
      // the documented per-round driver scalar of the BPE fit loop
      // (Bpe.scala header); everything else is windows + joins.
      val syms = graft.ops.Bpe
        .initialSymbols(t(s, dir, "documents"), "text")
        .localCheckpoint(true)
      val top = graft.ops.Bpe.pairCounts(syms)
        .orderBy(desc("c"), asc("s1"), asc("s2")).limit(1).collect()(0)
      graft.ops.Bpe.mergeStep(syms, top.getString(0), top.getString(1))
        .select(col("w"), col("freq"), col("i").cast("long").as("i"),
          col("sym"))
    }),

    "q102_cms_heavy" -> ((s, dir) => {
      // Count-Min sketch heavy hitters (Cormode & Muthukrishnan, 2005):
      // one-pass 4×2048 token-frequency grid via a native
      // TypedImperativeAggregate — constant 64 KB merge state, so the
      // exchange carries one buffer per partition, never a token row —
      // probed for the top-50 exact terms. Replayable poly-hash rows
      // (the q78/q79 family over ASCII-projected lowercased text) let
      // DuckDB rebuild the grid bit-for-bit; est ≥ exact by
      // construction.
      val docs = t(s, dir, "documents").select(
        lower(regexp_replace(col("text"), "[^\\x20-\\x7e]", ""))
          .as("text"))
      graft.ops.Sketch.heavyHitters(docs, "text", k = 50)
    }),

    "q103_dsir" -> ((s, dir) => {
      // DSIR importance resampling (Xie et al., arXiv:2302.03169):
      // hashed unigram+bigram bucket log-likelihood-ratio weights fit
      // with target = the English fold and raw = the whole corpus,
      // scored per doc, deterministic top-100 by (round-6 logw desc,
      // doc_id). Replayable feature hashes → DuckDB replays fit+score.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        lower(regexp_replace(col("text"), "[^\\x20-\\x7e]", ""))
          .as("text"))
      graft.ops.Dsir.resample(docs, docs.filter(col("lang") === "en"),
        "doc_id", "text", k = 100)
    }),

    "q104_bloom_decontam" -> ((s, dir) => {
      // Two-stage decontamination: eval 5-grams collapse into a
      // counting-Bloom grid (CMS whole-string mode, 4×2^17 — constant
      // size however large the eval suite), train grams probe the
      // broadcast grid, exact gram verify only on bloom survivors.
      // Contrast q90's broadcast-set join, whose broadcast grows with
      // the eval suite. Eval fold = doc_id%7==0 (as q90).
      val docs = t(s, dir, "documents").select(col("doc_id"),
        lower(regexp_replace(col("text"), "[^\\x20-\\x7e]", ""))
          .as("text"))
      graft.ops.Sketch.bloomDecontaminate(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0),
        "doc_id", "text", n = 5)
        .select(col("id").as("doc_id"), col("n_bloom"), col("n_matched"))
    }),

    "q105_bloom_prod" -> ((s, dir) => {
      // Production-family bloom decontamination: full-gram xxhash64
      // grid rows — no prefix cap, so no shared-prefix false positives.
      // Engine-seeded hashes aren't portable → rows-only; q104 is the
      // oracle-checked replayable twin through the same operator code.
      val docs = t(s, dir, "documents")
      graft.ops.Sketch.bloomDecontaminate(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0),
        "doc_id", "text", n = 5, replayable = false)
        .select(col("id").as("doc_id"), col("n_bloom"),
          col("n_matched"))
    }),

    "q106_doc_chunks" -> ((s, dir) => {
      // Long-doc context-window chunking with stride (HF
      // return_overflowing_tokens idiom): 64-token windows, stride 48
      // (16-token overlap). Narrow — one sequence() explode, zero
      // shuffles at any corpus size.
      val docs = t(s, dir, "documents")
        .withColumn("n_tok", TextOps.tokenCount(col("text")))
      graft.serve.Packing.chunkDocs(docs, "doc_id", "n_tok",
          maxLen = 64, stride = 48)
        .select(col("id").as("doc_id"), col("chunk_idx"),
          col("tok_start"), col("tok_end"), col("n_chunk_tok"))
    }),

    "q107_linear_count" -> ((s, dir) => {
      // Linear-probabilistic distinct counting (Whang et al. 1990):
      // per-lang distinct-token estimates from m=1024 bucket occupancy,
      // replayable poly-hash buckets; exact distinct alongside for
      // grading. q158 is the HLL sibling (register state, unbounded
      // range).
      val docs = t(s, dir, "documents").select(col("lang"),
        lower(regexp_replace(col("text"), "[^\\x20-\\x7e]", ""))
          .as("text"))
      val tok = docs.select(col("lang"),
          explode(split(trim(col("text")), "\\s+")).as("term"))
        .filter(col("term") =!= "")
      val lc = graft.ops.Sketch.linearCountDistinct(tok, "lang", "term",
        m = 1024)
      val ex = tok.groupBy("lang")
        .agg(countDistinct(col("term")).as("exact_distinct"))
      lc.join(ex, lc("grp") === ex("lang"))
        .select(col("lang"), col("occupied"), col("est_distinct"),
          col("exact_distinct"))
    }),

    "q108_cdc_dedup" -> ((s, dir) => {
      // Content-defined chunking + corpus-wide chunk dedup: rolling
      // 8-gram hash ≡ 0 (mod 64) cuts (expected chunk ≈ 64 chars,
      // insertion-robust boundaries), then dedupUnits keeps each
      // distinct chunk's first (doc_id, start) occurrence. Per-doc
      // stats so the oracle compares chunking AND dedup outcomes.
      val docs = t(s, dir, "documents").select(col("doc_id"),
        lower(regexp_replace(col("text"), "[^\\x20-\\x7e]", ""))
          .as("text"))
      val ch = Dedup.cdcChunks(docs, "doc_id", "text", k = 8,
        divisor = 64).localCheckpoint(true)
      val kept = Dedup.dedupUnits(ch, "id", "chunk_start", "chunk")
      ch.groupBy("id")
        .agg(count(lit(1)).as("n_chunks"))
        .join(kept.groupBy("id")
          .agg(count(lit(1)).as("n_kept"),
            sum(length(col("chunk"))).as("kept_chars")),
          Seq("id"), "left")
        .select(col("id").as("doc_id"), col("n_chunks"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_chars"), lit(0L)).as("kept_chars"))
    }),

    "q109_gopher_filter" -> ((s, dir) => {
      // Gopher filter recipe (arXiv:2112.11446 table A1, adapted):
      // per-rule booleans + the keep conjunction for every doc. All
      // thresholds compare exact integer-ratio doubles, so the flags
      // are engine-portable without rounding.
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.gopherFilter(col("text")).as("g"))
        .select(col("doc_id"), col("g.ok_n_tokens"),
          col("g.ok_mean_word_len"), col("g.ok_stopwords"),
          col("g.ok_punct"), col("g.ok_top_bigram"),
          col("g.ok_dup_trigram"), col("g.keep"))
    }),

    "q110_kn_bigram" -> ((s, dir) => {
      // Interpolated Kneser-Ney bigram scoring (the KenLM-grade
      // smoothing; q96 is the add-k baseline): absolute discounting
      // δ=0.75 interpolated with the continuation distribution
      // (add-γ=0.5 floored). Self-scoring fit, as q96.
      val docs = t(s, dir, "documents")
      TextOps.knBigramLogProb(docs, docs, "doc_id", "text")
        .select(col("doc_id"), col("n_transitions"),
          round(col("avg_logprob"), 6).as("avg_logprob"))
    }),

    "q111_tfidf_embed" -> ((s, dir) => {
      // In-engine doc embeddings: ±1 random projection of the tf-idf
      // vector (Achlioptas JL), md5-parity signs as a vocab-sized
      // broadcast table. Output feeds the cosine/ANN/SemDeDup stack
      // without an external embedding model.
      TextOps.tfidfEmbed(t(s, dir, "documents"), "doc_id", "text",
        dims = 16)
    }),

    "q112_embed_semdedup" -> ((s, dir) => {
      // The loop closed end-to-end IN-ENGINE: text → tf-idf JL
      // embedding (q111) → exact cosine near-dup pairs (q80 math) —
      // semantic dup discovery with no external embedding model.
      // doc_id < 600 bounds the quadratic exact route (production
      // would hyperplane-bucket the discovery, q30).
      val emb = TextOps.tfidfEmbed(
          t(s, dir, "documents").filter(col("doc_id") < 600),
          "doc_id", "text", dims = 16)
        .select(col("doc_id"),
          array((0 until 16).map(d => col(s"v$d")): _*).as("emb"))
      Dedup.embeddingNearDupsExact(emb, "doc_id", "emb",
          threshold = 0.95)
        .select(col("id_a"), col("id_b"),
          round(col("cos"), 6).as("cos"))
    }),

    "q113_gif_frames" -> ((s, dir) => {
      // REAL video-frame sampling: 6-frame animated GIFs written and
      // read through the JDK ImageIO sequence codec, every 2nd frame
      // decoded to its mean gray level. The 8-level rasters palettize
      // losslessly, so the oracle replays the formula — a codec defect
      // anywhere breaks the hash (q84/q86 discipline; q31 counts
      // frames of variable-length containers through the same codec).
      val gifs = graft.ops.Multimodal.synthesizeGifs(
        t(s, dir, "documents"), "doc_id", nFrames = 6)
      graft.ops.Multimodal.sampleGifFrames(gifs, stride = 2)
        .select(col("media_id"), col("frame_idx"), col("width"),
          col("height"), col("mean_gray"))
    }),

    "q114_curriculum" -> ((s, dir) => {
      // Curriculum/annealing order: decile-bucket every doc by its KN
      // LM quality — thresholds from ONE small exact-percentile
      // aggregate broadcast back (no ntile, no global window), bucket
      // = 1 + #thresholds strictly below, then a replayable md5 order
      // key within bucket. A loader sorts by (bucket, okey) to anneal
      // toward high-quality data. At 100 TB the exact percentile
      // swaps for the rounded-score frequency-weighted form
      // (NumericKernel's quantile idiom) without changing the plan
      // shape.
      val docs = t(s, dir, "documents")
      val scored = TextOps.knBigramLogProb(docs, docs, "doc_id", "text")
        .select(col("doc_id"), round(col("avg_logprob"), 6).as("logw"))
        .localCheckpoint(true) // threshold agg + final projection
      val th = scored.agg(expr(
        "percentile(logw, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
        .as("ths"))
      scored.crossJoin(broadcast(th))
        .select(col("doc_id"), col("logw"),
          (lit(1) + expr("aggregate(ths, 0, (a, t) -> " +
            "a + (CASE WHEN logw > t THEN 1 ELSE 0 END))"))
            .cast("int").as("bucket"),
          md5(concat(col("doc_id").cast("string"), lit(":curr17")))
            .as("okey"))
    }),

    "q115_bm25_search" -> ((s, dir) => {
      // Retrieval: top-20 docs for a 3-term query by summed BM25. The
      // term filter prunes the inverted-index build to the query's
      // vocabulary before any join.
      TextOps.bm25Search(t(s, dir, "documents"), "doc_id", "text",
        query = "join hash filter", k = 20)
        .select(col("doc_id"), col("n_hit"), col("score"))
    }),

    "q116_containment" -> ((s, dir) => {
      // Directed containment pairs (Broder SEQUENCES'97): the
      // asymmetric dup relation symmetric Jaccard misses — a short doc
      // quoted in a long one. q58's winnow posting shape + per-doc
      // fingerprint-set sizes; threshold 0.15 (this corpus's near-dups
      // share winnow fps only partially under the posting cap; max
      // observed containment 0.25 at sf0.01).
      Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
        k = 8, w = 16, threshold = 0.15, maxPostingSize = 5)
    }),

    "q117_normalize" -> ((s, dir) => {
      // Canonical text normalization (C4/CCNet cleanup): control-char
      // strip, ASCII projection, whitespace collapse, trim, lowercase
      // — with the removed-char count as the cleanup audit signal.
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.normalize(col("text")).as("norm_text"),
          length(col("text")).as("__raw_len"))
        .select(col("doc_id"), col("norm_text"),
          (col("__raw_len") - length(col("norm_text")))
            .cast("long").as("n_removed"))
    }),

    "q118_running_stats" -> ((s, dir) => {
      // Batch twin of StreamOps.runningSubjectStats (the q45 twin
      // discipline applied to mapGroupsWithState): in batch execution
      // the SAME stateful lambda runs once per group with no prior
      // state, so its output equals the stream's FINAL per-subject
      // update. n_events/last_ts are order-free; the Welford mean is
      // FP-order-sensitive AND means of 2-dp values sit exactly on
      // rounding boundaries (51.8346875 at sf0.01), so the hash column
      // is the mean RE-MULTIPLIED by n — bijective given n_events,
      // lands on the exact 2-dp sum, and any Welford defect > 1e-9
      // still breaks it.
      import s.implicits._
      val ev = t(s, dir, "events")
        .select(col("user_id").as("subject_id"),
          date_trunc("second", col("ts")).as("timestamp"),
          col("event_type"), col("value").cast("double").as("value"))
        .as[graft.streaming.StreamOps.SubjectEvent]
      graft.streaming.StreamOps.runningSubjectStats(ev).toDF()
        .select(col("subject_id"), col("n_events"), col("last_ts"),
          round(col("mean_value") * col("n_events"), 6).as("sum_value"))
    }),

    "q119_closed_sessions" -> ((s, dir) => {
      // Batch twin of StreamOps.closedSessions (flatMapGroupsWithState):
      // one whole-group invocation sorts by event time and emits every
      // session CLOSED by a later event's strict >gap delta — the final
      // session per subject stays open in state and is NOT emitted,
      // exactly the streaming Append contract. Same 30-minute gap and
      // strict-inequality semantics as q45's session_window; the oracle
      // replays the gap walk and drops each subject's last session.
      import s.implicits._
      val ev = t(s, dir, "events")
        .select(col("user_id").as("subject_id"),
          date_trunc("second", col("ts")).as("timestamp"),
          col("event_type"), col("value").cast("double").as("value"))
        .as[graft.streaming.StreamOps.SubjectEvent]
      graft.streaming.StreamOps.closedSessions(ev, gapMs = 30L * 60 * 1000)
        .toDF()
        .select(col("subject_id"),
          (col("sess_start") / 1000).cast("long").as("sess_start"),
          (col("sess_end") / 1000).cast("long").as("sess_end"),
          col("n_events"), round(col("sum_value"), 6).as("sum_value"))
    }),

    "q124_weighted_sample" -> ((s, dir) => {
      // Weighted sampling WITHOUT replacement (Efraimidis-Spirakis
      // A-ES): 100 docs with probability ∝ n_chars via the
      // md5-replayable draw u = (hex12(md5(id:seed)) + 1)/2^48, key
      // ln(u)/w, top-k by key — the data-mixing primitive ("10k docs
      // ∝ quality") as one narrow pass + TakeOrdered.
      graft.ops.Sampling.weightedSampleK(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", k = 100, seed = 7)
        .select(col("doc_id"), col("n_chars"),
          round(col("__es_key"), 9).as("es_key"))
    }),

    "q125_url_canonical" -> ((s, dir) => {
      // URL hygiene (C4/RefinedWeb stage 1): deterministic synthesized
      // URLs exercise every canonicalization rule (scheme case, www,
      // query, fragment, trailing slash), then registered-domain
      // extraction and a broadcast blocklist anti-join. The full
      // canonical string is hash-checked.
      val urls = t(s, dir, "documents").select(col("doc_id"),
        concat(
          when(col("doc_id") % 3 === 0, lit("HTTPS://WWW."))
            .when(col("doc_id") % 3 === 1, lit("http://"))
            .otherwise(lit("https://")),
          lit("w"), (col("doc_id") % 40).cast("string"), lit("."),
          col("source"),
          when(col("doc_id") % 2 === 0, lit(".com")).otherwise(lit(".org")),
          lit("/a/"), (col("doc_id") % 300).cast("string"),
          when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit("?utm_source=x&id="), col("doc_id").cast("string")))
            .otherwise(lit("")),
          when(col("doc_id") % 7 === 0, lit("#frag")).otherwise(lit("")))
          .as("url"))
      graft.ops.UrlOps.filterBlockedDomains(urls, "url",
          Seq("src3.com", "src7.org"))
        .select(col("doc_id"), col("canonical_url"), col("domain"))
    }),

    "q127_psl_domain" -> ((s, dir) => {
      // PSL-aware registered-domain extraction (crawl-key correctness:
      // bbc.co.uk must key as bbc.co.uk, never co.uk): synthesized
      // hosts cover 2-label ccTLD suffixes, a 3-label private-registry
      // rule, deeper subdomains, host-IS-suffix (null), single-label
      // (null), unlisted-TLD fallback, and the wildcard/exception
      // algebra (*.ck / !www.ck). Two broadcast joins + two tiny isin
      // predicates, zero corpus shuffle; the oracle replays the
      // prevailing-rule walk over the same rule lists.
      val m6 = col("doc_id") % 6
      val num = (col("doc_id") % 50).cast("string")
      val base =
        when(m6 === 0, concat(lit("site"), num, lit(".co.uk")))
          .when(m6 === 1, concat(lit("shop"), num, lit(".com.au")))
          .when(m6 === 2, concat(lit("example"), num, lit(".com")))
          .when(m6 === 3, concat(lit("blog"), num,
            lit(".blogspot.co.uk")))
          .when(m6 === 4, concat(lit("app"), num, lit(".github.io")))
          .otherwise(concat(lit("host"), num, lit(".org")))
      val host =
        when(col("doc_id") % 31 === 0, lit("co.uk"))
          .when(col("doc_id") % 37 === 0, lit("blogspot.co.uk"))
          .when(col("doc_id") % 41 === 0, lit("uk"))
          .when(col("doc_id") % 43 === 0, lit("www.ck"))
          .when(col("doc_id") % 47 === 0, lit("sub.www.ck"))
          .when(col("doc_id") % 53 === 0,
            concat(lit("shop.zone"), (col("doc_id") % 9).cast("string"),
              lit(".ck")))
          .when(col("doc_id") % 59 === 0,
            concat(lit("zone"), (col("doc_id") % 9).cast("string"),
              lit(".ck")))
          .otherwise(concat(
            when(col("doc_id") % 4 === 0, lit("news."))
              .otherwise(lit("")), base))
      val hosts = t(s, dir, "documents")
        .select(col("doc_id"), host.as("host"))
      graft.ops.UrlOps.withRegisteredDomain(hosts, "host")
        .select(col("doc_id"), col("host"), col("registered_domain"))
    }),

    "q128_windowed_stream" -> ((s, dir) => {
      // Batch-mode execution of the ACTUAL StreamOps.windowedTypeStats
      // (q118 discipline: the EventTimeWatermark node is eliminated on a
      // batch input, everything else — window bucketing, the per-type
      // aggregate — runs verbatim). FP-order-sensitive avg hashes as
      // avg·n (the q118 re-multiplication trick: lands on the 2-dp sum).
      val ev = t(s, dir, "events").select(
        date_trunc("second", col("ts")).as("timestamp"),
        col("event_type"), col("value").cast("double").as("value"))
      graft.streaming.StreamOps.windowedTypeStats(ev, "1 day")
        .select(unix_timestamp(col("win_start")).as("win_start"),
          unix_timestamp(col("win_end")).as("win_end"),
          col("event_type"), col("n"),
          round(col("avg_value") * col("n"), 6).as("sum_value"))
    }),

    "q129_dedup_stream" -> ((s, dir) => {
      // REAL streaming execution of StreamOps.dedupStream (Spark
      // rejects dropDuplicatesWithinWatermark on batch inputs, so this
      // row runs the genuine article): stage the docs as parquet, read
      // them back as a file-source STREAM, dedup, drain with an
      // AvailableNow trigger into a memory sink, and return the sink.
      // Determinism by construction: (a) every projected column is a
      // pure function of the NORMALIZED content, so arrival-order
      // survivor choice cannot reach the hash; (b) event time is a
      // constant, so the watermark never passes any key's horizon and
      // within-watermark dedup IS exact global dedup regardless of how
      // AvailableNow slices micro-batches.
      val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
      val docs = t(s, dir, "documents").select(
        norm.as("text"),
        timestamp_seconds(lit(1700000000L)).as("ts"))
      val tmp = java.nio.file.Files.createTempDirectory("graft-q129")
        .toString
      docs.write.mode("overwrite").parquet(tmp)
      val stream = s.readStream.schema(docs.schema).parquet(tmp)
      val sink = "q129_sink_" + java.util.UUID.randomUUID()
        .toString.replace("-", "")
      val sq = graft.streaming.StreamOps.dedupStream(stream, "text", "ts")
        .writeStream.format("memory").queryName(sink)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      sq.awaitTermination()
      s.table(sink).select(col("text"))
    }),

    "q130_stream_interval_join" -> ((s, dir) => {
      // Batch-mode execution of the ACTUAL StreamOps.taskWindowsStream:
      // the stream-stream interval join's predicate — INCLUDING the
      // maxTaskWindow state-eviction bound — runs verbatim on batch
      // input. Task spans vary 7..20 days against a 14-day bound, so
      // BOTH the end_time predicate (short tasks) and the truncation
      // bound (long tasks — the documented divergence from batch
      // taskWindows) decide rows; subject spans are 26-30 days, so the
      // bound genuinely drops events.
      val ev = dsSec(s, dir).events
        .select(col("subject_id"), col("timestamp"), col("event_type"))
      val tasks = ev.groupBy(col("subject_id").as("task_subject_id"))
        .agg(min(col("timestamp")).as("start_time"))
        .withColumn("end_time", col("start_time") +
          expr("make_dt_interval(CAST(7 + task_subject_id % 14 AS INT)," +
            " 0, 0, 0)"))
      graft.streaming.StreamOps.taskWindowsStream(ev, tasks,
          maxTaskWindow = "14 days")
        .groupBy(col("task_subject_id").as("subject_id"))
        .agg(count(lit(1)).as("n_in_window"),
          unix_timestamp(max(col("timestamp"))).as("last_ts_sec"))
    }),

    "q131_pq_adc" -> ((s, dir) => {
      // Product-quantization ADC scan (Jégou et al. TPAMI 2011 — the
      // 100 TB ANN memory path: m=4 one-byte codes replace 64 floats).
      // The q126 twin discipline: Lloyd's codebook FIT isn't
      // SQL-replayable, but everything PQ DOES — per-subspace argmin
      // encode, per-query LUT build, ADC distance Σ_s lut[codes[s]],
      // rank — is pure relational algebra over whatever codebook table
      // exists. A LITERAL dyadic-rational codebook drives the same
      // pqEncode/pqAdcTopK production code a fitPqCodebooks table
      // would; the oracle replays encode + LUT + rank with ordered
      // sums, so every FP accumulation is bit-portable.
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_vec"))
      val cb = s.range(32)
        .select(expr("CAST(id div 8 AS INT)").as("subspace"),
          expr("CAST(id % 8 AS INT)").as("code"))
        .select(col("subspace"), col("code"),
          expr("transform(sequence(0, 15), i -> CAST((subspace * 131 +" +
            " code * 31 + i * 7) % 17 - 8 AS DOUBLE) / 8.0)").as("c_vec"))
      Similarity.pqAdcTopK(emb, queries, "vec_id", "embedding",
          "q_vec_id", "q_vec", cb, k = 5)
        .select(col("q_vec_id"), col("vec_id"), col("rank"),
          round(col("adc"), 6).as("adc"))
    }),

    "q132_int8_ann" -> ((s, dir) => {
      // Int8 scalar-quantized ANN (the 4× embedding-compression every
      // vector store ships): per-vector max-abs scaling via the
      // rounding-mode-free floor(x·127/maxabs + 0.5), then cosine over
      // the integer codes — scales cancel, the integer dot/norm sums
      // are EXACT in doubles, and the oracle replays the whole scan
      // bit-for-bit (explicit dot/√na·√nb mirror of the native
      // CosineSimilarity, not an engine builtin).
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_vec"))
      Similarity.int8TopK(emb, queries, "vec_id", "embedding",
          "q_vec_id", "q_vec", k = 5)
        .select(col("q_vec_id"), col("vec_id"), col("rank"),
          round(col("cos"), 6).as("qcos"))
    }),

    "q133_html_extract" -> ((s, dir) => {
      // HTML → text extraction (Common Crawl WARC→WET / C4 §2.1 — the
      // stage-0 every web-corpus pipeline runs before any other text
      // operator here). Documents are wrapped in a deterministic HTML
      // shell exercising every rule: script/style ELEMENT drop (incl.
      // `<` `&&` `>` inside code), comment drop (incl. nested tags),
      // tag strip, all six entity decodes with `&amp;amp;` proving the
      // single-pass decode order, whitespace collapse. The FULL
      // extracted string is hash-checked against the same RE2 chain
      // replayed in the oracle.
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title><style type=\"text/css\"> p { color: #a0b1c2; } " +
          "</style><script>if (a < b && c > 1) { emit(\"x&y\"); }" +
          "</script><!-- hidden <b>comment</b> --></head><body><h1>"),
        col("lang"), lit("</h1><p>"), col("text"),
        lit("</p><div class=\"f\">footer &amp;amp; &lt;tag&gt; " +
          "&#39;q&#39;&nbsp;end</div></body></html>"))
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.extractHtmlText(html)
          .as("extracted"))
        .select(col("doc_id"), col("extracted"),
          length(col("extracted")).cast("long").as("n_ext"))
    }),

    "q134_ivfpq_ann" -> ((s, dir) => {
      // IVF-PQ composed (the FAISS IVFPQ layout, flat-encoding
      // variant): the q126 literal centroid table bounds the scan to
      // nProbe=2 coarse cells per query, the q131 literal dyadic
      // codebook supplies the ADC geometry inside them. Exercises the
      // full production composition — zero-exchange NearestCentroids
      // assignment on both sides, PqEncode codes joined against PqLut
      // tables on the cell equi-join key, k-bounded rank — with both
      // model tables replayable, so the oracle replays assignment,
      // probing, encode, LUT, ADC ordered-sum and rank end to end.
      // Only the two Lloyd's FITs stay un-replayable (q50/q131 rows
      // cover those production paths).
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_vec"))
      val cents = s.range(8).select(col("id").as("centroid_id"),
        expr("transform(sequence(0, 63)," +
          " i -> CAST((id * 31 + i * 7) % 17 - 8 AS DOUBLE) / 8.0)")
          .as("c_vec"))
      val cb = s.range(32)
        .select(expr("CAST(id div 8 AS INT)").as("subspace"),
          expr("CAST(id % 8 AS INT)").as("code"))
        .select(col("subspace"), col("code"),
          expr("transform(sequence(0, 15), i -> CAST((subspace * 131 +" +
            " code * 31 + i * 7) % 17 - 8 AS DOUBLE) / 8.0)").as("c_vec"))
      Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding",
          "q_vec_id", "q_vec", cents, cb, k = 5, nProbe = 2)
        .select(col("q_vec_id"), col("vec_id"), col("rank"),
          round(col("adc"), 6).as("adc"))
    }),

    "q232_ivfpq_residual" -> ((s, dir) => {
      // The FULL FAISS IVFPQ (residual variant, closing q134's
      // documented gap): codes quantize x − centroid(x), so one
      // model-sized codebook serves every cell; the query side builds
      // one ADC LUT per PROBED cell (LUT of q − c). Same literal
      // dyadic centroid/codebook tables as q126/q134, so assignment,
      // residual subtraction, encode, per-cell LUT, ADC ordered-sum
      // and rank ALL replay in the oracle.
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_vec"))
      val cents = s.range(8).select(col("id").as("centroid_id"),
        expr("transform(sequence(0, 63)," +
          " i -> CAST((id * 31 + i * 7) % 17 - 8 AS DOUBLE) / 8.0)")
          .as("c_vec"))
      val cb = s.range(32)
        .select(expr("CAST(id div 8 AS INT)").as("subspace"),
          expr("CAST(id % 8 AS INT)").as("code"))
        .select(col("subspace"), col("code"),
          expr("transform(sequence(0, 15), i -> CAST((subspace * 131 +" +
            " code * 31 + i * 7) % 17 - 8 AS DOUBLE) / 8.0)").as("c_vec"))
      Similarity.ivfPqResidualTopK(emb, queries, "vec_id", "embedding",
          "q_vec_id", "q_vec", cents, cb, k = 5, nProbe = 2)
        .select(col("q_vec_id"), col("vec_id"), col("rank"),
          round(col("adc"), 6).as("adc"))
    }),

    "q233_ivfpq_refine" -> ((s, dir) => {
      // Exact re-rank refinement (the FAISS refine stage): q232's
      // residual-ADC top-20 candidates per query, true vectors joined
      // back for those ≤ 20·|queries| rows only, exact cosine re-rank
      // to top-5 — repairs the ADC quantization error at
      // corpus-size-independent cost.
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_vec"))
      val cents = s.range(8).select(col("id").as("centroid_id"),
        expr("transform(sequence(0, 63)," +
          " i -> CAST((id * 31 + i * 7) % 17 - 8 AS DOUBLE) / 8.0)")
          .as("c_vec"))
      val cb = s.range(32)
        .select(expr("CAST(id div 8 AS INT)").as("subspace"),
          expr("CAST(id % 8 AS INT)").as("code"))
        .select(col("subspace"), col("code"),
          expr("transform(sequence(0, 15), i -> CAST((subspace * 131 +" +
            " code * 31 + i * 7) % 17 - 8 AS DOUBLE) / 8.0)").as("c_vec"))
      val cand = Similarity.ivfPqResidualTopK(emb, queries,
        "vec_id", "embedding", "q_vec_id", "q_vec", cents, cb,
        k = 20, nProbe = 2)
      Similarity.refineTopK(cand, emb, queries, "vec_id", "embedding",
          "q_vec_id", "q_vec", k = 5)
        .select(col("q_vec_id"), col("vec_id"), col("rank"),
          round(col("cos"), 6).as("cos"))
    }),

    "q120_save_load" -> ((s, dir) => {
      // Save/load round-trip as a contract row (EventDataset.save/load —
      // plain splittable parquet with params-as-data, vs the reference's
      // dill pickle of the whole object, event_stream_dataset.py:42-44):
      // persist the ingested dataset to a scratch dir, re-open it COLD,
      // and prove the reloaded events answer q01's ingest oracle
      // bit-for-bit.
      val tmp = java.nio.file.Files.createTempDirectory("graft-q120")
        .toString
      EventDataset.save(dsRaw(s, dir), tmp)
      EventDataset.load(s, tmp).events
        .select(col("event_id"), col("subject_id"),
          unix_timestamp(col("timestamp")).as("ts_sec"), col("event_type"))
    }),

    "q121_inf_null" -> ((s, dir) => {
      // ±inf/NaN → null normalization
      // (event_stream_pytorch_dataset.py:370-376) through a synthetic
      // poisoning: event_id mod 7 plants +inf / −inf / NaN; the kernel
      // must null exactly those and pass everything else untouched.
      val poisoned = t(s, dir, "events").select(col("event_id"),
        when(col("event_id") % 7 === 0, lit(Double.PositiveInfinity))
          .when(col("event_id") % 7 === 1, lit(Double.NegativeInfinity))
          .when(col("event_id") % 7 === 2, lit(Double.NaN))
          .otherwise(col("value")).as("v"))
      poisoned.select(col("event_id"),
        NumericKernel.nanInfToNull(col("v")).as("v_clean"))
    }),

    "q122_nested_vocab" -> ((s, dir) => {
      // Nested (array-cell) vocabulary counting (vocabulary.py:114-123:
      // lists inside cells flatten while counting, null cells skipped):
      // token ARRAYS are the observation cells; fitNested explodes and
      // counts with the same (n desc, element) ranking + UNK pinning
      // as the scalar fit (q09).
      val cells = t(s, dir, "documents")
        .select(when(trim(col("text")) === "", lit(null))
          .otherwise(split(trim(lower(col("text"))), "\\s+")).as("toks"))
      Vocabulary.fitNested(cells, "toks")
        .select(col("element"), col("n"), col("idx"),
          round(col("freq"), 9).as("freq"))
    }),

    "q123_static_indices" -> ((s, dir) => {
      // withStaticIndices (event_stream_pytorch_dataset.py:411-442): two
      // declared static measurements per subject (synthetic group/region
      // labels derived from subject_id), each looked up in its fitted
      // vocabulary (UNK 0 default) and shifted by its unified-vocab
      // offset; the companion array carries the measurement index.
      val ev = t(s, dir, "events")
      val subjects = ev.select(col("user_id").as("subject_id")).distinct()
        .select(col("subject_id"),
          concat(lit("g"), (col("subject_id") % 3).cast("string"))
            .as("grp"),
          concat(lit("r"), (col("subject_id") % 5).cast("string"))
            .as("reg"))
      val gv = Vocabulary.fit(subjects, "grp")
      val rv = Vocabulary.fit(subjects, "reg")
      val statics = Seq(
        ("grp", gv, BatchBuilder.MeasurementOffset("grp", 1, 10L, 4L)),
        ("reg", rv, BatchBuilder.MeasurementOffset("reg", 2, 14L, 6L)))
      val seqs = ev.groupBy(col("user_id").as("subject_id"))
        .agg(count(lit(1)).as("n_events"))
      BatchBuilder.withStaticIndices(seqs, subjects, statics)
        .select(col("subject_id"), col("n_events"),
          col("static_measurement_indices").as("__mi"),
          posexplode(col("static_indices")))
        .select(col("subject_id"), col("n_events"),
          col("pos").cast("int").as("pos"), col("col").as("sidx"),
          element_at(col("__mi"), col("pos") + 1).as("midx"))
    }))

  /** q82/q83's replayable hyperplane family — the q75/q78/q79 twin
    * discipline applied to the ANN bucketing: ±1 plane components come
    * from md5 hex-char parity over "plane:dim" strings (identical in any
    * engine with md5), and the dot product runs over integer-quantized
    * components (round(x·10⁶) as BIGINT — exact integer sums, no
    * FP-ordering divergence), so the bucket assignment is bit-replayable
    * in DuckDB. q49/q50/q72 stay the production seeded-xxhash64 paths
    * (rows-only); these twins hash-check the SAME lshTopK/recallAtK code
    * with only the bucket family swapped. */
  private object HyperplaneReplay {
    val nPlanes = 4
    val dim = 64
    /** sign(p,i) = +1 iff ascii of md5("p:i")'s first hex char is even. */
    lazy val signs: Array[Int] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(nPlanes * dim) { pi =>
        val p = pi / dim
        val i = pi % dim
        val d = md.digest(s"$p:$i".getBytes("UTF-8"))
        val hex0 = "%02x".format(d(0) & 0xff).charAt(0)
        if (hex0.toInt % 2 == 0) 1 else -1
      }
    }
    /** Bucket expression over a float-vector column: ONE native
      * expression carrying the 256 signs as an array field
      * (QuantizedSignBucket). The earlier flat element_at form built a
      * 256-term literal tree per call, which serialized into the
      * round-5 bench's 1.8 MiB task binaries. */
    def bucketCol(v: Column): Column =
      graft.expressions.VectorFunctions.quantizedSignBucket(
        v, signs.toSeq, nPlanes)
    /** DuckDB CTEs reproducing the bucket per vec_id (signs + dots + bk). */
    def oracleBucketCtes: String =
      s"""signs AS (
         |  SELECT p.g AS p, i.g AS i,
         |         CASE WHEN ascii(substr(md5(p.g || ':' || i.g), 1, 1))
         |                % 2 = 0 THEN 1 ELSE -1 END AS s
         |  FROM generate_series(0, ${nPlanes - 1}) p(g),
         |       generate_series(0, ${dim - 1}) i(g)),
         |dots AS (
         |  SELECT e.vec_id, s.p,
         |         sum(s.s * CAST(round(
         |           CAST(e.embedding[s.i + 1] AS DOUBLE) * 1000000)
         |           AS BIGINT)) AS dot
         |  FROM embeddings e, signs s GROUP BY 1, 2),
         |bk AS (
         |  SELECT vec_id,
         |         sum(CASE WHEN dot >= 0
         |             THEN 1 << (${nPlanes - 1} - p) ELSE 0 END) AS bucket
         |  FROM dots GROUP BY 1)""".stripMargin
  }

  /** q115/q241's shared BM25 chain over `documents` for the fixed
    * query terms (join, hash, filter): Okapi weights per (doc, term) —
    * ends with `w` (doc_id, bm25). */
  private object Bm25Replay {
    val chain: String =
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE length(trim(text)) > 0),
        |lens AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END
        |      AS DOUBLE) AS dl
        |  FROM d),
        |t AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM d),
        |tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM t GROUP BY 1, 2),
        |df AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |c AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avg_dl
        |  FROM lens),
        |w AS (
        |  SELECT tf.doc_id,
        |    ln(1.0 + (c.n_docs - df.df + 0.5) / (df.df + 0.5)) *
        |    (tf.tf * (1.2 + 1.0)) /
        |    (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * lens.dl / c.avg_dl))
        |      AS bm25
        |  FROM tf JOIN df USING (term) JOIN lens USING (doc_id), c
        |  WHERE term IN ('join', 'hash', 'filter'))""".stripMargin
  }

  /** q238/q239's shared Lloyd's replay chain: literal dyadic start,
    * three unrolled (assign → integer-lattice M-step) rounds — ends
    * with `a3` (third assignment) and `m3` (third M-step stats). */
  /** q246/q254's documents→clusters replay: md5 hash-embed (64-d,
    * seed 7, the q236 digit walk) → zero-filled dense pivot →
    * 2-iteration Lloyd's from the dyadic init (k=8) ending in the
    * `a3(doc_id, centroid_id)` assignment, with the dense vectors
    * available as `e(doc_id, embedding)`. ONE definition drives the
    * q246 Pipeline oracle and the q254 stage-2 curation oracle's
    * front half. */
  private object DocKmeansReplay {
    val chain: String =
      """toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |tt AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
        |h AS (SELECT doc_id,
        |        CAST(list_sum(list_transform(range(0, 4), i ->
        |          (strpos('0123456789abcdef',
        |             substr(md5(tok || ':7'), CAST(i + 1 AS INT), 1))
        |           - 1)
        |          * power(16.0, CAST(3 - i AS DOUBLE)))) AS BIGINT)
        |          % 64 AS d,
        |        CASE WHEN strpos('02468ace',
        |               substr(md5(tok || ':7'), 5, 1)) > 0
        |             THEN 1.0 ELSE -1.0 END AS sgn
        |      FROM tt),
        |s AS (SELECT doc_id, d, sum(sgn) AS v FROM h GROUP BY 1, 2),
        |n AS (SELECT doc_id, sqrt(sum(v * v)) AS nrm FROM s GROUP BY 1
        |      HAVING sqrt(sum(v * v)) > 0),
        |ev AS (SELECT s.doc_id, CAST(s.d AS INT) AS dim,
        |         ROUND(s.v / n.nrm, 6) AS val
        |       FROM s JOIN n USING (doc_id)),
        |grid AS (SELECT d.doc_id, CAST(t.i AS INT) AS dim
        |         FROM (SELECT DISTINCT doc_id FROM ev) d,
        |              range(0, 64) t(i)),
        |e AS MATERIALIZED (
        |  SELECT g.doc_id, list(coalesce(ev.val, 0.0)
        |           ORDER BY g.dim) AS embedding
        |  FROM grid g LEFT JOIN ev
        |    ON ev.doc_id = g.doc_id AND ev.dim = g.dim
        |  GROUP BY 1),
        |c0 AS (
        |  SELECT j AS centroid_id,
        |         list_transform(range(0, 64),
        |           i -> ((j * 31 + i * 7) % 17 - 8) / 8.0) AS c_vec
        |  FROM range(0, 8) t(j)),
        |a1 AS (
        |  SELECT e.doc_id, c.centroid_id FROM e CROSS JOIN c0 c
        |  QUALIFY row_number() OVER (PARTITION BY e.doc_id
        |    ORDER BY list_cosine_similarity(
        |      CAST(e.embedding AS DOUBLE[]), c.c_vec) DESC,
        |      c.centroid_id) = 1),
        |m1 AS (
        |  SELECT a.centroid_id, CAST(r.i - 1 AS INT) AS dim,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(
        |      CAST(e.embedding[CAST(r.i AS INT)] AS DOUBLE)
        |      * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS qsum
        |  FROM a1 a JOIN e ON e.doc_id = a.doc_id,
        |    LATERAL unnest(range(1, len(e.embedding) + 1)) AS r(i)
        |  GROUP BY 1, 2),
        |c1 AS (
        |  SELECT centroid_id,
        |    list(CAST(qsum AS DOUBLE) / (1000000.0 * CAST(n AS DOUBLE))
        |         ORDER BY dim) AS c_vec
        |  FROM m1 GROUP BY 1),
        |a2 AS (
        |  SELECT e.doc_id, c.centroid_id FROM e CROSS JOIN c1 c
        |  QUALIFY row_number() OVER (PARTITION BY e.doc_id
        |    ORDER BY list_cosine_similarity(
        |      CAST(e.embedding AS DOUBLE[]), c.c_vec) DESC,
        |      c.centroid_id) = 1),
        |m2 AS (
        |  SELECT a.centroid_id, CAST(r.i - 1 AS INT) AS dim,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(
        |      CAST(e.embedding[CAST(r.i AS INT)] AS DOUBLE)
        |      * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS qsum
        |  FROM a2 a JOIN e ON e.doc_id = a.doc_id,
        |    LATERAL unnest(range(1, len(e.embedding) + 1)) AS r(i)
        |  GROUP BY 1, 2),
        |c2 AS (
        |  SELECT centroid_id,
        |    list(CAST(qsum AS DOUBLE) / (1000000.0 * CAST(n AS DOUBLE))
        |         ORDER BY dim) AS c_vec
        |  FROM m2 GROUP BY 1),
        |a3 AS (
        |  SELECT e.doc_id, c.centroid_id FROM e CROSS JOIN c2 c
        |  QUALIFY row_number() OVER (PARTITION BY e.doc_id
        |    ORDER BY list_cosine_similarity(
        |      CAST(e.embedding AS DOUBLE[]), c.c_vec) DESC,
        |      c.centroid_id) = 1)""".stripMargin
  }

  private object KmeansReplay {
    val chain: String =
      """WITH e AS (SELECT vec_id, embedding FROM embeddings
        |           WHERE embedding IS NOT NULL),
        |c0 AS (
        |  SELECT j AS centroid_id,
        |         list_transform(range(0, 64),
        |           i -> ((j * 31 + i * 7) % 17 - 8) / 8.0) AS c_vec
        |  FROM range(0, 8) t(j)),
        |a1 AS (
        |  SELECT e.vec_id, c.centroid_id FROM e CROSS JOIN c0 c
        |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_cosine_similarity(
        |      CAST(e.embedding AS DOUBLE[]), c.c_vec) DESC,
        |      c.centroid_id) = 1),
        |m1 AS (
        |  SELECT a.centroid_id, CAST(r.i - 1 AS INT) AS dim,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(
        |      CAST(e.embedding[CAST(r.i AS INT)] AS DOUBLE)
        |      * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS qsum
        |  FROM a1 a JOIN e ON e.vec_id = a.vec_id,
        |    LATERAL unnest(range(1, len(e.embedding) + 1)) AS r(i)
        |  GROUP BY 1, 2),
        |c1 AS (
        |  SELECT centroid_id,
        |    list(CAST(qsum AS DOUBLE) / (1000000.0 * CAST(n AS DOUBLE))
        |         ORDER BY dim) AS c_vec
        |  FROM m1 GROUP BY 1),
        |a2 AS (
        |  SELECT e.vec_id, c.centroid_id FROM e CROSS JOIN c1 c
        |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_cosine_similarity(
        |      CAST(e.embedding AS DOUBLE[]), c.c_vec) DESC,
        |      c.centroid_id) = 1),
        |m2 AS (
        |  SELECT a.centroid_id, CAST(r.i - 1 AS INT) AS dim,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(
        |      CAST(e.embedding[CAST(r.i AS INT)] AS DOUBLE)
        |      * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS qsum
        |  FROM a2 a JOIN e ON e.vec_id = a.vec_id,
        |    LATERAL unnest(range(1, len(e.embedding) + 1)) AS r(i)
        |  GROUP BY 1, 2),
        |c2 AS (
        |  SELECT centroid_id,
        |    list(CAST(qsum AS DOUBLE) / (1000000.0 * CAST(n AS DOUBLE))
        |         ORDER BY dim) AS c_vec
        |  FROM m2 GROUP BY 1),
        |a3 AS (
        |  SELECT e.vec_id, c.centroid_id FROM e CROSS JOIN c2 c
        |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_cosine_similarity(
        |      CAST(e.embedding AS DOUBLE[]), c.c_vec) DESC,
        |      c.centroid_id) = 1),
        |m3 AS (
        |  SELECT a.centroid_id, CAST(r.i - 1 AS INT) AS dim,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(floor(
        |      CAST(e.embedding[CAST(r.i AS INT)] AS DOUBLE)
        |      * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS qsum
        |  FROM a3 a JOIN e ON e.vec_id = a.vec_id,
        |    LATERAL unnest(range(1, len(e.embedding) + 1)) AS r(i)
        |  GROUP BY 1, 2)""".stripMargin
  }

  /** q232/q233's shared residual-IVFPQ replay chain: the q126/q134
    * literal dyadic centroid/codebook tables, assignment, RESIDUAL
    * encode, per-probed-cell residual LUT, ADC ordered-sum — ending in
    * `scored(q_vec_id, vec_id, adc)` for the caller's final rank. */
  private object IvfPqResidualReplay {
    val chain: String =
      """WITH cents AS (
        |  SELECT j AS centroid_id,
        |         list_transform(range(0, 64),
        |           i -> ((j * 31 + i * 7) % 17 - 8) / 8.0) AS c_vec
        |  FROM range(0, 8) t(j)),
        |assign AS (
        |  SELECT e.vec_id, t.centroid_id,
        |         row_number() OVER (PARTITION BY e.vec_id
        |           ORDER BY list_cosine_similarity(
        |             CAST(e.embedding AS DOUBLE[]), t.c_vec) DESC,
        |             t.centroid_id) AS pr
        |  FROM embeddings e CROSS JOIN cents t),
        |ca AS (SELECT vec_id, centroid_id FROM assign WHERE pr = 1),
        |qa AS (SELECT vec_id, centroid_id FROM assign
        |       WHERE vec_id < 5 AND pr <= 2),
        |cb AS (
        |  SELECT j // 8 AS s, j % 8 AS c,
        |         list_transform(range(0, 16),
        |           i -> CAST(((j // 8) * 131 + (j % 8) * 31 + i * 7)
        |                     % 17 - 8 AS DOUBLE) / 8.0) AS cv
        |  FROM range(0, 32) t(j)),
        |codes AS (
        |  SELECT e.vec_id, cb.s, cb.c,
        |         row_number() OVER (PARTITION BY e.vec_id, cb.s
        |           ORDER BY list_sum(list_transform(range(0, 16), i ->
        |             (CAST(e.embedding[CAST(cb.s * 16 + i + 1 AS INT)]
        |                AS DOUBLE)
        |              - ct.c_vec[CAST(cb.s * 16 + i + 1 AS INT)]
        |              - cv[CAST(i + 1 AS INT)]) *
        |             (CAST(e.embedding[CAST(cb.s * 16 + i + 1 AS INT)]
        |                AS DOUBLE)
        |              - ct.c_vec[CAST(cb.s * 16 + i + 1 AS INT)]
        |              - cv[CAST(i + 1 AS INT)]))) ASC,
        |             cb.c) AS rn
        |  FROM embeddings e
        |  JOIN ca ON ca.vec_id = e.vec_id
        |  JOIN cents ct ON ct.centroid_id = ca.centroid_id
        |  CROSS JOIN cb),
        |cc AS (SELECT vec_id, s, c FROM codes WHERE rn = 1),
        |pairs AS (
        |  SELECT qa.vec_id AS q_vec_id, ca.vec_id, centroid_id
        |  FROM qa JOIN ca USING (centroid_id)),
        |q AS (SELECT vec_id AS q_vec_id, embedding
        |      FROM embeddings WHERE vec_id < 5),
        |sub AS (
        |  SELECT p.q_vec_id, p.vec_id, cc.s,
        |         list_sum(list_transform(range(0, 16), i ->
        |           (CAST(q.embedding[CAST(cc.s * 16 + i + 1 AS INT)]
        |              AS DOUBLE)
        |            - ct.c_vec[CAST(cc.s * 16 + i + 1 AS INT)]
        |            - cb.cv[CAST(i + 1 AS INT)]) *
        |           (CAST(q.embedding[CAST(cc.s * 16 + i + 1 AS INT)]
        |              AS DOUBLE)
        |            - ct.c_vec[CAST(cc.s * 16 + i + 1 AS INT)]
        |            - cb.cv[CAST(i + 1 AS INT)]))) AS d
        |  FROM pairs p
        |  JOIN q ON q.q_vec_id = p.q_vec_id
        |  JOIN cents ct ON ct.centroid_id = p.centroid_id
        |  JOIN cc ON cc.vec_id = p.vec_id
        |  JOIN cb ON cb.s = cc.s AND cb.c = cc.c),
        |scored AS (
        |  SELECT q_vec_id, vec_id, list_sum(list(d ORDER BY s)) AS adc
        |  FROM sub GROUP BY 1, 2)""".stripMargin
  }

  /** q230/q231's replayable HNSW family — one parameter block + one sign
    * table drive the Spark queries AND the generated DuckDB oracle (the
    * q82 HyperplaneReplay discipline extended to BANDS independent
    * families; the full layered build + fixed-step beam search is
    * replayed as an unrolled CTE chain, MATERIALIZED per step so the
    * twice-referenced frontier doesn't inline exponentially). */
  private[graft] object HnswReplay {
    val maxLevel = 3
    val m = 10
    val steps = 2
    val ef = 10
    val k = 4
    val seed = 9L
    val nPlanes = 4
    val bands = 4
    val dim = 64
    /** sign(p,i) = +1 iff ascii of md5("p:i")'s first hex char is even —
      * the HyperplaneReplay formula over bands*nPlanes global planes. */
    lazy val signs: Array[Int] = {
      val md = java.security.MessageDigest.getInstance("MD5")
      Array.tabulate(bands * nPlanes * dim) { pi =>
        val p = pi / dim
        val i = pi % dim
        val d = md.digest(s"$p:$i".getBytes("UTF-8"))
        val hex0 = "%02x".format(d(0) & 0xff).charAt(0)
        if (hex0.toInt % 2 == 0) 1 else -1
      }
    }
    /** Planes per layer: coarsen with height (constant per-bucket
      * work, connected top layer). */
    def planesAt(lvl: Int): Int = math.max(1, nPlanes - lvl)
    def bucketFn: (Int, Int, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column =
      (lvl, band, v) =>
        graft.expressions.VectorFunctions.quantizedSignBucket(
          v, signs.slice(band * nPlanes * dim,
            (band * nPlanes + planesAt(lvl)) * dim).toSeq,
          planesAt(lvl))
    /** CTE chain ending in `hnsw(qid, id, c, rank)` — the full replay:
      * level walk, banded sign buckets, per-layer top-M adjacency with
      * reverse edges, entry point, unrolled beam descent. */
    def searchCtes: String = buildCtes + searchTailCtes

    /** The BUILD half of the replay, through the directed
      * `knn(lvl, src, dst, c)` and symmetrized `adj`: reused verbatim
      * by q253's insert-equivalence oracle and, with a narrower
      * `corpusWhere`, by q255's delete-equivalence oracle (Spark runs
      * [[graft.ops.Hnsw.insertKnn]]/[[graft.ops.Hnsw.deleteKnn]] on a
      * corpus split; the oracle replays the FULL from-scratch build
      * over the target corpus — equality IS the incremental-
      * maintenance contract). */
    def buildCtes: String = buildCtes("vec_id % 10 <> 0")

    def buildCtes(corpusWhere: String): String = {
      val b = new StringBuilder
      b ++= s"""corpus AS (SELECT vec_id, embedding FROM embeddings
         |           WHERE $corpusWhere),
         |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
         |      WHERE vec_id % 10 = 0),
         |lv AS (SELECT vec_id,
         |  CASE WHEN hx < ${1L << (48 - 3)} THEN 3
         |       WHEN hx < ${1L << (48 - 2)} THEN 2
         |       WHEN hx < ${1L << (48 - 1)} THEN 1 ELSE 0 END AS level
         |  FROM (SELECT vec_id,
         |          list_sum(list_transform(range(0, 12), i ->
         |            (strpos('0123456789abcdef',
         |               substr(md5(CAST(vec_id AS VARCHAR) || ':$seed'),
         |                      CAST(i + 1 AS INT), 1)) - 1)
         |            * power(16.0, CAST(11 - i AS DOUBLE)))) AS hx
         |        FROM corpus)),
         |signs AS (
         |  SELECT p.g AS p, i.g AS i,
         |         CASE WHEN ascii(substr(md5(p.g || ':' || i.g), 1, 1))
         |                % 2 = 0 THEN 1 ELSE -1 END AS s
         |  FROM generate_series(0, ${bands * nPlanes - 1}) p(g),
         |       generate_series(0, ${dim - 1}) i(g)),
         |dots AS (
         |  SELECT e.vec_id, s.p // $nPlanes AS band, s.p % $nPlanes AS j,
         |         sum(s.s * CAST(round(
         |           CAST(e.embedding[s.i + 1] AS DOUBLE) * 1000000)
         |           AS BIGINT)) AS dot
         |  FROM corpus e, signs s GROUP BY 1, 2, 3),
         |bk AS (
         |  SELECT vec_id, t.lvl, band,
         |         sum(CASE ${(0 to maxLevel).map(l =>
                      s"WHEN t.lvl = $l AND j < ${planesAt(l)} " +
                        s"AND dot >= 0 THEN (1 << (${planesAt(l) - 1} - j))")
                      .mkString(" ")} ELSE 0 END) AS bucket
         |  FROM dots, range(0, ${maxLevel + 1}) t(lvl) GROUP BY 1, 2, 3),
         |mem AS (SELECT t.lvl, c.vec_id
         |        FROM corpus c JOIN lv ON c.vec_id = lv.vec_id,
         |             range(0, ${maxLevel + 1}) t(lvl)
         |        WHERE lv.level >= t.lvl),
         |cand AS (
         |  SELECT DISTINCT a.lvl, a.vec_id AS src, b.vec_id AS dst
         |  FROM mem a
         |  JOIN bk ba ON ba.vec_id = a.vec_id AND ba.lvl = a.lvl
         |  JOIN bk bb ON bb.lvl = ba.lvl AND bb.band = ba.band
         |            AND bb.bucket = ba.bucket
         |  JOIN mem b ON b.lvl = a.lvl AND b.vec_id = bb.vec_id
         |  WHERE a.vec_id <> b.vec_id),
         |knn AS (
         |  SELECT lvl, src, dst, c FROM (
         |    SELECT p.lvl, p.src, p.dst,
         |      ROUND(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
         |        CAST(y.embedding AS DOUBLE[])), 6) AS c,
         |      row_number() OVER (PARTITION BY p.lvl, p.src
         |                         ORDER BY c DESC, p.dst) AS rn
         |    FROM cand p JOIN corpus x ON x.vec_id = p.src
         |                JOIN corpus y ON y.vec_id = p.dst)
         |  WHERE rn <= $m),
         |adj0 AS (SELECT DISTINCT lvl, src, dst FROM
         |  (SELECT lvl, src, dst FROM knn
         |   UNION ALL SELECT lvl, dst, src FROM knn)),
         |adj AS (SELECT a.lvl, a.src, a.dst, x.embedding AS dvec
         |        FROM adj0 a JOIN corpus x ON x.vec_id = a.dst)""".stripMargin
      b.result()
    }

    /** The SEARCH half: head init + unrolled beam descent, appended
      * after [[buildCtes]]. */
    def searchTailCtes: String = {
      val b = new StringBuilder
      b ++= s""",
         |topm AS (SELECT c.vec_id, c.embedding FROM corpus c
         |           JOIN lv USING (vec_id) WHERE lv.level >= $maxLevel),
         |w0 AS (SELECT qid, id, c FROM (
         |         SELECT q.qid, m.vec_id AS id,
         |           ROUND(list_cosine_similarity(CAST(q.qv AS DOUBLE[]),
         |             CAST(m.embedding AS DOUBLE[])), 6) AS c,
         |           row_number() OVER (PARTITION BY q.qid
         |             ORDER BY ROUND(list_cosine_similarity(
         |               CAST(q.qv AS DOUBLE[]),
         |               CAST(m.embedding AS DOUBLE[])), 6) DESC,
         |               m.vec_id) AS rn
         |         FROM q, topm m) WHERE rn <= $ef)""".stripMargin
      var idx = 0
      for (lvl <- maxLevel to 0 by -1; _ <- 1 to steps) {
        val prev = s"w$idx"
        idx += 1
        b ++= s""",
           |w$idx AS MATERIALIZED (
           |  SELECT qid, id, c FROM (
           |    SELECT qid, id, c,
           |      row_number() OVER (PARTITION BY qid
           |                         ORDER BY c DESC, id) AS rn
           |    FROM (SELECT DISTINCT qid, id, c FROM (
           |      SELECT qid, id, c FROM $prev
           |      UNION ALL
           |      SELECT w.qid, a.dst AS id,
           |        ROUND(list_cosine_similarity(CAST(qq.qv AS DOUBLE[]),
           |          CAST(a.dvec AS DOUBLE[])), 6) AS c
           |      FROM $prev w
           |      JOIN adj a ON a.lvl = $lvl AND a.src = w.id
           |      JOIN q qq ON qq.qid = w.qid)))
           |  WHERE rn <= $ef)""".stripMargin
      }
      b ++= s""",
         |hnsw AS (
         |  SELECT qid, id, c, CAST(rk AS INT) AS rank FROM (
         |    SELECT qid, id, c,
         |      row_number() OVER (PARTITION BY qid
         |                         ORDER BY c DESC, id) AS rk
         |    FROM w$idx) WHERE rk <= $k)""".stripMargin
      b.result()
    }
  }

  /** q78's replayable permutation family — one definition drives both the
    * Spark query and the generated DuckDB oracle. */
  /** Spark side of the q78 replayable MinHash band pipeline: ASCII-
    * projected docs, their sorted-distinct 5-gram hash sets, and the
    * band-bucket candidate pairs (id_a < id_b). Shared by q78
    * (hash-set Jaccard verify) and q159 (edit-distance verify). */
  private def minhashReplayCands(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents").select(col("doc_id"),
      lower(regexp_replace(col("text"), "[^\\x20-\\x7e]", ""))
        .as("text"))
    // w=1 winnowing selects every rolling hash → the sorted-distinct
    // 5-gram hash SET, shared by the signature and the verify join
    val sets = docs.select(col("doc_id"),
      TextOps.winnowFingerprints(col("text"), k = 5, w = 1).as("hs"))
      .filter(size(col("hs")) > 0)
      .localCheckpoint(true)
    val aggs = (0 until MinhashReplay.nPerm).map { j =>
      min((col("h") * MinhashReplay.aj(j) + MinhashReplay.bj(j))
        % MinhashReplay.P).as(s"m$j")
    }
    val sig = sets.select(col("doc_id"), explode(col("hs")).as("h"))
      .groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
    val cand = (0 until MinhashReplay.bands).map { bnd =>
      val cs = (bnd * MinhashReplay.rows until
        (bnd + 1) * MinhashReplay.rows).map(j => s"m$j")
      sig.select(col("doc_id").as("id_a"),
          struct(cs.map(col): _*).as("__bk"))
        .join(sig.select(col("doc_id").as("id_b"),
          struct(cs.map(col): _*).as("__bk")), Seq("__bk"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
    }.reduce(_ unionByName _).dropDuplicates("id_a", "id_b")
    (docs, sets, cand)
  }

  /** The q78 band candidates verified by exact hash-set Jaccard ≥
    * `minJ`: (id_a, id_b, jaccard). Shared by q78/q169 (0.5, the
    * near-dup bar) and q159 (0.2, a loose recall-preserving floor
    * ahead of the edit-distance judge). */
  private def minhashReplayVerified(s: SparkSession, dir: String,
      minJ: Double = 0.5): DataFrame = {
    val (_, sets, cand) = minhashReplayCands(s, dir)
    cand
      .join(sets.select(col("doc_id").as("id_a"), col("hs").as("hs_a")),
        Seq("id_a"))
      .join(sets.select(col("doc_id").as("id_b"), col("hs").as("hs_b")),
        Seq("id_b"))
      .withColumn("jaccard",
        graft.expressions.VectorFunctions.sortedLongJaccard(
          col("hs_a"), col("hs_b")))
      .filter(col("jaccard") >= minJ)
      .select("id_a", "id_b", "jaccard")
  }

  private object MinhashReplay {
    val P = 1000000007L
    val nPerm = 16
    val bands = 4
    val rows = 4
    def aj(j: Int): Long = (j * 2654435761L + 1L) % P
    def bj(j: Int): Long = (j * 40503L + 7L) % P
    /** The pipeline through band-bucket candidates, shared by the q78
      * verify (hash-set Jaccard) and the q159 verify (edit distance). */
    def candCtes: String = {
      val sigCols = (0 until nPerm).map(j =>
        s"min((hv * ${aj(j)} + ${bj(j)}) % $P) AS m$j").mkString(", ")
      val bandConds = (0 until bands).map { bnd =>
        (bnd * rows until (bnd + 1) * rows)
          .map(j => s"a.m$j = b.m$j").mkString("(", " AND ", ")")
      }.mkString(" OR ")
      s"""h AS (
         |  SELECT doc_id,
         |    list_transform(range(1, greatest(length(t) - 5 + 2, 1)),
         |      i -> list_sum(list_transform(range(0, 5), j ->
         |        CAST(unicode(substr(t, CAST(i + j AS INT), 1)) AS BIGINT) *
         |        [362470373, 16974593, 66049, 257, 1][CAST(j + 1 AS INT)]))
         |        % $P) AS hs
         |  FROM (SELECT doc_id,
         |          lower(regexp_replace(text, '[^\\x20-\\x7e]', '', 'g'))
         |            AS t
         |        FROM documents)),
         |sets AS (
         |  SELECT doc_id, list_sort(list_distinct(hs)) AS hs
         |  FROM h WHERE len(hs) > 0),
         |e AS (SELECT doc_id, unnest(hs) AS hv FROM sets),
         |sig AS (SELECT doc_id, $sigCols FROM e GROUP BY doc_id),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |   AND ($bandConds))""".stripMargin
    }
    /** candCtes + the exact hash-set Jaccard verify: `jac` is
      * (id_a, id_b, j). Shared by q78 and the q169 source matrix. */
    def jacCtes: String =
      s"""${candCtes},
         |jac AS (
         |  SELECT id_a, id_b,
         |    CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) /
         |    CAST(len(sa.hs) + len(sb.hs)
         |         - len(list_intersect(sa.hs, sb.hs)) AS DOUBLE) AS j
         |  FROM cand JOIN sets sa ON sa.doc_id = id_a
         |            JOIN sets sb ON sb.doc_id = id_b)""".stripMargin
    def oracle: String = {
      s"""WITH ${jacCtes}
         |SELECT id_a, id_b, round(j, 6) AS jaccard
         |FROM jac WHERE j >= 0.5 ORDER BY id_a, id_b""".stripMargin
    }
  }

  /** One-time bucketed persistence (SURVEY §4 / SCALE.md): events +
    * measurements bucketed by subject_id (the flagship grouping key),
    * and the post-ingest aggregated tables bucketed by event_id (the
    * event-keyed join/agg key). Amortizes across every downstream read;
    * Bench opts in via SPARK_GRAFT_BUCKETED=1. */
  def bucketedSetup(s: SparkSession, dir: String, buckets: Int = 16)
      : Unit = {
    // Part of the bucketed deployment posture: allow a join whose keys
    // are a SUPERSET of the bucket key to reuse the storage
    // partitioning (HashPartitioning(subject_id) co-partitions the
    // (subject_id, event_id) join). With the default `true`, Spark
    // 3.3+ insists both sides hash on ALL join keys, shuffles anyway,
    // and then DisableUnnecessaryBucketedScan turns the bucketed scans
    // off entirely ("disabled by query planner").
    s.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    val d = dsSec(s, dir)
    graft.ingest.Bucketing.writeBucketed(d.events, "graft_events_subj",
      "subject_id", buckets)
    graft.ingest.Bucketing.writeBucketed(d.measurements,
      "graft_meas_subj", "subject_id", buckets)
    val agg = dsRaw(s, dir).aggByTimeType
    graft.ingest.Bucketing.writeBucketed(agg.events, "graft_agg_events_eid",
      "event_id", buckets)
    graft.ingest.Bucketing.writeBucketed(agg.measurements,
      "graft_agg_meas_eid", "event_id", buckets)
  }

  /** The bucketed twins of q18/q05: same outputs, read from the
    * bucketed tables — storage partitioning satisfies every clustered
    * distribution, so the plans carry ZERO ShuffleExchange nodes
    * (Bench asserts and reports the count). */
  def bucketedQueries: Map[String, SparkSession => DataFrame] = Map(
    "q18_bucketed" -> (s => {
      val ev = s.table("graft_events_subj")
      val meas = s.table("graft_meas_subj")
      val vocab = Vocabulary.fitLocal(ev, "event_type")
      // subject_id kept on the indexed frame → subjectSequences groups
      // and joins with the subject key included, exchange-free here
      val indexed = Vocabulary.lookup(meas, "key", vocab, "vidx")
        .select(col("subject_id"), col("event_id"),
          (col("vidx") + 1L).as("unified_idx"), col("value"),
          lit(1L).as("measurement_idx"))
      BatchBuilder.subjectSequences(ev, indexed)
        .select(col("subject_id"), size(col("time")).as("seq_len"),
          element_at(col("time"), -1).as("last_min"),
          aggregate(flatten(col("dynamic_indices")), lit(0L),
            (acc, x) => acc + x).as("sum_uidx"))
    }),
    "q05_bucketed" -> (s => {
      val ev = s.table("graft_agg_events_eid")
      val meas = s.table("graft_agg_meas_eid")
      val nMeas = meas.groupBy("event_id").agg(count(lit(1)).as("n_meas"))
      ev.join(nMeas, Seq("event_id"))
        .select(col("event_id"), col("subject_id"),
          unix_timestamp(col("timestamp")).as("ts_sec"), col("event_type"),
          col("n_meas"))
    }))

  /** DuckDB oracles over the same parquet tables. Keys absent here get
    * the driver's weaker rows-only check (seeded-hash ops:
    * q16/q27/q28/q30/q41). The spark.ml wrapper twins (q229↔q32,
    * q244↔q228, q245↔q236) SHARE their base query's oracle verbatim —
    * a wrapper must be semantics-preserving, and one SQL string makes
    * that contractual. */
  def oracleSql: Map[String, String] = {
    val base = oracleSqlBase
    base +
      ("q229_ml_pipeline" -> base("q32_preprocess_std")) +
      ("q244_ml_ridge_probe" -> base("q228_ridge_std")) +
      ("q245_ml_hash_embed" -> base("q236_hash_embed")) +
      ("q250_stream_moments" -> base("q249_incremental_moments")) +
      // q251's oracle WRAPS q227's whiten replay verbatim — the
      // leverage is definitionally the comp-ordered fold of q227's
      // rounded outputs, and one shared SQL string keeps that
      // contractual (the rounded-score >= threshold compare is then
      // exact on both sides).
      ("q251_pca_leverage" ->
        ("WITH wout AS (\n" + base("q227_whiten") + "\n)\n" +
          """SELECT vec_id,
            |  ROUND(list_sum(list(w * w ORDER BY comp)), 6)
            |    AS leverage,
            |  ROUND(list_sum(list(w * w ORDER BY comp)), 6) >= 8.0
            |    AS is_outlier
            |FROM wout GROUP BY 1 ORDER BY 1""".stripMargin))
  }

  private def oracleSqlBase: Map[String, String] = Map(
    // q222: brute-force the broadcast cross product; max-over-struct
    // (round(cos,6), eval_id) replays as row_number ORDER BY rounded
    // cos DESC, eid DESC. The 6-dp rounding happens BEFORE the argmax
    // and the threshold compare on BOTH sides, so ulp-level
    // accumulation differences between the engines' cosine folds
    // can't flip near_eval_id or contaminated.
    "q222_embed_decontam" ->
      """WITH c AS (SELECT vec_id, embedding FROM embeddings
        |           WHERE vec_id % 10 <> 0),
        |e AS (SELECT vec_id AS eval_id, embedding AS ev FROM embeddings
        |      WHERE vec_id % 10 = 0),
        |p AS (SELECT c.vec_id, e.eval_id,
        |        ROUND(list_cosine_similarity(
        |          CAST(c.embedding AS DOUBLE[]),
        |          CAST(e.ev AS DOUBLE[])), 6) AS cos
        |      FROM c, e)
        |SELECT vec_id, eval_id AS near_eval_id, cos AS max_cos,
        |  cos >= 0.3 AS contaminated
        |FROM p
        |QUALIFY row_number() OVER (PARTITION BY vec_id
        |  ORDER BY cos DESC, eval_id DESC) = 1
        |ORDER BY vec_id""".stripMargin,

    // q230/q231: the generated full-replay CTE chain (levels, banded
    // sign buckets, layered top-M adjacency, unrolled beam descent) —
    // one definition (HnswReplay) drives the Spark bucket columns AND
    // this SQL.
    "q230_hnsw_ann" ->
      ("WITH " + HnswReplay.searchCtes + """
        |SELECT qid AS q_vec_id, id AS vec_id, c AS cos, rank
        |FROM hnsw ORDER BY 1, 4""".stripMargin),

    "q231_hnsw_recall" ->
      ("WITH " + HnswReplay.searchCtes + s""",
        |brute AS (
        |  SELECT qid, vec_id AS id,
        |    row_number() OVER (PARTITION BY qid ORDER BY
        |      list_cosine_similarity(CAST(qv AS DOUBLE[]),
        |        CAST(embedding AS DOUBLE[])) DESC, vec_id) AS rk
        |  FROM q, corpus QUALIFY rk <= ${HnswReplay.k})
        |SELECT b.qid AS q_vec_id,
        |  ROUND(CAST(count(h.id) AS DOUBLE) / ${HnswReplay.k}, 6)
        |    AS recall
        |FROM brute b LEFT JOIN hnsw h ON h.qid = b.qid AND h.id = b.id
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // q253: the insert-equivalence contract — Spark runs the
    // INCREMENTAL path (buildKnn on 2/3 of the corpus, insertKnn of
    // the rest); the oracle replays the FULL from-scratch build over
    // everything (q230's buildCtes verbatim, through the directed
    // knn). Row-for-row equality, cosines included, IS the claim.
    "q253_hnsw_insert" ->
      ("WITH " + HnswReplay.buildCtes + """
        |SELECT CAST(lvl AS INT) AS lvl, src, dst, c
        |FROM knn ORDER BY 1, 2, 3""".stripMargin),

    // q255: the delete-equivalence contract — Spark runs the
    // INCREMENTAL delete path (buildKnn over the full corpus, then
    // deleteKnn of the vec_id % 7 = 3 slice); the oracle replays the
    // FULL from-scratch build over the RETAINED corpus (buildCtes
    // with the narrowed predicate). Row-for-row equality, cosines
    // included, IS the claim.
    "q255_hnsw_delete" ->
      ("WITH " +
        HnswReplay.buildCtes("vec_id % 10 <> 0 AND vec_id % 7 <> 3") +
        """
        |SELECT CAST(lvl AS INT) AS lvl, src, dst, c
        |FROM knn ORDER BY 1, 2, 3""".stripMargin),

    // q256: the lifecycle-composition contract — Spark seeds a
    // persisted index with Hnsw.saveIndex(A) (knn + vectors + banded
    // membership + deletion ledger), streams the remaining arrivals
    // through insertKnnDeltaIndexed + AnnIndex.append in two real
    // micro-batches, and returns the index READ BACK FROM DISK; the
    // oracle replays the from-scratch build over the whole % 4 = 1
    // corpus. Stream + append + load ≡ build, cosines included.
    "q256_ann_index_stream" ->
      ("WITH " + HnswReplay.buildCtes("vec_id % 4 = 1") + """
        |SELECT CAST(lvl AS INT) AS lvl, src, dst, c
        |FROM knn ORDER BY 1, 2, 3""".stripMargin),

    // q257: the BM25 lifecycle contract — Spark seeds a persisted
    // TextIndex from 2/3 of the corpus, streams the rest through
    // additive-delta appends (+ an in-loop compaction fold after
    // every micro-batch), and answers the search FROM DISK; the
    // oracle scores the whole corpus from scratch (q94's formula,
    // q197's retrieval shape). Streamed additive deltas + compaction
    // ≡ full recompute: tf/df/N/len_sum are per-batch integer sums
    // over disjoint doc sets, and avg_dl = len_sum/N equals avg(dl)
    // exactly (integer-valued doubles sum exactly).
    "q257_bm25_index_stream" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE length(trim(text)) > 0),
        |lens AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
        |      AS dl
        |  FROM d),
        |t AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM d),
        |tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM t GROUP BY 1, 2),
        |df AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |c AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avg_dl
        |  FROM lens),
        |w AS (
        |  SELECT tf.doc_id,
        |    ln(1.0 + (c.n_docs - df.df + 0.5) / (df.df + 0.5)) *
        |    (tf.tf * (1.2 + 1.0)) /
        |    (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * lens.dl / c.avg_dl))
        |      AS bm25
        |  FROM tf JOIN df USING (term) JOIN lens USING (doc_id), c
        |  WHERE term IN ('merge', 'window', 'sort'))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit,
        |  round(sum(bm25), 6) AS score
        |FROM w GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // q258: the CDC-update lifecycle — the oracle applies the two
    // update slices as a CASE over `documents` (batch 1's two
    // candidate versions resolve to the highest seq = ' updated beta';
    // batch 2 appends ' updated gamma') and replays the q257 BM25 chain
    // over the UPDATED corpus. Ledger + delta updates + one fold ≡
    // full recompute.
    "q258_bm25_cdc_update" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 2 THEN text || ' updated beta'
        |         WHEN doc_id % 7 = 3 THEN text || ' updated gamma'
        |         ELSE text END AS text
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, text FROM u
        |  WHERE length(trim(text)) > 0),
        |lens AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
        |      AS dl
        |  FROM d),
        |t AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM d),
        |tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM t GROUP BY 1, 2),
        |df AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |c AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avg_dl
        |  FROM lens),
        |w AS (
        |  SELECT tf.doc_id,
        |    ln(1.0 + (c.n_docs - df.df + 0.5) / (df.df + 0.5)) *
        |    (tf.tf * (1.2 + 1.0)) /
        |    (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * lens.dl / c.avg_dl))
        |      AS bm25
        |  FROM tf JOIN df USING (term) JOIN lens USING (doc_id), c
        |  WHERE term IN ('merge', 'window', 'updated'))
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit,
        |  round(sum(bm25), 6) AS score
        |FROM w GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    // q223: the raw-moment covariance formula verbatim —
    // (Σxy − ΣxΣy/n)/(n−1) — NOT COVAR_SAMP, so the arithmetic shape
    // matches the one-pass gram_moments fold exactly. round_even (not
    // ROUND) because the Scala side rounds with math.rint = half-even
    // — the repo's banker's-rounding parity rule.
    "q223_embed_covariance" ->
      """WITH idx AS (SELECT CAST(i AS INT) AS i FROM range(1, 65) t(i)),
        |x AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        |      FROM embeddings, idx WHERE embedding IS NOT NULL)
        |SELECT CAST(a.i - 1 AS BIGINT) AS i, CAST(b.i - 1 AS BIGINT) AS j,
        |  round_even((SUM(a.x * b.x) - SUM(a.x) * SUM(b.x) / COUNT(*))
        |        / (COUNT(*) - 1), 6) AS cov
        |FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.i >= a.i
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q224: full power-iteration replay — covariance rounded to 9 dp on
    // both sides, then 15 fixed normalize-each-step iterations as a
    // recursive CTE over a row-major flat matrix list, sign pinned by
    // Σv ≥ 0, component re-rounded to 9 dp before the final dot.
    "q224_pca_project" ->
      """WITH RECURSIVE idx AS (
        |  SELECT CAST(i AS INT) AS i FROM range(1, 65) t(i)),
        |x AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        |      FROM embeddings, idx WHERE embedding IS NOT NULL),
        |cv AS (
        |  SELECT a.i AS ri, b.i AS ci,
        |    round_even((SUM(a.x * b.x) - SUM(a.x) * SUM(b.x) / COUNT(*))
        |          / (COUNT(*) - 1), 9) AS c
        |  FROM x a JOIN x b ON a.vec_id = b.vec_id
        |  GROUP BY 1, 2),
        |cm AS (SELECT list(c ORDER BY ri, ci) AS cl FROM cv),
        |pi(t, v) AS (
        |  SELECT 0, list_transform(range(0, 64),
        |            i -> CAST(0.125 AS DOUBLE))
        |  UNION ALL
        |  SELECT t + 1,
        |    list_transform(
        |      list_transform(range(0, 64), i -> list_sum(list_transform(
        |        range(0, 64), j -> cl[CAST(i*64 + j + 1 AS INT)]
        |                           * v[CAST(j + 1 AS INT)]))),
        |      y -> y / sqrt(list_sum(list_transform(
        |        list_transform(range(0, 64), i -> list_sum(list_transform(
        |          range(0, 64), j -> cl[CAST(i*64 + j + 1 AS INT)]
        |                             * v[CAST(j + 1 AS INT)]))),
        |        z -> z * z))))
        |  FROM pi, cm WHERE t < 15),
        |v9 AS (
        |  SELECT list_transform(
        |    CASE WHEN list_sum(v) < 0
        |         THEN list_transform(v, x -> -x) ELSE v END,
        |    x -> round_even(x, 9)) AS v
        |  FROM pi WHERE t = 15)
        |SELECT e.vec_id,
        |  ROUND(list_sum(list_transform(range(0, 64),
        |    i -> v9.v[CAST(i + 1 AS INT)]
        |         * CAST(e.embedding[CAST(i + 1 AS INT)] AS DOUBLE))), 6)
        |    AS pc1
        |FROM embeddings e, v9 ORDER BY vec_id""".stripMargin,

    // q225: gradient-descent replay — G/n and b/n rounded to 9 dp on
    // both sides, 50 fixed steps β ← β − 0.5·((G/n)β − b/n + 0.1β)
    // from β₀=0, β re-rounded to 9 dp before the scoring dot.
    "q225_ridge_probe" ->
      """WITH RECURSIVE idx AS (
        |  SELECT CAST(i AS INT) AS i FROM range(1, 65) t(i)),
        |x AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x,
        |        CAST(label = 0 AS DOUBLE) AS y
        |      FROM embeddings, idx WHERE embedding IS NOT NULL),
        |nn AS (SELECT COUNT(*) AS n FROM embeddings
        |       WHERE embedding IS NOT NULL),
        |g AS (
        |  SELECT a.i AS ri, b.i AS ci,
        |    round_even(SUM(a.x * b.x) / (SELECT n FROM nn), 9) AS gv
        |  FROM x a JOIN x b ON a.vec_id = b.vec_id GROUP BY 1, 2),
        |gm AS (SELECT list(gv ORDER BY ri, ci) AS gl FROM g),
        |bv AS (
        |  SELECT i, round_even(SUM(y * x) / (SELECT n FROM nn), 9) AS bb
        |  FROM x GROUP BY i),
        |bm AS (SELECT list(bb ORDER BY i) AS bl FROM bv),
        |gd(t, beta) AS (
        |  SELECT 0, list_transform(range(0, 64),
        |            i -> CAST(0.0 AS DOUBLE))
        |  UNION ALL
        |  SELECT t + 1,
        |    list_transform(range(0, 64), i ->
        |      beta[CAST(i + 1 AS INT)] - 0.5 * (
        |        list_sum(list_transform(range(0, 64),
        |          j -> gl[CAST(i*64 + j + 1 AS INT)]
        |               * beta[CAST(j + 1 AS INT)]))
        |        - bl[CAST(i + 1 AS INT)]
        |        + 0.1 * beta[CAST(i + 1 AS INT)]))
        |  FROM gd, gm, bm WHERE t < 50),
        |b9 AS (
        |  SELECT list_transform(beta, x -> round_even(x, 9)) AS b
        |  FROM gd WHERE t = 50)
        |SELECT e.vec_id,
        |  ROUND(list_sum(list_transform(range(0, 64),
        |    i -> b9.b[CAST(i + 1 AS INT)]
        |         * CAST(e.embedding[CAST(i + 1 AS INT)] AS DOUBLE))), 6)
        |    AS score,
        |  ROUND(list_sum(list_transform(range(0, 64),
        |    i -> b9.b[CAST(i + 1 AS INT)]
        |         * CAST(e.embedding[CAST(i + 1 AS INT)] AS DOUBLE))), 6)
        |    >= 0.0 AS keep
        |FROM embeddings e, b9 ORDER BY vec_id""".stripMargin,

    // q226: full deflated-power-iteration replay as ONE recursive CTE
    // over state (comp, iter, matrix, v): t<15 steps the iteration
    // (normalize each step), t=15 pins the sign, rounds the component
    // to 9 dp, takes the 9dp Rayleigh quotient, deflates the matrix
    // (9dp per entry) and restarts at the uniform vector for the next
    // component — byte-matching the Scala driver loop. round_even
    // everywhere the Scala side uses math.rint.
    "q226_pca_components" ->
      """WITH RECURSIVE idx AS (
        |  SELECT CAST(i AS INT) AS i FROM range(1, 65) t(i)),
        |x AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        |      FROM embeddings, idx WHERE embedding IS NOT NULL),
        |cv AS (
        |  SELECT a.i AS ri, b.i AS ci,
        |    round_even((SUM(a.x * b.x) - SUM(a.x) * SUM(b.x) / COUNT(*))
        |          / (COUNT(*) - 1), 9) AS c
        |  FROM x a JOIN x b ON a.vec_id = b.vec_id
        |  GROUP BY 1, 2),
        |cm AS (SELECT list(c ORDER BY ri, ci) AS cl FROM cv),
        |pi(comp, t, cl, v) AS (
        |  SELECT 0, 0, cl,
        |    list_transform(range(0, 64), i -> CAST(0.125 AS DOUBLE))
        |  FROM cm
        |  UNION ALL
        |  SELECT
        |    CASE WHEN t < 15 THEN comp ELSE comp + 1 END,
        |    CASE WHEN t < 15 THEN t + 1 ELSE 0 END,
        |    CASE WHEN t < 15 THEN cl
        |         ELSE list_transform(range(0, 4096), ij -> round_even(
        |           cl[CAST(ij + 1 AS INT)] - lam
        |             * vv[CAST(ij // 64 + 1 AS INT)]
        |             * vv[CAST(ij % 64 + 1 AS INT)], 9)) END,
        |    CASE WHEN t < 15 THEN
        |      list_transform(
        |        list_transform(range(0, 64), i -> list_sum(list_transform(
        |          range(0, 64), j -> cl[CAST(i*64 + j + 1 AS INT)]
        |                             * v[CAST(j + 1 AS INT)]))),
        |        y -> y / sqrt(list_sum(list_transform(
        |          list_transform(range(0, 64), i -> list_sum(list_transform(
        |            range(0, 64), j -> cl[CAST(i*64 + j + 1 AS INT)]
        |                               * v[CAST(j + 1 AS INT)]))),
        |          z -> z * z))))
        |    ELSE list_transform(range(0, 64), i -> CAST(0.125 AS DOUBLE)) END
        |  FROM (
        |    SELECT comp, t, cl, v, vv,
        |      CASE WHEN t = 15 THEN round_even(list_sum(list_transform(
        |        range(0, 64), i -> vv[CAST(i + 1 AS INT)]
        |          * list_sum(list_transform(range(0, 64),
        |              j -> cl[CAST(i*64 + j + 1 AS INT)]
        |                   * vv[CAST(j + 1 AS INT)])))), 9) END AS lam
        |    FROM (
        |      SELECT comp, t, cl, v,
        |        CASE WHEN t = 15 THEN list_transform(
        |          CASE WHEN list_sum(v) < 0
        |               THEN list_transform(v, x -> -x) ELSE v END,
        |          x -> round_even(x, 9)) END AS vv
        |      FROM pi WHERE comp < 3 OR t < 15))),
        |fin AS (
        |  SELECT comp,
        |    list_transform(
        |      CASE WHEN list_sum(v) < 0
        |           THEN list_transform(v, x -> -x) ELSE v END,
        |      x -> round_even(x, 9)) AS vv, cl
        |  FROM pi WHERE t = 15),
        |wl AS (
        |  SELECT comp, vv,
        |    round_even(list_sum(list_transform(range(0, 64),
        |      i -> vv[CAST(i + 1 AS INT)] * list_sum(list_transform(
        |        range(0, 64), j -> cl[CAST(i*64 + j + 1 AS INT)]
        |                           * vv[CAST(j + 1 AS INT)])))), 9) AS lam
        |  FROM fin)
        |SELECT CAST(comp AS BIGINT) AS comp, CAST(j AS BIGINT) AS j,
        |  round_even(vv[CAST(j + 1 AS INT)], 6) AS loading,
        |  round_even(lam, 6) AS eigval
        |FROM wl, range(0, 64) r(j)
        |ORDER BY 1, 2""".stripMargin,

    // q238: three unrolled (assign → lattice M-step) rounds; the
    // rebuilt centroid lists are qsum/(1e6·n) ordered by dim, the
    // assignment rule is the q126 (cos DESC, centroid_id) row_number.
    "q238_kmeans_fit" ->
      (KmeansReplay.chain + """
        |SELECT centroid_id, dim, n, qsum,
        |  ROUND(CAST(qsum AS DOUBLE) / (1000000.0 * CAST(n AS DOUBLE)),
        |    6) AS mean
        |FROM m3 ORDER BY 1, 2""".stripMargin),

    // q239: the same 2-iteration fit (chain through c2/a3), then the
    // SemDeDup within-cluster pair discovery — round-6 cosine compared
    // to the threshold AFTER rounding on both sides (the q222 rule).
    "q239_semdedup_kmeans" ->
      (KmeansReplay.chain + """,
        |p AS (
        |  SELECT x.centroid_id, x.vec_id AS id_a, y.vec_id AS id_b,
        |    ROUND(list_cosine_similarity(
        |      CAST(ea.embedding AS DOUBLE[]),
        |      CAST(eb.embedding AS DOUBLE[])), 6) AS cos
        |  FROM a3 x
        |  JOIN a3 y ON x.centroid_id = y.centroid_id
        |           AND x.vec_id < y.vec_id
        |  JOIN e ea ON ea.vec_id = x.vec_id
        |  JOIN e eb ON eb.vec_id = y.vec_id)
        |SELECT centroid_id, id_a, id_b, cos
        |FROM p WHERE cos >= 0.3 ORDER BY 1, 2, 3""".stripMargin),

    // q243: the same 2-iteration fit driven through the spark.ml
    // KMeansClusterer wrapper — per-cluster sizes of the a3 assignment.
    "q243_ml_kmeans" ->
      (KmeansReplay.chain + """
        |SELECT centroid_id, CAST(count(*) AS BIGINT) AS n
        |FROM a3 GROUP BY 1 ORDER BY 1""".stripMargin),

    // q240: the same 2-iteration fit's a3 assignment joined to the
    // linked documents, then the BERTopic c-TF-IDF algebra —
    // tf(t,c) · ln(1 + A/f(t)) with A = total tokens / non-empty
    // clusters, ranked per cluster on the ROUND-6 score (ties → term).
    "q240_cluster_terms" ->
      (KmeansReplay.chain + """,
        |tok AS (
        |  SELECT a.centroid_id,
        |         unnest(string_split_regex(trim(lower(d.text)), '\s+'))
        |           AS term
        |  FROM a3 a JOIN documents d ON d.doc_id = a.vec_id
        |  WHERE trim(d.text) <> ''),
        |tfc AS (SELECT centroid_id, term, count(*) AS tf
        |        FROM tok GROUP BY 1, 2),
        |ft AS (SELECT term, CAST(sum(tf) AS BIGINT) AS ft
        |       FROM tfc GROUP BY 1),
        |av AS (SELECT CAST(sum(tf) AS DOUBLE) /
        |              CAST(count(DISTINCT centroid_id) AS DOUBLE) AS a
        |       FROM tfc),
        |sc AS (
        |  SELECT tfc.centroid_id, tfc.term, tfc.tf, ft.ft,
        |         round(CAST(tfc.tf AS DOUBLE) *
        |           ln(1.0 + av.a / CAST(ft.ft AS DOUBLE)), 6) AS score
        |  FROM tfc JOIN ft USING (term) CROSS JOIN av),
        |rk AS (
        |  SELECT centroid_id, term, tf, ft, score,
        |         CAST(row_number() OVER (PARTITION BY centroid_id
        |           ORDER BY score DESC, term) AS INT) AS rnk
        |  FROM sc)
        |SELECT centroid_id, rnk, term, tf, ft, score
        |FROM rk WHERE rnk <= 5 ORDER BY 1, 2""".stripMargin),

    // q237: the q202 floor(x·1e6 + 0.5) lattice carried through the
    // whole scatter algebra in HUGEINT — Δ = S·n − G·n_l and
    // W = Q·n_l − S² stay integer-exact; the division chains mirror
    // the Spark expressions term for term.
    "q237_label_scatter" ->
      """WITH x AS (
        |  SELECT label, CAST(r.i - 1 AS INT) AS d,
        |    CAST(floor(CAST(embedding[CAST(r.i AS INT)] AS DOUBLE)
        |      * 1000000.0 + 0.5) AS BIGINT) AS qv
        |  FROM embeddings,
        |    LATERAL unnest(range(1, len(embedding) + 1)) AS r(i)
        |  WHERE embedding IS NOT NULL AND label IS NOT NULL),
        |pld AS (
        |  SELECT label, d, CAST(sum(qv) AS BIGINT) AS s,
        |    sum(CAST(qv AS HUGEINT) * qv) AS q2,
        |    CAST(count(*) AS BIGINT) AS nl
        |  FROM x GROUP BY 1, 2),
        |g AS (SELECT d, CAST(sum(s) AS BIGINT) AS gs,
        |        CAST(sum(nl) AS BIGINT) AS ntot
        |      FROM pld GROUP BY 1),
        |t AS (
        |  SELECT label, nl, ntot,
        |    (CAST(s AS HUGEINT) * ntot - CAST(gs AS HUGEINT) * nl)
        |      AS delta,
        |    (q2 * nl - CAST(s AS HUGEINT) * s) AS wterm
        |  FROM pld JOIN g USING (d)),
        |agg AS (
        |  SELECT label, max(nl) AS n, max(ntot) AS ntot,
        |    sum(delta * delta) AS bsum, sum(wterm) AS wsum
        |  FROM t GROUP BY 1)
        |SELECT label, n,
        |  ROUND(CAST(bsum AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * n * ntot * ntot * 1e12), 6)
        |    AS between_scatter,
        |  ROUND(CAST(wsum AS DOUBLE) / (CAST(n AS DOUBLE) * n * 1e12), 6)
        |    AS within_scatter,
        |  CASE WHEN wsum > 0 THEN ROUND(
        |    (CAST(bsum AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * n * ntot * ntot * 1e12))
        |    / (CAST(wsum AS DOUBLE) / (CAST(n AS DOUBLE) * n * 1e12)),
        |    6) END AS fisher
        |FROM agg ORDER BY label""".stripMargin,

    // q236: whitespace tokens → 4-hex-digit md5 walk mod dim buckets,
    // 5th-digit-parity signs, signed integer sums (exact in doubles),
    // one sqrt + one rounded division.
    "q236_hash_embed" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS tok
        |  FROM documents),
        |tt AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
        |h AS (SELECT doc_id,
        |        CAST(list_sum(list_transform(range(0, 4), i ->
        |          (strpos('0123456789abcdef',
        |             substr(md5(tok || ':7'), CAST(i + 1 AS INT), 1))
        |           - 1)
        |          * power(16.0, CAST(3 - i AS DOUBLE)))) AS BIGINT)
        |          % 64 AS d,
        |        CASE WHEN strpos('02468ace',
        |               substr(md5(tok || ':7'), 5, 1)) > 0
        |             THEN 1.0 ELSE -1.0 END AS sgn
        |      FROM tt),
        |s AS (SELECT doc_id, d, sum(sgn) AS v FROM h GROUP BY 1, 2),
        |n AS (SELECT doc_id, sqrt(sum(v * v)) AS nrm FROM s GROUP BY 1)
        |SELECT s.doc_id, CAST(s.d AS INT) AS dim,
        |  ROUND(s.v / n.nrm, 6) AS val
        |FROM s JOIN n USING (doc_id) ORDER BY 1, 2""".stripMargin,

    // q249: the oracle is a FULL-corpus single-pass recompute — the
    // incremental merge must be bit-identical to it (integer lattice
    // core; FP only in the mirrored final divisions).
    "q249_incremental_moments" ->
      """WITH x AS (
        |  SELECT CAST(r.i - 1 AS BIGINT) AS j,
        |    CAST(floor(CAST(embedding[CAST(r.i AS INT)] AS DOUBLE)
        |      * 1000000.0 + 0.5) AS BIGINT) AS qv
        |  FROM embeddings,
        |    LATERAL unnest(range(1, len(embedding) + 1)) AS r(i)
        |  WHERE embedding IS NOT NULL),
        |s AS (
        |  SELECT j, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(qv) AS BIGINT) AS qsum,
        |    sum(CAST(qv AS HUGEINT) * qv) AS q2sum
        |  FROM x GROUP BY 1)
        |SELECT j, n,
        |  ROUND(CAST(qsum AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * 1000000.0), 6) AS mean,
        |  ROUND(CAST(q2sum * n - CAST(qsum AS HUGEINT) * qsum AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 1e12), 6)
        |    AS variance
        |FROM s ORDER BY 1""".stripMargin,

    // q248: per-dim drift algebra on 9dp-rounded reductions per side
    // (the q223/q228 discipline); deltas computed from the 9dp values,
    // then everything rounds to 6dp for output. round_even ↔ math.rint.
    "q248_embed_drift" ->
      """WITH idx AS (
        |  SELECT CAST(i AS INT) AS i FROM range(1, 65) t(i)),
        |xa AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        |       FROM embeddings, idx
        |       WHERE embedding IS NOT NULL AND vec_id % 2 = 0),
        |xb AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        |       FROM embeddings, idx
        |       WHERE embedding IS NOT NULL AND vec_id % 2 = 1),
        |sa AS (SELECT i, round_even(SUM(x) / COUNT(*), 9) AS m,
        |         round_even(SUM(x * x) / COUNT(*), 9) AS p
        |       FROM xa GROUP BY i),
        |sb AS (SELECT i, round_even(SUM(x) / COUNT(*), 9) AS m,
        |         round_even(SUM(x * x) / COUNT(*), 9) AS p
        |       FROM xb GROUP BY i),
        |v AS (SELECT sa.i,
        |        sa.m AS ma, sb.m AS mb,
        |        round_even(sa.p - sa.m * sa.m, 9) AS va9,
        |        round_even(sb.p - sb.m * sb.m, 9) AS vb9
        |      FROM sa JOIN sb ON sa.i = sb.i)
        |SELECT CAST(i - 1 AS BIGINT) AS j,
        |  round_even(ma, 6) AS mean_a, round_even(mb, 6) AS mean_b,
        |  round_even(mb - ma, 6) AS mean_delta,
        |  round_even(va9, 6) AS var_a, round_even(vb9, 6) AS var_b,
        |  round_even(vb9 - va9, 6) AS var_delta
        |FROM v ORDER BY 1""".stripMargin,

    // q247: the streaming semantic-dedup greedy chain replayed as a
    // recursive CTE — per bucket (the q82 md5-parity family), walk
    // ids ascending in lockstep across buckets, carrying each
    // bucket's kept-vector list; a row is kept iff its max
    // ROUND(cos,6) against the carried list stays under 0.3 (NULL →
    // kept, the empty-list base), and kept rows append to the list
    // only while it holds < 64 vectors (the engine's state cap).
    "q247_stream_semantic_dedup" ->
      ("""WITH RECURSIVE """ + HyperplaneReplay.oracleBucketCtes + """,
        |v AS MATERIALIZED (
        |  SELECT e.vec_id, b.bucket,
        |         CAST(e.embedding AS DOUBLE[]) AS emb,
        |         row_number() OVER (PARTITION BY b.bucket
        |           ORDER BY e.vec_id) AS rn
        |  FROM embeddings e JOIN bk b ON b.vec_id = e.vec_id),
        |rec AS (
        |  SELECT bucket, CAST(0 AS BIGINT) AS rn,
        |         CAST(NULL AS BIGINT) AS vec_id,
        |         CAST(NULL AS BOOLEAN) AS kept,
        |         CAST([] AS DOUBLE[][]) AS kv
        |  FROM (SELECT DISTINCT bucket FROM v)
        |  UNION ALL
        |  SELECT r.bucket, v.rn, v.vec_id,
        |    coalesce(list_max(list_transform(r.kv,
        |      k -> ROUND(list_cosine_similarity(v.emb, k), 6)))
        |      < 0.3, TRUE),
        |    CASE WHEN coalesce(list_max(list_transform(r.kv,
        |             k -> ROUND(list_cosine_similarity(v.emb, k), 6)))
        |             < 0.3, TRUE)
        |           AND len(r.kv) < 64
        |         THEN list_append(r.kv, v.emb) ELSE r.kv END
        |  FROM rec r JOIN v ON v.bucket = r.bucket AND v.rn = r.rn + 1)
        |SELECT vec_id, CAST(bucket AS BIGINT) AS bucket, kept
        |FROM rec WHERE rn > 0 ORDER BY 1""".stripMargin),

    // q246: the whole documents→clusters Pipeline replayed in one
    // SQL chain — q236's md5 hashing trick → zero-filled dense pivot
    // → q238's 2-iteration Lloyd's unroll — ending in every doc's
    // third-round assignment. `e` is MATERIALIZED (referenced by all
    // five assign/M-step stages; inlining would re-run the hashing
    // chain each time). Assignment margins ≥ 3.7e-6 on this corpus
    // (measured), far above cross-engine cosine ulp.
    "q246_ml_text_cluster_pipeline" ->
      ("WITH " + DocKmeansReplay.chain + """
        |SELECT doc_id, CAST(centroid_id AS BIGINT) AS centroid_id
        |FROM a3 ORDER BY 1""".stripMargin),

    // q254: the composed stage-2 curation pipeline — every stage's
    // SQL is the proven replay (q246's doc-kmeans chain verbatim via
    // DocKmeansReplay, q239's pair shape, q225's raw-feature ridge GD
    // chain retargeted at the survivor relation, q192's mixture
    // algebra) chained into ONE oracle. Margins audited in DuckDB at
    // sf0.01: kmeans argmax ≥ 2.4e-5, dedup pair cos ≥ 1e-5 from τ in
    // rounded space, ridge keep ≥ 7.1e-5 from threshold — all above
    // the 1e-6 cross-engine ulp bar.
    "q254_stage2_curation" ->
      ("WITH RECURSIVE " + DocKmeansReplay.chain + """,
        |prs AS (
        |  SELECT x.doc_id AS id_a, y.doc_id AS id_b,
        |    ROUND(list_cosine_similarity(
        |      CAST(ea.embedding AS DOUBLE[]),
        |      CAST(eb.embedding AS DOUBLE[])), 6) AS cos
        |  FROM a3 x JOIN a3 y ON x.centroid_id = y.centroid_id
        |                     AND x.doc_id < y.doc_id
        |  JOIN e ea ON ea.doc_id = x.doc_id
        |  JOIN e eb ON eb.doc_id = y.doc_id),
        |surv AS (
        |  SELECT e.doc_id, e.embedding FROM e
        |  WHERE e.doc_id NOT IN (SELECT id_b FROM prs WHERE cos >= 0.9)),
        |idx AS (SELECT CAST(i AS INT) AS i FROM range(1, 65) t(i)),
        |src AS (SELECT s.doc_id AS vec_id, s.embedding,
        |          CAST(d.lang = 'en' AS DOUBLE) AS y
        |        FROM surv s JOIN documents d USING (doc_id)),
        |x AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x, y
        |      FROM src, idx),
        |nn AS (SELECT COUNT(*) AS n FROM src),
        |g AS (
        |  SELECT a.i AS ri, b.i AS ci,
        |    round_even(SUM(a.x * b.x) / (SELECT n FROM nn), 9) AS gv
        |  FROM x a JOIN x b ON a.vec_id = b.vec_id GROUP BY 1, 2),
        |gm AS (SELECT list(gv ORDER BY ri, ci) AS gl FROM g),
        |bv AS (
        |  SELECT i, round_even(SUM(y * x) / (SELECT n FROM nn), 9) AS bb
        |  FROM x GROUP BY i),
        |bm AS (SELECT list(bb ORDER BY i) AS bl FROM bv),
        |gd(t, beta) AS (
        |  SELECT 0, list_transform(range(0, 64),
        |            i -> CAST(0.0 AS DOUBLE))
        |  UNION ALL
        |  SELECT t + 1,
        |    list_transform(range(0, 64), i ->
        |      beta[CAST(i + 1 AS INT)] - 0.5 * (
        |        list_sum(list_transform(range(0, 64),
        |          j -> gl[CAST(i*64 + j + 1 AS INT)]
        |               * beta[CAST(j + 1 AS INT)]))
        |        - bl[CAST(i + 1 AS INT)]
        |        + 0.1 * beta[CAST(i + 1 AS INT)]))
        |  FROM gd, gm, bm WHERE t < 30),
        |b9 AS (
        |  SELECT list_transform(beta, x -> round_even(x, 9)) AS b
        |  FROM gd WHERE t = 30),
        |scored AS (
        |  SELECT s.vec_id AS doc_id,
        |    ROUND(list_sum(list_transform(range(0, 64),
        |      i -> b9.b[CAST(i + 1 AS INT)]
        |           * CAST(s.embedding[CAST(i + 1 AS INT)] AS DOUBLE))), 6)
        |      AS score
        |  FROM src s, b9),
        |kept AS (SELECT doc_id FROM scored WHERE score >= 0.4),
        |kd AS (SELECT d.doc_id, d.lang, d.text FROM documents d
        |       JOIN kept USING (doc_id)),
        |counts AS (
        |  SELECT lang,
        |    CAST(sum(CASE WHEN trim(text) = '' THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END)
        |      AS BIGINT) AS n_tok
        |  FROM kd GROUP BY 1),
        |w(lang, wt) AS (VALUES ('en', 4), ('de', 2), ('es', 1),
        |                       ('fr', 1), ('zh', 1)),
        |jw AS (SELECT c.lang, c.n_tok, CAST(wt AS BIGINT) AS wt
        |       FROM counts c JOIN w ON w.lang = c.lang),
        |tw AS (SELECT CAST(sum(wt) AS BIGINT) AS total FROM jw),
        |plan AS (SELECT lang, n_tok, (10000 * wt) // total AS target
        |         FROM jw, tw),
        |dd AS (
        |  SELECT doc_id, d.lang, n_tok, target,
        |    target // n_tok AS base,
        |    (list_sum(list_transform(range(0, 12), i ->
        |        (strpos('0123456789abcdef',
        |           substr(md5(CAST(doc_id AS VARCHAR) || ':11'),
        |                  CAST(i + 1 AS INT), 1)) - 1)
        |        * power(16.0, CAST(11 - i AS DOUBLE)))) + 1)
        |      / 281474976710656.0 AS u
        |  FROM kd d JOIN plan ON plan.lang = d.lang),
        |nc AS (
        |  SELECT doc_id, lang,
        |    base + (CASE WHEN u < (target % n_tok)
        |      / CAST(n_tok AS DOUBLE) THEN 1 ELSE 0 END) AS n_copies
        |  FROM dd)
        |SELECT lang AS grp, doc_id, CAST(n_copies AS BIGINT) AS n_copies,
        |  CAST(unnest(range(0, n_copies)) AS BIGINT) AS copy_idx
        |FROM nc WHERE n_copies > 0
        |ORDER BY doc_id, copy_idx""".stripMargin),

    // q234: q226's deflation chain + index-order diagonal trace +
    // spectral-share arithmetic, one row, round_even (math.rint) 6dp.
    "q234_embed_anisotropy" ->
      """WITH RECURSIVE idx AS (
        |  SELECT CAST(i AS INT) AS i FROM range(1, 65) t(i)),
        |x AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        |      FROM embeddings, idx WHERE embedding IS NOT NULL),
        |cv AS (
        |  SELECT a.i AS ri, b.i AS ci,
        |    round_even((SUM(a.x * b.x) - SUM(a.x) * SUM(b.x) / COUNT(*))
        |          / (COUNT(*) - 1), 9) AS c
        |  FROM x a JOIN x b ON a.vec_id = b.vec_id
        |  GROUP BY 1, 2),
        |cm AS (SELECT list(c ORDER BY ri, ci) AS cl FROM cv),
        |pi(comp, t, cl, v) AS (
        |  SELECT 0, 0, cl,
        |    list_transform(range(0, 64), i -> CAST(0.125 AS DOUBLE))
        |  FROM cm
        |  UNION ALL
        |  SELECT
        |    CASE WHEN t < 15 THEN comp ELSE comp + 1 END,
        |    CASE WHEN t < 15 THEN t + 1 ELSE 0 END,
        |    CASE WHEN t < 15 THEN cl
        |         ELSE list_transform(range(0, 4096), ij -> round_even(
        |           cl[CAST(ij + 1 AS INT)] - lam
        |             * vv[CAST(ij // 64 + 1 AS INT)]
        |             * vv[CAST(ij % 64 + 1 AS INT)], 9)) END,
        |    CASE WHEN t < 15 THEN
        |      list_transform(
        |        list_transform(range(0, 64), i -> list_sum(list_transform(
        |          range(0, 64), j -> cl[CAST(i*64 + j + 1 AS INT)]
        |                             * v[CAST(j + 1 AS INT)]))),
        |        y -> y / sqrt(list_sum(list_transform(
        |          list_transform(range(0, 64), i -> list_sum(list_transform(
        |            range(0, 64), j -> cl[CAST(i*64 + j + 1 AS INT)]
        |                               * v[CAST(j + 1 AS INT)]))),
        |          z -> z * z))))
        |    ELSE list_transform(range(0, 64), i -> CAST(0.125 AS DOUBLE)) END
        |  FROM (
        |    SELECT comp, t, cl, v, vv,
        |      CASE WHEN t = 15 THEN round_even(list_sum(list_transform(
        |        range(0, 64), i -> vv[CAST(i + 1 AS INT)]
        |          * list_sum(list_transform(range(0, 64),
        |              j -> cl[CAST(i*64 + j + 1 AS INT)]
        |                   * vv[CAST(j + 1 AS INT)])))), 9) END AS lam
        |    FROM (
        |      SELECT comp, t, cl, v,
        |        CASE WHEN t = 15 THEN list_transform(
        |          CASE WHEN list_sum(v) < 0
        |               THEN list_transform(v, x -> -x) ELSE v END,
        |          x -> round_even(x, 9)) END AS vv
        |      FROM pi WHERE comp < 3 OR t < 15))),
        |fin AS (
        |  SELECT comp,
        |    list_transform(
        |      CASE WHEN list_sum(v) < 0
        |           THEN list_transform(v, x -> -x) ELSE v END,
        |      x -> round_even(x, 9)) AS vv, cl
        |  FROM pi WHERE t = 15),
        |wl AS (
        |  SELECT comp, vv,
        |    round_even(list_sum(list_transform(range(0, 64),
        |      i -> vv[CAST(i + 1 AS INT)] * list_sum(list_transform(
        |        range(0, 64), j -> cl[CAST(i*64 + j + 1 AS INT)]
        |                           * vv[CAST(j + 1 AS INT)])))), 9) AS lam
        |  FROM fin),
        |tr AS (SELECT list_sum(list(c ORDER BY ri)) AS t
        |       FROM cv WHERE ri = ci),
        |ls AS (SELECT list_sum(list(lam ORDER BY comp)) AS tsum,
        |              first(lam ORDER BY comp) AS l1 FROM wl),
        |nn AS (SELECT COUNT(*) AS n FROM embeddings
        |       WHERE embedding IS NOT NULL)
        |SELECT n, round_even(t, 6) AS trace, round_even(l1, 6) AS lam1,
        |  round_even(tsum, 6) AS topk_sum,
        |  round_even(l1 / t, 6) AS lam1_share,
        |  round_even(tsum / t, 6) AS topk_share
        |FROM nn, tr, ls""".stripMargin,

    // q227: same deflation CTE as q226, then the whitening apply per
    // row — (x·v_c) · round_even(1/√λ_c, 9), output ROUND 6 (Spark
    // round = HALF_UP = DuckDB ROUND).
    "q227_whiten" ->
      """WITH RECURSIVE idx AS (
        |  SELECT CAST(i AS INT) AS i FROM range(1, 65) t(i)),
        |x AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
        |      FROM embeddings, idx WHERE embedding IS NOT NULL),
        |cv AS (
        |  SELECT a.i AS ri, b.i AS ci,
        |    round_even((SUM(a.x * b.x) - SUM(a.x) * SUM(b.x) / COUNT(*))
        |          / (COUNT(*) - 1), 9) AS c
        |  FROM x a JOIN x b ON a.vec_id = b.vec_id
        |  GROUP BY 1, 2),
        |cm AS (SELECT list(c ORDER BY ri, ci) AS cl FROM cv),
        |pi(comp, t, cl, v) AS (
        |  SELECT 0, 0, cl,
        |    list_transform(range(0, 64), i -> CAST(0.125 AS DOUBLE))
        |  FROM cm
        |  UNION ALL
        |  SELECT
        |    CASE WHEN t < 15 THEN comp ELSE comp + 1 END,
        |    CASE WHEN t < 15 THEN t + 1 ELSE 0 END,
        |    CASE WHEN t < 15 THEN cl
        |         ELSE list_transform(range(0, 4096), ij -> round_even(
        |           cl[CAST(ij + 1 AS INT)] - lam
        |             * vv[CAST(ij // 64 + 1 AS INT)]
        |             * vv[CAST(ij % 64 + 1 AS INT)], 9)) END,
        |    CASE WHEN t < 15 THEN
        |      list_transform(
        |        list_transform(range(0, 64), i -> list_sum(list_transform(
        |          range(0, 64), j -> cl[CAST(i*64 + j + 1 AS INT)]
        |                             * v[CAST(j + 1 AS INT)]))),
        |        y -> y / sqrt(list_sum(list_transform(
        |          list_transform(range(0, 64), i -> list_sum(list_transform(
        |            range(0, 64), j -> cl[CAST(i*64 + j + 1 AS INT)]
        |                               * v[CAST(j + 1 AS INT)]))),
        |          z -> z * z))))
        |    ELSE list_transform(range(0, 64), i -> CAST(0.125 AS DOUBLE)) END
        |  FROM (
        |    SELECT comp, t, cl, v, vv,
        |      CASE WHEN t = 15 THEN round_even(list_sum(list_transform(
        |        range(0, 64), i -> vv[CAST(i + 1 AS INT)]
        |          * list_sum(list_transform(range(0, 64),
        |              j -> cl[CAST(i*64 + j + 1 AS INT)]
        |                   * vv[CAST(j + 1 AS INT)])))), 9) END AS lam
        |    FROM (
        |      SELECT comp, t, cl, v,
        |        CASE WHEN t = 15 THEN list_transform(
        |          CASE WHEN list_sum(v) < 0
        |               THEN list_transform(v, x -> -x) ELSE v END,
        |          x -> round_even(x, 9)) END AS vv
        |      FROM pi WHERE comp < 3 OR t < 15))),
        |fin AS (
        |  SELECT comp,
        |    list_transform(
        |      CASE WHEN list_sum(v) < 0
        |           THEN list_transform(v, x -> -x) ELSE v END,
        |      x -> round_even(x, 9)) AS vv, cl
        |  FROM pi WHERE t = 15),
        |wl AS (
        |  SELECT comp, vv,
        |    round_even(list_sum(list_transform(range(0, 64),
        |      i -> vv[CAST(i + 1 AS INT)] * list_sum(list_transform(
        |        range(0, 64), j -> cl[CAST(i*64 + j + 1 AS INT)]
        |                           * vv[CAST(j + 1 AS INT)])))), 9) AS lam
        |  FROM fin)
        |SELECT e.vec_id, CAST(c.comp AS BIGINT) AS comp,
        |  ROUND(list_sum(list_transform(range(0, 64),
        |    i -> c.vv[CAST(i + 1 AS INT)]
        |         * CAST(e.embedding[CAST(i + 1 AS INT)] AS DOUBLE)))
        |    * round_even(1.0 / sqrt(c.lam), 9), 6) AS w
        |FROM embeddings e, wl c
        |ORDER BY 1, 2""".stripMargin,

    // q228: standardized-ridge replay — the four data-dependent
    // reductions (P/n, S/n, B/n, ȳ) rounded to 9 dp, then μ/σ/Gz/bz
    // derived in closed-form IEEE arithmetic, 50 fixed GD steps with
    // the decoupled intercept, standardization folded into (a, c0)
    // exactly as the Scala driver does.
    "q228_ridge_std" ->
      """WITH RECURSIVE idx AS (
        |  SELECT CAST(i AS INT) AS i FROM range(1, 65) t(i)),
        |x AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x,
        |        CAST(label = 0 AS DOUBLE) AS y
        |      FROM embeddings, idx WHERE embedding IS NOT NULL),
        |nn AS (SELECT COUNT(*) AS n FROM embeddings
        |       WHERE embedding IS NOT NULL),
        |p AS (
        |  SELECT a.i AS ri, b.i AS ci,
        |    round_even(SUM(a.x * b.x) / (SELECT n FROM nn), 9) AS pv
        |  FROM x a JOIN x b ON a.vec_id = b.vec_id GROUP BY 1, 2),
        |pm AS (SELECT list(pv ORDER BY ri, ci) AS pl FROM p),
        |sv AS (
        |  SELECT i, round_even(SUM(x) / COUNT(*), 9) AS s
        |  FROM x GROUP BY i),
        |sm AS (SELECT list(s ORDER BY i) AS sl FROM sv),
        |bv AS (
        |  SELECT i, round_even(SUM(y * x) / (SELECT n FROM nn), 9) AS bb
        |  FROM x GROUP BY i),
        |bm AS (SELECT list(bb ORDER BY i) AS bl FROM bv),
        |yb AS (SELECT round_even(SUM(CAST(label = 0 AS DOUBLE))
        |         / COUNT(*), 9) AS ybar
        |       FROM embeddings WHERE embedding IS NOT NULL),
        |sg AS (SELECT list_transform(range(0, 64), i -> round_even(sqrt(
        |         pl[CAST(i*64 + i + 1 AS INT)]
        |         - sl[CAST(i + 1 AS INT)] * sl[CAST(i + 1 AS INT)]), 9))
        |         AS sigl
        |       FROM pm, sm),
        |gz AS (SELECT list_transform(range(0, 4096), ij ->
        |         (pl[CAST(ij + 1 AS INT)]
        |          - sl[CAST(ij // 64 + 1 AS INT)]
        |            * sl[CAST(ij % 64 + 1 AS INT)])
        |         / (sigl[CAST(ij // 64 + 1 AS INT)]
        |            * sigl[CAST(ij % 64 + 1 AS INT)])) AS gl
        |       FROM pm, sm, sg),
        |bz AS (SELECT list_transform(range(0, 64), i ->
        |         (bl[CAST(i + 1 AS INT)] - ybar * sl[CAST(i + 1 AS INT)])
        |         / sigl[CAST(i + 1 AS INT)]) AS zl
        |       FROM bm, sm, sg, yb),
        |gd(t, b0, beta) AS (
        |  SELECT 0, CAST(0.0 AS DOUBLE),
        |    list_transform(range(0, 64), i -> CAST(0.0 AS DOUBLE))
        |  UNION ALL
        |  SELECT t + 1,
        |    b0 - 0.5 * (b0 - (SELECT ybar FROM yb)),
        |    list_transform(range(0, 64), i ->
        |      beta[CAST(i + 1 AS INT)] - 0.5 * (
        |        list_sum(list_transform(range(0, 64),
        |          j -> gl[CAST(i*64 + j + 1 AS INT)]
        |               * beta[CAST(j + 1 AS INT)]))
        |        - zl[CAST(i + 1 AS INT)]
        |        + 0.1 * beta[CAST(i + 1 AS INT)]))
        |  FROM gd, gz, bz WHERE t < 50),
        |fit AS (
        |  SELECT round_even(b0, 9) AS b0r,
        |    list_transform(beta, x -> round_even(x, 9)) AS br
        |  FROM gd WHERE t = 50),
        |ac AS (
        |  SELECT list_transform(range(0, 64), j -> round_even(
        |           br[CAST(j + 1 AS INT)] / sigl[CAST(j + 1 AS INT)], 9))
        |           AS al,
        |         b0r
        |  FROM fit, sg),
        |cz AS (
        |  SELECT al, round_even(b0r - list_sum(list_transform(range(0, 64),
        |           j -> al[CAST(j + 1 AS INT)] * sl[CAST(j + 1 AS INT)])),
        |           9) AS c0
        |  FROM ac, sm)
        |SELECT e.vec_id,
        |  ROUND(c0 + list_sum(list_transform(range(0, 64),
        |    i -> al[CAST(i + 1 AS INT)]
        |         * CAST(e.embedding[CAST(i + 1 AS INT)] AS DOUBLE))), 6)
        |    AS score,
        |  ROUND(c0 + list_sum(list_transform(range(0, 64),
        |    i -> al[CAST(i + 1 AS INT)]
        |         * CAST(e.embedding[CAST(i + 1 AS INT)] AS DOUBLE))), 6)
        |    >= 0.1 AS keep
        |FROM embeddings e, cz ORDER BY vec_id""".stripMargin,

    "q15_splits" ->
      """WITH keyed AS (
        |  SELECT DISTINCT user_id AS subject_id,
        |         md5(CAST(user_id AS VARCHAR) || ':42') AS rk
        |  FROM events),
        |ranked AS (
        |  SELECT subject_id,
        |         row_number() OVER (ORDER BY rk, subject_id) AS rn,
        |         count(*) OVER () AS total
        |  FROM keyed)
        |SELECT subject_id,
        |  CASE WHEN rn <= round(0.8 * total) THEN 'train'
        |       ELSE 'held_out' END AS split
        |FROM ranked""".stripMargin,
    "q01_ingest_events" ->
      """SELECT event_id, user_id AS subject_id,
        |CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_sec, event_type
        |FROM events ORDER BY event_id""".stripMargin,

    "q02_sort_events" ->
      """SELECT event_id, user_id AS subject_id, event_type,
        |CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |  AS INT) AS event_idx
        |FROM events ORDER BY subject_id, event_idx""".stripMargin,

    "q03_event_types" ->
      """SELECT event_type, count(*) AS n FROM events
        |GROUP BY event_type ORDER BY n DESC, event_type""".stripMargin,

    "q04_events_per_subject" ->
      """SELECT user_id AS subject_id, count(*) AS n_events FROM events
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q05_agg_by_time_type" ->
      """WITH merged AS (
        |  SELECT user_id, ts, event_type, count(*) AS n_meas
        |  FROM events GROUP BY 1, 2, 3)
        |SELECT CAST(row_number() OVER (ORDER BY user_id, ts, event_type) - 1
        |         AS BIGINT) AS event_id,
        |       user_id AS subject_id,
        |       CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_sec,
        |       event_type, n_meas
        |FROM merged ORDER BY event_id""".stripMargin,

    "q06_inter_event_min" ->
      """SELECT event_id, user_id AS subject_id,
        |(epoch(date_trunc('second', ts)) -
        | epoch(date_trunc('second',
        |   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)))) / 60
        |  AS delta_min
        |FROM events ORDER BY event_id""".stripMargin,

    "q07_tte_stats" ->
      """WITH d AS (
        |  SELECT (epoch(date_trunc('second', ts)) -
        |          epoch(date_trunc('second',
        |            lag(ts) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id)))) / 60 AS dm
        |  FROM events)
        |SELECT round(avg(ln(dm + 1)), 6) AS mean_log_tte,
        |       round(stddev_samp(ln(dm + 1)), 6) AS std_log_tte
        |FROM d WHERE dm IS NOT NULL""".stripMargin,

    "q08_time_of_day" ->
      """SELECT CASE WHEN hour(ts) < 6 THEN 'EARLY_AM'
        |            WHEN hour(ts) < 12 THEN 'AM'
        |            WHEN hour(ts) < 21 THEN 'PM'
        |            ELSE 'LATE_PM' END AS time_of_day, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q09_vocab_event_type" ->
      """WITH c AS (SELECT event_type AS element, count(*) AS n
        |           FROM events WHERE event_type IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM c)
        |SELECT element, n,
        |       CAST(row_number() OVER (ORDER BY n DESC, element) AS INT)
        |         AS idx,
        |       round(n / (SELECT tot FROM t), 9) AS freq
        |FROM c
        |UNION ALL SELECT 'UNK', 0, 0, 0.0
        |ORDER BY idx""".stripMargin,

    "q10_value_types" ->
      """WITH pv AS (
        |  SELECT l_returnflag AS key, l_quantity AS v, count(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |pr AS (
        |  SELECT key, round_even(v, 0) AS rv,
        |         sum(cnt) AS cnt_r,
        |         count(CASE WHEN v IS NOT NULL THEN 1 END) AS n_raw,
        |         sum(CASE WHEN v = floor(v) THEN cnt ELSE 0 END) AS int_cnt,
        |         max(CASE WHEN v IS NOT NULL THEN cnt END) AS max_cnt_raw
        |  FROM pv GROUP BY 1, 2),
        |st AS (
        |  SELECT key,
        |    CAST(sum(cnt_r) AS BIGINT) AS n_obs,
        |    CAST(sum(CASE WHEN rv IS NOT NULL THEN cnt_r ELSE 0 END)
        |      AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN rv IS NOT NULL THEN n_raw ELSE 0 END)
        |      AS BIGINT) AS n_unique_raw,
        |    CAST(count(CASE WHEN rv IS NOT NULL THEN 1 END) AS BIGINT)
        |      AS n_unique_rounded,
        |    CAST(sum(int_cnt) AS DOUBLE) /
        |      CAST(sum(CASE WHEN rv IS NOT NULL THEN cnt_r END) AS DOUBLE)
        |      AS int_fraction,
        |    CAST(max(CASE WHEN rv IS NOT NULL THEN max_cnt_raw END)
        |      AS DOUBLE) /
        |      CAST(sum(CASE WHEN rv IS NOT NULL THEN cnt_r END) AS DOUBLE)
        |      AS mf_raw,
        |    CAST(max(CASE WHEN rv IS NOT NULL THEN cnt_r END) AS DOUBLE) /
        |      CAST(sum(CASE WHEN rv IS NOT NULL THEN cnt_r END) AS DOUBLE)
        |      AS mf_rounded
        |  FROM pr GROUP BY key),
        |eff AS (
        |  SELECT key, n_obs, n, int_fraction,
        |    int_fraction > 0.75 AS intish,
        |    CASE WHEN int_fraction > 0.75 THEN n_unique_rounded
        |         ELSE n_unique_raw END AS n_unique,
        |    CASE WHEN int_fraction > 0.75 THEN mf_rounded
        |         ELSE mf_raw END AS mode_frequency
        |  FROM st)
        |SELECT key, n, n_unique,
        |       round(int_fraction, 9) AS int_fraction,
        |       round(mode_frequency, 9) AS mode_frequency,
        |       CASE WHEN n_obs < 10 THEN 'dropped'
        |            WHEN (n_unique < 20 OR mode_frequency > 0.3)
        |                 AND n_unique = 1 THEN 'dropped'
        |            WHEN (n_unique < 20 OR mode_frequency > 0.3)
        |                 AND intish THEN 'categorical_integer'
        |            WHEN n_unique < 20 OR mode_frequency > 0.3
        |              THEN 'categorical_float'
        |            WHEN intish THEN 'integer'
        |            ELSE 'float' END AS value_type
        |FROM eff ORDER BY key""".stripMargin,

    "q11_drop_censor" ->
      """SELECT event_id, value,
        |CASE WHEN value <= 0.05 OR value >= 300.0 THEN NULL
        |     WHEN value < 1.0 THEN 1.0
        |     WHEN value > 200.0 THEN 200.0
        |     ELSE value END AS value_clean
        |FROM events ORDER BY event_id""".stripMargin,

    "q12_std_scaler" ->
      """SELECT event_type AS key,
        |round(avg(value), 6) AS norm_mean,
        |round(stddev_samp(value), 6) AS norm_std
        |FROM events WHERE value IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q13_quantiles" ->
      """WITH q AS (
        |  SELECT event_type AS key,
        |         quantile_cont(value, [0.0, 0.25, 0.5, 0.75, 1.0]) AS qs
        |  FROM events WHERE value IS NOT NULL GROUP BY 1)
        |SELECT key, CAST(i - 1 AS INT) AS q_idx, round(qs[CAST(i AS INT)], 6) AS q
        |FROM q CROSS JOIN generate_series(1, 5) AS t(i)
        |ORDER BY key, q_idx""".stripMargin,

    "q14_reencode" ->
      """SELECT l_orderkey, l_linenumber,
        |l_returnflag || '__EQ_' ||
        |  CAST(CAST(round_even(l_quantity, 0) AS BIGINT) AS VARCHAR) AS key2,
        |CAST(NULL AS DOUBLE) AS v2
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q17_task_windows" ->
      """WITH tasks AS (
        |  SELECT user_id, min(date_trunc('second', ts)) AS st
        |  FROM events GROUP BY 1)
        |SELECT e.user_id AS subject_id, count(*) AS n_in_window
        |FROM events e JOIN tasks t ON e.user_id = t.user_id
        | AND date_trunc('second', e.ts) >= t.st
        | AND date_trunc('second', e.ts) <= t.st + INTERVAL 30 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q18_subject_seqs" ->
      """WITH v AS (
        |  SELECT event_type,
        |         row_number() OVER (ORDER BY count(*) DESC, event_type)
        |           AS idx
        |  FROM events GROUP BY event_type)
        |SELECT user_id AS subject_id,
        |       CAST(count(*) AS INT) AS seq_len,
        |       (epoch(max(date_trunc('second', ts))) -
        |        epoch(min(date_trunc('second', ts)))) / 60 AS last_min,
        |       CAST(sum(idx + 1) AS BIGINT) AS sum_uidx
        |FROM events e JOIN v USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q19_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |sum(l_quantity) AS sum_qty,
        |CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |  AS sum_base,
        |CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |              AS DECIMAL(20,4))) AS DOUBLE) AS sum_disc_price,
        |count(*) AS count_order,
        |sum(l_quantity) / count(*) AS avg_qty
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q20_revenue_priority" ->
      """SELECT o_orderpriority,
        |CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |              AS DECIMAL(20,4))) AS DOUBLE) AS revenue,
        |count(DISTINCT o_orderkey) AS n_orders
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q21_region_stats" ->
      """SELECT r_name, count(*) AS n_cust,
        |CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |  AS sum_acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q22_topk_customers" ->
      """SELECT CAST(row_number() OVER (ORDER BY c_acctbal DESC, c_custkey)
        |  AS INT) AS rank, c_custkey, c_name, c_acctbal
        |FROM customer ORDER BY rank LIMIT 10""".stripMargin,

    "q23_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id FROM documents
        |GROUP BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
        |ORDER BY doc_id""".stripMargin,

    "q24_token_count" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |CAST(CASE WHEN trim(text) = '' THEN 0
        |     ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)
        |  AS n_tokens,
        |CAST(len(regexp_extract_all(text,
        |  '[A-Za-z]{1,4}|[0-9]{1,3}|[^A-Za-z0-9\s]')) AS BIGINT)
        |  AS n_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q25_quality" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents WHERE length(trim(text)) > 0)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  round(CAST(len(list_filter(toks, x -> list_contains(
        |    ['the','a','an','and','or','of','to','in','is','it','on','for',
        |     'with','as','at','by','be','this','that','are','was'],
        |    lower(x)))) AS DOUBLE) /
        |    greatest(CAST(len(toks) AS DOUBLE), 1.0), 6) AS stopword_ratio,
        |  round(CAST(list_sum(list_transform(toks, x -> length(x)))
        |    AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6) AS mean_word_len
        |FROM t ORDER BY doc_id""".stripMargin,

    "q26_langid" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, 'de' AS lang, CAST(len(list_filter(tk,
        |    x -> list_contains(['der','die','und','das','ist','von','den',
        |      'mit'], x))) AS DOUBLE) /
        |    greatest(CAST(len(tk) AS DOUBLE), 1.0) AS score FROM t
        |  UNION ALL
        |  SELECT doc_id, 'en', CAST(len(list_filter(tk,
        |    x -> list_contains(['the','and','of','to','in','is','you',
        |      'that','it'], x))) AS DOUBLE) /
        |    greatest(CAST(len(tk) AS DOUBLE), 1.0) FROM t
        |  UNION ALL
        |  SELECT doc_id, 'es', CAST(len(list_filter(tk,
        |    x -> list_contains(['el','la','de','que','y','en','un','los',
        |      'se'], x))) AS DOUBLE) /
        |    greatest(CAST(len(tk) AS DOUBLE), 1.0) FROM t
        |  UNION ALL
        |  SELECT doc_id, 'fr', CAST(len(list_filter(tk,
        |    x -> list_contains(['le','la','de','et','les','des','est','un',
        |      'une'], x))) AS DOUBLE) /
        |    greatest(CAST(len(tk) AS DOUBLE), 1.0) FROM t
        |  UNION ALL
        |  SELECT doc_id, 'zh', CAST(len(list_filter(tk,
        |    x -> list_contains(['的','了','是','我','不','在','有','他'],
        |      x))) AS DOUBLE) /
        |    greatest(CAST(len(tk) AS DOUBLE), 1.0) FROM t)
        |SELECT doc_id,
        |  CASE WHEN score > 0.0 THEN lang ELSE 'und' END AS lang_pred
        |FROM (SELECT doc_id, lang, score, row_number() OVER (
        |        PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rk
        |      FROM s)
        |WHERE rk = 1 ORDER BY doc_id""".stripMargin,

    "q43_tumbling_daily" ->
      """SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS win_start,
        |event_type, count(*) AS n,
        |round(avg(epoch(date_trunc('second', ts)) -
        |          epoch(date_trunc('day', ts))), 6) AS avg_offset_sec
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q42_corpus_pipeline" ->
      """WITH uniq AS (
        |  SELECT min(doc_id) AS doc_id FROM documents
        |  GROUP BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')),
        |d AS (
        |  SELECT doc_id, text,
        |         string_split_regex(trim(text), '\s+') AS toks,
        |         string_split_regex(trim(lower(text)), '\s+') AS ltoks
        |  FROM documents JOIN uniq USING (doc_id)),
        |feat AS (
        |  SELECT doc_id, toks, ltoks,
        |    CASE WHEN trim(text) = '' THEN 0 ELSE len(toks) END AS ntok,
        |    CAST(length(text) -
        |      length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g'))
        |      AS DOUBLE) / greatest(length(text), 1) AS punct_ratio,
        |    CAST(len(list_filter(toks, x -> list_contains(
        |      ['the','a','an','and','or','of','to','in','is','it','on',
        |       'for','with','as','at','by','be','this','that','are',
        |       'was'], lower(x)))) AS DOUBLE) /
        |      greatest(CAST(len(toks) AS DOUBLE), 1.0) AS stopword_ratio,
        |    CASE WHEN (CASE WHEN trim(text) = '' THEN 0 ELSE len(toks)
        |               END) = 0 THEN 0.0
        |         ELSE CAST(list_sum(list_transform(toks,
        |                x -> length(x))) AS DOUBLE) / len(toks)
        |    END AS mwl
        |  FROM d),
        |scored AS (
        |  SELECT doc_id, ltoks,
        |    ((CASE WHEN ntok >= 10 AND ntok <= 100000 THEN 1.0
        |           ELSE 0.0 END) +
        |     (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE 0.0 END) +
        |     (CASE WHEN stopword_ratio >= 0.01 THEN 1.0 ELSE 0.0 END) +
        |     (CASE WHEN mwl >= 2 AND mwl <= 12 THEN 1.0 ELSE 0.0 END))
        |      / 4.0 AS qs
        |  FROM feat),
        |langscore AS (
        |  SELECT doc_id, 'de' AS lang, CAST(len(list_filter(ltoks,
        |    x -> list_contains(['der','die','und','das','ist','von','den',
        |      'mit'], x))) AS DOUBLE) /
        |    greatest(CAST(len(ltoks) AS DOUBLE), 1.0) AS score FROM scored
        |  UNION ALL
        |  SELECT doc_id, 'en', CAST(len(list_filter(ltoks,
        |    x -> list_contains(['the','and','of','to','in','is','you',
        |      'that','it'], x))) AS DOUBLE) /
        |    greatest(CAST(len(ltoks) AS DOUBLE), 1.0) FROM scored
        |  UNION ALL
        |  SELECT doc_id, 'es', CAST(len(list_filter(ltoks,
        |    x -> list_contains(['el','la','de','que','y','en','un','los',
        |      'se'], x))) AS DOUBLE) /
        |    greatest(CAST(len(ltoks) AS DOUBLE), 1.0) FROM scored
        |  UNION ALL
        |  SELECT doc_id, 'fr', CAST(len(list_filter(ltoks,
        |    x -> list_contains(['le','la','de','et','les','des','est',
        |      'un','une'], x))) AS DOUBLE) /
        |    greatest(CAST(len(ltoks) AS DOUBLE), 1.0) FROM scored
        |  UNION ALL
        |  SELECT doc_id, 'zh', CAST(len(list_filter(ltoks,
        |    x -> list_contains(['的','了','是','我','不','在','有','他'],
        |      x))) AS DOUBLE) /
        |    greatest(CAST(len(ltoks) AS DOUBLE), 1.0) FROM scored),
        |langpick AS (
        |  SELECT doc_id,
        |    CASE WHEN score > 0.0 THEN lang ELSE 'und' END AS lang_pred
        |  FROM (SELECT doc_id, lang, score, row_number() OVER (
        |          PARTITION BY doc_id ORDER BY score DESC, lang DESC)
        |          AS rk FROM langscore)
        |  WHERE rk = 1)
        |SELECT lang_pred, count(*) AS n_docs,
        |       round(avg(qs), 6) AS avg_quality
        |FROM scored JOIN langpick USING (doc_id)
        |WHERE qs >= 0.75
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q29_ann_brute" ->
      """SELECT q.vec_id AS q_vec_id, c.vec_id AS vec_id,
        |CAST(row_number() OVER (PARTITION BY q.vec_id
        |  ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |             CAST(c.embedding AS DOUBLE[])) DESC,
        |           c.vec_id) AS INT) AS rank
        |FROM embeddings q, embeddings c
        |WHERE q.vec_id < 5
        |QUALIFY rank <= 10 ORDER BY q_vec_id, rank""".stripMargin,

    // q154: the q82 bucket CTEs drive a SELF-join; rank is cosine DESC
    // with dst tie-break, self-pairs excluded.
    "q154_knn_graph" ->
      s"""WITH ${HyperplaneReplay.oracleBucketCtes},
         |c AS (SELECT e.vec_id, e.embedding, bk.bucket
         |      FROM embeddings e JOIN bk USING (vec_id))
         |SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
         |CAST(row_number() OVER (PARTITION BY a.vec_id
         |  ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |             CAST(b.embedding AS DOUBLE[])) DESC,
         |           b.vec_id) AS INT) AS rank
         |FROM c a JOIN c b
         |  ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
         |QUALIFY rank <= 3 ORDER BY src_id, rank""".stripMargin,

    "q82_hyperplane_replay" ->
      s"""WITH ${HyperplaneReplay.oracleBucketCtes},
         |q AS (SELECT e.vec_id, e.embedding, bk.bucket
         |      FROM embeddings e JOIN bk USING (vec_id)
         |      WHERE e.vec_id < 5),
         |c AS (SELECT e.vec_id, e.embedding, bk.bucket
         |      FROM embeddings e JOIN bk USING (vec_id))
         |SELECT q.vec_id AS q_vec_id, c.vec_id AS vec_id,
         |CAST(row_number() OVER (PARTITION BY q.vec_id
         |  ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
         |             CAST(c.embedding AS DOUBLE[])) DESC,
         |           c.vec_id) AS INT) AS rank
         |FROM q JOIN c ON q.bucket = c.bucket
         |QUALIFY rank <= 5 ORDER BY q_vec_id, rank""".stripMargin,

    "q83_recall_replay" ->
      s"""WITH ${HyperplaneReplay.oracleBucketCtes},
         |q AS (SELECT e.vec_id, e.embedding, bk.bucket
         |      FROM embeddings e JOIN bk USING (vec_id)
         |      WHERE e.vec_id < 5),
         |c AS (SELECT e.vec_id, e.embedding, bk.bucket
         |      FROM embeddings e JOIN bk USING (vec_id)),
         |exact AS (
         |  SELECT q.vec_id AS q_vec_id, c.vec_id AS vec_id
         |  FROM embeddings q, embeddings c
         |  WHERE q.vec_id < 5
         |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
         |               CAST(c.embedding AS DOUBLE[])) DESC,
         |             c.vec_id) <= 10),
         |approx AS (
         |  SELECT q.vec_id AS q_vec_id, c.vec_id AS vec_id
         |  FROM q JOIN c ON q.bucket = c.bucket
         |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
         |               CAST(c.embedding AS DOUBLE[])) DESC,
         |             c.vec_id) <= 10)
         |SELECT e.q_vec_id,
         |       round(sum(CASE WHEN a.vec_id IS NOT NULL
         |                 THEN 1 ELSE 0 END) / 10.0, 6) AS recall
         |FROM exact e LEFT JOIN approx a
         |  ON e.q_vec_id = a.q_vec_id AND e.vec_id = a.vec_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // q126: the literal formula centroid table (exact dyadic values —
    // (j*31+i*7)%17-8 over 8) replays bit-for-bit; assignment is argmin
    // distance = argmax cosine with centroid_id tie-break, probing takes
    // the 2 nearest cells per query, rank is the in-cell cosine top-k —
    // the exact ivfAssign/ivfTopK pipeline.
    "q126_ivf_replay" ->
      """WITH cents AS (
        |  SELECT j AS centroid_id,
        |         list_transform(range(0, 64),
        |           i -> ((j * 31 + i * 7) % 17 - 8) / 8.0) AS c_vec
        |  FROM range(0, 8) t(j)),
        |assign AS (
        |  SELECT e.vec_id, e.embedding, t.centroid_id,
        |         row_number() OVER (PARTITION BY e.vec_id
        |           ORDER BY list_cosine_similarity(
        |             CAST(e.embedding AS DOUBLE[]), t.c_vec) DESC,
        |             t.centroid_id) AS pr
        |  FROM embeddings e CROSS JOIN cents t),
        |c AS (SELECT vec_id, embedding, centroid_id
        |      FROM assign WHERE pr = 1),
        |q AS (SELECT vec_id, embedding, centroid_id
        |      FROM assign WHERE vec_id < 5 AND pr <= 2)
        |SELECT q.vec_id AS q_vec_id, c.vec_id AS vec_id,
        |  CAST(row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |               CAST(c.embedding AS DOUBLE[])) DESC,
        |             c.vec_id) AS INT) AS rank
        |FROM q JOIN c USING (centroid_id)
        |QUALIFY rank <= 5 ORDER BY q_vec_id, rank""".stripMargin,

    // q140: q126's assignment replay (cos DESC, centroid_id tie-break)
    // feeds an integer-lattice M-step — floor(x·1e6+0.5) sums are exact
    // in any order, the mean is one exact divide of exact values.
    "q140_kmeans_step" ->
      """WITH cents AS (
        |  SELECT j AS centroid_id,
        |         list_transform(range(0, 64),
        |           i -> ((j * 31 + i * 7) % 17 - 8) / 8.0) AS c_vec
        |  FROM range(0, 8) t(j)),
        |assign AS (
        |  SELECT e.vec_id, e.embedding, t.centroid_id,
        |         row_number() OVER (PARTITION BY e.vec_id
        |           ORDER BY list_cosine_similarity(
        |             CAST(e.embedding AS DOUBLE[]), t.c_vec) DESC,
        |             t.centroid_id) AS pr
        |  FROM embeddings e CROSS JOIN cents t),
        |a AS (SELECT vec_id, embedding, centroid_id
        |      FROM assign WHERE pr = 1),
        |q AS (
        |  SELECT centroid_id, CAST(d AS INT) AS dim,
        |    CAST(floor(CAST(embedding[CAST(d + 1 AS INT)] AS DOUBLE)
        |               * 1000000.0 + 0.5) AS BIGINT) AS qv
        |  FROM a, LATERAL unnest(range(0, 64)) AS r(d))
        |SELECT centroid_id, dim, count(*) AS n,
        |  CAST(sum(qv) AS BIGINT) AS qsum,
        |  CAST(sum(qv) AS DOUBLE) / (1000000.0 * count(*)) AS mean
        |FROM q GROUP BY 1, 2 ORDER BY centroid_id, dim""".stripMargin,

    // q141: the greedy longest-match walk replayed as a recursive CTE —
    // the positional vocab (singles always kept, top-120 multis under
    // the total order cnt DESC, piece, cont), the start/continuation
    // split, the `##` prefix, and the [UNK] collapse are all string
    // algebra, no floats.
    "q141_wordpiece" ->
      """WITH RECURSIVE
        |words AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
        |      AS w
        |    FROM documents)
        |  WHERE w <> '' GROUP BY 1),
        |subs AS (
        |  SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece,
        |         i > 1 AS cont, sum(freq) AS cnt
        |  FROM words,
        |    LATERAL unnest(range(1, CAST(len(w) AS BIGINT) + 1)) AS r(i),
        |    LATERAL unnest(range(1, 5)) AS r2(l)
        |  WHERE i + l - 1 <= len(w)
        |  GROUP BY 1, 2),
        |vocab AS (
        |  SELECT piece, cont FROM subs WHERE len(piece) = 1
        |  UNION ALL
        |  SELECT piece, cont FROM (
        |    SELECT piece, cont,
        |      row_number() OVER (ORDER BY cnt DESC, piece, cont) AS rk
        |    FROM subs WHERE len(piece) > 1) WHERE rk <= 120),
        |walk AS (
        |  SELECT w, freq, CAST(0 AS BIGINT) AS pos,
        |         []::VARCHAR[] AS segs, false AS stuck
        |  FROM words
        |  UNION ALL
        |  SELECT walk.w, walk.freq,
        |    walk.pos + coalesce(nxt.l, 0),
        |    CASE WHEN nxt.piece IS NULL THEN walk.segs
        |         ELSE list_append(walk.segs,
        |           CASE WHEN walk.pos > 0 THEN '##' || nxt.piece
        |                ELSE nxt.piece END) END,
        |    nxt.piece IS NULL AS stuck
        |  FROM walk LEFT JOIN LATERAL (
        |    SELECT v.piece, CAST(len(v.piece) AS BIGINT) AS l
        |    FROM vocab v
        |    WHERE v.cont = (walk.pos > 0)
        |      AND v.piece = substr(walk.w, CAST(walk.pos + 1 AS INT),
        |                           CAST(len(v.piece) AS INT))
        |    ORDER BY l DESC LIMIT 1) AS nxt ON true
        |  WHERE NOT walk.stuck AND walk.pos < len(walk.w))
        |SELECT w AS word, freq,
        |  array_to_string(segs, '|') AS seg,
        |  CAST(len(segs) AS INT) AS n_pieces
        |FROM walk WHERE pos = len(w) AND NOT stuck
        |UNION ALL
        |SELECT w AS word, freq, '[UNK]' AS seg, 1 AS n_pieces
        |FROM walk WHERE stuck
        |ORDER BY word""".stripMargin,

    // q142: the dHash grid replays from the pixel formulas — original
    // cells sample (c·w÷9, r·h÷8); the resized rendition composes the
    // 12×10 resample indices first (the q76 composed-index argument);
    // the re-encode copy is bit-identical to the original. The final
    // all-pairs Hamming equals the banded join's output at maxDist ≤ 7.
    "q142_image_phash_dedup" ->
      """WITH ids AS (
        |  SELECT doc_id AS id FROM documents WHERE doc_id < 40),
        |imgs AS (
        |  SELECT id, id AS mid, 0 AS v FROM ids
        |  UNION ALL SELECT id, id + 1000, 1 FROM ids
        |  UNION ALL SELECT id, id + 2000, 2 FROM ids),
        |cells AS (
        |  SELECT mid, id, r, c,
        |    CASE WHEN v = 1
        |      THEN (((c * 12) // 9) * (16 + id % 13)) // 12
        |      ELSE (c * (16 + id % 13)) // 9 END AS x,
        |    CASE WHEN v = 1
        |      THEN (((r * 10) // 8) * (12 + id % 7)) // 10
        |      ELSE (r * (12 + id % 7)) // 8 END AS y
        |  FROM imgs, range(0, 8) rr(r), range(0, 9) cc(c)),
        |grays AS (
        |  SELECT mid, r, c,
        |    (((id * 31 + x * 7 + y * 13) % 256)
        |     + ((id * 17 + x * 5 + y * 3) % 256)
        |     + ((id * 13 + x * 11 + y * 19) % 256)) // 3 AS g
        |  FROM cells),
        |bits AS (
        |  SELECT a.mid, a.r * 8 + a.c AS j
        |  FROM grays a JOIN grays b
        |    ON a.mid = b.mid AND a.r = b.r AND b.c = a.c + 1
        |  WHERE a.c < 8 AND a.g < b.g),
        |hashes AS (
        |  SELECT i.mid,
        |    CAST(coalesce(sum(CASE WHEN b.j >= 32
        |      THEN CAST(1 AS BIGINT) << CAST(b.j - 32 AS INT) END), 0)
        |      AS BIGINT) AS h_hi,
        |    CAST(coalesce(sum(CASE WHEN b.j < 32
        |      THEN CAST(1 AS BIGINT) << CAST(b.j AS INT) END), 0)
        |      AS BIGINT) AS h_lo
        |  FROM imgs i LEFT JOIN bits b ON b.mid = i.mid
        |  GROUP BY 1)
        |SELECT a.mid AS id_a, b.mid AS id_b,
        |  CAST(bit_count(xor(a.h_hi, b.h_hi))
        |       + bit_count(xor(a.h_lo, b.h_lo)) AS INT) AS dist
        |FROM hashes a JOIN hashes b ON a.mid < b.mid
        |WHERE bit_count(xor(a.h_hi, b.h_hi))
        |      + bit_count(xor(a.h_lo, b.h_lo)) <= 7
        |ORDER BY id_a, id_b""".stripMargin,

    // q143: the q125 canonicalization chain (minus query/fragment
    // variants — bare paths here), the 2-label domain, then the q124
    // digit-walk replay of the 48-bit md5 prefix as the per-domain
    // keep order. The top-k aggregate equals the window form under the
    // total order (v ASC, doc_id ASC) — spec-pinned.
    "q143_domain_cap" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.'
        |          WHEN doc_id % 3 = 1 THEN 'http://'
        |          ELSE 'https://' END)
        |    || 'w' || (doc_id % 40) || '.' || source
        |    || (CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.org' END)
        |    || '/a/' || (doc_id % 300) AS url
        |  FROM documents),
        |d AS (
        |  SELECT doc_id,
        |    regexp_extract(regexp_replace(
        |      regexp_replace(regexp_replace(regexp_replace(
        |        regexp_replace(lower(url), '#.*$', ''),
        |        '\?.*$', ''),
        |        '^[a-z][a-z0-9+.-]*://', ''),
        |        '^www\.', ''),
        |      '/.*$', ''), '([^.]+\.[^.]+)$', 1) AS domain
        |  FROM u),
        |k AS (
        |  SELECT domain, doc_id,
        |    list_sum(list_transform(range(0, 12), i ->
        |      (strpos('0123456789abcdef',
        |         substr(md5(CAST(doc_id AS VARCHAR) || ':11'),
        |                CAST(i + 1 AS INT), 1)) - 1)
        |      * power(16.0, CAST(11 - i AS DOUBLE)))) AS v
        |  FROM d)
        |SELECT domain, doc_id,
        |  CAST(row_number() OVER (PARTITION BY domain
        |    ORDER BY v, doc_id) AS INT) AS rank
        |FROM k QUALIFY rank <= 5 ORDER BY domain, doc_id""".stripMargin,

    // q144: the PCM formula replays each rendition — the limiter is a
    // clamp, the trim is an index offset over a shorter stream — then
    // frame energies (exact integer sums over f·m÷33 boundaries), the
    // 32 derivative bits, and all-pairs Hamming ≡ the banded join at
    // maxDist ≤ 7.
    "q144_audio_fp_dedup" ->
      """WITH ids AS (
        |  SELECT doc_id AS id FROM documents WHERE doc_id < 40),
        |auds AS (
        |  SELECT id, id AS mid, 0 AS v, 256 + id % 64 AS m FROM ids
        |  UNION ALL SELECT id, id + 1000, 1, 256 + id % 64 FROM ids
        |  UNION ALL SELECT id, id + 2000, 2, 256 + id % 64 - 3 FROM ids),
        |samples AS (
        |  SELECT mid, f,
        |    CASE WHEN v = 2 THEN
        |           ((id * 7 + (j + 3) * 11 + (((j + 3) * (j + 3)) % 997)
        |             * 5) % 4096) - 2048
        |         WHEN v = 1 THEN greatest(-1024, least(1024,
        |           ((id * 7 + j * 11 + ((j * j) % 997) * 5) % 4096)
        |             - 2048))
        |         ELSE ((id * 7 + j * 11 + ((j * j) % 997) * 5) % 4096)
        |                - 2048 END AS s
        |  FROM auds, range(0, 33) ff(f),
        |    LATERAL unnest(range((f * m) // 33, ((f + 1) * m) // 33))
        |      AS jj(j)),
        |frames AS (
        |  SELECT mid, f, sum(abs(s)) AS e FROM samples GROUP BY 1, 2),
        |fps AS (
        |  SELECT a.mid,
        |    CAST(coalesce(sum(CASE WHEN a.e < b.e
        |      THEN CAST(1 AS BIGINT) << CAST(a.f AS INT) END), 0)
        |      AS BIGINT) AS fp
        |  FROM frames a JOIN frames b
        |    ON a.mid = b.mid AND b.f = a.f + 1
        |  WHERE a.f < 32
        |  GROUP BY 1)
        |SELECT a.mid AS id_a, b.mid AS id_b,
        |  CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS dist
        |FROM fps a JOIN fps b ON a.mid < b.mid
        |WHERE bit_count(xor(a.fp, b.fp)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    // q145: the q24/q139 token-count twin over the one kept lang — the
    // partitioned round trip must be lossless.
    "q145_partitioned_sink" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(CAST(CASE WHEN trim(text) = '' THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END
        |      AS BIGINT)) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS min_doc
        |FROM documents WHERE lang = 'en'
        |GROUP BY source ORDER BY source""".stripMargin,

    // q146: identity over the source table — the JSONL round trip must
    // return every byte.
    "q146_jsonl_roundtrip" ->
      """SELECT doc_id, lang, text FROM documents
        |ORDER BY doc_id""".stripMargin,

    // q147: the 8-level gifV formula replays each frame's gray grid
    // (GIF palettizes losslessly, and r=g=b=v makes gray = v exactly),
    // then per-frame dHash bits, distinct signatures, and the shared-
    // frame count join.
    "q147_video_neardup" ->
      """WITH vids AS (
        |  SELECT doc_id AS id, 16 + doc_id % 5 AS w,
        |         12 + doc_id % 3 AS h, 6 + doc_id % 4 AS nf
        |  FROM documents WHERE doc_id < 30),
        |grays AS (
        |  SELECT id, f, r, c,
        |    ((((c * w) // 9) + 3 * ((r * h) // 8) + 7 * f + id) % 8)
        |      * 32 AS g
        |  FROM vids, LATERAL unnest(range(0, nf)) AS ff(f),
        |    range(0, 8) rr(r), range(0, 9) cc(c)),
        |bits AS (
        |  SELECT a.id, a.f, a.r * 8 + a.c AS j
        |  FROM grays a JOIN grays b
        |    ON a.id = b.id AND a.f = b.f AND a.r = b.r
        |       AND b.c = a.c + 1
        |  WHERE a.c < 8 AND a.g < b.g),
        |hashes AS (
        |  SELECT v.id, v.f,
        |    CAST(coalesce(sum(CASE WHEN b.j >= 32
        |      THEN CAST(1 AS BIGINT) << CAST(b.j - 32 AS INT) END), 0)
        |      AS BIGINT) AS h_hi,
        |    CAST(coalesce(sum(CASE WHEN b.j < 32
        |      THEN CAST(1 AS BIGINT) << CAST(b.j AS INT) END), 0)
        |      AS BIGINT) AS h_lo
        |  FROM (SELECT id, f
        |        FROM vids, LATERAL unnest(range(0, nf)) AS ff(f)) v
        |  LEFT JOIN bits b ON b.id = v.id AND b.f = v.f
        |  GROUP BY 1, 2),
        |sigs AS (SELECT DISTINCT id, h_hi, h_lo FROM hashes)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM sigs a JOIN sigs b
        |  ON a.h_hi = b.h_hi AND a.h_lo = b.h_lo AND a.id < b.id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY id_a, id_b""".stripMargin,

    // q148: q133's extraction chain ∘ q117's normalize chain ∘ the q24
    // token gate ∘ q23's min-id dedup — each stage replayed verbatim.
    "q148_stage0_pipeline" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |    '</title><style type="text/css"> p { color: #a0b1c2; } ' ||
        |    '</style><script>if (a < b && c > 1) { emit("x&y"); }' ||
        |    '</script><!-- hidden <b>comment</b> --></head><body><h1>' ||
        |    lang || '</h1><p>' || text ||
        |    '</p><div class="f">footer &amp;amp; &lt;tag&gt; ' ||
        |    '&#39;q&#39;&nbsp;end</div></body></html>' AS html
        |  FROM documents),
        |x1 AS (SELECT doc_id, regexp_replace(html,
        |         '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM h),
        |x2 AS (SELECT doc_id, regexp_replace(t,
        |         '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM x1),
        |x3 AS (SELECT doc_id, regexp_replace(t,
        |         '(?s)<!--.*?-->', ' ', 'g') AS t FROM x2),
        |x4 AS (SELECT doc_id, regexp_replace(t,
        |         '(?s)<[/!]?[A-Za-z][^>]*>', ' ', 'g') AS t FROM x3),
        |x5 AS (SELECT doc_id,
        |         replace(replace(replace(replace(replace(replace(t,
        |           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |           '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t
        |       FROM x4),
        |x6 AS (SELECT doc_id,
        |         trim(regexp_replace(t, '\s+', ' ', 'g')) AS extracted
        |       FROM x5),
        |n AS (SELECT doc_id,
        |    lower(trim(regexp_replace(
        |      regexp_replace(
        |        regexp_replace(extracted,
        |          '[\x00-\x08\x0e-\x1f\x7f]', '', 'g'),
        |        '[^\x20-\x7e\s]', '', 'g'),
        |      '\s+', ' ', 'g'))) AS clean_text
        |  FROM x6),
        |g AS (SELECT doc_id, clean_text,
        |    CAST(CASE WHEN trim(clean_text) = '' THEN 0
        |      ELSE len(string_split_regex(trim(clean_text), '\s+')) END
        |      AS BIGINT) AS n_tok
        |  FROM n),
        |f AS (SELECT * FROM g WHERE n_tok >= 30),
        |k AS (SELECT min(doc_id) AS doc_id FROM f
        |      GROUP BY regexp_replace(lower(trim(clean_text)),
        |                              '\s+', ' ', 'g'))
        |SELECT f.doc_id, f.clean_text, f.n_tok
        |FROM f JOIN k USING (doc_id) ORDER BY doc_id""".stripMargin,

    // q149: sequential-dedup replay on the normalized key (the q136
    // injectivity discipline) — prior-snapshot keys kill every stream
    // copy; otherwise the keeper is argmin(snapshot, doc_id), the
    // mtime-pinned processing order.
    "q149_rolling_dedup_stream" ->
      """WITH n AS (
        |  SELECT doc_id, doc_id % 3 AS snap,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS k
        |  FROM documents),
        |prior AS (SELECT DISTINCT k FROM n WHERE snap = 0),
        |s AS (SELECT doc_id, k, snap FROM n WHERE snap <> 0),
        |fresh AS (
        |  SELECT s.doc_id, s.k, s.snap FROM s
        |  LEFT JOIN prior p ON s.k = p.k WHERE p.k IS NULL)
        |SELECT doc_id FROM (
        |  SELECT doc_id,
        |    row_number() OVER (PARTITION BY k
        |      ORDER BY snap, doc_id) AS rn
        |  FROM fresh) WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // q150: per-char frequency replay; entropy in nats summed, one
    // divide by ln 2, round-6 — the keep gate compares the rounded
    // value so both engines decide identically.
    "q150_char_entropy" ->
      """WITH c AS (
        |  SELECT doc_id, unnest(string_split(text, '')) AS ch
        |  FROM documents WHERE length(text) > 0),
        |f AS (SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS n
        |      FROM c GROUP BY 1, 2),
        |t AS (SELECT doc_id, sum(n) AS tot, count(*) AS uniq
        |      FROM f GROUP BY 1),
        |e AS (
        |  SELECT f.doc_id,
        |    round(sum(-(f.n / t.tot) * ln(f.n / t.tot)) / ln(2.0), 6)
        |      AS entropy_bits,
        |    CAST(max(t.uniq) AS BIGINT) AS n_unique,
        |    CAST(max(t.tot) AS BIGINT) AS n_chars
        |  FROM f JOIN t USING (doc_id) GROUP BY 1)
        |SELECT doc_id, entropy_bits, n_unique, n_chars,
        |  entropy_bits >= 3.0 AND entropy_bits <= 5.5 AS keep
        |FROM e ORDER BY doc_id""".stripMargin,

    // q151: lock-step recursive merge walk — rank r+1 applies to every
    // word simultaneously; greedy-leftmost via window islands (hit →
    // island id i − rn → odd-rank starts → lag-consumed drop), the
    // exact relational algorithm of the engine's mergeStep.
    // q151: the shared BpeWalkSql lock-step walk, per-word final
    // segmentation at r = 8.
    "q151_bpe_apply" ->
      s"""${BpeWalkSql.ctes}
         |SELECT w AS word, freq,
         |  array_to_string(syms, '|') AS seg,
         |  CAST(len(syms) AS INT) AS n_sym
         |FROM walk WHERE r = 8 ORDER BY word""".stripMargin,

    // q152: q151's lock-step merge walk supplies per-word subword
    // counts; one occurrence join + the q91 shard-cumsum window math.
    // q152: the shared BpeWalkSql walk supplies per-word subword
    // counts; one occurrence join + the q91 shard-cumsum window math.
    "q152_tokenize_pack" ->
      s"""${BpeWalkSql.ctes},
         |fin AS (SELECT w, CAST(len(syms) AS BIGINT) AS n_sym
         |        FROM walk WHERE r = 8),
         |occ AS (
         |  SELECT doc_id, w FROM (
         |    SELECT doc_id,
         |      unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
         |    FROM documents)
         |  WHERE w <> ''),
         |perdoc AS (
         |  SELECT doc_id, doc_id % 8 AS shard,
         |    CAST(sum(f.n_sym) AS BIGINT) AS n_tok
         |  FROM occ JOIN fin f USING (w) GROUP BY 1, 2),
         |p AS (
         |  SELECT shard, doc_id, n_tok,
         |    CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY shard
         |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
         |      1 PRECEDING), 0) AS BIGINT) AS off
         |  FROM perdoc WHERE n_tok > 0)
         |SELECT shard, doc_id, n_tok, off,
         |  CAST(floor(off / 256) AS BIGINT) AS first_seq,
         |  off % 256 AS offset_in_seq,
         |  CAST(floor((off + n_tok - 1) / 256) - floor(off / 256) + 1
         |    AS BIGINT) AS n_seqs
         |FROM p ORDER BY shard, doc_id""".stripMargin,

    // q153: the diff replayed on the normalized-content key (q136's
    // fingerprint-injectivity discipline); per-content char volume is
    // the min across copies, kept content reports side B's volume.
    "q153_corpus_diff" ->
      """WITH n AS (
        |  SELECT doc_id % 3 AS third,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS k,
        |    CAST(length(text) AS BIGINT) AS nch
        |  FROM documents),
        |a AS (SELECT k, min(nch) AS nch_a FROM n WHERE third < 2
        |      GROUP BY 1),
        |b AS (SELECT k, min(nch) AS nch_b FROM n WHERE third > 0
        |      GROUP BY 1)
        |SELECT
        |  CASE WHEN nch_b IS NULL THEN 'removed'
        |       WHEN nch_a IS NULL THEN 'added'
        |       ELSE 'kept' END AS status,
        |  count(*) AS n_contents,
        |  CAST(sum(coalesce(nch_b, nch_a)) AS BIGINT) AS n_chars
        |FROM a FULL OUTER JOIN b USING (k)
        |GROUP BY 1 ORDER BY status""".stripMargin,

    // q155: every-7th-word terminator synthesis (DuckDB lambda index is
    // 1-based where Spark's is 0-based — i % 7 ≡ (i0+1) % 7), then the
    // same marker rewrite + split; kept sentences carry their ORIGINAL
    // split position.
    "q155_sentence_split" ->
      """WITH synth AS (
        |  SELECT doc_id,
        |    array_to_string(list_transform(
        |      string_split_regex(trim(text), '\s+'),
        |      (w, i) -> CASE WHEN i % 7 = 0 THEN w || '.' ELSE w END),
        |      ' ') AS t
        |  FROM documents WHERE trim(text) <> ''),
        |sp AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(t, '([.!?])\s+',
        |      '\1' || chr(1), 'g'), chr(1)) AS ss
        |  FROM synth)
        |SELECT doc_id, CAST(i - 1 AS INT) AS idx,
        |  trim(ss[CAST(i AS INT)]) AS sentence,
        |  CAST(length(trim(ss[CAST(i AS INT)])) AS BIGINT) AS n_chars
        |FROM sp, LATERAL unnest(range(1, CAST(len(ss) AS BIGINT) + 1))
        |  AS u(i)
        |WHERE trim(ss[CAST(i AS INT)]) <> ''
        |ORDER BY doc_id, idx""".stripMargin,

    // q156: the q124 digit-walk md5 rank selects each lang's bottom-64
    // sample (ties: rank ASC then value ASC — the aggregate's
    // (score DESC, id ASC) order); nearest-rank index over the sorted
    // sample.
    "q156_bottomk_quantiles" ->
      """WITH d AS (
        |  SELECT lang, doc_id, CAST(length(text) AS BIGINT) AS val,
        |    list_sum(list_transform(range(0, 12), i ->
        |      (strpos('0123456789abcdef',
        |         substr(md5(CAST(doc_id AS VARCHAR) || ':5'),
        |                CAST(i + 1 AS INT), 1)) - 1)
        |      * power(16.0, CAST(11 - i AS DOUBLE)))) AS v
        |  FROM documents),
        |samp AS (
        |  SELECT lang, val FROM (
        |    SELECT lang, val,
        |      row_number() OVER (PARTITION BY lang ORDER BY v, val)
        |        AS rn
        |    FROM d) WHERE rn <= 64),
        |srt AS (
        |  SELECT lang, val,
        |    row_number() OVER (PARTITION BY lang ORDER BY val) - 1
        |      AS idx,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM samp)
        |SELECT lang, p, est, n_sample FROM (
        |  SELECT s.lang, pr.p, s.val AS est, CAST(s.n AS BIGINT)
        |      AS n_sample, s.idx,
        |    CAST(floor(pr.p * (s.n - 1)) AS BIGINT) AS want
        |  FROM srt s, (VALUES (0.1), (0.5), (0.9)) pr(p))
        |WHERE idx = want ORDER BY lang, p""".stripMargin,

    // q157: q155's synthesis/split CTEs ∘ the q135 doc-frequency anti
    // join ∘ ordered string_agg reassembly (docs losing every sentence
    // disappear — standard curation behavior).
    "q157_sentence_dedup" ->
      """WITH synth AS (
        |  SELECT doc_id,
        |    array_to_string(list_transform(
        |      string_split_regex(trim(text), '\s+'),
        |      (w, i) -> CASE WHEN i % 7 = 0 THEN w || '.' ELSE w END),
        |      ' ') AS t
        |  FROM documents WHERE trim(text) <> ''),
        |sp AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(t, '([.!?])\s+',
        |      '\1' || chr(1), 'g'), chr(1)) AS ss
        |  FROM synth),
        |units AS (
        |  SELECT doc_id, CAST(i - 1 AS INT) AS idx,
        |    trim(ss[CAST(i AS INT)]) AS sentence
        |  FROM sp, LATERAL unnest(range(1, CAST(len(ss) AS BIGINT) + 1))
        |    AS u(i)
        |  WHERE trim(ss[CAST(i AS INT)]) <> ''),
        |hot AS (
        |  SELECT sentence FROM (
        |    SELECT sentence, count(DISTINCT doc_id) AS df
        |    FROM units GROUP BY 1)
        |  WHERE df >= 3),
        |kept AS (
        |  SELECT u.* FROM units u
        |  LEFT JOIN hot h ON u.sentence = h.sentence
        |  WHERE h.sentence IS NULL)
        |SELECT doc_id,
        |  string_agg(sentence, ' ' ORDER BY idx) AS text
        |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q39_age_functor" ->
      """SELECT event_id,
        |round((epoch(date_trunc('second', ts)) -
        |       (946684800 + user_id * 86400)) / 31536000.0, 9) AS age
        |FROM events ORDER BY event_id""".stripMargin,

    "q40_log_tte_time" ->
      """WITH d AS (
        |  SELECT event_id, user_id, ts,
        |         (epoch(date_trunc('second', ts)) -
        |          epoch(date_trunc('second',
        |            lag(ts) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id)))) / 60 AS dm
        |  FROM events),
        |s AS (SELECT round(avg(ln(dm + 1)), 9) AS m,
        |             round(stddev_samp(ln(dm + 1)), 9) AS sd
        |      FROM d WHERE dm IS NOT NULL)
        |SELECT event_id,
        |  round(sum(CASE WHEN dm IS NULL THEN 0.0
        |                 ELSE exp((ln(dm + 1) - s.m) / s.sd) END)
        |          OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |        6) AS t_norm
        |FROM d, s ORDER BY event_id""".stripMargin,

    "q37_to_events_nested" ->
      """SELECT o_custkey AS subject_id, count(*) AS n_meta,
        |CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |  AS sum_value
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q38_restricted_scan" ->
      """SELECT event_type, count(*) AS n,
        |CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |WHERE event_type IN ('click', 'purchase') AND user_id < 50
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q34_embedding_gather" ->
      """WITH v AS (
        |  SELECT event_type,
        |         row_number() OVER (ORDER BY count(*) DESC, event_type)
        |           AS idx
        |  FROM events GROUP BY event_type),
        |j AS (
        |  SELECT e.user_id, e.value, em.embedding
        |  FROM events e
        |  JOIN v USING (event_type)
        |  JOIN embeddings em ON em.vec_id = v.idx),
        |d AS (
        |  SELECT user_id, i.g AS pos,
        |         sum(coalesce(value, 1.0) * embedding[CAST(i.g AS INT)]) AS s
        |  FROM j CROSS JOIN generate_series(1, 64) AS i(g)
        |  GROUP BY 1, 2)
        |SELECT user_id AS subject_id, CAST(pos AS INT) AS pos,
        |       round(s, 6) AS emb_val
        |FROM d ORDER BY subject_id, pos""".stripMargin,

    "q35_task_labels" ->
      """WITH t0 AS (
        |  SELECT user_id, min(date_trunc('second', ts)) AS t0
        |  FROM events GROUP BY 1),
        |tasks AS (
        |  SELECT user_id, t0 AS start_time,
        |         t0 + INTERVAL 15 DAY - INTERVAL 1 SECOND AS end_time,
        |         'early' AS label FROM t0
        |  UNION ALL
        |  SELECT user_id, t0 + INTERVAL 15 DAY,
        |         t0 + INTERVAL 30 DAY, 'late' FROM t0)
        |SELECT e.user_id AS subject_id, t.label, count(*) AS n_events
        |FROM events e JOIN tasks t ON e.user_id = t.user_id
        | AND date_trunc('second', e.ts) >= t.start_time
        | AND date_trunc('second', e.ts) <= t.end_time
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q36_unit_bounds" ->
      """SELECT event_id,
        |CASE WHEN event_type = 'click' THEN 'proportion' ELSE '%' END
        |  AS unit,
        |CASE WHEN value / 400.0 < 0.0 OR value / 400.0 > 1.0 THEN NULL
        |     ELSE value / 400.0 END AS value_bounded
        |FROM events ORDER BY event_id""".stripMargin,

    "q32_preprocess_std" ->
      """WITH train AS (SELECT * FROM events WHERE user_id % 5 < 4),
        |stats AS (SELECT event_type, avg(value) AS m,
        |                 stddev_samp(value) AS s
        |          FROM train WHERE value IS NOT NULL GROUP BY 1),
        |vocab AS (SELECT event_type,
        |                 row_number() OVER (ORDER BY count(*) DESC,
        |                                    event_type) AS idx
        |          FROM train GROUP BY 1)
        |SELECT e.event_id, e.event_type AS final_key,
        |       round((e.value - st.m) / st.s, 6) AS value_norm,
        |       coalesce(v.idx, 0) AS key_idx
        |FROM events e
        |LEFT JOIN stats st USING (event_type)
        |LEFT JOIN vocab v USING (event_type)
        |ORDER BY event_id""".stripMargin,

    "q33_preprocess_reencode" ->
      """WITH train AS (SELECT * FROM lineitem WHERE l_orderkey % 5 < 4),
        |vocab AS (
        |  SELECT l_returnflag || '__EQ_' ||
        |         CAST(CAST(round_even(l_quantity, 0) AS BIGINT) AS VARCHAR)
        |           AS element, count(*) AS n
        |  FROM train GROUP BY 1),
        |v2 AS (SELECT element,
        |              row_number() OVER (ORDER BY n DESC, element) AS idx
        |       FROM vocab)
        |SELECT l_orderkey, l_linenumber,
        |       l_returnflag || '__EQ_' ||
        |         CAST(CAST(round_even(l_quantity, 0) AS BIGINT) AS VARCHAR)
        |           AS final_key,
        |       CAST(NULL AS DOUBLE) AS value_clean,
        |       coalesce(v2.idx, 0) AS key_idx
        |FROM lineitem l
        |LEFT JOIN v2 ON l_returnflag || '__EQ_' ||
        |  CAST(CAST(round_even(l_quantity, 0) AS BIGINT) AS VARCHAR) = v2.element
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q44_dataset_preprocess" ->
      """WITH tsub AS (SELECT DISTINCT user_id FROM events
        |             WHERE user_id % 5 < 4),
        |grpv AS (
        |  SELECT 'g' || CAST(user_id % 3 AS VARCHAR) AS grp, count(*) AS n
        |  FROM tsub GROUP BY 1),
        |grpidx AS (
        |  SELECT grp,
        |         CAST(row_number() OVER (ORDER BY n DESC, grp) AS INT)
        |           AS gidx
        |  FROM grpv),
        |stats AS (
        |  SELECT event_type, avg(value) AS m, stddev_samp(value) AS s
        |  FROM events WHERE user_id % 5 < 4 AND value IS NOT NULL
        |  GROUP BY 1),
        |vocab AS (
        |  SELECT event_type,
        |         CAST(row_number() OVER (ORDER BY count(*) DESC,
        |                                 event_type) AS INT) AS idx
        |  FROM events WHERE user_id % 5 < 4 GROUP BY 1),
        |agest AS (
        |  SELECT avg((epoch(date_trunc('second', ts)) -
        |              (946684800 + user_id * 86400)) / 31536000.0) AS m2,
        |         stddev_samp((epoch(date_trunc('second', ts)) -
        |              (946684800 + user_id * 86400)) / 31536000.0) AS s2
        |  FROM events WHERE user_id % 5 < 4)
        |SELECT e.event_id AS metadata_id, e.event_type AS final_key,
        |       round((e.value - st.m) / st.s, 6) AS value_norm,
        |       coalesce(v.idx, 0) AS key_idx,
        |       coalesce(g.gidx, 0) AS grp_idx,
        |       round(((epoch(date_trunc('second', e.ts)) -
        |               (946684800 + e.user_id * 86400)) / 31536000.0
        |              - a.m2) / a.s2, 6) AS age_norm
        |FROM events e
        |LEFT JOIN stats st USING (event_type)
        |LEFT JOIN vocab v USING (event_type)
        |LEFT JOIN grpidx g ON g.grp = 'g' || CAST(e.user_id % 3 AS VARCHAR),
        |agest a
        |ORDER BY metadata_id""".stripMargin,

    "q45_sessions_batch" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('second', ts) AS t, value
        |  FROM events),
        |d AS (
        |  SELECT user_id, t, value,
        |    CASE WHEN lag(t) OVER w IS NULL THEN 1
        |         WHEN t - lag(t) OVER w > INTERVAL 30 MINUTE THEN 1
        |         ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |s AS (
        |  SELECT user_id, t, value,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM d)
        |SELECT user_id AS subject_id,
        |       CAST(epoch(min(t)) AS BIGINT) AS sess_start,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |         AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY subject_id, sess_start""".stripMargin,

    "q46_quantile_transform" ->
      """WITH q AS (
        |  SELECT event_type AS key,
        |         list_transform(quantile_cont(value,
        |           [0.0, 0.25, 0.5, 0.75, 1.0]), x -> round(x, 9)) AS qs
        |  FROM events WHERE user_id % 5 < 4 AND value IS NOT NULL
        |  GROUP BY 1),
        |j AS (
        |  SELECT e.event_id, e.value, q.qs,
        |         len(list_filter(q.qs, x -> x <= e.value)) AS cnt
        |  FROM events e LEFT JOIN q ON e.event_type = q.key),
        |p AS (
        |  SELECT event_id, value, qs,
        |         greatest(least(cnt - 1, 3), 0) AS lo
        |  FROM j)
        |SELECT event_id,
        |  CASE WHEN value IS NULL OR qs IS NULL THEN NULL
        |       ELSE round(least(greatest(
        |         (lo + least(greatest(
        |            CASE WHEN qs[CAST(lo AS INT)+2] = qs[CAST(lo AS INT)+1]
        |                 THEN 0.0
        |                 ELSE (value - qs[CAST(lo AS INT)+1]) /
        |                      (qs[CAST(lo AS INT)+2] -
        |                       qs[CAST(lo AS INT)+1]) END,
        |            0.0), 1.0)) / 4.0, 0.0), 1.0), 6)
        |  END AS v_q
        |FROM p ORDER BY event_id""".stripMargin,

    "q47_ngram_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, 'de' AS lang, CAST(len(list_filter(tk,
        |    x -> list_contains(['der','die','und','das','ist','von','den',
        |      'mit'], x))) AS DOUBLE) /
        |    greatest(CAST(len(tk) AS DOUBLE), 1.0) AS score FROM t
        |  UNION ALL
        |  SELECT doc_id, 'en', CAST(len(list_filter(tk,
        |    x -> list_contains(['the','and','of','to','in','is','you',
        |      'that','it'], x))) AS DOUBLE) /
        |    greatest(CAST(len(tk) AS DOUBLE), 1.0) FROM t
        |  UNION ALL
        |  SELECT doc_id, 'es', CAST(len(list_filter(tk,
        |    x -> list_contains(['el','la','de','que','y','en','un','los',
        |      'se'], x))) AS DOUBLE) /
        |    greatest(CAST(len(tk) AS DOUBLE), 1.0) FROM t
        |  UNION ALL
        |  SELECT doc_id, 'fr', CAST(len(list_filter(tk,
        |    x -> list_contains(['le','la','de','et','les','des','est','un',
        |      'une'], x))) AS DOUBLE) /
        |    greatest(CAST(len(tk) AS DOUBLE), 1.0) FROM t
        |  UNION ALL
        |  SELECT doc_id, 'zh', CAST(len(list_filter(tk,
        |    x -> list_contains(['的','了','是','我','不','在','有','他'],
        |      x))) AS DOUBLE) /
        |    greatest(CAST(len(tk) AS DOUBLE), 1.0) FROM t),
        |lang AS (
        |  SELECT s0.doc_id,
        |    (CASE WHEN s0.score > 0.0 THEN s0.lang ELSE 'und' END) || '_' ||
        |      CAST(CAST(floor(length(doc.text) / 10) AS BIGINT) AS VARCHAR)
        |      AS blk
        |  FROM (SELECT doc_id, lang, score, row_number() OVER (
        |          PARTITION BY doc_id ORDER BY score DESC, lang DESC)
        |          AS rk FROM s) s0
        |  JOIN documents doc USING (doc_id)
        |  WHERE rk = 1),
        |sh AS (
        |  SELECT d.doc_id, lang.blk,
        |    list_distinct(list_transform(range(1, len(tok) - 1),
        |      i -> tok[CAST(i AS INT)] || ' ' || tok[CAST(i AS INT)+1] ||
        |           ' ' || tok[CAST(i AS INT)+2])) AS sh
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(lower(text), '\s+'),
        |            x -> x <> '') AS tok
        |        FROM documents) d
        |  JOIN lang USING (doc_id)),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0
        |         THEN 0.0
        |         ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |              CAST(len(list_distinct(list_concat(a.sh, b.sh)))
        |                AS DOUBLE) END AS jac
        |  FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, round(jac, 6) AS jaccard
        |FROM pairs WHERE jac >= 0.25
        |ORDER BY id_a, id_b""".stripMargin,

    "q53_props_ingest" ->
      """SELECT event_type, 'k' AS key, count(*) AS n,
        |CAST(sum(CAST(CAST(json_extract(props, '$.k') AS VARCHAR)
        |  AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events WHERE json_extract(props, '$.k') IS NOT NULL
        |GROUP BY 1""".stripMargin,

    "q52_task_labels_norm" ->
      """WITH f AS (
        |  SELECT user_id, event_type FROM (
        |    SELECT user_id, event_type,
        |           row_number() OVER (PARTITION BY user_id
        |                              ORDER BY ts, event_id) AS rn
        |    FROM events) WHERE rn = 1),
        |a AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1),
        |t AS (
        |  SELECT f.user_id, f.event_type AS outcome,
        |         a.n % 4 AS severity, (a.n % 2 = 0) AS flag,
        |         a.n / 100.0 AS risk
        |  FROM f JOIN a USING (user_id))
        |SELECT user_id AS subject_id,
        |  CAST(dense_rank() OVER (ORDER BY outcome) - 1 AS BIGINT)
        |    AS outcome,
        |  CAST(severity AS BIGINT) AS severity,
        |  CAST(flag AS DOUBLE) AS flag,
        |  risk
        |FROM t ORDER BY subject_id""".stripMargin,

    "q51_vocab_fold" ->
      """WITH c AS (
        |  SELECT lang AS element, count(*) AS n FROM documents
        |  WHERE doc_id % 10 <> 0 AND lang IS NOT NULL GROUP BY 1),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t,
        |               CAST(sum(n) AS BIGINT) AS obs FROM c),
        |surv AS (
        |  SELECT element, n, n / (SELECT t FROM tot) AS freq FROM c
        |  WHERE CAST(n AS DOUBLE) / (SELECT t FROM tot) >= 0.15),
        |ranked AS (
        |  SELECT element, n,
        |         CAST(row_number() OVER (ORDER BY n DESC, element) AS INT)
        |           AS idx,
        |         freq
        |  FROM surv),
        |unk AS (
        |  SELECT 'UNK' AS element,
        |         CAST(coalesce(sum(n), 0) AS BIGINT) AS n,
        |         CAST(0 AS INT) AS idx,
        |         coalesce(sum(n / (SELECT t FROM tot)), 0.0) AS freq
        |  FROM c WHERE CAST(n AS DOUBLE) / (SELECT t FROM tot) < 0.15)
        |SELECT element, n, idx, round(freq, 9) AS freq,
        |       round((SELECT obs FROM tot) /
        |             (SELECT CAST(count(*) AS DOUBLE) FROM documents), 9)
        |         AS obs_frequency
        |FROM (SELECT * FROM unk UNION ALL SELECT * FROM ranked)
        |ORDER BY idx""".stripMargin,

    "q48_temporal_encoding" ->
      """WITH t0 AS (
        |  SELECT user_id, min(date_trunc('second', ts)) AS t0
        |  FROM events GROUP BY 1),
        |tm AS (
        |  SELECT e.event_id,
        |         (epoch(date_trunc('second', e.ts)) - epoch(t.t0)) / 60.0
        |           AS tm
        |  FROM events e JOIN t0 t ON e.user_id = t.user_id)
        |SELECT event_id,
        |  round(sin(tm), 6) AS enc_sin0, round(cos(tm), 6) AS enc_cos0,
        |  round(sin(tm * 0.01), 6) AS enc_sin1,
        |  round(cos(tm * 0.01), 6) AS enc_cos1
        |FROM tm ORDER BY event_id""".stripMargin,

    // Replays the variable frame count (3 + id%4) and formula dims of
    // the synthesized GIFs; the Spark side counts frames by actually
    // walking the container with the JDK reader.
    "q31_media_frames" ->
      """SELECT doc_id AS media_id,
        |  CAST(3 + doc_id % 4 AS BIGINT) AS n_frames,
        |  CAST(16 + doc_id % 5 AS INT) AS width,
        |  CAST(12 + doc_id % 3 AS INT) AS height
        |FROM documents ORDER BY media_id""".stripMargin,

    "q54_collate_pad" ->
      """WITH n AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
        |r AS (
        |  SELECT user_id,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY date_trunc('second', ts), event_id) AS INT) AS pos,
        |    (epoch(date_trunc('second', ts)) -
        |     min(epoch(date_trunc('second', ts)))
        |       OVER (PARTITION BY user_id)) / 60.0 AS t_min
        |  FROM events),
        |p AS (
        |  SELECT user_id,
        |         CAST(unnest(range(1,
        |           (SELECT CAST(max(c) AS BIGINT) + 1 FROM n))) AS INT)
        |           AS pos
        |  FROM (SELECT DISTINCT user_id FROM events))
        |SELECT p.user_id AS subject_id, p.pos AS pos,
        |       round(r.t_min, 6) AS t_min
        |FROM p LEFT JOIN r ON r.user_id = p.user_id AND r.pos = p.pos
        |ORDER BY subject_id, p.pos""".stripMargin,

    "q56_static_gather" ->
      """WITH v AS (
        |  SELECT event_type,
        |         row_number() OVER (ORDER BY count(*) DESC, event_type)
        |           AS idx
        |  FROM events GROUP BY event_type),
        |j AS (
        |  SELECT e.user_id, e.value, em.embedding
        |  FROM events e
        |  JOIN v USING (event_type)
        |  JOIN embeddings em ON em.vec_id = v.idx
        |  UNION ALL
        |  SELECT s.user_id, 1.0 AS value, em.embedding
        |  FROM (SELECT DISTINCT user_id FROM events) s
        |  JOIN embeddings em ON em.vec_id = 10 + s.user_id % 3),
        |d AS (
        |  SELECT user_id, i.g AS pos,
        |         sum(coalesce(value, 1.0) * embedding[CAST(i.g AS INT)]) AS s
        |  FROM j CROSS JOIN generate_series(1, 64) AS i(g)
        |  GROUP BY 1, 2)
        |SELECT user_id AS subject_id, CAST(pos AS INT) AS pos,
        |       round(s, 6) AS emb_val
        |FROM d ORDER BY subject_id, pos""".stripMargin,

    "q55_winnow_fp" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(length(text) - 8 + 2, 1)),
        |      i -> list_sum(list_transform(range(0, 8), j ->
        |        CAST(unicode(substr(text, CAST(i + j AS INT), 1)) AS BIGINT) *
        |        [13163680, 805498697, 154885210, 362470373, 16974593,
        |         66049, 257, 1][CAST(j + 1 AS INT)])) % 1000000007)
        |      AS hs
        |  FROM documents),
        |sel AS (
        |  SELECT doc_id,
        |    CASE WHEN len(hs) = 0 THEN []
        |         WHEN len(hs) <= 16 THEN [list_min(hs)]
        |         ELSE list_transform(range(1, len(hs) - 16 + 2),
        |                i -> list_min(hs[CAST(i AS INT):CAST(i + 15 AS INT)]))
        |    END AS fps
        |  FROM h)
        |SELECT doc_id, CAST(unnest(list_distinct(fps)) AS BIGINT) AS fp
        |FROM sel ORDER BY doc_id, fp""".stripMargin,

    "q65_topk_per_group" ->
      """WITH r AS (
        |  SELECT l_orderkey,
        |         sum(CAST(l_extendedprice * (1.0 - l_discount)
        |             AS DECIMAL(20,4))) AS rev
        |  FROM lineitem GROUP BY 1),
        |ranked AS (
        |  SELECT o_orderpriority,
        |         CAST(row_number() OVER (PARTITION BY o_orderpriority
        |           ORDER BY rev DESC, o_orderkey) AS INT) AS rk,
        |         o_orderkey, CAST(rev AS DOUBLE) AS rev
        |  FROM orders JOIN r ON o_orderkey = l_orderkey)
        |SELECT o_orderpriority, rk, o_orderkey, rev
        |FROM ranked WHERE rk <= 3 ORDER BY o_orderpriority, rk""".stripMargin,

    "q66_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_custs,
        |CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Replays the red-channel pixel formula bucketed into 8 level bins
    // (bin = r DIV 32); zero bins kept via the generate_series cross
    // join — the Spark side gets the raster back from a real PNG decode.
    "q64_media_features" ->
      """WITH dims AS (
        |  SELECT doc_id, 16 + doc_id % 13 AS w, 12 + doc_id % 7 AS h
        |  FROM documents),
        |px AS (
        |  SELECT d.doc_id,
        |         ((d.doc_id*31 + x.g*7 + y.g*13) % 256) // 32 AS bin
        |  FROM dims d, generate_series(0, 27) x(g),
        |       generate_series(0, 17) y(g)
        |  WHERE x.g < d.w AND y.g < d.h),
        |c AS (SELECT doc_id, bin, count(*) AS cnt FROM px GROUP BY 1, 2)
        |SELECT d.doc_id AS media_id, CAST(d.w * d.h AS INT) AS n_px,
        |       CAST(b.g + 1 AS INT) AS bin,
        |       CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
        |FROM dims d CROSS JOIN generate_series(0, 7) b(g)
        |LEFT JOIN c ON c.doc_id = d.doc_id AND c.bin = b.g
        |ORDER BY media_id, bin""".stripMargin,

    "q62_sliding_daily" ->
      """WITH w AS (
        |  SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT)
        |           - 86400 * (1 - g.i) AS win_start,
        |         event_type
        |  FROM events
        |  CROSS JOIN generate_series(0, 1) AS g(i))
        |SELECT win_start, event_type, count(*) AS n
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q63_rollup_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |       sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY 1, 2""".stripMargin,

    "q61_asof_join" ->
      """WITH r AS (
        |  SELECT user_id, date_trunc('second', ts) AS ts2,
        |         max(value) AS p_val
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT e.event_id, r.p_val
        |FROM (SELECT event_id, user_id, date_trunc('second', ts) AS ts2
        |      FROM events) e
        |ASOF LEFT JOIN r ON e.user_id = r.user_id AND e.ts2 >= r.ts2
        |ORDER BY event_id""".stripMargin,

    // DuckDB's ASOF has no tolerance clause: take the unbounded ASOF
    // match, then null it when it is staler than the bound — exactly the
    // engine's post-filter semantics.
    "q88_asof_tolerance" ->
      """WITH r AS (
        |  SELECT user_id, date_trunc('second', ts) AS ts2,
        |         max(value) AS p_val
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT e.event_id,
        |       CASE WHEN date_diff('second', r.ts2, e.ts2) <= 172800
        |            THEN r.p_val END AS p_val
        |FROM (SELECT event_id, user_id, date_trunc('second', ts) AS ts2
        |      FROM events) e
        |ASOF LEFT JOIN r ON e.user_id = r.user_id AND e.ts2 >= r.ts2
        |ORDER BY event_id""".stripMargin,

    "q60_normalized_gather" ->
      """WITH v AS (
        |  SELECT event_type,
        |         row_number() OVER (ORDER BY count(*) DESC, event_type)
        |           AS idx
        |  FROM events GROUP BY event_type),
        |it AS (
        |  SELECT e.user_id, v.idx AS vidx, v.idx % 2 + 1 AS midx
        |  FROM events e JOIN v USING (event_type)),
        |cnts AS (
        |  SELECT user_id, midx, count(*) AS mc FROM it GROUP BY 1, 2),
        |nm AS (SELECT user_id, count(*) AS nmeas FROM cnts GROUP BY 1),
        |j AS (
        |  SELECT it.user_id, 1.0 / (c.mc * n.nmeas) AS w, em.embedding
        |  FROM it
        |  JOIN cnts c USING (user_id, midx)
        |  JOIN nm n USING (user_id)
        |  JOIN embeddings em ON em.vec_id = it.vidx),
        |d AS (
        |  SELECT user_id, i.g AS pos,
        |         sum(w * embedding[CAST(i.g AS INT)]) AS s
        |  FROM j CROSS JOIN generate_series(1, 64) AS i(g)
        |  GROUP BY 1, 2)
        |SELECT user_id AS subject_id, CAST(pos AS INT) AS pos,
        |       round(s, 6) AS emb_val
        |FROM d ORDER BY subject_id, pos""".stripMargin,

    "q59_split_gather" ->
      """WITH v AS (
        |  SELECT event_type,
        |         row_number() OVER (ORDER BY count(*) DESC, event_type)
        |           AS idx
        |  FROM events GROUP BY event_type),
        |j AS (
        |  SELECT e.user_id, e.value, em.embedding
        |  FROM events e
        |  JOIN v USING (event_type)
        |  JOIN embeddings em ON em.vec_id = v.idx),
        |d AS (
        |  SELECT user_id, i.g AS pos,
        |         sum(embedding[CAST(i.g AS INT)]) AS cs,
        |         sum(coalesce(value, 0) *
        |             embedding[CAST(65 - i.g AS INT)]) AS ns
        |  FROM j CROSS JOIN generate_series(1, 64) AS i(g)
        |  GROUP BY 1, 2)
        |SELECT user_id AS subject_id, CAST(pos AS INT) AS pos,
        |       round(0.5 * cs + 0.5 * ns, 6) AS emb_val
        |FROM d ORDER BY subject_id, pos""".stripMargin,

    "q58_winnow_overlap" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(length(text) - 8 + 2, 1)),
        |      i -> list_sum(list_transform(range(0, 8), j ->
        |        CAST(unicode(substr(text, CAST(i + j AS INT), 1)) AS BIGINT) *
        |        [13163680, 805498697, 154885210, 362470373, 16974593,
        |         66049, 257, 1][CAST(j + 1 AS INT)])) % 1000000007)
        |      AS hs
        |  FROM documents),
        |sel AS (
        |  SELECT doc_id,
        |    CASE WHEN len(hs) = 0 THEN []
        |         WHEN len(hs) <= 16 THEN [list_min(hs)]
        |         ELSE list_transform(range(1, len(hs) - 16 + 2),
        |                i -> list_min(hs[CAST(i AS INT):CAST(i + 15 AS INT)]))
        |    END AS fps
        |  FROM h),
        |fd AS (
        |  SELECT doc_id, unnest(list_distinct(fps)) AS fp FROM sel),
        |ok AS (SELECT fp FROM fd GROUP BY fp HAVING count(*) <= 5),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM fd a JOIN fd b USING (fp) JOIN ok USING (fp)
        |  WHERE a.doc_id < b.doc_id)
        |SELECT id_a, id_b, count(*) AS n_shared
        |FROM p GROUP BY 1, 2 HAVING count(*) >= 5
        |ORDER BY id_a, id_b""".stripMargin,

    "q57_nested_view" ->
      """WITH m AS (
        |  SELECT event_id, event_type AS key FROM events
        |  UNION ALL
        |  SELECT event_id, 'k' AS key FROM events
        |  WHERE json_extract(props, '$.k') IS NOT NULL)
        |SELECT event_id, CAST(count(*) AS INT) AS n_meta,
        |       min(key) AS min_key, max(key) AS max_key
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,

    "q67_concat_gather" ->
      """WITH v AS (
        |  SELECT event_type,
        |         row_number() OVER (ORDER BY count(*) DESC, event_type)
        |           AS idx
        |  FROM events GROUP BY event_type),
        |j AS (
        |  SELECT e.user_id, e.value, em.embedding
        |  FROM events e
        |  JOIN v USING (event_type)
        |  JOIN embeddings em ON em.vec_id = v.idx),
        |d AS (
        |  SELECT user_id, i.g AS pos,
        |         sum(coalesce(value, 1.0) * embedding[CAST(i.g AS INT)]) AS s
        |  FROM j CROSS JOIN generate_series(1, 64) AS i(g)
        |  GROUP BY 1, 2),
        |st AS (
        |  SELECT u.user_id, 64 + i.g AS pos,
        |         em.embedding[CAST(i.g AS INT)] AS s
        |  FROM (SELECT DISTINCT user_id FROM events) u
        |  JOIN embeddings em ON em.vec_id = u.user_id % 3 + 10
        |  CROSS JOIN generate_series(1, 64) AS i(g))
        |SELECT user_id AS subject_id, CAST(pos AS INT) AS pos,
        |       round(s, 6) AS emb_val
        |FROM (SELECT * FROM d UNION ALL SELECT * FROM st)
        |ORDER BY subject_id, pos""".stripMargin,

    "q68_obs_frequency" ->
      """SELECT 'event_type' AS measurement,
        |  CAST(count(event_type) AS DOUBLE) / count(*) AS obs_freq,
        |  (SELECT CAST(count(DISTINCT event_type) + 1 AS BIGINT)
        |   FROM events) AS n_vocab,
        |  false AS dropped
        |FROM events
        |UNION ALL
        |SELECT 'props.k',
        |  CAST(count(CASE WHEN json_extract(props, '$.k') IS NOT NULL
        |        THEN 1 END) AS DOUBLE) / count(*),
        |  CAST(2 AS BIGINT), false
        |FROM events""".stripMargin,

    "q69_repetition" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents WHERE trim(text) <> ''),
        |b AS (
        |  SELECT doc_id, ws[CAST(i AS INT)] || ' ' ||
        |         ws[CAST(i + 1 AS INT)] AS g
        |  FROM d, unnest(range(1, len(ws))) AS t(i)),
        |bc AS (SELECT doc_id, g, count(*) AS c FROM b GROUP BY 1, 2),
        |bs AS (
        |  SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c)
        |           AS top_bigram_frac
        |  FROM bc GROUP BY 1),
        |tr AS (
        |  SELECT doc_id, ws[CAST(i AS INT)] || ' ' ||
        |         ws[CAST(i + 1 AS INT)] || ' ' ||
        |         ws[CAST(i + 2 AS INT)] AS g
        |  FROM d, unnest(range(1, len(ws) - 1)) AS t(i)),
        |tc AS (SELECT doc_id, g, count(*) AS c FROM tr GROUP BY 1, 2),
        |ts AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
        |           / sum(c) AS dup_trigram_frac
        |  FROM tc GROUP BY 1)
        |SELECT d.doc_id,
        |       coalesce(bs.top_bigram_frac, 0.0) AS top_bigram_frac,
        |       coalesce(ts.dup_trigram_frac, 0.0) AS dup_trigram_frac
        |FROM d LEFT JOIN bs USING (doc_id) LEFT JOIN ts USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q70_stratified_sample" ->
      """SELECT c_custkey, c_mktsegment FROM (
        |  SELECT c_custkey, c_mktsegment,
        |         row_number() OVER (PARTITION BY c_mktsegment
        |           ORDER BY md5(CAST(c_custkey AS VARCHAR) || ':7'),
        |                    c_custkey) AS rk
        |  FROM customer) WHERE rk <= 20""".stripMargin,

    "q71_tfidf" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         unnest(string_split_regex(trim(lower(text)), '\s+'))
        |           AS term
        |  FROM documents WHERE trim(text) <> ''),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS nd FROM t)
        |SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |       round(tf.tf * ln(nd / df.df), 6) AS tfidf
        |FROM tf JOIN df USING (term) CROSS JOIN n
        |ORDER BY doc_id, term""".stripMargin,

    "q73_prepend_gather" ->
      """WITH v AS (
        |  SELECT event_type,
        |         row_number() OVER (ORDER BY count(*) DESC, event_type)
        |           AS idx
        |  FROM events GROUP BY event_type),
        |e AS (
        |  SELECT event_id, user_id, event_type, value,
        |         CAST(row_number() OVER (PARTITION BY user_id
        |                                 ORDER BY event_id) AS INT)
        |           AS seq_pos
        |  FROM events WHERE user_id < 10),
        |dyn AS (
        |  SELECT e.user_id, e.seq_pos, e.value, em.embedding
        |  FROM e JOIN v USING (event_type)
        |  JOIN embeddings em ON em.vec_id = v.idx),
        |allrows AS (
        |  SELECT user_id, seq_pos, i.g AS pos,
        |         coalesce(value, 1.0) * embedding[CAST(i.g AS INT)] AS sv
        |  FROM dyn CROSS JOIN generate_series(1, 64) AS i(g)
        |  UNION ALL
        |  SELECT s.user_id, 0 AS seq_pos, i.g,
        |         em.embedding[CAST(i.g AS INT)]
        |  FROM (SELECT DISTINCT user_id FROM events WHERE user_id < 10) s
        |  JOIN embeddings em ON em.vec_id = 10 + s.user_id % 3
        |  CROSS JOIN generate_series(1, 64) AS i(g))
        |SELECT user_id AS subject_id, CAST(seq_pos AS INT) AS seq_pos,
        |       CAST(pos AS INT) AS pos, round(sv, 6) AS emb_val
        |FROM allrows ORDER BY subject_id, seq_pos, pos""".stripMargin,

    "q74_seq_window" ->
      """WITH v AS (
        |  SELECT event_type,
        |         row_number() OVER (ORDER BY count(*) DESC, event_type)
        |           AS idx
        |  FROM events GROUP BY event_type),
        |e AS (
        |  SELECT user_id, event_id, date_trunc('second', ts) AS ts2,
        |         event_type,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY date_trunc('second', ts), event_id) AS rn,
        |         count(*) OVER (PARTITION BY user_id) AS n
        |  FROM events),
        |st AS (
        |  SELECT DISTINCT user_id,
        |    CASE WHEN n <= 50 THEN 1
        |         ELSE CAST(floor(((user_id * 2654435761) % 1000003)
        |                / 1000003.0 * (n - 49)) AS BIGINT) + 1
        |    END AS start
        |  FROM e),
        |w AS (
        |  SELECT e.* FROM e JOIN st USING (user_id)
        |  WHERE rn >= start AND rn < start + 50)
        |SELECT user_id AS subject_id, CAST(count(*) AS INT) AS seq_len,
        |       (epoch(max(ts2)) - epoch(min(ts2))) / 60 AS last_min,
        |       CAST(sum(idx + 1) AS BIGINT) AS sum_uidx
        |FROM w JOIN v USING (event_type)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // The VIOD trim loop replayed as a DuckDB recursive CTE: state =
    // (key, live window [a,b] 1-based, bounds); per-key prefix sums s/q
    // pin the same arithmetic order as Viod.fitArrayPrefix, so every
    // stdDelta-vs-threshold comparison replays bit-for-bit.
    "q75_viod_oracle" ->
      """WITH RECURSIVE
        |r0 AS (
        |  SELECT event_type AS key, v,
        |         row_number() OVER (PARTITION BY event_type ORDER BY v)
        |           AS rn
        |  FROM (SELECT event_type,
        |          CASE WHEN event_id % 997 = 0
        |                 THEN CAST(value AS DOUBLE) * 50.0
        |               WHEN event_id % 1009 = 1
        |                 THEN CAST(value AS DOUBLE) * -50.0
        |               ELSE CAST(value AS DOUBLE) END AS v
        |        FROM events WHERE value IS NOT NULL)),
        |r AS (
        |  SELECT key, v, rn,
        |         sum(v) OVER (PARTITION BY key ORDER BY rn
        |                      ROWS UNBOUNDED PRECEDING) AS s,
        |         sum(v*v) OVER (PARTITION BY key ORDER BY rn
        |                        ROWS UNBOUNDED PRECEDING) AS q,
        |         CASE WHEN rn = 1 THEN FALSE
        |              ELSE v <> lag(v) OVER (PARTITION BY key ORDER BY rn)
        |         END AS chg
        |  FROM r0),
        |init AS (
        |  SELECT key, count(*) AS n0, max(s) AS s0, max(q) AS q0
        |  FROM r GROUP BY key),
        |base AS (
        |  SELECT key, CAST(1 AS BIGINT) AS a, n0 AS b, 0 AS iter,
        |    (n0 <= 1) AS done,
        |    CASE WHEN abs(10.0*pow(n0+1,-0.6) - 1) >= sqrt((n0+1.0)/n0)
        |         THEN s0/n0 - CAST('infinity' AS DOUBLE)
        |         ELSE s0/n0 - sqrt(q0/n0 - (s0/n0)*(s0/n0)) * (n0+1) *
        |              sqrt(1.0/(n0 * (1 - 10.0*pow(n0+1,-0.6))
        |                           * (1 - 10.0*pow(n0+1,-0.6)))
        |                   - 1.0/(n0+1))
        |    END AS t_small,
        |    CASE WHEN abs(10.0*pow(n0+1,-0.6) - 1) >= sqrt((n0+1.0)/n0)
        |         THEN s0/n0 + CAST('infinity' AS DOUBLE)
        |         ELSE s0/n0 + sqrt(q0/n0 - (s0/n0)*(s0/n0)) * (n0+1) *
        |              sqrt(1.0/(n0 * (1 - 10.0*pow(n0+1,-0.6))
        |                           * (1 - 10.0*pow(n0+1,-0.6)))
        |                   - 1.0/(n0+1))
        |    END AS t_large
        |  FROM init),
        |it AS (
        |  SELECT * FROM base
        |  UNION ALL
        |  SELECT key,
        |    CASE WHEN trim AND min_more THEN a + lmin ELSE a END AS a,
        |    CASE WHEN trim AND NOT min_more THEN b - lmax ELSE b END AS b,
        |    iter + 1 AS iter,
        |    NOT trim AS done,
        |    CASE WHEN trim AND min_more THEN ext_min ELSE t_small END
        |      AS t_small,
        |    CASE WHEN trim AND NOT min_more THEN ext_max ELSE t_large END
        |      AS t_large
        |  FROM (
        |    SELECT *, d_min > d_max AS min_more,
        |      (CASE WHEN d_min > d_max THEN d_min ELSE d_max END)
        |        > 10.0 * pow(n, -0.6) AS trim
        |    FROM (
        |      SELECT *,
        |        CASE WHEN lmin IS NULL THEN 0.0
        |             ELSE abs(std - sqrt((qb - qmin2) / (n - lmin)
        |                - ((sb - smin2)/(n - lmin))
        |                  * ((sb - smin2)/(n - lmin)))) / std END AS d_min,
        |        CASE WHEN lmax IS NULL THEN 0.0
        |             ELSE abs(std - sqrt((qmax2 - qa) / (n - lmax)
        |                - ((smax2 - sa)/(n - lmax))
        |                  * ((smax2 - sa)/(n - lmax)))) / std END AS d_max
        |      FROM (
        |        SELECT l2.*,
        |          emn.v AS ext_min, emn.s AS smin2, emn.q AS qmin2,
        |          emx2.v AS ext_max, emx.s AS smax2, emx.q AS qmax2
        |        FROM (
        |          SELECT l1.*, lm.lmin, lx.lmax
        |          FROM (
        |            SELECT it.key, it.a, it.b, it.iter, it.t_small,
        |              it.t_large, it.b - it.a + 1 AS n,
        |              coalesce(ra.s, 0) AS sa, coalesce(ra.q, 0) AS qa,
        |              rb.s AS sb, rb.q AS qb,
        |              sqrt((rb.q - coalesce(ra.q, 0)) / (it.b - it.a + 1)
        |                - ((rb.s - coalesce(ra.s, 0)) / (it.b - it.a + 1))
        |                  * ((rb.s - coalesce(ra.s, 0)) / (it.b - it.a + 1)))
        |                AS std,
        |              least(it.b - it.a,
        |                CAST(floor((it.b - it.a + 1) * (1 - pow(0.05,
        |                  1.0 / (0.1 * (it.b - it.a + 1))))) AS BIGINT))
        |                AS maxl
        |            FROM it
        |            LEFT JOIN r ra ON ra.key = it.key AND ra.rn = it.a - 1
        |            JOIN r rb ON rb.key = it.key AND rb.rn = it.b
        |            WHERE NOT it.done AND it.b > it.a
        |          ) l1
        |          LEFT JOIN LATERAL (
        |            SELECT min(least(
        |                CASE WHEN c.rn - l1.a BETWEEN 1 AND l1.maxl - 1
        |                     THEN c.rn - l1.a END,
        |                CASE WHEN l1.b - c.rn + 1 BETWEEN 1 AND l1.maxl - 1
        |                     THEN l1.b - c.rn + 1 END)) AS lmin
        |            FROM r c
        |            WHERE c.key = l1.key AND c.chg
        |              AND ((c.rn - l1.a BETWEEN 1 AND l1.maxl - 1)
        |                OR (l1.b - c.rn + 1 BETWEEN 1 AND l1.maxl - 1))
        |          ) lm ON TRUE
        |          LEFT JOIN LATERAL (
        |            SELECT min(l1.b - c.rn + 1) AS lmax
        |            FROM r c
        |            WHERE c.key = l1.key AND c.chg
        |              AND l1.b - c.rn + 1 BETWEEN 1 AND l1.maxl - 1
        |          ) lx ON TRUE
        |        ) l2
        |        LEFT JOIN r emn
        |          ON emn.key = l2.key AND emn.rn = l2.a + l2.lmin - 1
        |        LEFT JOIN r emx
        |          ON emx.key = l2.key AND emx.rn = l2.b - l2.lmax
        |        LEFT JOIN r emx2
        |          ON emx2.key = l2.key AND emx2.rn = l2.b - l2.lmax + 1
        |      )
        |    )
        |  )
        |)
        |SELECT key, round(t_small, 6) AS viod_lo,
        |       round(t_large, 6) AS viod_hi
        |FROM (SELECT *, row_number() OVER (PARTITION BY key
        |                                   ORDER BY iter DESC) AS rk
        |      FROM it) WHERE rk = 1 ORDER BY key""".stripMargin,

    // Replays the COMPOSED two-stage nearest-neighbor index math:
    // stage 2 (12×10 → 6×5) src = (2x, 2y); stage 1 (w×h → 12×10)
    // src = ((2x)·w) DIV 12, ((2y)·h) DIV 10 — then the pixel formulas
    // at the composed source index (the Spark side runs the PNG codec
    // three times).
    "q76_media_resize" ->
      """WITH dims AS (
        |  SELECT doc_id, 16 + doc_id % 13 AS w, 12 + doc_id % 7 AS h
        |  FROM documents),
        |px AS (
        |  SELECT d.doc_id,
        |         ((2 * x.g) * d.w) // 12 AS sx,
        |         ((2 * y.g) * d.h) // 10 AS sy
        |  FROM dims d, generate_series(0, 5) x(g),
        |       generate_series(0, 4) y(g))
        |SELECT doc_id AS media_id, CAST(6 AS INT) AS width,
        |       CAST(5 AS INT) AS height,
        |       round(sum((doc_id*31 + sx*7 + sy*13) % 256) / 30.0, 6)
        |         AS mean_r,
        |       round(sum((doc_id*17 + sx*5 + sy*3) % 256) / 30.0, 6)
        |         AS mean_g,
        |       round(sum((doc_id*13 + sx*11 + sy*19) % 256) / 30.0, 6)
        |         AS mean_b
        |FROM px GROUP BY 1 ORDER BY 1""".stripMargin,

    // q84/q85: the oracle replays the deterministic pixel FORMULAS; the
    // Spark side goes through real PNG encode/decode (JDK ImageIO), so a
    // codec defect (channel order, lossy round-trip, dim swap, resample
    // index math) breaks the hash.
    "q84_image_decode" ->
      """WITH dims AS (
        |  SELECT doc_id, 16 + doc_id % 13 AS w, 12 + doc_id % 7 AS h
        |  FROM documents),
        |px AS (
        |  SELECT d.doc_id, d.w, d.h, x.g AS x, y.g AS y
        |  FROM dims d, generate_series(0, 27) x(g),
        |       generate_series(0, 17) y(g)
        |  WHERE x.g < d.w AND y.g < d.h)
        |SELECT doc_id AS media_id, CAST(w AS INT) AS width,
        |       CAST(h AS INT) AS height,
        |       round(sum((doc_id*31 + x*7 + y*13) % 256) / (w*h*1.0), 6)
        |         AS mean_r,
        |       round(sum((doc_id*17 + x*5 + y*3) % 256) / (w*h*1.0), 6)
        |         AS mean_g,
        |       round(sum((doc_id*13 + x*11 + y*19) % 256) / (w*h*1.0), 6)
        |         AS mean_b
        |FROM px GROUP BY doc_id, w, h ORDER BY 1""".stripMargin,

    "q85_image_resize" ->
      """WITH dims AS (
        |  SELECT doc_id, 16 + doc_id % 13 AS w, 12 + doc_id % 7 AS h
        |  FROM documents),
        |px AS (
        |  SELECT d.doc_id,
        |         (x.g * d.w) // 8 AS sx, (y.g * d.h) // 6 AS sy
        |  FROM dims d, generate_series(0, 7) x(g),
        |       generate_series(0, 5) y(g))
        |SELECT doc_id AS media_id, CAST(8 AS INT) AS width,
        |       CAST(6 AS INT) AS height,
        |       round(sum((doc_id*31 + sx*7 + sy*13) % 256) / 48.0, 6)
        |         AS mean_r,
        |       round(sum((doc_id*17 + sx*5 + sy*3) % 256) / 48.0, 6)
        |         AS mean_g,
        |       round(sum((doc_id*13 + sx*11 + sy*19) % 256) / 48.0, 6)
        |         AS mean_b
        |FROM px GROUP BY 1 ORDER BY 1""".stripMargin,

    "q86_audio_decode" ->
      """WITH d AS (
        |  SELECT doc_id, 256 + doc_id % 64 AS n FROM documents),
        |s AS (
        |  SELECT d.doc_id, d.n, i.g AS i,
        |         ((d.doc_id*7 + i.g*11) % 4096) - 2048 AS smp
        |  FROM d, generate_series(0, 319) i(g) WHERE i.g < d.n),
        |z AS (
        |  SELECT doc_id, n, smp,
        |         lag(smp) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        |  FROM s)
        |SELECT doc_id AS media_id, CAST(n AS INT) AS n_samples,
        |       CAST(8000 AS INT) AS sample_rate,
        |       round(sqrt(sum(smp*smp) / (n*1.0)), 6) AS rms,
        |       CAST(sum(CASE WHEN prev*smp < 0 THEN 1 ELSE 0 END) AS INT)
        |         AS zero_crossings,
        |       round(sum(abs(smp)) / (n*1.0), 6) AS mean_amp
        |FROM z GROUP BY doc_id, n ORDER BY 1""".stripMargin,

    "q87_pii_redact" ->
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    text || ' user' || doc_id || '@example.com 10.0.' ||
        |      (doc_id % 256) || '.7 +1 555 ' ||
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
        |    '<EMAIL>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
        |    '<IP>', 'g'),
        |    '\+[0-9](?:[ -]?[0-9]){6,14}', '<PHONE>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Brute-force pairwise replay of the prefix-filtered exact Jaccard
    // join: the prefix filter is result-preserving (pigeonhole), so the
    // quadratic enumeration over the restricted doc set is the exact
    // expected output.
    "q89_prefix_jaccard" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(tok) - 1),
        |      i -> tok[CAST(i AS INT)] || ' ' || tok[CAST(i AS INT)+1] ||
        |           ' ' || tok[CAST(i AS INT)+2])) AS sh
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(lower(text), '\s+'),
        |            x -> x <> '') AS tok
        |        FROM documents WHERE doc_id % 2 = 0) t),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0
        |         THEN 0.0
        |         ELSE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |              CAST(len(list_distinct(list_concat(a.sh, b.sh)))
        |                AS DOUBLE) END AS jac
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, round(jac, 6) AS jaccard
        |FROM pairs WHERE jac >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    // Word-5-gram overlap of each train doc against the distinct gram
    // set of the benchmark subset (string grams replay the engine's
    // 64-bit shingle hashes — same fidelity argument as q47/q89).
    "q90_decontaminate" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(tok) - 3),
        |      i -> tok[CAST(i AS INT)] || ' ' || tok[CAST(i AS INT)+1] ||
        |           ' ' || tok[CAST(i AS INT)+2] || ' ' ||
        |           tok[CAST(i AS INT)+3] || ' ' ||
        |           tok[CAST(i AS INT)+4])) AS grams
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(lower(text), '\s+'),
        |            x -> x <> '') AS tok
        |        FROM documents) t),
        |ev AS (
        |  SELECT DISTINCT unnest(grams) AS gram FROM g
        |  WHERE doc_id % 7 = 0),
        |tr AS (
        |  SELECT doc_id, unnest(grams) AS gram FROM g
        |  WHERE doc_id % 7 <> 0)
        |SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_matched
        |FROM tr JOIN ev USING (gram)
        |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,

    // Per-shard running token offset → window placement (floor of the
    // double quotient is the engine-portable integer division).
    "q91_seq_packing" ->
      """WITH d AS (
        |  SELECT doc_id % 8 AS shard, doc_id,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END
        |      AS BIGINT) AS n_tok
        |  FROM documents),
        |p AS (
        |  SELECT shard, doc_id, n_tok,
        |    CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY shard
        |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
        |      1 PRECEDING), 0) AS BIGINT) AS off
        |  FROM d WHERE n_tok > 0)
        |SELECT shard, doc_id, n_tok, off,
        |  CAST(floor(off / 512) AS BIGINT) AS first_seq,
        |  off % 512 AS offset_in_seq,
        |  CAST(floor((off + n_tok - 1) / 512) - floor(off / 512) + 1
        |    AS BIGINT) AS n_seqs
        |FROM p ORDER BY shard, doc_id""".stripMargin,

    // Temperature rates (α = 0.5 → sqrt, IEEE-exact in any engine) and
    // the md5-hex threshold compare replay the exact kept row set.
    "q92_mixture_sample" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(floor(length(text) / 200) AS BIGINT) AS domain
        |  FROM documents),
        |c AS (
        |  SELECT domain, CAST(count(*) AS DOUBLE) AS n_d
        |  FROM d GROUP BY 1),
        |r AS (
        |  SELECT domain,
        |    least(1.0, 200.0 * sqrt(n_d) /
        |      (SELECT sum(sqrt(n_d)) FROM c) / n_d) AS rate
        |  FROM c)
        |SELECT d.doc_id, d.domain
        |FROM d JOIN r USING (domain)
        |WHERE rate >= 1.0 OR
        |  substr(md5(CAST(doc_id AS VARCHAR) || ':11'), 1, 8) <
        |  lpad(lower(to_hex(CAST(floor(rate * 4294967296.0) AS BIGINT))),
        |    8, '0')
        |ORDER BY doc_id""".stripMargin,

    // Bigram LM replay: same tokenization, lead() transitions, add-k
    // arithmetic; the context count c(w1) counts TRANSITIONS starting
    // at w1 (= sum over w2 of c(w1,w2)), the proper conditional
    // denominator, in both engines.
    "q96_bigram_lm" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS tok
        |  FROM documents
        |  WHERE (CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END)
        |        >= 2),
        |flat AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS idx,
        |    tok[CAST(i AS INT)] AS w1
        |  FROM toks, LATERAL unnest(range(1, len(tok) + 1)) AS r(i)),
        |tr AS (
        |  SELECT doc_id, w1, w2 FROM (
        |    SELECT doc_id, w1,
        |      lead(w1) OVER (PARTITION BY doc_id ORDER BY idx) AS w2
        |    FROM flat)
        |  WHERE w2 IS NOT NULL),
        |bg AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_bg
        |  FROM tr GROUP BY 1, 2),
        |ug AS (
        |  SELECT w1, CAST(count(*) AS BIGINT) AS c_w1
        |  FROM tr GROUP BY 1),
        |v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM ug)
        |SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_transitions,
        |  round(avg(ln((COALESCE(bg.c_bg, 0) + 0.5) /
        |    (COALESCE(ug.c_w1, 0) + 0.5 * v.v))), 6) AS avg_logprob
        |FROM tr LEFT JOIN bg USING (w1, w2) LEFT JOIN ug USING (w1), v
        |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,

    // BPE round-1 pair statistics: distinct lowercased whitespace words
    // with frequencies, exploded to characters, adjacent-pair counts
    // weighted by word frequency.
    "q100_bpe_pairs" ->
      """WITH words AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
        |      AS w
        |    FROM documents)
        |  WHERE w <> '' GROUP BY 1),
        |syms AS (
        |  SELECT w, freq, r.i - 1 AS i,
        |    substring(w, CAST(r.i AS INT), 1) AS sym
        |  FROM words,
        |    LATERAL unnest(range(1, CAST(len(w) AS BIGINT) + 1)) AS r(i)),
        |nx AS (
        |  SELECT w, freq, sym AS s1,
        |    lead(sym) OVER (PARTITION BY w ORDER BY i) AS s2
        |  FROM syms)
        |SELECT s1, s2, CAST(sum(freq) AS BIGINT) AS c
        |FROM nx WHERE s2 IS NOT NULL GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    // One BPE fit iteration: argmax pair (count desc, lexicographic
    // tiebreak) then the greedy-leftmost merge. Islands of consecutive
    // hit positions (only self-pairs produce them) keep their odd-ranked
    // members; each kept start consumes position i+1; positions
    // re-densify per word.
    "q101_bpe_merge" ->
      """WITH words AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
        |      AS w
        |    FROM documents)
        |  WHERE w <> '' GROUP BY 1),
        |syms AS (
        |  SELECT w, freq, r.i - 1 AS i,
        |    substring(w, CAST(r.i AS INT), 1) AS sym
        |  FROM words,
        |    LATERAL unnest(range(1, CAST(len(w) AS BIGINT) + 1)) AS r(i)),
        |wn AS (
        |  SELECT w, freq, i, sym,
        |    lead(sym) OVER (PARTITION BY w ORDER BY i) AS nxt
        |  FROM syms),
        |pc AS (
        |  SELECT sym AS s1, nxt AS s2, sum(freq) AS c
        |  FROM wn WHERE nxt IS NOT NULL GROUP BY 1, 2),
        |top AS (SELECT s1, s2 FROM pc ORDER BY c DESC, s1, s2 LIMIT 1),
        |hits AS (
        |  SELECT wn.w, wn.i FROM wn, top
        |  WHERE wn.sym = top.s1 AND wn.nxt = top.s2),
        |grp AS (
        |  SELECT w, i,
        |    i - row_number() OVER (PARTITION BY w ORDER BY i) AS g
        |  FROM hits),
        |starts AS (
        |  SELECT w, i FROM (
        |    SELECT w, i,
        |      row_number() OVER (PARTITION BY w, g ORDER BY i) AS r
        |    FROM grp)
        |  WHERE r % 2 = 1),
        |kept AS (
        |  SELECT wn.w, wn.freq, wn.i,
        |    CASE WHEN st.i IS NOT NULL THEN wn.sym || wn.nxt
        |         ELSE wn.sym END AS sym
        |  FROM wn
        |  LEFT JOIN starts st ON wn.w = st.w AND wn.i = st.i
        |  LEFT JOIN (SELECT w, i + 1 AS ci FROM starts) cons
        |    ON wn.w = cons.w AND wn.i = cons.ci
        |  WHERE cons.ci IS NULL)
        |SELECT w, freq,
        |  CAST(row_number() OVER (PARTITION BY w ORDER BY i) - 1
        |       AS BIGINT) AS i,
        |  sym
        |FROM kept ORDER BY w, i""".stripMargin,

    // Lucene-style BM25 with the arithmetic replicated literally (the
    // constant folds 1.2+1.0 / 1.0-0.75 run the same IEEE ops in both
    // engines; avg_dl is an exact integer-sum mean).
    // NB fit = (label,term) counts + label totals + V + doc priors;
    // predict = per-(doc,label) smoothed evidence sum over in-vocab
    // terms + logprior, argmax via round-6 score then label tiebreak.
    "q99_naive_bayes" ->
      """WITH tr AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
        |sc AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
        |ttok AS (
        |  SELECT lang AS label, unnest(list_filter(
        |      string_split_regex(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS term
        |  FROM tr),
        |tc AS (SELECT label, term, count(*) AS c_lt
        |       FROM ttok GROUP BY 1, 2),
        |lt AS (SELECT label, sum(c_lt) AS c_l FROM tc GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT term) AS DOUBLE) AS v FROM tc),
        |pr AS (SELECT lang AS label, count(*) AS n_docs
        |       FROM tr GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS n FROM pr),
        |li AS (
        |  SELECT pr.label, coalesce(lt.c_l, 0) AS c_l, v.v,
        |    ln(pr.n_docs / tot.n) AS logprior
        |  FROM pr LEFT JOIN lt USING (label), v, tot),
        |dt0 AS (
        |  SELECT doc_id AS id, unnest(list_filter(
        |      string_split_regex(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS term
        |  FROM sc),
        |dt AS (
        |  SELECT id, term, count(*) AS c_dt FROM dt0
        |  WHERE term IN (SELECT DISTINCT term FROM tc)
        |  GROUP BY 1, 2),
        |ev AS (
        |  SELECT dt.id, li.label,
        |    sum(dt.c_dt * ln((coalesce(tc.c_lt, 0) + 1.0) /
        |        (li.c_l + 1.0 * li.v))) AS ev
        |  FROM dt CROSS JOIN li
        |  LEFT JOIN tc ON tc.label = li.label AND tc.term = dt.term
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT b.id, b.label,
        |    round(b.logprior + coalesce(ev.ev, 0), 6) AS score
        |  FROM (SELECT DISTINCT s.doc_id AS id, li.label, li.logprior
        |        FROM sc s CROSS JOIN li) b
        |  LEFT JOIN ev ON ev.id = b.id AND ev.label = b.label),
        |rk AS (
        |  SELECT id, label, score,
        |    row_number() OVER (PARTITION BY id
        |                       ORDER BY score DESC, label) AS rn
        |  FROM scored)
        |SELECT id AS doc_id, label AS pred_label, score
        |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q94_bm25" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE length(trim(text)) > 0),
        |lens AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END
        |      AS DOUBLE) AS dl
        |  FROM d),
        |t AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        |  FROM d),
        |tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM t GROUP BY 1, 2),
        |df AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |c AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avg_dl
        |  FROM lens)
        |SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |  round(ln(1.0 + (c.n_docs - df.df + 0.5) / (df.df + 0.5)) *
        |    (tf.tf * (1.2 + 1.0)) /
        |    (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * lens.dl / c.avg_dl)),
        |    6) AS bm25
        |FROM tf JOIN df USING (term) JOIN lens USING (doc_id), c
        |ORDER BY doc_id, term""".stripMargin,

    "q95_det_shuffle" ->
      """SELECT doc_id,
        |  CAST(row_number() OVER (
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':5'), doc_id) - 1
        |    AS BIGINT) AS shuffle_rank
        |FROM documents ORDER BY doc_id""".stripMargin,

    // First-occurrence unit dedup + position-ordered reassembly, over
    // the same deterministic 3-token chunking.
    "q93_paragraph_dedup" ->
      """WITH u AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS idx,
        |    array_to_string(
        |      tok[CAST(i*3+1 AS INT):CAST(i*3+3 AS INT)], ' ') AS unit
        |  FROM (SELECT doc_id,
        |          list_filter(
        |            string_split_regex(trim(lower(text)), '\s+'),
        |            x -> x <> '') AS tok
        |        FROM documents) t,
        |  LATERAL unnest(range(0, CAST(ceil(len(tok)/3.0) AS BIGINT)))
        |    AS r(i)),
        |k AS (
        |  SELECT doc_id, idx, unit,
        |    row_number() OVER (PARTITION BY unit ORDER BY doc_id, idx)
        |      AS rn
        |  FROM u)
        |SELECT doc_id, string_agg(unit, ' ' ORDER BY idx) AS text
        |FROM k WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q93's unit CTE, then the frequency rule: units in >= 3 distinct
    // docs vanish everywhere (no first-copy survivor), the rest keep
    // all occurrences; reassembly in position order.
    "q135_boilerplate_lines" ->
      """WITH u AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS idx,
        |    array_to_string(
        |      tok[CAST(i*3+1 AS INT):CAST(i*3+3 AS INT)], ' ') AS unit
        |  FROM (SELECT doc_id,
        |          list_filter(
        |            string_split_regex(trim(lower(text)), '\s+'),
        |            x -> x <> '') AS tok
        |        FROM documents) t,
        |  LATERAL unnest(range(0, CAST(ceil(len(tok)/3.0) AS BIGINT)))
        |    AS r(i)),
        |hot AS (
        |  SELECT unit FROM (
        |    SELECT unit, count(DISTINCT doc_id) AS df FROM u GROUP BY 1)
        |  WHERE df >= 3)
        |SELECT doc_id, string_agg(unit, ' ' ORDER BY idx) AS text
        |FROM u ANTI JOIN hot USING (unit)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Both stages on the normalized-text key: store anti-join, then
    // intra-batch min-id per key.
    "q136_incremental_dedup" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS key
        |  FROM documents),
        |prior AS (SELECT DISTINCT key FROM k WHERE doc_id % 3 = 0),
        |batch AS (SELECT * FROM k WHERE doc_id % 3 <> 0)
        |SELECT min(doc_id) AS doc_id
        |FROM batch ANTI JOIN prior USING (key)
        |GROUP BY key ORDER BY doc_id""".stripMargin,

    // Unigram Viterbi replay: seed-vocab counts + rank, exact-rational
    // probs, then the DP as a recursive CTE carrying (score, backptr)
    // struct lists per word — candidate argmax via ORDER BY
    // score DESC, j ASC LIMIT 1 (the expression's ascending-j strict-
    // improvement rule); a second recursive CTE walks the backpointers.
    // Scores compare RAW (no rounding): the multiplicative DP is
    // bit-portable.
    "q137_unigram_viterbi" ->
      """WITH RECURSIVE
        |words AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
        |      AS w
        |    FROM documents)
        |  WHERE w <> '' GROUP BY 1),
        |subs AS (
        |  SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece,
        |         sum(freq) AS cnt
        |  FROM words,
        |    LATERAL unnest(range(1, CAST(len(w) AS BIGINT) + 1)) AS r(i),
        |    LATERAL unnest(range(1, 4)) AS r2(l)
        |  WHERE i + l - 1 <= len(w)
        |  GROUP BY 1),
        |vocab0 AS (
        |  SELECT piece, cnt FROM subs WHERE len(piece) = 1
        |  UNION ALL
        |  SELECT piece, cnt FROM (
        |    SELECT piece, cnt,
        |      row_number() OVER (ORDER BY cnt DESC, piece) AS rk
        |    FROM subs WHERE len(piece) > 1) WHERE rk <= 60),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM vocab0),
        |vocab AS (SELECT piece, CAST(cnt AS DOUBLE) / tot.t AS p
        |          FROM vocab0, tot),
        |dp AS (
        |  SELECT w, freq, 0 AS i,
        |         [{'s': CAST(1.0 AS DOUBLE), 'j': CAST(-1 AS BIGINT)}]
        |           AS st
        |  FROM words
        |  UNION ALL
        |  SELECT w, freq, i + 1,
        |    list_append(st, coalesce((
        |      SELECT {'s': st[CAST(j + 1 AS INT)].s * v.p, 'j': j}
        |      FROM unnest(range(greatest(0, i - 2), i + 1)) AS t(j)
        |      JOIN vocab v
        |        ON v.piece = substr(w, CAST(j + 1 AS INT),
        |                            CAST(i + 1 - j AS INT))
        |      WHERE st[CAST(j + 1 AS INT)].s IS NOT NULL
        |      ORDER BY st[CAST(j + 1 AS INT)].s * v.p DESC, j LIMIT 1),
        |      {'s': CAST(NULL AS DOUBLE), 'j': CAST(NULL AS BIGINT)}))
        |  FROM dp WHERE i < len(w)),
        |fin AS (SELECT w, freq, st FROM dp WHERE i = len(w)),
        |bt AS (
        |  SELECT w, freq, CAST(len(w) AS BIGINT) AS i,
        |         []::VARCHAR[] AS segs, st
        |  FROM fin WHERE st[CAST(len(w) + 1 AS INT)].s IS NOT NULL
        |  UNION ALL
        |  SELECT w, freq, st[CAST(i + 1 AS INT)].j AS i,
        |    list_prepend(substr(w,
        |      CAST(st[CAST(i + 1 AS INT)].j + 1 AS INT),
        |      CAST(i - st[CAST(i + 1 AS INT)].j AS INT)), segs),
        |    st
        |  FROM bt WHERE i > 0)
        |SELECT w AS word, freq, array_to_string(segs, '|') AS seg,
        |  CAST(len(segs) AS INT) AS n_pieces,
        |  st[CAST(len(w) + 1 AS INT)].s AS score
        |FROM bt WHERE i = 0 ORDER BY word""".stripMargin,

    // The same chain, then integer piece recounts over the Viterbi
    // segmentations.
    "q138_unigram_em" ->
      """WITH RECURSIVE
        |words AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
        |      AS w
        |    FROM documents)
        |  WHERE w <> '' GROUP BY 1),
        |subs AS (
        |  SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece,
        |         sum(freq) AS cnt
        |  FROM words,
        |    LATERAL unnest(range(1, CAST(len(w) AS BIGINT) + 1)) AS r(i),
        |    LATERAL unnest(range(1, 4)) AS r2(l)
        |  WHERE i + l - 1 <= len(w)
        |  GROUP BY 1),
        |vocab0 AS (
        |  SELECT piece, cnt FROM subs WHERE len(piece) = 1
        |  UNION ALL
        |  SELECT piece, cnt FROM (
        |    SELECT piece, cnt,
        |      row_number() OVER (ORDER BY cnt DESC, piece) AS rk
        |    FROM subs WHERE len(piece) > 1) WHERE rk <= 60),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM vocab0),
        |vocab AS (SELECT piece, CAST(cnt AS DOUBLE) / tot.t AS p
        |          FROM vocab0, tot),
        |dp AS (
        |  SELECT w, freq, 0 AS i,
        |         [{'s': CAST(1.0 AS DOUBLE), 'j': CAST(-1 AS BIGINT)}]
        |           AS st
        |  FROM words
        |  UNION ALL
        |  SELECT w, freq, i + 1,
        |    list_append(st, coalesce((
        |      SELECT {'s': st[CAST(j + 1 AS INT)].s * v.p, 'j': j}
        |      FROM unnest(range(greatest(0, i - 2), i + 1)) AS t(j)
        |      JOIN vocab v
        |        ON v.piece = substr(w, CAST(j + 1 AS INT),
        |                            CAST(i + 1 - j AS INT))
        |      WHERE st[CAST(j + 1 AS INT)].s IS NOT NULL
        |      ORDER BY st[CAST(j + 1 AS INT)].s * v.p DESC, j LIMIT 1),
        |      {'s': CAST(NULL AS DOUBLE), 'j': CAST(NULL AS BIGINT)}))
        |  FROM dp WHERE i < len(w)),
        |fin AS (SELECT w, freq, st FROM dp WHERE i = len(w)),
        |bt AS (
        |  SELECT w, freq, CAST(len(w) AS BIGINT) AS i,
        |         []::VARCHAR[] AS segs, st
        |  FROM fin WHERE st[CAST(len(w) + 1 AS INT)].s IS NOT NULL
        |  UNION ALL
        |  SELECT w, freq, st[CAST(i + 1 AS INT)].j AS i,
        |    list_prepend(substr(w,
        |      CAST(st[CAST(i + 1 AS INT)].j + 1 AS INT),
        |      CAST(i - st[CAST(i + 1 AS INT)].j AS INT)), segs),
        |    st
        |  FROM bt WHERE i > 0)
        |SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
        |FROM (SELECT freq, unnest(segs) AS piece FROM bt WHERE i = 0)
        |GROUP BY piece ORDER BY piece""".stripMargin,

    // Rollup replay with q24's token-count twin; mean is one exact
    // divide of exact integers.
    "q139_datacard" ->
      """WITH d AS (
        |  SELECT lang, source,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END
        |         AS BIGINT) AS ntok,
        |    CAST(length(text) AS BIGINT) AS nch
        |  FROM documents)
        |SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |  CAST(sum(nch) AS BIGINT) AS n_chars,
        |  CAST(sum(nch) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |    AS mean_chars
        |FROM d GROUP BY ROLLUP(lang, source)
        |ORDER BY lang NULLS FIRST, source NULLS FIRST""".stripMargin,

    // Positions whose 50-char gram has an earlier corpus occurrence are
    // flagged; gaps-and-islands merges them into maximal spans; docs are
    // rebuilt by string_agg over the inter-span gaps plus the tail.
    "q97_substring_dedup" ->
      """WITH pos AS (
        |  SELECT doc_id, text,
        |    CAST(unnest(range(1, length(text) - 48)) AS INT) AS i
        |  FROM documents WHERE length(text) >= 50),
        |r AS (
        |  SELECT doc_id, i,
        |    row_number() OVER (PARTITION BY substr(text, i, 50)
        |                       ORDER BY doc_id, i) AS rn
        |  FROM pos),
        |f AS (SELECT doc_id, i AS s, i + 49 AS e FROM r WHERE rn > 1),
        |m AS (
        |  SELECT doc_id, s, e,
        |    CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id
        |        ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
        |        AND 1 PRECEDING), -1) + 1
        |      THEN 1 ELSE 0 END AS nw
        |  FROM f),
        |sp AS (
        |  SELECT doc_id, min(s) AS ss, max(e) AS ee
        |  FROM (SELECT doc_id, s, e,
        |          sum(nw) OVER (PARTITION BY doc_id ORDER BY s) AS grp
        |        FROM m)
        |  GROUP BY doc_id, grp),
        |seg AS (
        |  SELECT doc_id,
        |    coalesce(lag(ee) OVER (PARTITION BY doc_id ORDER BY ss) + 1,
        |             1) AS a,
        |    ss - 1 AS b
        |  FROM sp
        |  UNION ALL
        |  SELECT doc_id, max(ee) + 1 AS a, -1 AS b FROM sp
        |  GROUP BY doc_id),
        |reb AS (
        |  SELECT s.doc_id,
        |    string_agg(substr(d.text, s.a,
        |      (CASE WHEN s.b = -1 THEN length(d.text) ELSE s.b END)
        |        - s.a + 1), '' ORDER BY s.a) AS clean_text
        |  FROM seg s JOIN documents d USING (doc_id)
        |  WHERE s.b = -1 OR s.b >= s.a
        |  GROUP BY s.doc_id),
        |st AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |    CAST(sum(ee - ss + 1) AS BIGINT) AS dup_chars
        |  FROM sp GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(st.n_spans, 0) AS n_spans,
        |  coalesce(st.dup_chars, 0) AS dup_chars,
        |  coalesce(reb.clean_text, d.text) AS clean_text
        |FROM documents d
        |LEFT JOIN st USING (doc_id) LEFT JOIN reb USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // q58's pair derivation + a recursive min-label closure for the
    // connected components, then keep unpaired docs and each cluster's
    // min-id survivor (Dedup.dedupByPairs semantics).
    "q77_cluster_dedup" ->
      s"""${ClusterReplay.ctes}
        |SELECT d.doc_id FROM documents d
        |LEFT JOIN lab ON lab.node = d.doc_id
        |WHERE lab.node IS NULL OR lab.label = d.doc_id
        |ORDER BY doc_id""".stripMargin,

    // q166: the same cluster closure, then keep the longest member per
    // cluster (ties to min id) — singletons label themselves.
    "q166_canonical_dedup" ->
      s"""${ClusterReplay.ctes},
        |grp AS (
        |  SELECT coalesce(lab.label, d.doc_id) AS label, d.doc_id,
        |    length(d.text) AS ln
        |  FROM documents d LEFT JOIN lab ON lab.node = d.doc_id),
        |best AS (
        |  SELECT label, doc_id,
        |    count(*) OVER (PARTITION BY label) AS n_members,
        |    row_number() OVER (PARTITION BY label
        |                       ORDER BY ln DESC, doc_id) AS rn
        |  FROM grp)
        |SELECT doc_id, CAST(n_members AS BIGINT) AS n_members
        |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q78_minhash_replay" -> MinhashReplay.oracle,

    "q79_simhash_replay" -> SimhashReplay.oracle,

    "q102_cms_heavy" -> CmsReplay.oracle,

    "q103_dsir" -> DsirReplay.oracle,

    "q104_bloom_decontam" -> BloomReplay.oracle,

    // per-lang occupied buckets of the cap-16 poly-hash bitmap → the
    // −m·ln(V/m) linear-counting estimate, exact distinct alongside.
    "q107_linear_count" -> {
      s"""WITH d AS (
         |  SELECT lang,
         |    lower(regexp_replace(text, '[^\\x20-\\x7e]', '', 'g')) AS t
         |  FROM documents),
         |tok AS (
         |  SELECT lang, unnest(list_filter(string_split_regex(t, '\\s+'),
         |                                  x -> x <> '')) AS term
         |  FROM d),
         |occ AS (
         |  SELECT lang,
         |    CAST(count(DISTINCT ${PolyHashSql.over("term", 257L, 16)}
         |      % 1024) AS BIGINT) AS occupied
         |  FROM tok GROUP BY 1),
         |ex AS (
         |  SELECT lang, CAST(count(DISTINCT term) AS BIGINT)
         |    AS exact_distinct
         |  FROM tok GROUP BY 1)
         |SELECT lang, occupied,
         |  CASE WHEN occupied < 1024 THEN
         |    round(-1024.0 * ln((1024.0 - occupied) / 1024.0), 6)
         |  END AS est_distinct,
         |  exact_distinct
         |FROM occ JOIN ex USING (lang) ORDER BY lang""".stripMargin
    },

    // q164: per-source union signatures with the q78 permutation
    // family; match counts are integers, est = n/16 is exact binary FP.
    "q164_source_overlap" -> {
      import MinhashReplay.{P, aj, bj, nPerm}
      val sigCols = (0 until nPerm).map(j =>
        s"min((hv * ${aj(j)} + ${bj(j)}) % $P) AS m$j").mkString(", ")
      val matchSum = (0 until nPerm).map(j =>
        s"CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END")
        .mkString("(", " + ", ")")
      s"""WITH h AS (
         |  SELECT source,
         |    list_transform(range(1, greatest(length(t) - 5 + 2, 1)),
         |      i -> list_sum(list_transform(range(0, 5), j ->
         |        CAST(unicode(substr(t, CAST(i + j AS INT), 1)) AS BIGINT) *
         |        [362470373, 16974593, 66049, 257, 1][CAST(j + 1 AS INT)]))
         |        % $P) AS hs
         |  FROM (SELECT source,
         |          lower(regexp_replace(text, '[^\\x20-\\x7e]', '', 'g'))
         |            AS t
         |        FROM documents)),
         |e AS (SELECT source, unnest(hs) AS hv FROM h WHERE len(hs) > 0),
         |sig AS (SELECT source, $sigCols FROM e GROUP BY source)
         |SELECT a.source AS grp_a, b.source AS grp_b,
         |  CAST($matchSum AS BIGINT) AS n_match,
         |  CAST($matchSum AS DOUBLE) / $nPerm AS est_jaccard
         |FROM sig a JOIN sig b ON a.source < b.source
         |ORDER BY grp_a, grp_b""".stripMargin
    },

    // q177: distribution numbers over per-key counts; tied counts make
    // any top-10 selection sum-identical.
    "q177_skew_audit" ->
      """WITH c AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_keys,
        |  (SELECT CAST(sum(c) AS BIGINT) FROM c) AS n_rows,
        |  (SELECT max(c) FROM c) AS max_key_rows,
        |  round((SELECT CAST(max(c) AS DOUBLE) FROM c) /
        |        ((SELECT CAST(sum(c) AS DOUBLE) FROM c) /
        |         (SELECT count(*) FROM c)), 6) AS max_mean_ratio,
        |  round((SELECT CAST(sum(c) AS DOUBLE) FROM
        |          (SELECT c FROM c ORDER BY c DESC LIMIT 10)) /
        |        (SELECT CAST(sum(c) AS DOUBLE) FROM c), 6)
        |    AS topk_share""".stripMargin,

    // q178: the q172 formula through a loose-file round trip.
    "q178_binary_ingest" ->
      """SELECT doc_id AS media_id,
        |  CAST(16 + doc_id % 13 AS BIGINT) AS png_width,
        |  CAST(12 + doc_id % 7 AS BIGINT) AS png_height,
        |  CAST(8 AS BIGINT) AS png_bit_depth,
        |  CAST(2 AS BIGINT) AS png_color_type
        |FROM documents WHERE doc_id < 60
        |ORDER BY media_id""".stripMargin,

    // q179: the registered functions' math replayed natively — the
    // poly-hash coefficient walk (shared PolyHashSql) + DuckDB's own
    // list_cosine_similarity, q29/q80 precision discipline (round 6).
    "q179_sql_registry" ->
      s"""WITH d AS (
         |  SELECT doc_id, regexp_replace(text, '[^ -~]', '', 'g') AS t
         |  FROM documents WHERE doc_id < 200)
         |SELECT d.doc_id,
         |  CAST(${PolyHashSql.over("t", 257L, 40)} AS BIGINT)
         |    AS text_hash,
         |  round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
         |          CAST(a.embedding AS DOUBLE[])), 6) AS cos_anchor
         |FROM d
         |JOIN embeddings e ON e.vec_id = d.doc_id
         |CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) a
         |ORDER BY d.doc_id""".stripMargin,

    // q180: DuckDB's nfc_normalize implements the same UAX #15
    // canonical composition as java.text.Normalizer; both engines
    // count length() in codepoints.
    "q180_nfc_normalize" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    substring(text, 1, 40) || ' e' || chr(769) || ' A' ||
        |      chr(778) || ' ' || substring(text, 41, 20) AS raw
        |  FROM documents WHERE doc_id < 200)
        |SELECT doc_id, nfc_normalize(raw) AS nfc_text,
        |  CAST(length(raw) AS INT) AS n_cp_raw,
        |  CAST(length(nfc_normalize(raw)) AS INT) AS n_cp_nfc
        |FROM d ORDER BY doc_id""".stripMargin,

    // q181: every header field from the PCM synthesis formula —
    // n = 256 + id % 64 16-bit mono samples at 8 kHz through the JDK's
    // canonical 44-byte RIFF writer.
    "q181_wav_sniff" ->
      """SELECT doc_id AS media_id, TRUE AS wav_valid,
        |  CAST(1 AS BIGINT) AS wav_channels,
        |  CAST(8000 AS BIGINT) AS wav_sample_rate,
        |  CAST(16 AS BIGINT) AS wav_bits,
        |  CAST((256 + doc_id % 64) * 2 AS BIGINT) AS wav_data_bytes,
        |  CAST(floor((256 + doc_id % 64) * 2 * 1000.0 / 16000.0)
        |    AS BIGINT) AS wav_duration_ms
        |FROM documents WHERE doc_id < 80
        |ORDER BY media_id""".stripMargin,

    // q182: the scene formula replayed pixel-for-pixel — base raster
    // keyed on scene f//3, +16 jitter on the (x+y+f) % 16 lattice,
    // gray = the palettized value itself; cut rule mean |Δ| > 8.
    "q182_gif_scenes" ->
      """WITH ids AS (
        |  SELECT doc_id AS id, CAST(16 + doc_id % 5 AS INT) AS w,
        |         CAST(12 + doc_id % 3 AS INT) AS h
        |  FROM documents WHERE doc_id < 40),
        |px AS (
        |  SELECT id, w, h, f.f, x.x, y.y
        |  FROM ids, range(1, 9) f(f), range(0, 21) x(x), range(0, 15) y(y)
        |  WHERE x.x < w AND y.y < h),
        |v AS (
        |  SELECT id, w, h, f,
        |    (((x * (1 + (f // 3)) + 5 * y + 11 * (f // 3) + id) % 8) * 32
        |      + CASE WHEN (x + y + f) % 16 = 0 THEN 16 ELSE 0 END) AS vc,
        |    (((x * (1 + ((f - 1) // 3)) + 5 * y + 11 * ((f - 1) // 3)
        |       + id) % 8) * 32
        |      + CASE WHEN (x + y + f - 1) % 16 = 0 THEN 16 ELSE 0 END)
        |      AS vp
        |  FROM px)
        |SELECT id AS media_id, CAST(f AS INT) AS frame_idx,
        |  CAST(w * h AS INT) AS n_pixels,
        |  CAST(sum(abs(vc - vp)) AS BIGINT) AS sum_abs_gray_diff,
        |  (sum(abs(vc - vp)) > w * h * 8) AS is_cut
        |FROM v GROUP BY id, f, w, h
        |ORDER BY media_id, frame_idx""".stripMargin,

    // q183: distinct trigrams per doc over the lowered 120-prefix
    // (the native shingle expression's set semantics), df-ranked
    // profiles with the (df desc, gram asc) tie rule, rank-sum
    // scoring with absent grams at profileK + 1 = 51, argmin with
    // the (score asc, lang asc) tie rule.
    "q183_rank_langid" ->
      """WITH g AS (
        |  SELECT doc_id, lang, substr(t, CAST(i AS INT), 3) AS gram
        |  FROM (SELECT doc_id, lang,
        |          lower(substring(text, 1, 120)) AS t
        |        FROM documents) d, range(1, 121) r(i)
        |  WHERE i + 2 <= length(t)
        |  GROUP BY 1, 2, 3),
        |cnt AS (
        |  SELECT lang, gram, CAST(count(*) AS BIGINT) AS df
        |  FROM g GROUP BY 1, 2),
        |prof AS (
        |  SELECT lang, gram, rank FROM (
        |    SELECT lang, gram, CAST(row_number() OVER (
        |        PARTITION BY lang ORDER BY df DESC, gram ASC) AS INT)
        |      AS rank
        |    FROM cnt)
        |  WHERE rank <= 50),
        |dg AS (SELECT doc_id, gram FROM g WHERE doc_id < 150),
        |langs AS (SELECT DISTINCT lang FROM prof),
        |sc AS (
        |  SELECT dg.doc_id, l.lang,
        |    CAST(sum(coalesce(p.rank, 51)) AS BIGINT) AS score
        |  FROM dg CROSS JOIN langs l
        |  LEFT JOIN prof p ON p.lang = l.lang AND p.gram = dg.gram
        |  GROUP BY 1, 2)
        |SELECT doc_id, lang AS pred_lang, score FROM (
        |  SELECT doc_id, lang, score, row_number() OVER (
        |      PARTITION BY doc_id ORDER BY score ASC, lang ASC) AS rn
        |  FROM sc)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // q221: no hash replay at all — the exact train∩eval distinct-gram
    // counts the no-false-negative contract forces n_matched to equal;
    // bloom_sound is the invariant n_bloom ≥ n_matched, constant TRUE.
    "q221_bloom_prod_verified" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |                x -> x <> '') AS tok
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(tok) - 3),
        |      i -> tok[CAST(i AS INT)] || ' ' || tok[CAST(i AS INT)+1]
        |        || ' ' || tok[CAST(i AS INT)+2] || ' '
        |        || tok[CAST(i AS INT)+3] || ' '
        |        || tok[CAST(i AS INT)+4])) AS grams
        |  FROM toks),
        |ev AS (SELECT DISTINCT unnest(grams) AS gram FROM g
        |       WHERE doc_id % 7 = 0),
        |tr AS (SELECT doc_id, unnest(grams) AS gram FROM g
        |       WHERE doc_id % 7 <> 0)
        |SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_matched,
        |  TRUE AS bloom_sound
        |FROM tr JOIN ev USING (gram)
        |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,

    // q220: the same q214 fingerprint walk, then the size histogram
    // with the exact-integer mass columns.
    "q220_dup_cluster_histogram" ->
      """WITH f AS (
        |  SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |    AS fp
        |  FROM documents),
        |c AS (
        |  SELECT fp, CAST(count(*) AS BIGINT) AS k FROM f GROUP BY 1)
        |SELECT k AS cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(k * count(*) AS BIGINT) AS n_docs,
        |  CAST((k - 1) * count(*) AS BIGINT) AS n_removable
        |FROM c GROUP BY k ORDER BY k""".stripMargin,

    // q219: the trailing window as a day-range join over the same
    // distinct (user, day) collapse; count(DISTINCT) per window end.
    "q219_dau_wau" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |dau AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS dau
        |  FROM ud GROUP BY 1),
        |wau AS (
        |  SELECT d.day AS day,
        |    CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
        |  FROM (SELECT DISTINCT day FROM ud) d
        |  JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
        |  GROUP BY 1)
        |SELECT dau.day, dau.dau, wau.wau,
        |  round(CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE), 6)
        |    AS stickiness
        |FROM dau JOIN wau USING (day)
        |ORDER BY day""".stripMargin,

    // q218: distinct baskets, within-basket pair join, the same lift
    // ratio.
    "q218_cooccurrence_lift" ->
      """WITH basket AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
        |  FROM events),
        |nb AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n FROM
        |    (SELECT DISTINCT user_id, day FROM basket)),
        |na AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_t
        |  FROM basket GROUP BY 1),
        |p AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    CAST(count(*) AS BIGINT) AS n_ab
        |  FROM basket a JOIN basket b
        |    ON a.user_id = b.user_id AND a.day = b.day
        |   AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n_ab,
        |  round(CAST(n_ab * nb.n AS DOUBLE) /
        |    CAST(x.n_t * y.n_t AS DOUBLE), 6) AS lift
        |FROM p
        |JOIN na x ON x.event_type = type_a
        |JOIN na y ON y.event_type = type_b, nb
        |ORDER BY type_a, type_b""".stripMargin,

    // q217: same pair join, the Pearson sums formula term-for-term.
    "q217_weekly_autocorr" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT a.event_type, a.n AS x, b.n AS y
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type
        |   AND date_diff('day', b.day, a.day) = 7),
        |sums AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS np,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM p GROUP BY 1)
        |SELECT event_type, np AS n_pairs,
        |  CASE WHEN np * sxx - sx * sx > 0 AND np * syy - sy * sy > 0
        |  THEN round(CAST(np * sxy - sx * sy AS DOUBLE) /
        |    sqrt(CAST(np * sxx - sx * sx AS DOUBLE) *
        |         CAST(np * syy - sy * sy AS DOUBLE)), 6)
        |  END AS autocorr_7d
        |FROM sums ORDER BY event_type""".stripMargin,

    // q216: the full-scan answer the merged state must equal exactly.
    "q216_incremental_stats" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // q215: layout arithmetic — 50 round-robin files in, 4 out,
    // row counts lossless.
    "q215_compaction" ->
      """SELECT CAST(50 AS BIGINT) AS files_before,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents)
        |    AS rows_before,
        |  CAST(4 AS BIGINT) AS files_after,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents)
        |    AS rows_after""".stripMargin,

    // q214: the q23/q42 normalized-content key, per-source
    // distinct-vs-total arithmetic.
    "q214_source_dup_rate" ->
      """WITH f AS (
        |  SELECT source,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |      AS fp
        |  FROM documents),
        |c AS (
        |  SELECT source, fp, CAST(count(*) AS BIGINT) AS c
        |  FROM f GROUP BY 1, 2)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  round((CAST(sum(c) AS DOUBLE) - count(*)) /
        |    CAST(sum(c) AS DOUBLE), 6) AS dup_rate
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    // q213: second-truncated cutoff comparison, exact counts.
    "q213_time_split" ->
      """SELECT user_id AS subject_id,
        |  CAST(sum(CASE WHEN date_trunc('second', ts)
        |    < TIMESTAMP '2024-01-22 00:00:00' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_train,
        |  CAST(sum(CASE WHEN date_trunc('second', ts)
        |    >= TIMESTAMP '2024-01-22 00:00:00' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_eval,
        |  (sum(CASE WHEN date_trunc('second', ts)
        |     < TIMESTAMP '2024-01-22 00:00:00' THEN 1 ELSE 0 END) > 0
        |   AND
        |   sum(CASE WHEN date_trunc('second', ts)
        |     >= TIMESTAMP '2024-01-22 00:00:00' THEN 1 ELSE 0 END) > 0)
        |    AS straddles
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // q211: q156's digit-walk sample + nearest-rank median, joined to
    // quantile_cont's exact median (the q13 parity), error round-6.
    "q211_sketch_accuracy" ->
      """WITH d AS (
        |  SELECT lang, doc_id, CAST(length(text) AS BIGINT) AS val,
        |    list_sum(list_transform(range(0, 12), i ->
        |      (strpos('0123456789abcdef',
        |         substr(md5(CAST(doc_id AS VARCHAR) || ':5'),
        |                CAST(i + 1 AS INT), 1)) - 1)
        |      * power(16.0, CAST(11 - i AS DOUBLE)))) AS v
        |  FROM documents),
        |samp AS (
        |  SELECT lang, val FROM (
        |    SELECT lang, val,
        |      row_number() OVER (PARTITION BY lang ORDER BY v, val)
        |        AS rn
        |    FROM d) WHERE rn <= 64),
        |srt AS (
        |  SELECT lang, val,
        |    row_number() OVER (PARTITION BY lang ORDER BY val) - 1
        |      AS idx,
        |    count(*) OVER (PARTITION BY lang) AS n
        |  FROM samp),
        |est AS (
        |  SELECT lang, val AS est_p50, CAST(n AS BIGINT) AS n_sample
        |  FROM srt WHERE idx = CAST(floor(0.5 * (n - 1)) AS BIGINT)),
        |ex AS (
        |  SELECT lang, quantile_cont(CAST(length(text) AS DOUBLE), 0.5)
        |    AS exact_p50
        |  FROM documents GROUP BY 1)
        |SELECT e.lang, est_p50, round(ex.exact_p50, 6) AS exact_p50,
        |  round(abs(CAST(est_p50 AS DOUBLE) - ex.exact_p50), 6)
        |    AS abs_err,
        |  n_sample
        |FROM est e JOIN ex ON ex.lang = e.lang
        |ORDER BY e.lang""".stripMargin,

    // q212: the q87 salt + redact chain, then the residual flags from
    // the same redacted strings.
    "q212_residual_pii" ->
      """WITH r AS (
        |  SELECT regexp_replace(regexp_replace(regexp_replace(
        |    text || ' user' || doc_id || '@example.com 10.0.' ||
        |      (doc_id % 256) || '.7 +1 555 ' ||
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
        |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
        |    '<EMAIL>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
        |    '<IP>', 'g'),
        |    '\+[0-9](?:[ -]?[0-9]){6,14}', '<PHONE>', 'g') AS redacted
        |  FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN regexp_matches(redacted, '[0-9]{6,}')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_digit_runs,
        |  CAST(sum(CASE WHEN contains(redacted, '@')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_at_signs
        |FROM r""".stripMargin,

    // q210: the q194 rank replay with the lang key carried through
    // every CTE.
    "q210_grouped_auc" ->
      """WITH sc AS (
        |  SELECT lang,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> list_contains(
        |        ['the','a','an','and','or','of','to','in','is','it','on',
        |         'for','with','as','at','by','be','this','that','are',
        |         'was'], lower(x)))) AS DOUBLE) /
        |      CAST(len(string_split_regex(trim(text), '\s+'))
        |        AS DOUBLE) AS s,
        |    (doc_id % 2 = 0) AS y
        |  FROM documents WHERE length(trim(text)) > 0),
        |g AS (
        |  SELECT lang, s, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np
        |  FROM sc GROUP BY 1, 2),
        |r AS (
        |  SELECT lang, s, n, np,
        |    CAST(coalesce(sum(n) OVER (PARTITION BY lang ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cb
        |  FROM g)
        |SELECT lang, CAST(sum(np) AS BIGINT) AS n_pos,
        |  CAST(sum(n - np) AS BIGINT) AS n_neg,
        |  CASE WHEN sum(np) > 0 AND sum(n - np) > 0 THEN
        |    round((sum(CAST(np AS DOUBLE) *
        |        (CAST(cb AS DOUBLE) + (CAST(n AS DOUBLE) + 1.0) / 2.0))
        |      - CAST(sum(np) AS DOUBLE)
        |        * (CAST(sum(np) AS DOUBLE) + 1.0) / 2.0)
        |      / (CAST(sum(np) AS DOUBLE) * CAST(sum(n - np) AS DOUBLE)),
        |      6) END AS auc
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,

    // q208: the conditional-sum feature rollup; DECIMAL sum with the
    // q45 money discipline.
    "q208_feature_pivot" ->
      """SELECT user_id AS subject_id,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_view,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(epoch(max(date_trunc('second', ts))) AS BIGINT)
        |    AS last_seen,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // q209: exact counts, one expected-count formula each side,
    // round-6 on the per-lang χ² contribution.
    "q209_drift_chi2" ->
      """WITH d AS (
        |  SELECT lang,
        |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_b
        |  FROM documents GROUP BY 1),
        |t AS (
        |  SELECT CAST(sum(n_a) AS BIGINT) AS ta,
        |         CAST(sum(n_b) AS BIGINT) AS tb
        |  FROM d)
        |SELECT lang, n_a, n_b,
        |  round(
        |    (n_a - CAST(n_a + n_b AS DOUBLE) * ta / (ta + tb))
        |    * (n_a - CAST(n_a + n_b AS DOUBLE) * ta / (ta + tb))
        |    / (CAST(n_a + n_b AS DOUBLE) * ta / (ta + tb)) +
        |    (n_b - CAST(n_a + n_b AS DOUBLE) * tb / (ta + tb))
        |    * (n_b - CAST(n_a + n_b AS DOUBLE) * tb / (ta + tb))
        |    / (CAST(n_a + n_b AS DOUBLE) * tb / (ta + tb)), 6)
        |    AS chi2_term
        |FROM d, t ORDER BY lang""".stripMargin,

    // q204: the q174 lead-window discipline extended to triples; rank
    // over the bounded motif table with the (n desc, types asc) rule.
    "q204_event_motifs" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('second', ts) AS tss, event_id,
        |    event_type
        |  FROM events),
        |m AS (
        |  SELECT event_type AS t1,
        |    lead(event_type, 1) OVER w AS t2,
        |    lead(event_type, 2) OVER w AS t3
        |  FROM e WINDOW w AS (PARTITION BY user_id
        |                      ORDER BY tss, event_id)),
        |c AS (
        |  SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
        |  FROM m WHERE t3 IS NOT NULL GROUP BY 1, 2, 3)
        |SELECT rank, t1, t2, t3, n FROM (
        |  SELECT CAST(row_number() OVER (
        |      ORDER BY n DESC, t1, t2, t3) AS INT) AS rank,
        |    t1, t2, t3, n
        |  FROM c)
        |WHERE rank <= 20 ORDER BY rank""".stripMargin,

    // q205: q155's sentence synthesis/split ∘ q26's per-sentence
    // stopword scores with the (score desc, lang desc) argmax ∘ the
    // adjacent-switch lag rollup.
    "q205_code_switch" ->
      """WITH synth AS (
        |  SELECT doc_id,
        |    array_to_string(list_transform(
        |      string_split_regex(trim(text), '\s+'),
        |      (w, i) -> CASE WHEN i % 7 = 0 THEN w || '.' ELSE w END),
        |      ' ') AS t
        |  FROM documents WHERE trim(text) <> '' AND doc_id < 200),
        |sp AS (
        |  SELECT doc_id,
        |    string_split(regexp_replace(t, '([.!?])\s+',
        |      '\1' || chr(1), 'g'), chr(1)) AS ss
        |  FROM synth),
        |sents AS (
        |  SELECT doc_id, CAST(i - 1 AS INT) AS idx,
        |    string_split_regex(trim(lower(trim(ss[CAST(i AS INT)]))),
        |      '\s+') AS tk
        |  FROM sp, LATERAL unnest(range(1, CAST(len(ss) AS BIGINT) + 1))
        |    AS u(i)
        |  WHERE trim(ss[CAST(i AS INT)]) <> ''),
        |s AS (
        |  SELECT doc_id, idx, 'de' AS lang, CAST(len(list_filter(tk,
        |    x -> list_contains(['der','die','und','das','ist','von','den',
        |      'mit'], x))) AS DOUBLE) /
        |    greatest(CAST(len(tk) AS DOUBLE), 1.0) AS score FROM sents
        |  UNION ALL
        |  SELECT doc_id, idx, 'en', CAST(len(list_filter(tk,
        |    x -> list_contains(['the','and','of','to','in','is','you',
        |      'that','it'], x))) AS DOUBLE) /
        |    greatest(CAST(len(tk) AS DOUBLE), 1.0) FROM sents
        |  UNION ALL
        |  SELECT doc_id, idx, 'es', CAST(len(list_filter(tk,
        |    x -> list_contains(['el','la','de','que','y','en','un','los',
        |      'se'], x))) AS DOUBLE) /
        |    greatest(CAST(len(tk) AS DOUBLE), 1.0) FROM sents
        |  UNION ALL
        |  SELECT doc_id, idx, 'fr', CAST(len(list_filter(tk,
        |    x -> list_contains(['le','la','de','et','les','des','est','un',
        |      'une'], x))) AS DOUBLE) /
        |    greatest(CAST(len(tk) AS DOUBLE), 1.0) FROM sents
        |  UNION ALL
        |  SELECT doc_id, idx, 'zh', CAST(len(list_filter(tk,
        |    x -> list_contains(['的','了','是','我','不','在','有','他'],
        |      x))) AS DOUBLE) /
        |    greatest(CAST(len(tk) AS DOUBLE), 1.0) FROM sents),
        |pred AS (
        |  SELECT doc_id, idx,
        |    CASE WHEN score > 0.0 THEN lang ELSE 'und' END AS pred
        |  FROM (SELECT doc_id, idx, lang, score, row_number() OVER (
        |          PARTITION BY doc_id, idx
        |          ORDER BY score DESC, lang DESC) AS rk
        |        FROM s)
        |  WHERE rk = 1),
        |lg AS (
        |  SELECT doc_id, pred,
        |    lag(pred) OVER (PARTITION BY doc_id ORDER BY idx) AS prev
        |  FROM pred)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sentences,
        |  CAST(count(DISTINCT pred) AS BIGINT) AS n_langs,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> pred
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_switches
        |FROM lg GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q206: q45's gap-walk sessions → integer durations → one global
    // row; quantile_cont ↔ percentile is the q13 parity.
    "q206_session_stats" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('second', ts) AS t FROM events),
        |d AS (
        |  SELECT user_id, t,
        |    CASE WHEN lag(t) OVER w IS NULL THEN 1
        |         WHEN t - lag(t) OVER w > INTERVAL 30 MINUTE THEN 1
        |         ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |sx AS (
        |  SELECT user_id, t,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM d),
        |dur AS (
        |  SELECT CAST(epoch(max(t)) - epoch(min(t)) AS BIGINT) AS dur
        |  FROM sx GROUP BY user_id, sid)
        |SELECT CAST(count(*) AS BIGINT) AS n_sessions,
        |  round(avg(dur), 6) AS mean_dur_sec,
        |  CAST(max(dur) AS BIGINT) AS max_dur_sec,
        |  round(quantile_cont(dur, 0.5), 6) AS p50_sec,
        |  round(quantile_cont(dur, 0.9), 6) AS p90_sec
        |FROM dur""".stripMargin,

    // q207: per-(type, day) counts, trailing-7 avg/stddev_samp, the
    // gate on the ROUNDED z (the q150 discipline).
    "q207_rolling_anomaly" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |z AS (
        |  SELECT event_type, day, n,
        |    avg(n) OVER w AS mu, stddev_samp(n) OVER w AS sd,
        |    count(n) OVER w AS c
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, day, n,
        |  CASE WHEN c >= 2 AND sd > 0 THEN round((n - mu) / sd, 6) END
        |    AS z,
        |  coalesce(CASE WHEN c >= 2 AND sd > 0 THEN
        |    abs(round((n - mu) / sd, 6)) > 2.0 END, FALSE) AS is_anomaly
        |FROM z ORDER BY event_type, day""".stripMargin,

    // q200: q78's candidate+Jaccard CTEs, no verify floor, bucketed
    // by floor(10·J) on identically-computed doubles.
    "q200_jaccard_calibration" -> {
      s"""WITH ${MinhashReplay.jacCtes}
         |SELECT CAST(least(floor(j * 10), 9) AS BIGINT) AS bucket,
         |  round(CAST(least(floor(j * 10), 9) AS DOUBLE) / 10.0, 1)
         |    AS j_lo,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM jac GROUP BY 1, 2 ORDER BY 1""".stripMargin
    },

    // q201: the shared poly-hash walk at cap 64; HUGEINT sum % P on
    // the DuckDB side mirrors the DECIMAL(38,0) accumulation.
    "q201_release_manifest" ->
      s"""WITH d AS (
         |  SELECT source, n_chars,
         |    regexp_replace(text, '[^ -~]', '', 'g') AS t
         |  FROM documents),
         |h AS (
         |  SELECT source, n_chars,
         |    ${PolyHashSql.over("t", 257L, 64)} AS h
         |  FROM d)
         |SELECT coalesce(source, '__TOTAL__') AS source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |  CAST(count(DISTINCT h) AS BIGINT) AS n_distinct,
         |  CAST(sum(h) % 1000000007 AS BIGINT) AS checksum
         |FROM h GROUP BY ROLLUP(source)
         |ORDER BY source""".stripMargin,

    // q202: 0-based dims, the same floor(x·1e6 + 0.5) lattice sums,
    // the same mean division; the per-vector square sum carries the
    // q80 round-6 FP discipline.
    "q202_embed_centering" ->
      """WITH x AS (
        |  SELECT vec_id, CAST(r.i - 1 AS INT) AS dim,
        |    CAST(embedding[CAST(r.i AS INT)] AS DOUBLE) AS x
        |  FROM embeddings,
        |    LATERAL unnest(range(1, len(embedding) + 1)) AS r(i)),
        |m AS (
        |  SELECT dim,
        |    CAST(sum(CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))
        |      AS BIGINT) AS qsum,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM x GROUP BY 1),
        |mm AS (
        |  SELECT dim,
        |    CAST(qsum AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0)
        |      AS mean
        |  FROM m)
        |SELECT vec_id,
        |  round(sqrt(sum((x - mean) * (x - mean))), 6)
        |    AS centered_norm
        |FROM x JOIN mm USING (dim)
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    // q203: vocab counts, the (cnt desc, token asc) rank rule,
    // ln(rank) + ln(cnt) round-6.
    "q203_zipf_audit" ->
      """WITH tok AS (
        |  SELECT unnest(list_filter(
        |    string_split_regex(trim(lower(
        |      regexp_replace(text, '[^ -~]', '', 'g'))), '\s+'),
        |    x -> x <> '')) AS w
        |  FROM documents),
        |c AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS cnt
        |  FROM tok GROUP BY 1),
        |r AS (
        |  SELECT w, cnt, CAST(row_number() OVER (
        |      ORDER BY cnt DESC, w ASC) AS INT) AS rank
        |  FROM c)
        |SELECT rank, w, cnt,
        |  round(ln(CAST(rank AS DOUBLE)) + ln(CAST(cnt AS DOUBLE)), 6)
        |    AS zipf_logc
        |FROM r WHERE rank <= 50 ORDER BY rank""".stripMargin,

    // q196: the enrichment is pure subject arithmetic — the streaming
    // machinery must be a no-op on the VALUES.
    "q196_stream_enrich" ->
      """SELECT event_id, user_id,
        |  't' || CAST(user_id % 3 AS VARCHAR) AS tier, event_type
        |FROM events ORDER BY event_id""".stripMargin,

    // q197: passage construction (windowed list slices) + the q115
    // BM25 CTEs over PASSAGES — chunking changes dl/df/avg_dl, so
    // this is a different index than q115's. avg(dl) is exact (integer
    // token counts sum exactly in doubles), so scores replay.
    "q197_rag_retrieval" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS tk
        |  FROM documents WHERE length(trim(text)) > 0),
        |win AS (
        |  SELECT doc_id, tk,
        |    CAST(ceil(greatest(len(tk) - 32, 0) / 16.0) AS BIGINT) + 1
        |      AS nw
        |  FROM base),
        |p AS (
        |  SELECT doc_id * 1000 + r.w AS pid,
        |    array_to_string(
        |      tk[CAST(r.w * 16 + 1 AS INT):CAST(r.w * 16 + 32 AS INT)],
        |      ' ') AS passage
        |  FROM win, LATERAL unnest(range(0, nw)) AS r(w)),
        |d AS (
        |  SELECT pid, passage FROM p
        |  WHERE length(trim(passage)) > 0),
        |lens AS (
        |  SELECT pid,
        |    CAST(len(string_split_regex(trim(passage), '\s+'))
        |      AS DOUBLE) AS dl
        |  FROM d),
        |t AS (
        |  SELECT pid,
        |    unnest(string_split_regex(trim(lower(passage)), '\s+'))
        |      AS term
        |  FROM d),
        |tf AS (
        |  SELECT pid, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM t GROUP BY 1, 2),
        |df AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |c AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avg_dl
        |  FROM lens),
        |w AS (
        |  SELECT tf.pid,
        |    ln(1.0 + (c.n_docs - df.df + 0.5) / (df.df + 0.5)) *
        |    (tf.tf * (1.2 + 1.0)) /
        |    (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * lens.dl / c.avg_dl))
        |      AS bm25
        |  FROM tf JOIN df USING (term) JOIN lens USING (pid), c
        |  WHERE term IN ('merge', 'window', 'sort'))
        |SELECT pid, CAST(count(*) AS BIGINT) AS n_hit,
        |  round(sum(bm25), 6) AS score
        |FROM w GROUP BY pid
        |ORDER BY score DESC, pid LIMIT 10""".stripMargin,

    // q198: q90's string-gram CTEs + the removal arithmetic; the
    // residual count over the cleaned corpus must be zero in BOTH
    // engines.
    "q198_decontam_removal" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, len(tok) - 3),
        |      i -> tok[CAST(i AS INT)] || ' ' || tok[CAST(i AS INT)+1] ||
        |           ' ' || tok[CAST(i AS INT)+2] || ' ' ||
        |           tok[CAST(i AS INT)+3] || ' ' ||
        |           tok[CAST(i AS INT)+4])) AS grams
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(lower(text), '\s+'),
        |            x -> x <> '') AS tok
        |        FROM documents) t),
        |ev AS (
        |  SELECT DISTINCT unnest(grams) AS gram FROM g
        |  WHERE doc_id % 7 = 0),
        |tr AS (
        |  SELECT doc_id, unnest(grams) AS gram FROM g
        |  WHERE doc_id % 7 <> 0),
        |m AS (SELECT DISTINCT doc_id FROM tr JOIN ev USING (gram))
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |   WHERE doc_id % 7 <> 0) AS n_train,
        |  (SELECT CAST(count(*) AS BIGINT) FROM m) AS n_removed,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |   WHERE doc_id % 7 <> 0)
        |    - (SELECT CAST(count(*) AS BIGINT) FROM m) AS n_clean,
        |  (SELECT CAST(count(*) AS BIGINT) FROM tr
        |   JOIN ev USING (gram)
        |   WHERE tr.doc_id NOT IN (SELECT doc_id FROM m))
        |    AS n_residual_matches""".stripMargin,

    // q199: layout as arithmetic — one task per lang +
    // maxRecordsPerFile=64 ⇒ ceil(rows/64) files, largest file
    // min(rows, 64).
    "q199_output_sharding" ->
      """SELECT lang,
        |  CAST(ceil(count(*) / 64.0) AS BIGINT) AS n_files,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(least(count(*), 64) AS BIGINT) AS max_file_rows
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // q193: per-subject ordered event lists, inclusive list slicing —
    // types[max(1, i−5) : i−1] IS Spark's slice(types, max(1, i−5),
    // min(i−1, 5)).
    "q193_next_event_pairs" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('second', ts) AS tss, event_id,
        |    event_type
        |  FROM events),
        |s AS (
        |  SELECT user_id,
        |    list(event_type ORDER BY tss, event_id) AS types
        |  FROM e GROUP BY 1),
        |x AS (
        |  SELECT user_id, CAST(i AS BIGINT) AS idx, types
        |  FROM s, LATERAL unnest(range(1, len(types) + 1)) AS r(i)
        |  WHERE i >= 2)
        |SELECT user_id AS subject_id, idx,
        |  array_to_string(
        |    types[CAST(greatest(1, idx - 5) AS INT):CAST(idx - 1 AS INT)],
        |    '|') AS context,
        |  types[CAST(idx AS INT)] AS label
        |FROM x ORDER BY subject_id, idx""".stripMargin,

    // q194: identical score (one exact division → identical grouping
    // keys), tie-averaged ranks over the distinct-score table; every
    // term dyadic-exact, one round-6 division at the end.
    "q194_rank_auc" ->
      """WITH sc AS (
        |  SELECT
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |      x -> list_contains(
        |        ['the','a','an','and','or','of','to','in','is','it','on',
        |         'for','with','as','at','by','be','this','that','are',
        |         'was'], lower(x)))) AS DOUBLE) /
        |      CAST(len(string_split_regex(trim(text), '\s+'))
        |        AS DOUBLE) AS s,
        |    (lang = 'en') AS y
        |  FROM documents WHERE length(trim(text)) > 0),
        |g AS (
        |  SELECT s, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np
        |  FROM sc GROUP BY 1),
        |r AS (
        |  SELECT s, n, np,
        |    CAST(coalesce(sum(n) OVER (ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cb
        |  FROM g)
        |SELECT CAST(sum(np) AS BIGINT) AS n_pos,
        |  CAST(sum(n - np) AS BIGINT) AS n_neg,
        |  round((sum(CAST(np AS DOUBLE) *
        |      (CAST(cb AS DOUBLE) + (CAST(n AS DOUBLE) + 1.0) / 2.0))
        |    - CAST(sum(np) AS DOUBLE)
        |      * (CAST(sum(np) AS DOUBLE) + 1.0) / 2.0)
        |    / (CAST(sum(np) AS DOUBLE) * CAST(sum(n - np) AS DOUBLE)),
        |    6) AS auc
        |FROM r""".stripMargin,

    // q195: the q124 digit-walk uniform of "source:9"; the val
    // threshold is written 0.8 + 0.1 so both engines compare against
    // the same double.
    "q195_grouped_split" ->
      """WITH u AS (
        |  SELECT doc_id, source,
        |    (list_sum(list_transform(range(0, 12), i ->
        |        (strpos('0123456789abcdef',
        |           substr(md5(source || ':9'), CAST(i + 1 AS INT), 1))
        |         - 1)
        |        * power(16.0, CAST(11 - i AS DOUBLE)))) + 1)
        |      / 281474976710656.0 AS u
        |  FROM documents)
        |SELECT doc_id, source,
        |  CASE WHEN u <= 0.8 THEN 'train'
        |       WHEN u <= 0.8 + 0.1 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM u ORDER BY doc_id""".stripMargin,

    // q235: the q195 digit-walk split replay keyed by user_id, the
    // q09/q51 frequency-rank vocab over the TRAIN slice only, and the
    // UNK-0 lookup via coalesce — the composed ml-Pipeline contract.
    "q235_ml_pipeline_composed" ->
      """WITH u AS (
        |  SELECT event_id, user_id,
        |    event_type || ':' || user_id AS subject_key,
        |    (list_sum(list_transform(range(0, 12), i ->
        |        (strpos('0123456789abcdef',
        |           substr(md5(CAST(user_id AS VARCHAR) || ':9'),
        |                  CAST(i + 1 AS INT), 1)) - 1)
        |        * power(16.0, CAST(11 - i AS DOUBLE)))) + 1)
        |      / 281474976710656.0 AS uu
        |  FROM events),
        |st AS (
        |  SELECT event_id, subject_key,
        |    CASE WHEN uu <= 0.8 THEN 'train' ELSE 'held_out' END AS split
        |  FROM u),
        |c AS (SELECT subject_key AS element, count(*) AS n
        |      FROM st WHERE split = 'train' GROUP BY 1),
        |ranked AS (
        |  SELECT element,
        |    CAST(row_number() OVER (ORDER BY n DESC, element) AS INT)
        |      AS idx
        |  FROM c)
        |SELECT st.event_id, st.split, st.subject_key,
        |  coalesce(r.idx, 0) AS key_idx
        |FROM st LEFT JOIN ranked r ON r.element = st.subject_key
        |ORDER BY event_id""".stripMargin,

    // q191: same salting, token split, case-folded membership count.
    "q191_word_blocklist" ->
      """WITH d AS (
        |  SELECT doc_id, text
        |    || (CASE WHEN doc_id % 11 = 0 THEN ' frak' ELSE '' END)
        |    || (CASE WHEN doc_id % 13 = 0 THEN ' smeg gorram SMEG'
        |        ELSE '' END) AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(trim(t), '\s+'),
        |    x -> lower(x) IN ('frak', 'smeg', 'gorram'))) AS INT)
        |    AS n_blocked,
        |  (len(list_filter(string_split_regex(trim(t), '\s+'),
        |    x -> lower(x) IN ('frak', 'smeg', 'gorram'))) = 0) AS keep
        |FROM d ORDER BY doc_id""".stripMargin,

    // q192: q167's integer plan + the q124 digit-walk uniform for the
    // remainder fraction; LATERAL range materializes the copies.
    "q192_mixture_materialize" ->
      """WITH counts AS (
        |  SELECT lang,
        |    CAST(sum(CASE WHEN trim(text) = '' THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END)
        |      AS BIGINT) AS n_tok
        |  FROM documents GROUP BY 1),
        |w(lang, wt) AS (VALUES ('en', 4), ('de', 2), ('es', 1),
        |                       ('fr', 1), ('zh', 1)),
        |j AS (
        |  SELECT c.lang, c.n_tok, CAST(wt AS BIGINT) AS wt
        |  FROM counts c JOIN w ON w.lang = c.lang),
        |tw AS (SELECT CAST(sum(wt) AS BIGINT) AS total FROM j),
        |plan AS (
        |  SELECT lang, n_tok, (20000 * wt) // total AS target
        |  FROM j, tw),
        |d AS (
        |  SELECT doc_id, d.lang, n_tok, target,
        |    target // n_tok AS base,
        |    (list_sum(list_transform(range(0, 12), i ->
        |        (strpos('0123456789abcdef',
        |           substr(md5(CAST(doc_id AS VARCHAR) || ':11'),
        |                  CAST(i + 1 AS INT), 1)) - 1)
        |        * power(16.0, CAST(11 - i AS DOUBLE)))) + 1)
        |      / 281474976710656.0 AS u
        |  FROM documents d JOIN plan ON plan.lang = d.lang),
        |n AS (
        |  SELECT doc_id, lang,
        |    base + (CASE WHEN u < (target % n_tok)
        |      / CAST(n_tok AS DOUBLE) THEN 1 ELSE 0 END) AS n_copies
        |  FROM d)
        |SELECT lang AS grp, doc_id, CAST(n_copies AS BIGINT) AS n_copies,
        |  CAST(unnest(range(0, n_copies)) AS BIGINT) AS copy_idx
        |FROM n WHERE n_copies > 0
        |ORDER BY doc_id, copy_idx""".stripMargin,

    // q190: Kn3Replay — the q110 discipline at order 3.
    "q190_kn_trigram" ->
      s"""WITH ${Kn3Replay.ctes}
         |${Kn3Replay.scoreSelect}
         |ORDER BY doc_id""".stripMargin,

    // q184: identity — the gzip codec + line framing must be lossless.
    "q184_gzip_text" ->
      """SELECT doc_id, text FROM documents ORDER BY doc_id""",

    // q185: exact integer counts; the single ln-ratio written in the
    // same association order as the engine, round-6.
    "q185_pmi_collocations" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    lower(regexp_replace(text, '[^ -~]', '', 'g')) AS t
        |  FROM documents),
        |ts AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(t), '\s+'),
        |                             x -> x <> '') AS ts
        |  FROM d),
        |tok AS (SELECT unnest(ts) AS w FROM ts),
        |big AS (
        |  SELECT unnest(list_transform(range(1, len(ts)), i ->
        |    ts[CAST(i AS INT)] || ' ' || ts[CAST(i + 1 AS INT)]))
        |    AS gram
        |  FROM ts),
        |cab AS (SELECT gram, CAST(count(*) AS BIGINT) AS c_ab
        |        FROM big GROUP BY 1),
        |cw AS (SELECT w, CAST(count(*) AS BIGINT) AS c_w
        |       FROM tok GROUP BY 1),
        |tot AS (SELECT
        |  (SELECT CAST(sum(c_ab) AS BIGINT) FROM cab) AS n_big,
        |  (SELECT CAST(sum(c_w) AS BIGINT) FROM cw) AS n_tok)
        |SELECT split_part(c.gram, ' ', 1) AS w_a,
        |  split_part(c.gram, ' ', 2) AS w_b,
        |  c.c_ab, a.c_w AS c_a, b.c_w AS c_b,
        |  round(ln((c.c_ab / CAST(t.n_big AS DOUBLE)) /
        |    ((a.c_w / CAST(t.n_tok AS DOUBLE)) *
        |     (b.c_w / CAST(t.n_tok AS DOUBLE)))) / ln(2), 6) AS pmi
        |FROM cab c
        |CROSS JOIN tot t
        |JOIN cw a ON a.w = split_part(c.gram, ' ', 1)
        |JOIN cw b ON b.w = split_part(c.gram, ' ', 2)
        |WHERE c.c_ab >= 30
        |ORDER BY w_a, w_b""".stripMargin,

    // q186: same markdown synthesis, same RE2 pattern, group 1 and 2.
    "q186_code_fences" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    substring(text, 1, 30) || chr(10) || '```scala' || chr(10)
        |    || 'val x = ' || CAST(doc_id AS VARCHAR) || chr(10) || '```'
        |    || chr(10) || substring(text, 31, 20)
        |    || CASE WHEN doc_id % 3 = 0
        |         THEN chr(10) || '```python' || chr(10) || 'print('
        |           || CAST(doc_id AS VARCHAR) || ')' || chr(10)
        |           || '```' || chr(10)
        |         ELSE '' END
        |    || 'tail' AS md
        |  FROM documents WHERE doc_id < 200),
        |e AS (
        |  SELECT doc_id,
        |    regexp_extract_all(md, '(?s)```([a-zA-Z0-9]*)\n(.*?)```', 1)
        |      AS ls,
        |    regexp_extract_all(md, '(?s)```([a-zA-Z0-9]*)\n(.*?)```', 2)
        |      AS bs
        |  FROM d)
        |SELECT doc_id, CAST(i - 1 AS INT) AS fence_idx,
        |  ls[CAST(i AS INT)] AS fence_lang,
        |  bs[CAST(i AS INT)] AS fence_body
        |FROM e, range(1, 3) r(i) WHERE i <= len(ls)
        |ORDER BY doc_id, fence_idx""".stripMargin,

    // q187: same 4-line synthesis; integer counts + two round-6
    // divisions.
    "q187_code_line_stats" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    substring(text, 1, 25) || chr(10) || '  indented '
        |    || substring(text, 26, 15) || chr(10) || 'x = '
        |    || CAST(doc_id AS VARCHAR) || chr(10)
        |    || substring(text, 41, 30) AS doc
        |  FROM documents WHERE doc_id < 200),
        |l AS (
        |  SELECT doc_id, unnest(string_split(doc, chr(10))) AS line
        |  FROM d)
        |SELECT doc_id, CAST(count(*) AS INT) AS n_lines,
        |  CAST(max(length(line)) AS INT) AS max_line_len,
        |  round(avg(length(line)), 6) AS mean_line_len,
        |  CAST(sum(CASE WHEN line LIKE ' %' OR line LIKE chr(9) || '%'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_indented,
        |  round(CAST(sum(length(regexp_replace(line, '[^A-Za-z0-9]',
        |      '', 'g'))) AS DOUBLE) /
        |    CAST(sum(length(line)) AS DOUBLE), 6) AS alnum_frac
        |FROM l GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // q188: the q86 feature replay over the EVEN-index samples at the
    // halved rate — m = ceil(n/2) samples, sample i = formula(2i).
    "q188_audio_resample" ->
      """WITH d AS (
        |  SELECT doc_id, 256 + doc_id % 64 AS n,
        |         (256 + doc_id % 64 + 1) // 2 AS m
        |  FROM documents WHERE doc_id < 60),
        |s AS (
        |  SELECT d.doc_id, d.m, i.g AS i,
        |         ((d.doc_id*7 + (2*i.g)*11) % 4096) - 2048 AS smp
        |  FROM d, generate_series(0, 159) i(g) WHERE i.g < d.m),
        |z AS (
        |  SELECT doc_id, m, smp,
        |         lag(smp) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        |  FROM s)
        |SELECT doc_id AS media_id, CAST(m AS INT) AS n_samples,
        |       CAST(4000 AS INT) AS sample_rate,
        |       round(sqrt(sum(smp*smp) / (m*1.0)), 6) AS rms,
        |       CAST(sum(CASE WHEN prev*smp < 0 THEN 1 ELSE 0 END) AS INT)
        |         AS zero_crossings,
        |       round(sum(abs(smp)) / (m*1.0), 6) AS mean_amp
        |FROM z GROUP BY doc_id, m ORDER BY 1""".stripMargin,

    // q189: same line synthesis; corrupt = NOT json_valid, typed
    // extraction on the good branch, nulls on the bad one.
    "q189_jsonl_quarantine" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0
        |      THEN '{"id": ' || CAST(doc_id AS VARCHAR)
        |        || ', "lang": "' || lang || '"'
        |      ELSE '{"id": ' || CAST(doc_id AS VARCHAR)
        |        || ', "lang": "' || lang || '", "n": '
        |        || CAST(n_chars AS VARCHAR) || '}'
        |    END AS line
        |  FROM documents WHERE doc_id < 200)
        |SELECT doc_id, NOT json_valid(line) AS is_corrupt,
        |  CASE WHEN json_valid(line)
        |    THEN CAST(json_extract_string(line, '$.id') AS BIGINT) END
        |    AS parsed_id,
        |  CASE WHEN json_valid(line)
        |    THEN json_extract_string(line, '$.lang') END AS parsed_lang,
        |  CASE WHEN json_valid(line)
        |    THEN CAST(json_extract_string(line, '$.n') AS BIGINT) END
        |    AS parsed_n
        |FROM d ORDER BY doc_id""".stripMargin,

    // q174: the same lead window over (second-truncated ts, event_id).
    "q174_event_transitions" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('second', ts) AS tss, event_id,
        |    event_type
        |  FROM events),
        |p AS (
        |  SELECT event_type AS type_a,
        |    lead(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY tss, event_id) AS type_b
        |  FROM e)
        |SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS n
        |FROM p WHERE type_b IS NOT NULL
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q175: DATE-level first-day offsets, per-(subject, day) distinct.
    "q175_retention" ->
      """WITH f AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS d0
        |  FROM events GROUP BY 1),
        |a AS (
        |  SELECT DISTINCT e.user_id,
        |    date_diff('day', d0, CAST(ts AS DATE)) AS day_k
        |  FROM events e JOIN f USING (user_id))
        |SELECT day_k, CAST(count(*) AS BIGINT) AS n_subjects,
        |  round(count(*) / (SELECT CAST(count(*) AS DOUBLE) FROM f), 6)
        |    AS retention
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin,

    // q176: stage mins chained on strict > over second-truncated ts.
    "q176_funnel" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('second', ts) AS tss, event_type
        |  FROM events),
        |s1 AS (SELECT user_id, min(tss) AS t1 FROM e
        |       WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(tss) AS t2 FROM e
        |       JOIN s1 USING (user_id)
        |       WHERE event_type = 'click' AND tss > t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(tss) AS t3 FROM e
        |       JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND tss > t2 GROUP BY 1)
        |SELECT CAST(1 AS INT) AS stage, 'signup' AS step,
        |  (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_subjects,
        |  round((SELECT count(*) FROM s1) /
        |        (SELECT CAST(count(*) AS DOUBLE) FROM s1), 6)
        |    AS conversion
        |UNION ALL
        |SELECT CAST(2 AS INT), 'click',
        |  (SELECT CAST(count(*) AS BIGINT) FROM s2),
        |  round((SELECT count(*) FROM s2) /
        |        (SELECT CAST(count(*) AS DOUBLE) FROM s1), 6)
        |UNION ALL
        |SELECT CAST(3 AS INT), 'purchase',
        |  (SELECT CAST(count(*) AS BIGINT) FROM s3),
        |  round((SELECT count(*) FROM s3) /
        |        (SELECT CAST(count(*) AS DOUBLE) FROM s1), 6)
        |ORDER BY stage""".stripMargin,

    // q173: the shared BpeWalkSql walk + one occurrence join, rolled
    // up by lang; fertility is one round-6 division of exact sums.
    "q173_tokenizer_fertility" ->
      s"""${BpeWalkSql.ctes},
         |fin AS (SELECT w, CAST(len(syms) AS BIGINT) AS n_sym
         |        FROM walk WHERE r = 8),
         |occ AS (
         |  SELECT lang, w FROM (
         |    SELECT lang,
         |      unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
         |    FROM documents)
         |  WHERE w <> '')
         |SELECT lang, CAST(sum(length(w)) AS BIGINT) AS n_chars,
         |  CAST(sum(f.n_sym) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(length(w)) AS DOUBLE) /
         |    CAST(sum(f.n_sym) AS DOUBLE), 6) AS chars_per_token
         |FROM occ JOIN fin f USING (w)
         |GROUP BY lang ORDER BY lang""".stripMargin,

    // q172: dims from the synthesis formula (16+id%13, 12+id%7), JDK
    // TYPE_INT_RGB → PNG color type 2 at bit depth 8; the corrupt row
    // nulls out.
    "q172_png_sniff" ->
      """SELECT doc_id AS media_id, true AS png_valid,
        |  CAST(16 + doc_id % 13 AS BIGINT) AS png_width,
        |  CAST(12 + doc_id % 7 AS BIGINT) AS png_height,
        |  CAST(8 AS BIGINT) AS png_bit_depth,
        |  CAST(2 AS BIGINT) AS png_color_type
        |FROM documents WHERE doc_id < 60
        |UNION ALL
        |SELECT CAST(1000000 AS BIGINT), false, NULL, NULL, NULL, NULL
        |ORDER BY media_id""".stripMargin,

    // q171: q154's bucket CTEs + the label-mismatch predicate before
    // the rank window.
    "q171_hard_negatives" ->
      s"""WITH ${HyperplaneReplay.oracleBucketCtes},
         |c AS (SELECT e.vec_id, e.embedding, e.label, bk.bucket
         |      FROM embeddings e JOIN bk USING (vec_id))
         |SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id,
         |CAST(row_number() OVER (PARTITION BY a.vec_id
         |  ORDER BY list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
         |             CAST(b.embedding AS DOUBLE[])) DESC,
         |           b.vec_id) AS INT) AS rank
         |FROM c a JOIN c b
         |  ON a.bucket = b.bucket AND a.label <> b.label
         |QUALIFY rank <= 3 ORDER BY anchor_id, rank""".stripMargin,

    // q252: positive rank on the ROUNDED cosine (threshold filtered
    // BEFORE the rank, matching the engine); negative = q171's exact
    // raw-cos rank shape at k=1; margin = plain subtraction of two
    // already-6dp values (exact on both engines).
    "q252_contrastive_triplets" ->
      s"""WITH ${HyperplaneReplay.oracleBucketCtes},
         |c AS (SELECT e.vec_id, e.embedding, e.label, bk.bucket
         |      FROM embeddings e JOIN bk USING (vec_id)),
         |pos AS (
         |  SELECT a.vec_id AS anchor_id, b.vec_id AS pos_id,
         |    ROUND(list_cosine_similarity(
         |      CAST(a.embedding AS DOUBLE[]),
         |      CAST(b.embedding AS DOUBLE[])), 6) AS pos_cos
         |  FROM c a JOIN c b
         |    ON a.bucket = b.bucket AND a.label = b.label
         |       AND a.vec_id <> b.vec_id
         |  WHERE ROUND(list_cosine_similarity(
         |      CAST(a.embedding AS DOUBLE[]),
         |      CAST(b.embedding AS DOUBLE[])), 6) >= 0.3
         |  QUALIFY row_number() OVER (PARTITION BY a.vec_id
         |    ORDER BY pos_cos DESC, b.vec_id) = 1),
         |neg AS (
         |  SELECT a.vec_id AS anchor_id, b.vec_id AS neg_id
         |  FROM c a JOIN c b
         |    ON a.bucket = b.bucket AND a.label <> b.label
         |  QUALIFY row_number() OVER (PARTITION BY a.vec_id
         |    ORDER BY list_cosine_similarity(
         |      CAST(a.embedding AS DOUBLE[]),
         |      CAST(b.embedding AS DOUBLE[])) DESC, b.vec_id) = 1)
         |SELECT p.anchor_id, p.pos_id, n.neg_id, p.pos_cos,
         |  ROUND(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
         |    CAST(en.embedding AS DOUBLE[])), 6) AS neg_cos,
         |  p.pos_cos - ROUND(list_cosine_similarity(
         |    CAST(ea.embedding AS DOUBLE[]),
         |    CAST(en.embedding AS DOUBLE[])), 6) AS margin
         |FROM pos p JOIN neg n USING (anchor_id)
         |JOIN embeddings ea ON ea.vec_id = p.anchor_id
         |JOIN embeddings en ON en.vec_id = n.neg_id
         |ORDER BY 1""".stripMargin,

    // q170: bigram token frequencies → frequency-of-frequencies →
    // (r+1)·N_{r+1}/N_r with one round-6 division; gaps null.
    "q170_good_turing" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    lower(regexp_replace(text, '[^\x20-\x7e]', '', 'g')) AS t
        |  FROM documents),
        |ts AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(t), '\s+'),
        |                             x -> x <> '') AS ts
        |  FROM d),
        |tok AS (
        |  SELECT unnest(list_transform(range(1, len(ts)), i ->
        |    ts[CAST(i AS INT)] || ' ' || ts[CAST(i + 1 AS INT)]))
        |    AS gram
        |  FROM ts),
        |c AS (SELECT gram, CAST(count(*) AS BIGINT) AS r
        |      FROM tok GROUP BY 1),
        |nr AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r
        |       FROM c GROUP BY 1)
        |SELECT a.r, a.n_r,
        |  round(CAST(a.r + 1 AS DOUBLE) * b.n_r / a.n_r, 6) AS r_star
        |FROM nr a LEFT JOIN nr b ON b.r = a.r + 1
        |ORDER BY a.r""".stripMargin,

    // q169: q78's verified pairs rolled up by unordered source pair.
    "q169_dup_source_matrix" ->
      s"""WITH ${MinhashReplay.jacCtes},
         |v AS (SELECT id_a, id_b FROM jac WHERE j >= 0.5)
         |SELECT least(da.source, db.source) AS src_a,
         |  greatest(da.source, db.source) AS src_b,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM v JOIN documents da ON da.doc_id = id_a
         |       JOIN documents db ON db.doc_id = id_b
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q168: q158's register replay per snapshot, cumulative max per
    // prefix, the same harmonic-sum estimate, plus the exact
    // first-snapshot histogram.
    "q168_vocab_growth" -> {
      val c = (0.709 * 64 * 64 * math.pow(2, 40)).toString.toLowerCase
      s"""WITH d AS (
         |  SELECT doc_id // 100 AS snap,
         |    lower(regexp_replace(text, '[^\\x20-\\x7e]', '', 'g')) AS t
         |  FROM documents),
         |ts AS (
         |  SELECT snap, list_filter(string_split_regex(trim(t), '\\s+'),
         |                           x -> x <> '') AS ts
         |  FROM d),
         |tok AS (
         |  -- multiplicity differs from the engine's per-doc-distinct
         |  -- grams; irrelevant: every consumer below is max/min/distinct
         |  SELECT snap,
         |    unnest(list_transform(range(1, len(ts)), i ->
         |      ts[CAST(i AS INT)] || ' ' || ts[CAST(i + 1 AS INT)]))
         |      AS term
         |  FROM ts),
         |hp AS (
         |  SELECT snap, ${PolyHashSql.over("term", 257L, 16)} AS h0
         |  FROM tok),
         |hv AS (
         |  SELECT snap,
         |    ((h0 * h0 + h0) % 1000000007 * 2654435761 + 40503)
         |      % 1000000007 AS h
         |  FROM hp),
         |regs AS (
         |  SELECT snap, h % 64 AS bucket,
         |    CAST(max(CASE WHEN h // 64 = 0 THEN 25
         |             ELSE 25 - length(bin(h // 64)) END) AS BIGINT) AS reg
         |  FROM hv GROUP BY 1, 2),
         |snaps AS (SELECT DISTINCT snap FROM regs),
         |cum AS (
         |  SELECT s.snap, r.bucket, max(r.reg) AS reg
         |  FROM snaps s JOIN regs r ON r.snap <= s.snap GROUP BY 1, 2),
         |gs AS (
         |  SELECT snap, CAST(count(*) AS BIGINT) AS occupied,
         |    sum(CAST(1 AS BIGINT) << CAST(40 - reg AS INT))
         |      + (64 - count(*)) * (CAST(1 AS BIGINT) << CAST(40 AS INT))
         |      AS s,
         |    64 - count(*) AS v
         |  FROM cum GROUP BY 1),
         |est AS (
         |  SELECT snap, occupied,
         |    CASE WHEN $c / s <= 160.0 AND v > 0
         |         THEN round(64.0 * ln(64.0 / v), 6)
         |         ELSE round($c / s, 6) END AS est_distinct
         |  FROM gs),
         |firsts AS (SELECT term, min(snap) AS fs FROM tok GROUP BY 1),
         |ex AS (
         |  SELECT s.snap, CAST(count(*) AS BIGINT) AS exact_cum
         |  FROM snaps s JOIN firsts f ON f.fs <= s.snap GROUP BY 1)
         |SELECT e.snap, e.occupied, e.est_distinct, x.exact_cum
         |FROM est e JOIN ex x USING (snap)
         |ORDER BY e.snap""".stripMargin
    },

    // q167: integer budget split (div remainder dropped, never
    // FP-redistributed) + one round-6 division for epochs.
    "q167_mixture_plan" ->
      """WITH n AS (
        |  SELECT lang,
        |    CAST(sum(CASE WHEN trim(text) = '' THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END)
        |      AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY 1),
        |w AS (
        |  SELECT * FROM (VALUES ('en', CAST(4 AS BIGINT)),
        |    ('de', CAST(2 AS BIGINT)), ('es', CAST(1 AS BIGINT)),
        |    ('fr', CAST(1 AS BIGINT)), ('zh', CAST(1 AS BIGINT)))
        |    AS t(lang, weight)),
        |j AS (
        |  SELECT n.lang, n.n_tokens, w.weight,
        |    (SELECT CAST(sum(weight) AS BIGINT) FROM w
        |     WHERE lang IN (SELECT lang FROM n)) AS tw
        |  FROM n JOIN w USING (lang))
        |SELECT lang AS grp, n_tokens, weight,
        |  CAST((10000000 * weight) // tw AS BIGINT) AS target_tokens,
        |  round(CAST((10000000 * weight) // tw AS DOUBLE) /
        |    CAST(n_tokens AS DOUBLE), 6) AS epochs
        |FROM j ORDER BY grp""".stripMargin,

    // q165: pow2 ceiling via bin() bit-length, integer batch math,
    // one deterministic FP division for the waste fraction.
    "q165_length_buckets" ->
      """WITH n AS (
        |  SELECT CAST(CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END
        |    AS BIGINT) AS n
        |  FROM documents),
        |b AS (
        |  SELECT CASE WHEN n <= 16 THEN CAST(16 AS BIGINT)
        |    ELSE CAST(1 AS BIGINT) << CAST(length(bin(n - 1)) AS INT)
        |    END AS bucket, n
        |  FROM n WHERE n > 0)
        |SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS n_tokens,
        |  (CAST(count(*) AS BIGINT) + 31) // 32 AS n_batches,
        |  round(1.0 - CAST(sum(n) AS DOUBLE) /
        |    CAST(count(*) * bucket AS DOUBLE), 6) AS waste_frac
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    // q163: the Morton interleave as explicit shift/mask arithmetic;
    // the box predicate alone defines the row set (pruning must be
    // lossless).
    "q163_zorder_layout" -> {
      def z(x: String, y: String) = (0 until 16).map(i =>
        s"(($x >> $i) & 1) * ${1L << (2 * i)} + " +
          s"(($y >> $i) & 1) * ${1L << (2 * i + 1)}")
        .mkString("(", " + ", ")")
      s"""SELECT doc_id, n_chars, doc_id % 65536 AS y,
         |  ${z("n_chars", "(doc_id % 65536)")} AS zkey
         |FROM documents
         |WHERE n_chars BETWEEN 256 AND 383 AND doc_id % 65536 <= 1023
         |ORDER BY doc_id""".stripMargin
    },

    // q161: identity over the source table — the ORC round trip must
    // return every byte.
    "q161_orc_roundtrip" ->
      """SELECT doc_id, lang, text FROM documents
        |ORDER BY doc_id""".stripMargin,

    // q162: the same adversarial suffix computed codec-free.
    "q162_csv_roundtrip" ->
      """SELECT doc_id, lang,
        |  text || ',"' || chr(10) || 'x' AS text
        |FROM documents ORDER BY doc_id""".stripMargin,

    // q160: all 8 power iterations replayed in a recursive CTE over
    // exact BIGINT ranks — same ring+hash edge synthesis, same
    // truncating-div update; integer sums are order-free, so the match
    // is bit-exact with no rounding discipline needed.
    "q160_pagerank" ->
      """WITH RECURSIVE
        |par AS (SELECT count(*) AS n FROM documents),
        |e0 AS (
        |  SELECT doc_id AS src,
        |    CASE WHEN j = 0 THEN (doc_id + 1) % n
        |         ELSE ((doc_id * 2654435761 + j * 40503 + 7)
        |               % 1000000007) % n
        |    END AS dst
        |  FROM documents, par, unnest([0, 1, 2]) AS t(j)),
        |edges AS (SELECT DISTINCT src, dst FROM e0 WHERE dst <> src),
        |deg AS (
        |  SELECT src, CAST(count(*) AS BIGINT) AS d
        |  FROM edges GROUP BY 1),
        |ed AS (SELECT e.src, e.dst, d.d FROM edges e JOIN deg d
        |       USING (src)),
        |pr(iter, node, r) AS (
        |  SELECT 0, doc_id, (SELECT 1000000000000 // n FROM par)
        |  FROM documents
        |  UNION ALL
        |  SELECT it + 1, node,
        |    (SELECT (3 * (1000000000000 // n)) // 20 FROM par)
        |      + (17 * c) // 20
        |  FROM (SELECT p.iter AS it, e.dst AS node,
        |          sum(p.r // e.d) AS c
        |        FROM pr p JOIN ed e ON e.src = p.node
        |        WHERE p.iter < 8 GROUP BY 1, 2) s)
        |SELECT node, CAST(r AS BIGINT) AS rank_fp
        |FROM pr WHERE iter = 8 ORDER BY node""".stripMargin,

    // q159: the q78 candidate+Jaccard CTEs at the loose 0.35 floor,
    // then DuckDB's levenshtein as the final judge — both engines
    // compute plain unit-cost edit distance over the same
    // ASCII-projected text (Spark's threshold arg only bounds the DP;
    // values ≤ the bound are exact).
    "q159_edit_verify" ->
      s"""WITH ${MinhashReplay.jacCtes},
         |d AS (
         |  SELECT doc_id,
         |    lower(regexp_replace(text, '[^\\x20-\\x7e]', '', 'g')) AS t
         |  FROM documents),
         |v AS (
         |  SELECT id_a, id_b,
         |    CAST(levenshtein(da.t, db.t) AS BIGINT) AS dist,
         |    greatest(length(da.t), length(db.t)) AS mx
         |  FROM (SELECT id_a, id_b FROM jac WHERE j >= 0.35) c
         |    JOIN d da ON da.doc_id = id_a
         |    JOIN d db ON db.doc_id = id_b)
         |SELECT id_a, id_b, dist,
         |  round(1.0 - CAST(dist AS DOUBLE) / CAST(mx AS DOUBLE), 6)
         |    AS sim
         |FROM v WHERE dist <= 60 ORDER BY id_a, id_b""".stripMargin,

    // q158: full HLL register replay — poly hash + the square-affine
    // scramble (see Sketch.hllRegisters: the raw polynomial has no
    // avalanche), bucket = low 6 bits, rank from bin() bit-length of
    // the remaining 24 (W = bitlen((P-1)>>6)), harmonic sum as exact
    // Σ2^(40-reg) BIGINTs, one FP division.
    "q158_hll_distinct" -> {
      val c = (0.709 * 64 * 64 * math.pow(2, 40)).toString.toLowerCase
      s"""WITH d AS (
         |  SELECT source,
         |    lower(regexp_replace(text, '[^\\x20-\\x7e]', '', 'g')) AS t
         |  FROM documents),
         |tok AS (
         |  SELECT source, unnest(list_filter(string_split_regex(t, '\\s+'),
         |                                    x -> x <> '')) AS term
         |  FROM d),
         |hp AS (
         |  SELECT source, ${PolyHashSql.over("term", 257L, 16)} AS h0
         |  FROM tok),
         |hv AS (
         |  SELECT source,
         |    ((h0 * h0 + h0) % 1000000007 * 2654435761 + 40503)
         |      % 1000000007 AS h
         |  FROM hp),
         |regs AS (
         |  SELECT source, CAST(h % 64 AS BIGINT) AS bucket,
         |    CAST(max(CASE WHEN h // 64 = 0 THEN 25
         |             ELSE 25 - length(bin(h // 64)) END) AS BIGINT) AS reg
         |  FROM hv GROUP BY 1, 2),
         |gs AS (
         |  SELECT source,
         |    sum(CAST(1 AS BIGINT) << CAST(40 - reg AS INT))
         |      + (64 - count(*)) * (CAST(1 AS BIGINT) << CAST(40 AS INT))
         |      AS s,
         |    64 - count(*) AS v
         |  FROM regs GROUP BY 1),
         |est AS (
         |  SELECT source,
         |    CASE WHEN $c / s <= 160.0 AND v > 0
         |         THEN round(64.0 * ln(64.0 / v), 6)
         |         ELSE round($c / s, 6) END AS est_distinct
         |  FROM gs),
         |ex AS (
         |  SELECT source, CAST(count(DISTINCT term) AS BIGINT)
         |    AS exact_distinct
         |  FROM tok GROUP BY 1)
         |SELECT r.source, r.bucket, r.reg, e.est_distinct,
         |  x.exact_distinct
         |FROM regs r JOIN est e USING (source)
         |  JOIN ex x ON x.source = r.source
         |ORDER BY r.source, r.bucket""".stripMargin
    },

    "q108_cdc_dedup" -> CdcReplay.oracle,

    // replay of the sampled-frame gray means: the pixel formula
    // ((x + 3y + 7f + id) mod 8)·32 over each id's w×h raster, frames
    // 0/2/4 — the GIF codec sits between the engines.
    "q113_gif_frames" ->
      """WITH ids AS (
        |  SELECT doc_id AS media_id,
        |    CAST(16 + doc_id % 5 AS INT) AS w,
        |    CAST(12 + doc_id % 3 AS INT) AS h
        |  FROM documents),
        |px AS (
        |  SELECT media_id, CAST(f.f AS INT) AS frame_idx, w, h,
        |    ((x.x + 3 * y.y + 7 * f.f + media_id) % 8) * 32 AS v
        |  FROM ids,
        |    LATERAL unnest(range(0, 6)) AS f(f),
        |    LATERAL unnest(range(0, w)) AS x(x),
        |    LATERAL unnest(range(0, h)) AS y(y)
        |  WHERE f.f % 2 = 0)
        |SELECT media_id, frame_idx, w AS width, h AS height,
        |  CAST(sum(v) AS DOUBLE) / (w * h) AS mean_gray
        |FROM px GROUP BY 1, 2, 3, 4
        |ORDER BY media_id, frame_idx""".stripMargin,

    // q111's embedding CTEs → list vectors → q80's cosine-pair math.
    "q112_embed_semdedup" -> {
      val signCols = (0 until 16).map(d =>
        s"""CASE WHEN ascii(substr(md5(term || ':$d'), 1, 1)) % 2 = 0
           |      THEN 1.0 ELSE -1.0 END AS __s$d""".stripMargin)
        .mkString(",\n")
      val sums = (0 until 16).map(d =>
        s"round(sum(w.tfidf * s.__s$d), 6) AS v$d").mkString(",\n  ")
      val lv = (0 until 16).map(d => s"v$d").mkString("[", ", ", "]")
      s"""WITH t AS (
         |  SELECT doc_id,
         |         unnest(string_split_regex(trim(lower(text)), '\\s+'))
         |           AS term
         |  FROM documents
         |  WHERE trim(text) <> '' AND doc_id < 600),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS nd FROM t),
         |w AS (
         |  SELECT tf.doc_id, tf.term, tf.tf * ln(nd / df.df) AS tfidf
         |  FROM tf JOIN df USING (term) CROSS JOIN n),
         |s AS (
         |  SELECT term,
         |$signCols
         |  FROM (SELECT DISTINCT term FROM tf)),
         |e AS (
         |  SELECT w.doc_id,
         |  $sums
         |  FROM w JOIN s USING (term) GROUP BY w.doc_id),
         |v AS (SELECT doc_id, $lv AS emb FROM e)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  round(list_cosine_similarity(a.emb, b.emb), 6) AS cos
         |FROM v a JOIN v b ON a.doc_id < b.doc_id
         |WHERE list_cosine_similarity(a.emb, b.emb) >= 0.95
         |ORDER BY id_a, id_b""".stripMargin
    },

    // q71's tf-idf CTEs + md5-parity sign columns, 16 sums per doc.
    "q111_tfidf_embed" -> {
      val signCols = (0 until 16).map(d =>
        s"""CASE WHEN ascii(substr(md5(term || ':$d'), 1, 1)) % 2 = 0
           |      THEN 1.0 ELSE -1.0 END AS __s$d""".stripMargin)
        .mkString(",\n")
      val sums = (0 until 16).map(d =>
        s"round(sum(w.tfidf * s.__s$d), 6) AS v$d").mkString(",\n  ")
      s"""WITH t AS (
         |  SELECT doc_id,
         |         unnest(string_split_regex(trim(lower(text)), '\\s+'))
         |           AS term
         |  FROM documents WHERE trim(text) <> ''),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS nd FROM t),
         |w AS (
         |  SELECT tf.doc_id, tf.term, tf.tf * ln(nd / df.df) AS tfidf
         |  FROM tf JOIN df USING (term) CROSS JOIN n),
         |s AS (
         |  SELECT term,
         |$signCols
         |  FROM (SELECT DISTINCT term FROM tf))
         |SELECT w.doc_id,
         |  $sums
         |FROM w JOIN s USING (term)
         |GROUP BY w.doc_id ORDER BY w.doc_id""".stripMargin
    },

    // q96's transition CTEs + the KN count tables: c(w1) and N1+(w1.)
    // from the bigram table's per-w1 rows, N1+(.w2) per w2, N1+(..)
    // total rows, V = distinct contexts; P assembled with the exact
    // literal association of the Spark expression.
    "q110_kn_bigram" ->
      s"""WITH ${KnReplay.ctes}
         |${KnReplay.scoreSelect}
         |ORDER BY doc_id""".stripMargin,

    // the same RE2 chain: ctl strip → ascii projection → ws collapse
    // → trim → lower; n_removed from the length delta.
    "q117_normalize" ->
      """WITH n AS (
        |  SELECT doc_id, length(text) AS raw_len,
        |    lower(trim(regexp_replace(
        |      regexp_replace(
        |        regexp_replace(text, '[\x00-\x08\x0e-\x1f\x7f]', '', 'g'),
        |        '[^\x20-\x7e\s]', '', 'g'),
        |      '\s+', ' ', 'g'))) AS norm_text
        |  FROM documents)
        |SELECT doc_id, norm_text,
        |  CAST(raw_len - length(norm_text) AS BIGINT) AS n_removed
        |FROM n ORDER BY doc_id""".stripMargin,

    // Final per-subject running stats: count / last-seen millis / the
    // Welford mean re-multiplied by n (the FP-boundary-safe encoding —
    // it equals the exact 2-dp sum; see the query comment).
    "q118_running_stats" ->
      """SELECT user_id AS subject_id,
        |  count(*) AS n_events,
        |  CAST(epoch(max(date_trunc('second', ts))) * 1000 AS BIGINT)
        |    AS last_ts,
        |  round(sum(value), 6) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // q45's gap-walk session assignment, minus each subject's LAST
    // session (it stays open in streaming state, never emitted).
    "q119_closed_sessions" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('second', ts) AS t, value
        |  FROM events),
        |d AS (
        |  SELECT user_id, t, value,
        |    CASE WHEN lag(t) OVER w IS NULL THEN 1
        |         WHEN t - lag(t) OVER w > INTERVAL 30 MINUTE THEN 1
        |         ELSE 0 END AS new_sess
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
        |s AS (
        |  SELECT user_id, t, value,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM d),
        |g AS (
        |  SELECT user_id, sid,
        |    CAST(epoch(min(t)) AS BIGINT) AS sess_start,
        |    CAST(epoch(max(t)) AS BIGINT) AS sess_end,
        |    count(*) AS n_events,
        |    round(sum(value), 6) AS sum_value,
        |    max(sid) OVER (PARTITION BY user_id) AS max_sid
        |  FROM s GROUP BY user_id, sid)
        |SELECT user_id AS subject_id, sess_start, sess_end, n_events,
        |       sum_value
        |FROM g WHERE sid < max_sid
        |ORDER BY subject_id, sess_start""".stripMargin,

    // A-ES keys replayed: hex12(md5)+1 over 2^48, ln, divide by the
    // weight, top-100 by key. power(16, 11-i) is double-exact ≤ 16^11.
    "q124_weighted_sample" ->
      """WITH k AS (
        |  SELECT doc_id, n_chars,
        |    ln((list_sum(list_transform(range(0, 12), i ->
        |        (strpos('0123456789abcdef',
        |           substr(md5(CAST(doc_id AS VARCHAR) || ':7'),
        |                  CAST(i + 1 AS INT), 1)) - 1)
        |        * power(16.0, CAST(11 - i AS DOUBLE)))) + 1)
        |       / 281474976710656.0)
        |      / n_chars AS es_key
        |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
        |SELECT doc_id, n_chars, round(es_key, 9) AS es_key
        |FROM k ORDER BY es_key DESC, doc_id LIMIT 100""".stripMargin,

    // The same regexp chain, verbatim, plus the last-two-labels domain
    // and the blocklist anti-join.
    "q125_url_canonical" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.'
        |          WHEN doc_id % 3 = 1 THEN 'http://'
        |          ELSE 'https://' END)
        |    || 'w' || (doc_id % 40) || '.' || source
        |    || (CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.org' END)
        |    || '/a/' || (doc_id % 300)
        |    || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 5 = 0
        |             THEN '?utm_source=x&id=' || doc_id ELSE '' END)
        |    || (CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END)
        |      AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |      regexp_replace(lower(url), '#.*$', ''),
        |      '\?.*$', ''),
        |      '^[a-z][a-z0-9+.-]*://', ''),
        |      '^www\.', ''),
        |      '/$', '') AS canonical_url
        |  FROM u),
        |d AS (
        |  SELECT doc_id, canonical_url,
        |    regexp_extract(regexp_replace(canonical_url, '/.*$', ''),
        |      '([^.]+\.[^.]+)$', 1) AS domain
        |  FROM c)
        |SELECT doc_id, canonical_url, domain
        |FROM d WHERE domain NOT IN ('src3.com', 'src7.org')
        |ORDER BY doc_id""".stripMargin,

    // q127: the suffix VALUES / wildcard / exception lists are
    // interpolated from the SAME UrlOps constants the operator uses,
    // so rule lists and oracle can never drift; the CASE walk replays
    // the prevailing-rule order (exception, then 3-label, then
    // wildcard, then 2-label, then the unlisted-TLD 2-label default;
    // host-IS-suffix and 1-label hosts → NULL).
    "q127_psl_domain" -> {
      val pslValues = graft.ops.UrlOps.pslSnapshot
        .map(sfx => s"('$sfx')").mkString(", ")
      val wildList = graft.ops.UrlOps.pslWildcardParents
        .map(p => s"'$p'").mkString(", ")
      val excList = graft.ops.UrlOps.pslExceptions
        .map(e => s"'$e'").mkString(", ")
      s"""WITH psl(suffix) AS (VALUES $pslValues),
         |hosts AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 31 = 0 THEN 'co.uk'
         |         WHEN doc_id % 37 = 0 THEN 'blogspot.co.uk'
         |         WHEN doc_id % 41 = 0 THEN 'uk'
         |         WHEN doc_id % 43 = 0 THEN 'www.ck'
         |         WHEN doc_id % 47 = 0 THEN 'sub.www.ck'
         |         WHEN doc_id % 53 = 0
         |           THEN 'shop.zone' || CAST(doc_id % 9 AS VARCHAR)
         |                || '.ck'
         |         WHEN doc_id % 59 = 0
         |           THEN 'zone' || CAST(doc_id % 9 AS VARCHAR) || '.ck'
         |         ELSE concat(
         |           CASE WHEN doc_id % 4 = 0 THEN 'news.' ELSE '' END,
         |           CASE doc_id % 6
         |             WHEN 0 THEN 'site' || CAST(doc_id % 50 AS VARCHAR)
         |                         || '.co.uk'
         |             WHEN 1 THEN 'shop' || CAST(doc_id % 50 AS VARCHAR)
         |                         || '.com.au'
         |             WHEN 2 THEN 'example'
         |                         || CAST(doc_id % 50 AS VARCHAR)
         |                         || '.com'
         |             WHEN 3 THEN 'blog' || CAST(doc_id % 50 AS VARCHAR)
         |                         || '.blogspot.co.uk'
         |             WHEN 4 THEN 'app' || CAST(doc_id % 50 AS VARCHAR)
         |                         || '.github.io'
         |             ELSE 'host' || CAST(doc_id % 50 AS VARCHAR)
         |                         || '.org'
         |           END) END AS host
         |  FROM documents),
         |lab AS (
         |  SELECT doc_id, host, string_split(host, '.') AS ls,
         |         len(string_split(host, '.')) AS n
         |  FROM hosts)
         |SELECT doc_id, host,
         |  CASE
         |    WHEN n >= 2 AND array_to_string(ls[-2:], '.')
         |                    IN ($excList)
         |      THEN array_to_string(ls[-2:], '.')
         |    WHEN n >= 3 AND array_to_string(ls[-3:], '.')
         |                    IN (SELECT suffix FROM psl)
         |      THEN CASE WHEN n >= 4
         |                THEN array_to_string(ls[-4:], '.') END
         |    WHEN ls[-1] IN ($wildList)
         |      THEN CASE WHEN n >= 3
         |                THEN array_to_string(ls[-3:], '.') END
         |    WHEN n >= 2 AND array_to_string(ls[-2:], '.')
         |                    IN (SELECT suffix FROM psl)
         |      THEN CASE WHEN n >= 3
         |                THEN array_to_string(ls[-3:], '.') END
         |    WHEN n >= 2 THEN array_to_string(ls[-2:], '.')
         |  END AS registered_domain
         |FROM lab ORDER BY doc_id""".stripMargin
    },

    // q128: window('1 day') buckets = UTC day floor (q43 precedent);
    // avg·n rounds onto the exact 2-dp sum.
    "q128_windowed_stream" ->
      """SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS win_start,
        |CAST(epoch(date_trunc('day', ts)) + 86400 AS BIGINT) AS win_end,
        |event_type, count(*) AS n,
        |round(avg(value) * count(*), 6) AS sum_value
        |FROM events GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin,

    // q129: one surviving row per distinct normalized content; the
    // projected column is a pure function of that content, so DISTINCT
    // replays the stream dedup exactly.
    "q129_dedup_stream" ->
      """SELECT DISTINCT
        |  regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS text
        |FROM documents ORDER BY text""".stripMargin,

    // q130: q17's interval join plus the VARIABLE task end (7 +
    // user_id % 14 days) and the 14-day maxTaskWindow truncation bound
    // — both predicates replayed.
    "q130_stream_interval_join" ->
      """WITH tasks AS (
        |  SELECT user_id, min(date_trunc('second', ts)) AS st
        |  FROM events GROUP BY 1)
        |SELECT e.user_id AS subject_id, count(*) AS n_in_window,
        |  CAST(epoch(max(date_trunc('second', e.ts))) AS BIGINT)
        |    AS last_ts_sec
        |FROM events e JOIN tasks t ON e.user_id = t.user_id
        | AND date_trunc('second', e.ts) >= t.st
        | AND date_trunc('second', e.ts) <=
        |     t.st + to_days(CAST(14 AS INT))
        | AND date_trunc('second', e.ts) <=
        |     t.st + to_days(CAST(7 + t.user_id % 14 AS INT))
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // PQ replay: encode = per-subspace argmin over the literal dyadic
    // codebook (dist ASC, code ASC — PqEncode's strict-'<' walk), ADC =
    // ordered sum of per-subspace LUT distances (list(d ORDER BY s) —
    // PqAdcScore's s-ascending accumulation), rank = adc ASC, id ASC.
    // Squared terms are written (a-b)*(a-b), not pow, so both engines
    // round once per term.
    "q131_pq_adc" ->
      """WITH cb AS (
        |  SELECT j // 8 AS s, j % 8 AS c,
        |         list_transform(range(0, 16),
        |           i -> CAST(((j // 8) * 131 + (j % 8) * 31 + i * 7)
        |                     % 17 - 8 AS DOUBLE) / 8.0) AS cv
        |  FROM range(0, 32) t(j)),
        |codes AS (
        |  SELECT e.vec_id, cb.s, cb.c,
        |         row_number() OVER (PARTITION BY e.vec_id, cb.s
        |           ORDER BY list_sum(list_transform(range(0, 16), i ->
        |             (CAST(e.embedding[CAST(cb.s * 16 + i + 1 AS INT)]
        |                AS DOUBLE) - cv[CAST(i + 1 AS INT)]) *
        |             (CAST(e.embedding[CAST(cb.s * 16 + i + 1 AS INT)]
        |                AS DOUBLE) - cv[CAST(i + 1 AS INT)]))) ASC,
        |             cb.c) AS rn
        |  FROM embeddings e CROSS JOIN cb),
        |cc AS (SELECT vec_id, s, c FROM codes WHERE rn = 1),
        |q AS (SELECT vec_id AS q_vec_id, embedding
        |      FROM embeddings WHERE vec_id < 5),
        |sub AS (
        |  SELECT q.q_vec_id, cc.vec_id, cc.s,
        |         list_sum(list_transform(range(0, 16), i ->
        |           (CAST(q.embedding[CAST(cc.s * 16 + i + 1 AS INT)]
        |              AS DOUBLE) - cb.cv[CAST(i + 1 AS INT)]) *
        |           (CAST(q.embedding[CAST(cc.s * 16 + i + 1 AS INT)]
        |              AS DOUBLE) - cb.cv[CAST(i + 1 AS INT)]))) AS d
        |  FROM q CROSS JOIN cc JOIN cb ON cb.s = cc.s AND cb.c = cc.c),
        |scored AS (
        |  SELECT q_vec_id, vec_id, list_sum(list(d ORDER BY s)) AS adc
        |  FROM sub GROUP BY 1, 2)
        |SELECT q_vec_id, vec_id,
        |  CAST(row_number() OVER (PARTITION BY q_vec_id
        |    ORDER BY adc ASC, vec_id) AS INT) AS rank,
        |  round(adc, 6) AS adc
        |FROM scored QUALIFY rank <= 5 ORDER BY q_vec_id, rank"""
        .stripMargin,

    // Int8 replay: floor(x·127/maxabs + 0.5) codes, then the EXPLICIT
    // dot/(√na·√nb) mirror of the native CosineSimilarity (zero-norm →
    // 0.0) — integer-valued sums are exact, so qcos is bit-identical.
    "q132_int8_ann" ->
      """WITH ma AS (
        |  SELECT vec_id, embedding,
        |         list_max(list_transform(embedding,
        |           x -> abs(CAST(x AS DOUBLE)))) AS maxabs
        |  FROM embeddings),
        |qz AS (
        |  SELECT vec_id,
        |         CASE WHEN maxabs = 0
        |              THEN list_transform(embedding, x -> 0.0)
        |              ELSE list_transform(embedding, x ->
        |                floor(CAST(x AS DOUBLE) * 127 / maxabs + 0.5))
        |         END AS codes
        |  FROM ma),
        |n AS (SELECT vec_id, codes,
        |        list_sum(list_transform(codes, x -> x * x)) AS nn
        |      FROM qz),
        |scored AS (
        |  SELECT q.vec_id AS q_vec_id, c.vec_id,
        |    CASE WHEN q.nn = 0 OR c.nn = 0 THEN 0.0
        |         ELSE list_sum(list_transform(range(0, 64), i ->
        |                q.codes[CAST(i + 1 AS INT)] *
        |                c.codes[CAST(i + 1 AS INT)]))
        |              / (sqrt(q.nn) * sqrt(c.nn)) END AS qcos
        |  FROM n q CROSS JOIN n c WHERE q.vec_id < 5)
        |SELECT q_vec_id, vec_id,
        |  CAST(row_number() OVER (PARTITION BY q_vec_id
        |    ORDER BY qcos DESC, vec_id) AS INT) AS rank,
        |  round(qcos, 6) AS qcos
        |FROM scored QUALIFY rank <= 5 ORDER BY q_vec_id, rank"""
        .stripMargin,

    // The same RE2 chain over the same synthesized shell: script/style/
    // comment spans first, then tags, then the six entity decodes with
    // &amp; LAST, then whitespace collapse.
    "q133_html_extract" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |    '</title><style type="text/css"> p { color: #a0b1c2; } ' ||
        |    '</style><script>if (a < b && c > 1) { emit("x&y"); }' ||
        |    '</script><!-- hidden <b>comment</b> --></head><body><h1>' ||
        |    lang || '</h1><p>' || text ||
        |    '</p><div class="f">footer &amp;amp; &lt;tag&gt; ' ||
        |    '&#39;q&#39;&nbsp;end</div></body></html>' AS html
        |  FROM documents),
        |x1 AS (SELECT doc_id, regexp_replace(html,
        |         '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM h),
        |x2 AS (SELECT doc_id, regexp_replace(t,
        |         '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM x1),
        |x3 AS (SELECT doc_id, regexp_replace(t,
        |         '(?s)<!--.*?-->', ' ', 'g') AS t FROM x2),
        |x4 AS (SELECT doc_id, regexp_replace(t,
        |         '(?s)<[/!]?[A-Za-z][^>]*>', ' ', 'g') AS t FROM x3),
        |x5 AS (SELECT doc_id,
        |         replace(replace(replace(replace(replace(replace(t,
        |           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |           '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t
        |       FROM x4),
        |x6 AS (SELECT doc_id,
        |         trim(regexp_replace(t, '\s+', ' ', 'g')) AS extracted
        |       FROM x5)
        |SELECT doc_id, extracted, length(extracted) AS n_ext
        |FROM x6 ORDER BY doc_id""".stripMargin,

    // IVF-PQ replay: q126's coarse assignment (cos DESC, centroid_id
    // tie-break) restricts the candidate pairs, q131's argmin encode +
    // per-subspace distance + ordered ADC sum scores them; rank is
    // adc ASC, vec_id ASC inside each query's probed cells.
    "q134_ivfpq_ann" ->
      """WITH cents AS (
        |  SELECT j AS centroid_id,
        |         list_transform(range(0, 64),
        |           i -> ((j * 31 + i * 7) % 17 - 8) / 8.0) AS c_vec
        |  FROM range(0, 8) t(j)),
        |assign AS (
        |  SELECT e.vec_id, t.centroid_id,
        |         row_number() OVER (PARTITION BY e.vec_id
        |           ORDER BY list_cosine_similarity(
        |             CAST(e.embedding AS DOUBLE[]), t.c_vec) DESC,
        |             t.centroid_id) AS pr
        |  FROM embeddings e CROSS JOIN cents t),
        |ca AS (SELECT vec_id, centroid_id FROM assign WHERE pr = 1),
        |qa AS (SELECT vec_id, centroid_id FROM assign
        |       WHERE vec_id < 5 AND pr <= 2),
        |cb AS (
        |  SELECT j // 8 AS s, j % 8 AS c,
        |         list_transform(range(0, 16),
        |           i -> CAST(((j // 8) * 131 + (j % 8) * 31 + i * 7)
        |                     % 17 - 8 AS DOUBLE) / 8.0) AS cv
        |  FROM range(0, 32) t(j)),
        |codes AS (
        |  SELECT e.vec_id, cb.s, cb.c,
        |         row_number() OVER (PARTITION BY e.vec_id, cb.s
        |           ORDER BY list_sum(list_transform(range(0, 16), i ->
        |             (CAST(e.embedding[CAST(cb.s * 16 + i + 1 AS INT)]
        |                AS DOUBLE) - cv[CAST(i + 1 AS INT)]) *
        |             (CAST(e.embedding[CAST(cb.s * 16 + i + 1 AS INT)]
        |                AS DOUBLE) - cv[CAST(i + 1 AS INT)]))) ASC,
        |             cb.c) AS rn
        |  FROM embeddings e CROSS JOIN cb),
        |cc AS (SELECT vec_id, s, c FROM codes WHERE rn = 1),
        |pairs AS (
        |  SELECT qa.vec_id AS q_vec_id, ca.vec_id
        |  FROM qa JOIN ca USING (centroid_id)),
        |q AS (SELECT vec_id AS q_vec_id, embedding
        |      FROM embeddings WHERE vec_id < 5),
        |sub AS (
        |  SELECT p.q_vec_id, p.vec_id, cc.s,
        |         list_sum(list_transform(range(0, 16), i ->
        |           (CAST(q.embedding[CAST(cc.s * 16 + i + 1 AS INT)]
        |              AS DOUBLE) - cb.cv[CAST(i + 1 AS INT)]) *
        |           (CAST(q.embedding[CAST(cc.s * 16 + i + 1 AS INT)]
        |              AS DOUBLE) - cb.cv[CAST(i + 1 AS INT)]))) AS d
        |  FROM pairs p
        |  JOIN q ON q.q_vec_id = p.q_vec_id
        |  JOIN cc ON cc.vec_id = p.vec_id
        |  JOIN cb ON cb.s = cc.s AND cb.c = cc.c),
        |scored AS (
        |  SELECT q_vec_id, vec_id, list_sum(list(d ORDER BY s)) AS adc
        |  FROM sub GROUP BY 1, 2)
        |SELECT q_vec_id, vec_id,
        |  CAST(row_number() OVER (PARTITION BY q_vec_id
        |    ORDER BY adc ASC, vec_id) AS INT) AS rank,
        |  round(adc, 6) AS adc
        |FROM scored QUALIFY rank <= 5 ORDER BY q_vec_id, rank"""
        .stripMargin,

    // q232: the q134 replay with RESIDUAL geometry — both the encode
    // and the per-probed-cell LUT subtract the assigned cell's
    // centroid slice, in the same left-assoc (x − cent − cv) order as
    // Spark's zip_with-then-encode chain.
    "q232_ivfpq_residual" ->
      (IvfPqResidualReplay.chain + """
        |SELECT q_vec_id, vec_id,
        |  CAST(row_number() OVER (PARTITION BY q_vec_id
        |    ORDER BY adc ASC, vec_id) AS INT) AS rank,
        |  round(adc, 6) AS adc
        |FROM scored QUALIFY rank <= 5 ORDER BY q_vec_id, rank"""
        .stripMargin),

    // q233: q232's chain widened to top-20 candidates, then the exact
    // cosine re-rank to top-5 on the true vectors — the refine stage.
    "q233_ivfpq_refine" ->
      (IvfPqResidualReplay.chain + """,
        |cand AS (
        |  SELECT q_vec_id, vec_id FROM scored
        |  QUALIFY row_number() OVER (PARTITION BY q_vec_id
        |    ORDER BY adc ASC, vec_id) <= 20),
        |rr AS (
        |  SELECT c.q_vec_id, c.vec_id,
        |         list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
        |           CAST(ce.embedding AS DOUBLE[])) AS cos
        |  FROM cand c
        |  JOIN embeddings qe ON qe.vec_id = c.q_vec_id
        |  JOIN embeddings ce ON ce.vec_id = c.vec_id)
        |SELECT q_vec_id, vec_id,
        |  CAST(row_number() OVER (PARTITION BY q_vec_id
        |    ORDER BY cos DESC, vec_id) AS INT) AS rank,
        |  round(cos, 6) AS cos
        |FROM rr QUALIFY rank <= 5 ORDER BY q_vec_id, rank"""
        .stripMargin),

    // The round-trip target is q01's ingest projection: the reloaded
    // parquet must answer the ORIGINAL oracle.
    "q120_save_load" ->
      """SELECT event_id, user_id AS subject_id,
        |CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_sec,
        |event_type
        |FROM events ORDER BY event_id""".stripMargin,

    "q121_inf_null" ->
      """SELECT event_id,
        |  CASE WHEN event_id % 7 IN (0, 1, 2) THEN NULL
        |       ELSE value END AS v_clean
        |FROM events ORDER BY event_id""".stripMargin,

    // q09's ranking over FLATTENED token cells; empty docs are null
    // cells and contribute nothing.
    "q122_nested_vocab" ->
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
        |    AS element
        |  FROM documents WHERE trim(text) <> ''),
        |c AS (SELECT element, count(*) AS n FROM tok
        |      WHERE element IS NOT NULL GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS DOUBLE) AS tot FROM c)
        |SELECT element, n,
        |       CAST(row_number() OVER (ORDER BY n DESC, element) AS INT)
        |         AS idx,
        |       round(n / (SELECT tot FROM t), 9) AS freq
        |FROM c
        |UNION ALL SELECT 'UNK', 0, 0, 0.0
        |ORDER BY idx""".stripMargin,

    // Vocab ranks replayed per label family; pos 0 = grp (+10 offset,
    // measurement 1), pos 1 = reg (+14 offset, measurement 2).
    "q123_static_indices" ->
      """WITH s AS (SELECT DISTINCT user_id AS subject_id FROM events),
        |lab AS (
        |  SELECT subject_id, 'g' || (subject_id % 3) AS grp,
        |         'r' || (subject_id % 5) AS reg
        |  FROM s),
        |gv AS (
        |  SELECT grp, CAST(row_number() OVER
        |    (ORDER BY count(*) DESC, grp) AS INT) AS idx
        |  FROM lab GROUP BY grp),
        |rv AS (
        |  SELECT reg, CAST(row_number() OVER
        |    (ORDER BY count(*) DESC, reg) AS INT) AS idx
        |  FROM lab GROUP BY reg),
        |n AS (SELECT user_id AS subject_id, count(*) AS n_events
        |      FROM events GROUP BY 1)
        |SELECT n.subject_id, n.n_events, CAST(p.pos AS INT) AS pos,
        |  CAST(CASE WHEN p.pos = 0 THEN gv.idx + 10
        |            ELSE rv.idx + 14 END AS BIGINT) AS sidx,
        |  CAST(CASE WHEN p.pos = 0 THEN 1 ELSE 2 END AS BIGINT) AS midx
        |FROM n JOIN lab USING (subject_id) JOIN gv USING (grp)
        |  JOIN rv USING (reg)
        |CROSS JOIN (SELECT 0 AS pos UNION ALL SELECT 1) p
        |ORDER BY subject_id, pos""".stripMargin,

    // q58's winnow-fingerprint CTEs + per-doc set sizes → directed
    // containment n_shared/|fp(A)| with the same posting cap.
    "q116_containment" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(length(text) - 8 + 2, 1)),
        |      i -> list_sum(list_transform(range(0, 8), j ->
        |        CAST(unicode(substr(text, CAST(i + j AS INT), 1)) AS BIGINT) *
        |        [13163680, 805498697, 154885210, 362470373, 16974593,
        |         66049, 257, 1][CAST(j + 1 AS INT)])) % 1000000007)
        |      AS hs
        |  FROM documents),
        |sel AS (
        |  SELECT doc_id,
        |    CASE WHEN len(hs) = 0 THEN []
        |         WHEN len(hs) <= 16 THEN [list_min(hs)]
        |         ELSE list_transform(range(1, len(hs) - 16 + 2),
        |                i -> list_min(hs[CAST(i AS INT):CAST(i + 15 AS INT)]))
        |    END AS fps
        |  FROM h),
        |fd AS (
        |  SELECT doc_id, unnest(list_distinct(fps)) AS fp FROM sel),
        |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp
        |       FROM fd GROUP BY 1),
        |ok AS (SELECT fp FROM fd GROUP BY fp HAVING count(*) <= 5),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(count(*) AS BIGINT) AS n_shared
        |  FROM fd a JOIN fd b USING (fp) JOIN ok USING (fp)
        |  WHERE a.doc_id <> b.doc_id GROUP BY 1, 2)
        |SELECT p.id_a, p.id_b, p.n_shared, sz.n_fp,
        |  round(CAST(p.n_shared AS DOUBLE) / sz.n_fp, 6) AS containment
        |FROM p JOIN sz ON sz.doc_id = p.id_a
        |WHERE CAST(p.n_shared AS DOUBLE) / sz.n_fp >= 0.15
        |ORDER BY id_a, id_b""".stripMargin,

    // q94's BM25 CTEs restricted to the query terms, summed per doc,
    // top-20 by (round-6 score desc, doc_id).
    "q115_bm25_search" ->
      (Bm25Replay.chain + """
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit,
        |  round(sum(bm25), 6) AS score
        |FROM w GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),

    // q241: the q115 chain ranked (round-6 score DESC, doc_id), the
    // dense list ranked on ROUND-6 cosine vs doc 0's embedding, RRF
    // 1/(60+r) summed sparse-then-dense over a full outer join, fused
    // rank on the round-6 RRF (ties → doc_id) — every rank on both
    // engine sides orders on an already-rounded value.
    "q241_hybrid_rrf" ->
      (Bm25Replay.chain + """,
        |sp0 AS (
        |  SELECT doc_id, round(sum(bm25), 6) AS score
        |  FROM w GROUP BY doc_id
        |  ORDER BY score DESC, doc_id LIMIT 20),
        |sp AS (
        |  SELECT doc_id, CAST(row_number() OVER (
        |    ORDER BY score DESC, doc_id) AS INT) AS r
        |  FROM sp0),
        |dn AS (
        |  SELECT c2.vec_id AS doc_id,
        |    CAST(row_number() OVER (ORDER BY
        |      ROUND(list_cosine_similarity(
        |        CAST(q.embedding AS DOUBLE[]),
        |        CAST(c2.embedding AS DOUBLE[])), 6) DESC,
        |      c2.vec_id) AS INT) AS r
        |  FROM embeddings q, embeddings c2 WHERE q.vec_id = 0
        |  QUALIFY r <= 20),
        |f AS (
        |  SELECT COALESCE(sp.doc_id, dn.doc_id) AS doc_id,
        |    round(COALESCE(1.0 / (60.0 + CAST(sp.r AS DOUBLE)), 0.0) +
        |          COALESCE(1.0 / (60.0 + CAST(dn.r AS DOUBLE)), 0.0), 6)
        |      AS rrf
        |  FROM sp FULL OUTER JOIN dn ON sp.doc_id = dn.doc_id)
        |SELECT doc_id, rrf,
        |  CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT)
        |    AS rank
        |FROM f QUALIFY rank <= 10 ORDER BY rank""".stripMargin),

    // q242: three unrolled farthest-point rounds from seed 0 — each
    // round's distance is least() over the selected centers' round-6
    // cosines (exact picks, no accumulation), argmax (d DESC, vec_id)
    // via ORDER BY ... LIMIT 1 mirrors the engine's k-bounded ranker.
    "q242_kcenter_coreset" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE embedding IS NOT NULL),
        |s1 AS (SELECT vec_id, v FROM e WHERE vec_id = 0),
        |d2 AS (SELECT e.vec_id,
        |         1.0 - ROUND(list_cosine_similarity(e.v,
        |           (SELECT v FROM s1)), 6) AS d
        |       FROM e),
        |w2 AS (SELECT vec_id, d FROM d2 ORDER BY d DESC, vec_id LIMIT 1),
        |s2 AS (SELECT e.vec_id, e.v FROM e JOIN w2 USING (vec_id)),
        |d3 AS (SELECT e.vec_id, least(
        |         1.0 - ROUND(list_cosine_similarity(e.v,
        |           (SELECT v FROM s1)), 6),
        |         1.0 - ROUND(list_cosine_similarity(e.v,
        |           (SELECT v FROM s2)), 6)) AS d
        |       FROM e),
        |w3 AS (SELECT vec_id, d FROM d3 ORDER BY d DESC, vec_id LIMIT 1),
        |s3 AS (SELECT e.vec_id, e.v FROM e JOIN w3 USING (vec_id)),
        |d4 AS (SELECT e.vec_id, least(
        |         1.0 - ROUND(list_cosine_similarity(e.v,
        |           (SELECT v FROM s1)), 6),
        |         1.0 - ROUND(list_cosine_similarity(e.v,
        |           (SELECT v FROM s2)), 6),
        |         1.0 - ROUND(list_cosine_similarity(e.v,
        |           (SELECT v FROM s3)), 6)) AS d
        |       FROM e),
        |w4 AS (SELECT vec_id, d FROM d4 ORDER BY d DESC, vec_id LIMIT 1)
        |SELECT CAST(1 AS INT) AS sel_rank,
        |  (SELECT vec_id FROM s1) AS center_id,
        |  CAST(0.0 AS DOUBLE) AS radius
        |UNION ALL SELECT CAST(2 AS INT), (SELECT vec_id FROM w2),
        |  (SELECT d FROM w2)
        |UNION ALL SELECT CAST(3 AS INT), (SELECT vec_id FROM w3),
        |  (SELECT d FROM w3)
        |UNION ALL SELECT CAST(4 AS INT), (SELECT vec_id FROM w4),
        |  (SELECT d FROM w4)
        |ORDER BY sel_rank""".stripMargin,

    // KN per-doc scores (q110's CTEs) → exact decile thresholds
    // (quantile_cont ↔ Spark percentile, the q13 parity) → bucket =
    // 1 + #thresholds strictly below → md5 order key within bucket.
    "q114_curriculum" ->
      s"""WITH ${KnReplay.ctes},
         |sc AS (
         |  SELECT doc_id, avg_logprob AS logw FROM (
         |${KnReplay.scoreSelect})),
         |th AS (
         |  SELECT quantile_cont(logw, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6,
         |                              0.7, 0.8, 0.9]) AS ths
         |  FROM sc)
         |SELECT sc.doc_id, sc.logw,
         |  CAST(1 + len(list_filter(th.ths, t -> sc.logw > t)) AS INT)
         |    AS bucket,
         |  md5(CAST(sc.doc_id AS VARCHAR) || ':curr17') AS okey
         |FROM sc, th ORDER BY sc.doc_id""".stripMargin,

    // q25's quality features + q69's repetition stats, thresholded into
    // the Gopher rule booleans; empty/tokenless docs get the Spark
    // side's zero-default signals.
    "q109_gopher_filter" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    string_split_regex(trim(text), '\s+') AS toks,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END
        |      AS BIGINT) AS n_tok
        |  FROM documents),
        |q AS (
        |  SELECT doc_id, n_tok,
        |    CAST(length(text) - length(regexp_replace(text,
        |      '[!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE)
        |      / greatest(length(text), 1) AS punct_ratio,
        |    CAST(len(list_filter(toks, x -> list_contains(
        |      ['the','a','an','and','or','of','to','in','is','it','on',
        |       'for','with','as','at','by','be','this','that','are',
        |       'was'], lower(x)))) AS DOUBLE)
        |      / greatest(CAST(n_tok AS DOUBLE), 1.0) AS stopword_ratio,
        |    CASE WHEN n_tok = 0 THEN 0.0
        |      ELSE CAST(list_sum(list_transform(toks, x -> length(x)))
        |        AS DOUBLE) / CAST(n_tok AS DOUBLE) END AS mean_word_len
        |  FROM base),
        |d AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS ws
        |  FROM documents WHERE trim(text) <> ''),
        |bc AS (
        |  SELECT doc_id, g, count(*) AS c FROM (
        |    SELECT doc_id, ws[CAST(i AS INT)] || ' ' ||
        |      ws[CAST(i + 1 AS INT)] AS g
        |    FROM d, unnest(range(1, len(ws))) AS t(i)) GROUP BY 1, 2),
        |bs AS (
        |  SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c)
        |    AS top_bigram_frac
        |  FROM bc GROUP BY 1),
        |tc AS (
        |  SELECT doc_id, g, count(*) AS c FROM (
        |    SELECT doc_id, ws[CAST(i AS INT)] || ' ' ||
        |      ws[CAST(i + 1 AS INT)] || ' ' ||
        |      ws[CAST(i + 2 AS INT)] AS g
        |    FROM d, unnest(range(1, len(ws) - 1)) AS t(i))
        |  GROUP BY 1, 2),
        |ts AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
        |      / sum(c) AS dup_trigram_frac
        |  FROM tc GROUP BY 1),
        |r AS (
        |  SELECT q.doc_id,
        |    (q.n_tok >= 10 AND q.n_tok <= 100000) AS ok_n_tokens,
        |    (q.mean_word_len >= 2 AND q.mean_word_len <= 12)
        |      AS ok_mean_word_len,
        |    (q.stopword_ratio >= 0.01) AS ok_stopwords,
        |    (q.punct_ratio <= 0.2) AS ok_punct,
        |    (coalesce(bs.top_bigram_frac, 0.0) <= 0.2) AS ok_top_bigram,
        |    (coalesce(ts.dup_trigram_frac, 0.0) <= 0.3)
        |      AS ok_dup_trigram
        |  FROM q LEFT JOIN bs USING (doc_id) LEFT JOIN ts USING (doc_id))
        |SELECT doc_id, ok_n_tokens, ok_mean_word_len, ok_stopwords,
        |  ok_punct, ok_top_bigram, ok_dup_trigram,
        |  (ok_n_tokens AND ok_mean_word_len AND ok_stopwords AND
        |   ok_punct AND ok_top_bigram AND ok_dup_trigram) AS keep
        |FROM r ORDER BY doc_id""".stripMargin,

    // chunk k of doc with n tokens: [k*48, min(k*48+64, n)), k in
    // 0..ceil(max(n-64,0)/48) — the q91 token-count idiom plus one
    // range unnest.
    "q106_doc_chunks" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END
        |      AS BIGINT) AS n_tok
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, n_tok,
        |    CAST(ceil(greatest(n_tok - 64, 0) / 48.0) AS BIGINT) AS nk
        |  FROM d WHERE n_tok > 0)
        |SELECT doc_id, CAST(r.i AS BIGINT) AS chunk_idx,
        |  CAST(r.i * 48 AS BIGINT) AS tok_start,
        |  CAST(least(r.i * 48 + 64, n_tok) AS BIGINT) AS tok_end,
        |  CAST(least(r.i * 48 + 64, n_tok) - r.i * 48 AS BIGINT)
        |    AS n_chunk_tok
        |FROM k, LATERAL unnest(range(0, nk + 1)) AS r(i)
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    // q80's pair derivation + q77's recursive min-label closure: a
    // vector survives iff it has no ≥0.3 neighbor or is its component's
    // minimum id.
    "q98_semantic_dedup" ->
      """WITH RECURSIVE pr AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE a.vec_id < 200 AND b.vec_id < 200
        |    AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[]))
        |        >= 0.3),
        |e AS (SELECT id_a AS a, id_b AS b FROM pr
        |      UNION SELECT id_b, id_a FROM pr),
        |cc AS (
        |  SELECT DISTINCT a AS node, a AS label FROM e
        |  UNION
        |  SELECT e.b AS node, cc.label FROM cc JOIN e ON e.a = cc.node),
        |lab AS (SELECT node, min(label) AS label FROM cc GROUP BY node)
        |SELECT v.vec_id FROM embeddings v
        |LEFT JOIN lab ON lab.node = v.vec_id
        |WHERE v.vec_id < 200
        |  AND (lab.node IS NULL OR lab.label = v.vec_id)
        |ORDER BY vec_id""".stripMargin,

    "q80_cosine_pairs" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])), 6)
        |    AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE a.vec_id < 200 AND b.vec_id < 200
        |  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) >= 0.3
        |ORDER BY id_a, id_b""".stripMargin,

    // offset(event_type) = 1 (pinned); offset(props) = 1 + |vET| where the
    // block size includes the UNK slot (count distinct + 1); props idx('k')
    // = 1 (sole element).
    "q81_unified_offsets" ->
      """WITH v AS (
        |  SELECT event_type,
        |         row_number() OVER (ORDER BY count(*) DESC, event_type)
        |           AS idx
        |  FROM events GROUP BY 1),
        |n AS (SELECT count(*) + 1 AS sz FROM v),
        |items AS (
        |  SELECT e.user_id, 1 + v.idx AS u, 1 AS m
        |  FROM events e JOIN v USING (event_type)
        |  UNION ALL
        |  SELECT user_id, (1 + (SELECT sz FROM n)) + 1 AS u, 2 AS m
        |  FROM events WHERE json_extract(props, '$.k') IS NOT NULL)
        |SELECT user_id AS subject_id, CAST(count(*) AS INT) AS n_items,
        |       CAST(sum(u) AS BIGINT) AS sum_uidx,
        |       CAST(sum(m) AS BIGINT) AS sum_midx
        |FROM items GROUP BY 1 ORDER BY 1""".stripMargin)

  /** q79's replayable two-family token-hash SimHash — coefficient vectors
    * generated from the same bases that drive the Spark expressions. */
  private object SimhashReplay {
    private val M = 1000000007L
    private def coeffs(base: Long): String =
      (0 until 8).map { i =>
        var p = 1L
        (0 until (7 - i)).foreach(_ => p = p * base % M)
        p
      }.mkString("[", ", ", "]")
    def oracle: String = {
      def thCte(name: String, base: Long) =
        s"""$name AS (
           |  SELECT doc_id,
           |    list_sum(list_transform(range(0, least(length(w), 8)), i ->
           |      CAST(unicode(substr(w, CAST(i + 1 AS INT), 1)) AS BIGINT) *
           |      ${coeffs(base)}
           |        [CAST(8 - least(length(w), 8) + i + 1 AS INT)]))
           |      % $M AS h
           |  FROM tok)"""
      def sigCte(name: String, th: String) =
        s"""${name}_bits AS (
           |  SELECT doc_id, r.b AS bit,
           |         CASE WHEN sum(CASE WHEN (h >> CAST(r.b AS INT)) & 1 = 1
           |                            THEN 1 ELSE -1 END) > 0
           |              THEN (CAST(1 AS BIGINT) << CAST(r.b AS INT))
           |              ELSE 0 END AS bv
           |  FROM $th CROSS JOIN range(0, 30) AS r(b)
           |  GROUP BY doc_id, r.b),
           |$name AS (SELECT doc_id, sum(bv) AS s FROM ${name}_bits
           |          GROUP BY doc_id)"""
      s"""WITH d AS (
         |  SELECT doc_id,
         |         lower(regexp_replace(text, '[^\\x20-\\x7e]', '', 'g')) AS t
         |  FROM documents),
         |tok AS (
         |  SELECT doc_id, unnest(list_filter(string_split_regex(t, '\\s+'),
         |                                    x -> x <> '')) AS w
         |  FROM d),
         |${thCte("tha", 257L)},
         |${thCte("thb", 263L)},
         |${sigCte("siga", "tha")},
         |${sigCte("sigb", "thb")},
         |sig AS (
         |  SELECT siga.doc_id, siga.s + sigb.s * ${1L << 30} AS sig
         |  FROM siga JOIN sigb USING (doc_id)),
         |ch AS (
         |  SELECT doc_id, sig, r.c AS cpos,
         |         (sig >> CAST(r.c * 20 AS INT)) & ${0xFFFFFL} AS chunk
         |  FROM sig CROSS JOIN range(0, 3) AS r(c)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |         a.sig AS sa, b.sig AS sb
         |  FROM ch a JOIN ch b ON a.cpos = b.cpos AND a.chunk = b.chunk
         |   AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT)
         |  AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 2
         |ORDER BY id_a, id_b""".stripMargin
    }
  }

  /** Shared DuckDB fragment: the base-b first-8-byte polynomial hash
    * mod 1e9+7 of a string-valued SQL variable `v`, as a precomputed
    * power-coefficient sum (the SimhashReplay trick — per-step modular
    * reduction folded into `(Σ byte·(b^k mod M)) mod M`, exact because
    * the unreduced sum stays < 2^63). */
  private object PolyHashSql {
    val M = 1000000007L
    def coeffs(base: Long, cap: Int): String =
      (0 until cap).map { i =>
        var p = 1L
        (0 until (cap - 1 - i)).foreach(_ => p = p * base % M)
        p
      }.mkString("[", ", ", "]")
    def over(v: String, base: Long, cap: Int = 8): String =
      s"""list_sum(list_transform(range(0, least(length($v), $cap)), i ->
         |      CAST(unicode(substr($v, CAST(i + 1 AS INT), 1)) AS BIGINT)
         |      * ${coeffs(base, cap)}
         |        [CAST($cap - least(length($v), $cap) + i + 1 AS INT)]))
         |      % $M""".stripMargin
  }

  /** The q77 winnow-pair → recursive min-label closure CTEs, shared by
    * q77 (min-id canonical) and q166 (best-member canonical): `lab` is
    * (node, label) for every clustered doc. */
  private object ClusterReplay {
    val ctes: String =
      """WITH RECURSIVE h AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(length(text) - 8 + 2, 1)),
        |      i -> list_sum(list_transform(range(0, 8), j ->
        |        CAST(unicode(substr(text, CAST(i + j AS INT), 1)) AS BIGINT) *
        |        [13163680, 805498697, 154885210, 362470373, 16974593,
        |         66049, 257, 1][CAST(j + 1 AS INT)])) % 1000000007)
        |      AS hs
        |  FROM documents),
        |sel AS (
        |  SELECT doc_id,
        |    CASE WHEN len(hs) = 0 THEN []
        |         WHEN len(hs) <= 16 THEN [list_min(hs)]
        |         ELSE list_transform(range(1, len(hs) - 16 + 2),
        |                i -> list_min(hs[CAST(i AS INT):CAST(i + 15 AS INT)]))
        |    END AS fps
        |  FROM h),
        |fd AS (
        |  SELECT doc_id, unnest(list_distinct(fps)) AS fp FROM sel),
        |ok AS (SELECT fp FROM fd GROUP BY fp HAVING count(*) <= 5),
        |pr AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM fd a JOIN fd b USING (fp) JOIN ok USING (fp)
        |  WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |e AS (SELECT id_a AS a, id_b AS b FROM pr
        |      UNION SELECT id_b, id_a FROM pr),
        |cc AS (
        |  SELECT DISTINCT a AS node, a AS label FROM e
        |  UNION
        |  SELECT e.b AS node, cc.label FROM cc JOIN e ON e.a = cc.node),
        |lab AS (SELECT node, min(label) AS label FROM cc GROUP BY node)"""
        .stripMargin
  }

  /** The literal-8-merge BPE apply walk as recursive-CTE SQL (the
    * engine's own lock-step relational algorithm re-derived in SQL):
    * `walk` at r = 8 holds each distinct word's final symbol list.
    * Shared by q151 (per-word segmentation), q152 (tokenize → pack)
    * and q173 (fertility audit). */
  private object BpeWalkSql {
    val ctes: String =
      """WITH RECURSIVE
        |words AS (
        |  SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(string_split_regex(trim(lower(text)), '\s+'))
        |      AS w
        |    FROM documents)
        |  WHERE w <> '' GROUP BY 1),
        |merges(rank, lhs, rhs) AS (
        |  VALUES (1, 't', 'h'), (2, 'th', 'e'), (3, 'i', 'n'),
        |         (4, 'a', 'n'), (5, 'an', 'd'), (6, 'e', 'r'),
        |         (7, 'o', 'n'), (8, 'r', 'e')),
        |walk AS (
        |  SELECT w, freq, string_split(w, '') AS syms, 0 AS r
        |  FROM words
        |  UNION ALL
        |  SELECT w, freq,
        |    list(CASE WHEN start THEN sym || nxt ELSE sym END
        |         ORDER BY i) AS syms,
        |    r + 1
        |  FROM (
        |    SELECT w, freq, r, i, sym, nxt, start,
        |      coalesce(lag(start) OVER (PARTITION BY w ORDER BY i),
        |               false) AS consumed
        |    FROM (
        |      SELECT w, freq, r, i, sym, nxt,
        |        (hit AND (row_number() OVER (PARTITION BY w, hit, g
        |           ORDER BY i) % 2 = 1)) AS start
        |      FROM (
        |        SELECT w, freq, r, i, sym, nxt, hit,
        |          CASE WHEN hit THEN i - row_number()
        |            OVER (PARTITION BY w, hit ORDER BY i) END AS g
        |        FROM (
        |          SELECT w, freq, r, i, sym,
        |            lead(sym) OVER (PARTITION BY w ORDER BY i) AS nxt,
        |            (sym = lhs AND lead(sym)
        |              OVER (PARTITION BY w ORDER BY i) = rhs) AS hit
        |          FROM (
        |            SELECT walk.w, walk.freq, walk.r, m.lhs, m.rhs,
        |                   walk.syms[CAST(u.i AS INT)] AS sym, u.i AS i
        |            FROM walk JOIN merges m ON m.rank = walk.r + 1,
        |              LATERAL unnest(range(1,
        |                CAST(len(walk.syms) AS BIGINT) + 1))
        |                AS u(i))))))
        |  WHERE NOT consumed
        |  GROUP BY w, freq, r)""".stripMargin
  }

  /** q102's DuckDB twin: rebuilds the Count-Min grid from per-term
    * exact counts (bucket count = Σ exact over terms hashing there —
    * identical to instance counting). */
  private object CmsReplay {
    private val width = 2048
    private val bases = graft.ops.Sketch.defaultBases
    private def hashExpr(base: Long): String =
      s"""${PolyHashSql.over("term", base)} % $width"""
    def oracle: String = {
      val hj = bases.zipWithIndex.map { case (b, j) =>
        s"""  SELECT term, exact, CAST($j AS BIGINT) AS j,
           |    ${hashExpr(b)} AS bucket
           |  FROM ex""".stripMargin
      }.mkString("\n  UNION ALL\n")
      s"""WITH d AS (
         |  SELECT lower(regexp_replace(text, '[^\\x20-\\x7e]', '', 'g'))
         |    AS t
         |  FROM documents),
         |tok AS (
         |  SELECT unnest(list_filter(string_split_regex(t, '\\s+'),
         |                            x -> x <> '')) AS term
         |  FROM d),
         |ex AS (SELECT term, CAST(count(*) AS BIGINT) AS exact
         |       FROM tok GROUP BY 1),
         |hj AS (
         |$hj),
         |sk AS (SELECT j, bucket, CAST(sum(exact) AS BIGINT) AS cnt
         |       FROM hj GROUP BY 1, 2),
         |top AS (SELECT term FROM ex ORDER BY exact DESC, term LIMIT 50)
         |SELECT hj.term, hj.exact, CAST(min(sk.cnt) AS BIGINT) AS est
         |FROM hj JOIN top USING (term) JOIN sk USING (j, bucket)
         |GROUP BY 1, 2 ORDER BY term""".stripMargin
    }
  }

  /** q103's DuckDB twin: DSIR fit + score replayed relationally —
    * per-token poly hashes, lead() bigram fold, B-bounded bucket
    * counts, add-1 smoothed log-ratio weights, per-doc sums. */
  private object DsirReplay {
    private val B = 4096
    def oracle: String =
      s"""WITH d AS (
         |  SELECT doc_id, lang,
         |    lower(regexp_replace(text, '[^\\x20-\\x7e]', '', 'g')) AS t
         |  FROM documents),
         |toks AS (
         |  SELECT doc_id, lang,
         |    list_filter(string_split_regex(t, '\\s+'), x -> x <> '')
         |      AS tok
         |  FROM d),
         |flat AS (
         |  SELECT doc_id, lang, CAST(i AS BIGINT) AS idx,
         |    tok[CAST(i AS INT)] AS term
         |  FROM toks, LATERAL unnest(range(1, len(tok) + 1)) AS r(i)),
         |th AS (
         |  SELECT doc_id, lang, idx,
         |    ${PolyHashSql.over("term", 257L)} AS h
         |  FROM flat),
         |bi AS (
         |  SELECT doc_id, lang, h,
         |    lead(h) OVER (PARTITION BY doc_id ORDER BY idx) AS h2
         |  FROM th),
         |feats AS (
         |  SELECT doc_id, lang, h % $B AS bucket FROM th
         |  UNION ALL
         |  SELECT doc_id, lang, (h * 31 + h2) % ${PolyHashSql.M} % $B
         |    AS bucket
         |  FROM bi WHERE h2 IS NOT NULL),
         |rc AS (SELECT bucket, count(*) AS rc FROM feats GROUP BY 1),
         |tc AS (SELECT bucket, count(*) AS tc FROM feats
         |       WHERE lang = 'en' GROUP BY 1),
         |tots AS (
         |  SELECT (SELECT CAST(sum(rc) AS DOUBLE) FROM rc) AS rtot,
         |         (SELECT CAST(sum(tc) AS DOUBLE) FROM tc) AS ttot),
         |lam AS (
         |  SELECT rc.bucket,
         |    ln((coalesce(tc.tc, 0) + 1.0) / (tots.ttot + $B.0)) -
         |    ln((rc.rc + 1.0) / (tots.rtot + $B.0)) AS lam
         |  FROM rc LEFT JOIN tc USING (bucket), tots)
         |SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         |  round(sum(l.lam), 6) AS logw
         |FROM feats f JOIN lam l USING (bucket)
         |GROUP BY 1 ORDER BY logw DESC, doc_id LIMIT 100""".stripMargin
  }

  /** Shared KN-bigram oracle fragments (q110 scoring, q114 reuses the
    * per-doc scores for curriculum bucketing). */
  private object KnReplay {
    val ctes: String =
      """toks AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS tok
        |  FROM documents
        |  WHERE (CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END)
        |        >= 2),
        |flat AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS idx,
        |    tok[CAST(i AS INT)] AS w1
        |  FROM toks, LATERAL unnest(range(1, len(tok) + 1)) AS r(i)),
        |tr AS (
        |  SELECT doc_id, w1, w2 FROM (
        |    SELECT doc_id, w1,
        |      lead(w1) OVER (PARTITION BY doc_id ORDER BY idx) AS w2
        |    FROM flat)
        |  WHERE w2 IS NOT NULL),
        |bc AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_bg
        |  FROM tr GROUP BY 1, 2),
        |uc AS (
        |  SELECT w1, CAST(sum(c_bg) AS BIGINT) AS c_w1,
        |    CAST(count(*) AS BIGINT) AS n1p_w1
        |  FROM bc GROUP BY 1),
        |rc AS (
        |  SELECT w2, CAST(count(*) AS BIGINT) AS n1p_r
        |  FROM bc GROUP BY 1),
        |tot AS (
        |  SELECT (SELECT CAST(count(*) AS DOUBLE) FROM bc) AS n1p_tot,
        |         (SELECT CAST(count(*) AS DOUBLE) FROM uc) AS v)""".stripMargin
    val scoreSelect: String =
      """SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_transitions,
        |  round(avg(ln(
        |    CASE WHEN uc.c_w1 IS NULL THEN
        |      (coalesce(rc.n1p_r, 0) + 0.5) /
        |        (tot.n1p_tot + 0.5 * (tot.v + 1.0))
        |    ELSE
        |      greatest(coalesce(bc.c_bg, 0) - 0.75, 0.0) / uc.c_w1 +
        |      0.75 * uc.n1p_w1 / uc.c_w1 *
        |        ((coalesce(rc.n1p_r, 0) + 0.5) /
        |         (tot.n1p_tot + 0.5 * (tot.v + 1.0)))
        |    END)), 6) AS avg_logprob
        |FROM tr
        |LEFT JOIN bc USING (w1, w2)
        |LEFT JOIN uc USING (w1)
        |LEFT JOIN rc USING (w2), tot
        |GROUP BY tr.doc_id""".stripMargin
  }

  /** q190's DuckDB twin: the KnReplay discipline at order 3 — trigram
    * type tables from the same lead() windows, continuation-type lower
    * orders, every probability chain written in the engine's exact
    * association order so round-6 only ever bridges FP-sum jitter. */
  private object Kn3Replay {
    val ctes: String =
      """toks3 AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS tok
        |  FROM documents
        |  WHERE (CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END)
        |        >= 3),
        |flat3 AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS idx,
        |    tok[CAST(i AS INT)] AS w1
        |  FROM toks3, LATERAL unnest(range(1, len(tok) + 1)) AS r(i)),
        |tr3 AS (
        |  SELECT doc_id, w1, w2, w3 FROM (
        |    SELECT doc_id, w1,
        |      lead(w1, 1) OVER (PARTITION BY doc_id ORDER BY idx) AS w2,
        |      lead(w1, 2) OVER (PARTITION BY doc_id ORDER BY idx) AS w3
        |    FROM flat3)
        |  WHERE w3 IS NOT NULL),
        |tc3 AS (
        |  SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c_tg
        |  FROM tr3 GROUP BY 1, 2, 3),
        |cc3 AS (
        |  SELECT w1, w2, CAST(sum(c_tg) AS BIGINT) AS c_ctx,
        |    CAST(count(*) AS BIGINT) AS n1p_ctx
        |  FROM tc3 GROUP BY 1, 2),
        |mid3 AS (
        |  SELECT w2, w3, CAST(count(*) AS BIGINT) AS n1p_mr
        |  FROM tc3 GROUP BY 1, 2),
        |mids3 AS (
        |  SELECT w2, CAST(count(*) AS BIGINT) AS nw3_after,
        |    CAST(sum(n1p_mr) AS BIGINT) AS n1p_mid
        |  FROM mid3 GROUP BY 1),
        |toksB AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS tok
        |  FROM documents
        |  WHERE (CASE WHEN trim(text) = '' THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END)
        |        >= 2),
        |flatB AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS idx,
        |    tok[CAST(i AS INT)] AS w1
        |  FROM toksB, LATERAL unnest(range(1, len(tok) + 1)) AS r(i)),
        |trB AS (
        |  SELECT doc_id, w1, w2 FROM (
        |    SELECT doc_id, w1,
        |      lead(w1) OVER (PARTITION BY doc_id ORDER BY idx) AS w2
        |    FROM flatB)
        |  WHERE w2 IS NOT NULL),
        |bcB AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_bg
        |  FROM trB GROUP BY 1, 2),
        |rcB AS (
        |  SELECT w2 AS w3r, CAST(count(*) AS BIGINT) AS n1p_r
        |  FROM bcB GROUP BY 1),
        |totB AS (
        |  SELECT (SELECT CAST(count(*) AS DOUBLE) FROM bcB) AS n1p_tot,
        |         (SELECT CAST(count(DISTINCT w1) AS DOUBLE) FROM bcB)
        |           AS v)""".stripMargin
    private val pcont =
      """((coalesce(rcB.n1p_r, 0) + 0.5) /
        |       (totB.n1p_tot + 0.5 * (totB.v + 1.0)))""".stripMargin
    private val p2 =
      s"""(CASE WHEN mids3.n1p_mid IS NULL THEN $pcont
         |     ELSE greatest(coalesce(mid3.n1p_mr, 0) - 0.75, 0.0)
         |            / mids3.n1p_mid +
         |          0.75 * mids3.nw3_after / mids3.n1p_mid * $pcont
         |     END)""".stripMargin
    val scoreSelect: String =
      s"""SELECT tr3.doc_id, CAST(count(*) AS BIGINT) AS n_transitions,
         |  round(avg(ln(
         |    CASE WHEN cc3.c_ctx IS NULL THEN $p2
         |    ELSE greatest(coalesce(tc3.c_tg, 0) - 0.75, 0.0)
         |           / cc3.c_ctx +
         |         0.75 * cc3.n1p_ctx / cc3.c_ctx * $p2
         |    END)), 6) AS avg_logprob
         |FROM tr3
         |LEFT JOIN tc3 USING (w1, w2, w3)
         |LEFT JOIN cc3 USING (w1, w2)
         |LEFT JOIN mid3 USING (w2, w3)
         |LEFT JOIN mids3 USING (w2)
         |LEFT JOIN rcB ON rcB.w3r = tr3.w3, totB
         |GROUP BY tr3.doc_id""".stripMargin
  }

  /** q108's DuckDB twin: per-position 8-gram hashes via the q77
    * coefficient trick, cut positions where h ≡ 0 (mod 64), chunk
    * spans from a lead() window over starts, first-occurrence chunk
    * dedup by (doc_id, chunk_start). */
  private object CdcReplay {
    def oracle: String =
      s"""WITH d AS (
         |  SELECT doc_id,
         |    lower(regexp_replace(text, '[^\\x20-\\x7e]', '', 'g')) AS t
         |  FROM documents),
         |h AS (
         |  SELECT doc_id, t,
         |    list_transform(range(1, greatest(length(t) - 8 + 2, 1)),
         |      i -> list_sum(list_transform(range(0, 8), j ->
         |        CAST(unicode(substr(t, CAST(i + j AS INT), 1)) AS BIGINT)
         |        * ${PolyHashSql.coeffs(257L, 8)}[CAST(j + 1 AS INT)]))
         |        % ${PolyHashSql.M}) AS hs
         |  FROM d WHERE length(t) > 0),
         |cuts AS (
         |  SELECT doc_id, CAST(i AS BIGINT) + 8 AS s
         |  FROM h, LATERAL unnest(range(1, len(hs) + 1)) AS r(i)
         |  WHERE hs[CAST(i AS INT)] % 64 = 0
         |    AND CAST(i AS BIGINT) + 8 <= length(t)),
         |starts AS (
         |  SELECT doc_id, s FROM cuts
         |  UNION ALL SELECT doc_id, 1 AS s FROM h),
         |sp AS (
         |  SELECT st.doc_id, st.s,
         |    coalesce(lead(st.s) OVER (PARTITION BY st.doc_id
         |      ORDER BY st.s) - 1, length(h.t)) AS e,
         |    h.t
         |  FROM starts st JOIN h USING (doc_id)),
         |chunks AS (
         |  SELECT doc_id, s AS chunk_start,
         |    substr(t, CAST(s AS INT), CAST(e - s + 1 AS INT)) AS chunk
         |  FROM sp),
         |keep AS (
         |  SELECT doc_id, chunk,
         |    row_number() OVER (PARTITION BY chunk
         |      ORDER BY doc_id, chunk_start) AS rn
         |  FROM chunks),
         |n1 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks
         |       FROM chunks GROUP BY 1),
         |n2 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |         CAST(sum(length(chunk)) AS BIGINT) AS kept_chars
         |       FROM keep WHERE rn = 1 GROUP BY 1)
         |SELECT n1.doc_id, n1.n_chunks,
         |  coalesce(n2.n_kept, 0) AS n_kept,
         |  coalesce(n2.kept_chars, 0) AS kept_chars
         |FROM n1 LEFT JOIN n2 USING (doc_id)
         |ORDER BY doc_id""".stripMargin
  }

  /** q104's DuckDB twin: grid cells = distinct (hash row, bucket) of
    * the eval 5-gram set under cap-16 poly hashes; a train gram passes
    * the bloom iff all 4 probes land on occupied cells; exact verify
    * joins survivors against the eval gram strings. */
  private object BloomReplay {
    private val W = 1 << 17
    private val bases = graft.ops.Sketch.defaultBases
    private def probeRows(src: String, cols: String): String =
      bases.zipWithIndex.map { case (b, j) =>
        s"""  SELECT $cols, CAST($j AS BIGINT) AS j,
           |    ${PolyHashSql.over("gram", b, 16)} % $W AS bucket
           |  FROM $src""".stripMargin
      }.mkString("\n  UNION ALL\n")
    def oracle: String =
      s"""WITH d AS (
         |  SELECT doc_id,
         |    lower(regexp_replace(text, '[^\\x20-\\x7e]', '', 'g')) AS t
         |  FROM documents),
         |toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(t, '\\s+'), x -> x <> '')
         |      AS tok
         |  FROM d),
         |g AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(range(1, len(tok) - 3),
         |      i -> tok[CAST(i AS INT)] || ' ' || tok[CAST(i AS INT)+1]
         |        || ' ' || tok[CAST(i AS INT)+2] || ' '
         |        || tok[CAST(i AS INT)+3] || ' '
         |        || tok[CAST(i AS INT)+4])) AS grams
         |  FROM toks),
         |ev AS (SELECT DISTINCT unnest(grams) AS gram FROM g
         |       WHERE doc_id % 7 = 0),
         |tr AS (SELECT doc_id, unnest(grams) AS gram FROM g
         |       WHERE doc_id % 7 <> 0),
         |eb AS (
         |  SELECT DISTINCT j, bucket FROM (
         |${probeRows("ev", "gram")})),
         |pb AS (
         |${probeRows("tr", "doc_id, gram")}),
         |pass AS (
         |  SELECT doc_id, gram FROM pb JOIN eb USING (j, bucket)
         |  GROUP BY doc_id, gram HAVING count(*) = ${bases.length}),
         |nb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bloom
         |       FROM pass GROUP BY 1),
         |nm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched
         |       FROM pass JOIN ev USING (gram) GROUP BY 1)
         |SELECT nb.doc_id, nb.n_bloom,
         |  coalesce(nm.n_matched, 0) AS n_matched
         |FROM nb LEFT JOIN nm USING (doc_id)
         |ORDER BY doc_id""".stripMargin
  }
}
