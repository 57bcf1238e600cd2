package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Plan-shape regression gate: the flagship queries' shuffle counts are
  * load-bearing scale claims (SCALE.md "Shuffle inventory"), so they are
  * RATCHETS — a future edit that silently adds an Exchange fails here
  * before it reaches a 100 TB cluster. Counts are taken with AQE off
  * (the static plan is the worst case AQE can only improve) against the
  * sf0.001 driver testdata; localCheckpoint boundaries mean the count
  * covers the FINAL job of multi-job queries, which is exactly the part
  * a regression would silently widen.
  */
class PlanShapeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def shuffles(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case _: ShuffleExchangeExec => 1
    }.sum

  private def withStaticPlans[A](body: => A): A = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  private val expected = Seq(
    "q18_subject_seqs" -> 2,   // SCALE.md: rank + ragged assembly
    "q34_embedding_gather" -> 1, // one gather shuffle, vocab broadcast
    // AsofJoin itself is the ONE union exchange; the second is the
    // in-query max() agg that builds the quote side from raw events.
    "q61_asof_join" -> 2,
    // The dense-id rank sits behind a zipWithIndex RDD boundary
    // (ExistingRDD); the final job adds the measurement-count agg and
    // the remap join's exchange.
    "q05_agg_by_time_type" -> 2,
    "q93_paragraph_dedup" -> 2, // unit-keyed window + reassembly agg
    // Substring-span dedup: the gram exchange + span agg run in earlier
    // jobs behind a localCheckpoint boundary; the FINAL job is one
    // doc-keyed join exchange (reassembly) — the part a regression
    // would silently widen.
    "q97_substring_dedup" -> 1,
    // IVF-PQ: assignment and encode are narrow on BOTH sides, the cell
    // equi-join broadcasts the query side; the one exchange is the
    // k-bounded rank reduction.
    "q134_ivfpq_ann" -> 1,
    // Boilerplate lines: (unit,doc) distinct + unit count (2, both
    // partial-aggregatable) + the reassembly agg; the hot-set anti-join
    // itself broadcasts.
    "q135_boilerplate_lines" -> 3,
    // Incremental dedup: store anti-join broadcasts at this sf; the two
    // exchanges are the fp-keyed min-id agg and the id-keyed semi-join.
    "q136_incremental_dedup" -> 2,
    // Unigram Viterbi: ONE exchange (the distinct-word groupBy) — the
    // segmentation itself is a pure narrow projection.
    "q137_unigram_viterbi" -> 1,
    // + the piece-keyed recount.
    "q138_unigram_em" -> 2,
    // Data card: one grouping-sets agg exchange.
    "q139_datacard" -> 1,
    // k-means step: assignment is the narrow NearestCentroids
    // projection; the ONE exchange is the partial-aggregatable
    // (centroid_id, dim) lattice-sum reduction (≤ k·dim wire rows per
    // partition).
    "q140_kmeans_step" -> 1,
    // WordPiece: ONE exchange (the distinct-word groupBy) — greedy
    // segmentation itself is a pure narrow projection, the q137 shape.
    "q141_wordpiece" -> 1,
    // dHash near-dup: signatures are narrow per-image codec work; the
    // band candidate join broadcasts one side at this sf, leaving the
    // pair-distinct agg as the ONE exchange.
    "q142_image_phash_dedup" -> 1,
    // Per-domain cap: the ONE exchange is the domain-keyed top-k
    // aggregate (map-side combined to ≤ n rows per domain per
    // partition — never a per-key sort window).
    "q143_domain_cap" -> 1,
    // Audio fingerprint near-dup: the q142 shape — codec work narrow,
    // band join broadcasts one side at this sf, pair-distinct is the
    // ONE exchange.
    "q144_audio_fp_dedup" -> 1,
    // Video near-dup: frame-hash distinct + the shared-count agg; the
    // frame-hash equi-join broadcasts one side at this sf.
    "q147_video_neardup" -> 2,
    // Composed stage-0 chain: extract+normalize+gate fuse into ONE
    // codegen span over the scan (composition does not stack plan
    // costs); the one exchange is the dedup fingerprint agg, the
    // semi-join broadcasting at this sf.
    "q148_stage0_pipeline" -> 1,
    // Char-entropy gate: one narrow native pass — ZERO exchanges.
    "q150_char_entropy" -> 0,
    // Tokenize-and-pack: the word-count join broadcasts the distinct-
    // word side; the exchanges are the per-doc agg, the shard cumsum
    // window, and (r14) the distinct-word agg feeding the native BPE
    // walk — previously the same exchange ran as an EAGER job behind
    // applyMerges' per-merge checkpoints (plus ~3 exchanges per merge
    // rank, all gone now); the whole query is one lazy plan.
    "q152_tokenize_pack" -> 3,
    // Corpus diff: two distinct-content aggs (partial-aggregatable)
    // + the fp-keyed full-outer join; wire is 16 B/distinct doc.
    "q153_corpus_diff" -> 3,
    // k-NN graph: bucket join broadcasts one side at this sf; the ONE
    // exchange is the k-bounded per-source rank.
    "q154_knn_graph" -> 1,
    // Sentence split: pure codegen regexp chain — ZERO exchanges.
    "q155_sentence_split" -> 0,
    // Bottom-k quantile sketch: the ONE exchange is the per-group
    // bottom-k aggregate (k pairs per group per partition).
    "q156_bottomk_quantiles" -> 1,
    // Sentence-level corpus dedup: the q135 shape — (unit, doc)
    // distinct + df count (both partial-aggregatable) + the
    // reassembly agg; the hot-set anti-join broadcasts.
    "q157_sentence_dedup" -> 3,
    // HLL audit: registers are checkpointed (≤ 64·sources rows), so
    // the final job is the estimate agg + the 2-exchange exact
    // countDistinct (the grading column) + broadcast joins.
    "q158_hll_distinct" -> 3,
    // Union-signature overlap: the per-source 16-min agg (map-side
    // combined to 16 longs per source per partition) runs behind the
    // signature localCheckpoint; the FINAL job is the broadcast
    // self-join — ZERO exchanges.
    "q164_source_overlap" -> 0,
    // Length buckets: ONE exchange — the per-bucket agg (map-side
    // combined to one row per pow2 bucket per partition).
    "q165_length_buckets" -> 1,
    // Canonical dedup: cluster labels sit behind clusterPairs'
    // checkpoint and broadcast into the label join; the ONE exchange
    // is the per-cluster max_by agg.
    "q166_canonical_dedup" -> 1,
    // Mixture plan: group tables are checkpointed; the ONE exchange
    // is the 5-row weight-total global agg feeding the broadcast
    // cross join.
    "q167_mixture_plan" -> 1,
    // Vocab growth: registers/firsts checkpointed; final job = snaps
    // distinct + cumulative-max agg + estimate agg + exact rollup +
    // the snap join — all over ≤ snaps·64-row state.
    "q168_vocab_growth" -> 5,
    // Dup source matrix: candidate pipeline behind the sets
    // checkpoint; signature agg + band dedup + the two verify text
    // joins + the source rollup.
    "q169_dup_source_matrix" -> 5,
    // Good-Turing: N_r is checkpointed; the final job is the
    // broadcast r+1 self-join — ZERO exchanges.
    "q170_good_turing" -> 0,
    // Hard negatives: the q154 shape — bucket join broadcasts one
    // side at this sf; the ONE exchange is the k-bounded rank.
    "q171_hard_negatives" -> 1,
    // PNG sniff: synthesis + header projection + union — narrow,
    // ZERO exchanges.
    "q172_png_sniff" -> 0,
    // Fertility: the word table broadcasts into the occurrence join;
    // the exchanges are the lang rollup and (r14) the distinct-word
    // agg feeding the native BPE walk — previously an eager job
    // behind applyMerges' per-merge checkpoints (which also cost ~3
    // exchanges per merge rank, all gone now).
    "q173_tokenizer_fertility" -> 2,
    // Transition matrix: the subject window + the pair rollup — the
    // subject exchange is the one bucketed storage would remove.
    "q174_event_transitions" -> 2,
    // Retention: active-day table checkpointed AND already distinct
    // per (subject, day), so the day-k countDistinct plans as ONE
    // partial-aggregated exchange.
    "q175_retention" -> 1,
    // Funnel: stage tables are checkpointed scalars; the final output
    // is a driver-built 3-row frame — ZERO exchanges.
    "q176_funnel" -> 0,
    // Skew audit: per-key count + the 1-row global reduction.
    "q177_skew_audit" -> 2,
    // Binary ingest: file-source scan + narrow sniff — ZERO exchanges.
    "q178_binary_ingest" -> 0,
    // SQL registry: both joins broadcast (dims), no ORDER BY on the
    // engine side — ZERO exchanges.
    "q179_sql_registry" -> 0,
    // NFC normalize: one narrow codegen projection — ZERO exchanges.
    "q180_nfc_normalize" -> 0,
    // WAV sniff: synthesis + header projection — narrow, ZERO
    // exchanges (the q172/q178 container-sniff shape).
    "q181_wav_sniff" -> 0,
    // GIF scene deltas: per-container sequential decode is narrow —
    // ZERO exchanges.
    "q182_gif_scenes" -> 0,
    // Rank langid: profiles are checkpointed and broadcast; the final
    // job is the (doc, lang) score agg + the per-doc argmin agg, plus
    // the lang-list distinct — an exchange over ≤ langs·profileK
    // MODEL-sized checkpointed rows, corpus-size-independent.
    "q183_rank_langid" -> 3,
    // Gzip text round trip: line scan + narrow split — ZERO exchanges.
    "q184_gzip_text" -> 0,
    // PMI: count tables are vocab-bounded and checkpointed; the final
    // job's two exchanges are the two 1-row corpus-total sums over
    // those CHECKPOINTED tables (corpus-size-independent); all three
    // joins broadcast.
    "q185_pmi_collocations" -> 2,
    // Code fences: narrow regexp extraction + zip/posexplode — ZERO
    // exchanges.
    "q186_code_fences" -> 0,
    // Line stats: posexplode + ONE doc-keyed partial-aggregatable agg.
    "q187_code_line_stats" -> 1,
    // Audio resample: three chained per-clip codec kernels — narrow,
    // ZERO exchanges.
    "q188_audio_resample" -> 0,
    // JSONL quarantine: narrow from_json projection — ZERO exchanges.
    "q189_jsonl_quarantine" -> 0,
    // KN trigram: the corpus-scale exchanges are the score-side
    // transition window and the final doc-keyed agg; the other five
    // are vocab-bounded aggregations over CHECKPOINTED count tables
    // (context stats, middle stats, continuation stats, the two 1-row
    // totals) — corpus-size-independent, every join broadcasts.
    "q190_kn_trigram" -> 7,
    // Word blocklist: one narrow native set-probe — ZERO exchanges.
    "q191_word_blocklist" -> 0,
    // Mixture materialize: the ONE exchange is the per-lang token
    // inventory agg (partial-aggregatable); the plan broadcasts and
    // the copy explode is output-sized and narrow.
    "q192_mixture_materialize" -> 1,
    // Next-event pairs: the ONE subject-keyed collect agg (the
    // exchange bucketed storage removes); the slice carve-out is
    // narrow array math.
    "q193_next_event_pairs" -> 1,
    // Rank AUC: the distinct-score collapse + range layout run behind
    // the checkpoint; the final job is the DISTRIBUTED two-pass rank —
    // the hash(pid) window exchange (every range partition walks its
    // own scores in parallel; offsets broadcast) + the partial-
    // aggregated 1-row reduction. NO SinglePartition window at any
    // score cardinality (the r08 continuous-score fix).
    "q194_rank_auc" -> 2,
    // Grouped split: a pure narrow hash-threshold projection — ZERO
    // exchanges, nothing to coordinate.
    "q195_grouped_split" -> 0,
    // (q196 is a REAL streaming run — no static plan to ratchet; the
    // q129/q149 precedent.)
    // RAG retrieval: passage tf agg, df agg, the dl join's exchange,
    // the per-passage score agg, and the 1-row corpus-stats agg — the
    // q115 profile over the passage table.
    "q197_rag_retrieval" -> 5,
    // Decontam removal runs the MATCHER TWICE by design (find, then
    // re-verify the cleaned corpus) plus four 1-row audit aggs — an
    // audit row, not a hot-path shape; every join broadcasts.
    "q198_decontam_removal" -> 7,
    // Output sharding (the audit read-back; the writer job with its
    // repartition-by-key ran before this plan): per-(lang, file) agg +
    // the per-lang rollup.
    "q199_output_sharding" -> 2,
    // Calibration histogram: q78's candidate pipeline (sets are
    // checkpointed; signature agg + band self-join + pair dedup) +
    // the bucket rollup.
    "q200_jaccard_calibration" -> 5,
    // Release manifest: ONE rollup agg (count-distinct expands it to
    // two passes) over the narrow hash projection.
    "q201_release_manifest" -> 2,
    // Embedding centering: the (dim) lattice-mean agg (broadcast back)
    // + the per-vector square-sum agg.
    "q202_embed_centering" -> 2,
    // Zipf audit: the count agg runs behind the localCheckpoint; the
    // FINAL job is the rank window + projection over the vocab-bounded
    // checkpointed table — ZERO exchanges (the single-partition window
    // is over model-sized rows by construction).
    "q203_zipf_audit" -> 0,
    // Event motifs: subject window + count run behind the checkpoint;
    // the final rank window is over the |types|³-bounded motif table —
    // ZERO exchanges, the q203 shape.
    "q204_event_motifs" -> 0,
    // Code-switch: sentence explode + per-sentence langid are narrow;
    // the ONE exchange is the doc-keyed switch rollup (the lag window
    // shares its partitioning).
    "q205_code_switch" -> 1,
    // Session stats: the session_window agg + the 1-row global
    // reduction.
    "q206_session_stats" -> 2,
    // Rolling anomaly: the (type, day) rollup runs behind the
    // checkpoint; the final job is the trailing window over the tiny
    // (types × days) table — its type-keyed exchange is
    // calendar-bounded, not corpus-bounded.
    "q207_rolling_anomaly" -> 1,
    // Feature table: ONE partial-aggregatable subject rollup — the
    // conditional-sum pivot shape, single corpus scan.
    "q208_feature_pivot" -> 1,
    // Drift χ²: the lang histogram runs behind the checkpoint; the
    // final job is the 1-row totals agg over 5 checkpointed rows +
    // the broadcast cross join.
    "q209_drift_chi2" -> 1,
    // Grouped AUC: the ONE corpus exchange is the (group, score)
    // collapse; the per-group rank window + reduction run over the
    // checkpointed score-cardinality table (the q194 shape with the
    // group key carried through).
    "q210_grouped_auc" -> 1,
    // Sketch accuracy: the bottom-k agg (map-side combined to k pairs
    // per group per partition) + the exact-percentile agg; the 5-row
    // join broadcasts.
    "q211_sketch_accuracy" -> 2,
    // Residual PII: one narrow redact chain + the 1-row reduction.
    "q212_residual_pii" -> 1,
    // Time split: ONE partial-aggregatable subject rollup.
    "q213_time_split" -> 1,
    // Source dup rate: the (source, fp) collapse + the source rollup,
    // both partial-aggregatable, 16 B keys on the wire.
    "q214_source_dup_rate" -> 2,
    // Compaction audit read-back: two count-distinct file aggs (each
    // expands to 2 exchanges under count-distinct planning) over the
    // two layouts; the rewrite jobs ran before this plan.
    "q215_compaction" -> 4,
    // Incremental stats: the DELTA agg (the only corpus-side work —
    // history reads from the persisted |types|-row state) + the
    // |types|-row merge re-agg.
    "q216_incremental_stats" -> 2,
    // Weekly autocorr: the daily rollup runs behind the checkpoint;
    // the final job is the calendar-bounded self-join (broadcast) +
    // ONE per-type sums agg.
    "q217_weekly_autocorr" -> 1,
    // Co-occurrence lift: the basket collapse runs behind the
    // checkpoint; the final job is the within-basket self-join
    // (2 exchanges — both sides key on (user, day)) + the pair agg;
    // the two broadcast-marginal subtrees REUSE one agg exchange
    // (ReusedExchange), so they add nothing.
    "q218_cooccurrence_lift" -> 3,
    // DAU/WAU: the (user, day) collapse runs behind the checkpoint;
    // dau is one partial-aggregatable agg, wau is the 7×-explode
    // count-distinct (2 exchanges under count-distinct planning), and
    // the day join REUSES both aggs' hash(day) output partitioning —
    // zero join exchanges.
    "q219_dau_wau" -> 3,
    // Dup-cluster histogram: the fp collapse + the |distinct k|-sized
    // histogram agg, both partial-aggregatable, 16 B keys on the wire.
    "q220_dup_cluster_histogram" -> 2,
    // Production-bloom verified twin: the bloom survivors are
    // checkpointed (q104's shape) into a SinglePartition RDD at this
    // sf, which satisfies every downstream hash requirement — the
    // final job (per-doc aggs + id join + eval semi-join) plans ZERO
    // exchanges; at corpus scale the same aggs partial-aggregate over
    // survivor-sized (not corpus-sized) rows.
    "q221_bloom_prod_verified" -> 0,
    // Incremental kNN insert: the old index builds behind buildKnn
    // (same shape as q230's build); the insert's own final job is the
    // fresh-pair banded bucket join (both membership sides derive from
    // level/bucket projections + the level join) feeding the two
    // k-bounded topM stages and the merge re-rank. r14: 9 → 7 — the
    // edge dedup moved INSIDE the top-M aggregation buffer
    // (topKByScoreDistinct), so the two dropDuplicates exchanges
    // (fresh-pair re-rank + merge re-rank) folded into their agg
    // exchanges (guide §2.4: same-keyed operations share one exchange).
    // (r15 A/B-tested pinning buildKnn's banded membership here — the
    // deserialized corpus × bands × levels checkpoint measured SLOWER
    // than the duplicate hashing it removes, so the shape stays.)
    "q253_hnsw_insert" -> 7,
    // Composed curation: kmeans fit + ridge fit run as EAGER driver
    // jobs at build time (params-as-data), and r14 pins the dense
    // embedding table once (localCheckpoint — it feeds 7 downstream
    // scans), so embed (2 aggs) + pivot (2) + the salted pair join +
    // survivor anti-join + kept semi-join all run BEHIND checkpoints
    // as build-time jobs; the final mixture job is the per-lang token
    // inventory agg (10 → 1).
    "q254_stage2_curation" -> 1
  )

  expected.foreach { case (name, want) =>
    test(s"$name plans exactly $want shuffle exchange(s)") {
      withStaticPlans {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val got = shuffles(df)
        assert(got == want,
          s"$name: expected $want ShuffleExchangeExec nodes, got $got —" +
            " a plan edit added or removed a wide stage; update" +
            " SCALE.md's shuffle inventory only if the change is" +
            " deliberate.\n" + df.queryExecution.executedPlan.toString)
      }
    }
  }

  test("q124 weighted sampling plans as TakeOrderedAndProject " +
    "(no global sort)") {
    withStaticPlans {
      val df = SparkEntry.queries("q124_weighted_sample")(spark, sfDir)
      val plan = df.queryExecution.executedPlan
      val hasTakeOrdered = plan.collect {
        case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
      }.nonEmpty
      val hasGlobalSort = plan.collect {
        case s: org.apache.spark.sql.execution.SortExec if s.global => s
      }.nonEmpty
      assert(hasTakeOrdered && !hasGlobalSort,
        "weightedSampleK must select its top-k via TakeOrderedAndProject" +
          " — a global sort of the corpus is the 100 TB failure mode.\n" +
          plan.toString)
    }
  }

  test("IVF coarse assignment plans with ZERO exchanges (narrow " +
    "NearestCentroids projection, not crossJoin+window)") {
    import spark.implicits._
    withStaticPlans {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val cents = Seq((0L, Seq.fill(64)(0.5)), (1L, Seq.fill(64)(-0.5)))
        .toDF("centroid_id", "c_vec")
      val assigned = graft.ops.Similarity.ivfAssign(emb, "vec_id",
        "embedding", cents, "centroid_id", "c_vec", nProbe = 2)
      assert(shuffles(assigned) == 0,
        "IVF assignment must stay a pure projection — the " +
          "crossJoin+window form shuffles a k-fold corpus expansion.\n" +
          assigned.queryExecution.executedPlan.toString)
    }
  }

  test("PQ encode plans with ZERO exchanges; the q131 ADC scan's only " +
    "exchange is the k-bounded rank reduction") {
    import spark.implicits._
    withStaticPlans {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val cb = (for (s <- 0 until 4; c <- 0 until 8)
        yield (s, c, Seq.fill(16)(0.25 * c - 0.5)))
        .toDF("subspace", "code", "c_vec")
      val coded = graft.ops.Similarity.pqEncode(emb, "vec_id",
        "embedding", cb)
      assert(shuffles(coded) == 0,
        "PQ encode must stay a pure narrow projection — the codebook" +
          " is model-sized and rides into codegen as a reference" +
          " object.\n" + coded.queryExecution.executedPlan.toString)
      val df = SparkEntry.queries("q131_pq_adc")(spark, sfDir)
      assert(shuffles(df) == 1,
        "the ADC scan broadcasts the query LUTs; its ONE exchange is" +
          " rankTopK's k-bounded per-query reduction — anything more" +
          " means the corpus is being shuffled.\n" +
          df.queryExecution.executedPlan.toString)
    }
  }

  test("q132 int8 scan: quantization is narrow; one k-bounded rank " +
    "exchange") {
    withStaticPlans {
      val df = SparkEntry.queries("q132_int8_ann")(spark, sfDir)
      assert(shuffles(df) == 1,
        "int8 quantize+score must stay corpus-narrow (broadcast" +
          " queries); the ONE exchange is the k-bounded rank" +
          " reduction.\n" + df.queryExecution.executedPlan.toString)
    }
  }

  test("q133 HTML extraction plans with ZERO exchanges (pure narrow " +
    "regexp chain)") {
    withStaticPlans {
      val df = SparkEntry.queries("q133_html_extract")(spark, sfDir)
      assert(shuffles(df) == 0,
        "HTML→text extraction is a per-row regexp chain — any exchange" +
          " in this plan is a regression.\n" +
          df.queryExecution.executedPlan.toString)
    }
  }

  test("q145 partitioned sink: the lang filter prunes to ONE selected " +
    "partition (PartitionFilters, not a row-level predicate)") {
    withStaticPlans {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-prune").toString
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("lang"),
          org.apache.spark.sql.functions.col("text"))
        .write.partitionBy("lang").mode("overwrite").parquet(tmp)
      val df = spark.read.parquet(tmp)
        .filter(org.apache.spark.sql.functions.col("lang") === "en")
      val scans = df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty)
      val scan = scans.head
      assert(scan.partitionFilters.nonEmpty,
        "the lang predicate must become a PARTITION filter:\n" +
          df.queryExecution.executedPlan.toString)
      assert(scan.dataFilters.isEmpty,
        "lang must not survive as a row-level data filter — that means" +
          " every partition's files would still be opened:\n" +
          df.queryExecution.executedPlan.toString)
      // directory-level proof: exactly one of the five lang partitions
      // is read
      assert(scan.relation.location.listFiles(
        scan.partitionFilters, scan.dataFilters).length == 1)
    }
  }

  test("TextIndex.search after a fold: the query-term predicate is " +
    "PUSHED into the postings scan and into the rollup job's termdf " +
    "scan; df, N and avg_dl arrive as literals and the empty ledger " +
    "adds no join — the one exchange is the per-doc score agg") {
    withStaticPlans {
      import org.apache.spark.sql.functions.col
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-textindex-plan").toString + "/idx"
      graft.ops.TextIndex.save(tmp,
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("text")),
        "doc_id", "text")
      val query = "merge window sort"
      val df = graft.ops.TextIndex.search(spark, tmp, query, 10)
      val (parts, _) = graft.ops.AnnIndex.load(spark, tmp)
      val rollup = graft.ops.TextIndex.rollupRows(parts,
        query.split(" ").toSeq, "doc_id")
      def termScans(d: DataFrame) = d.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.metadata.get("PushedFilters")
              .exists(_.contains("In(term")) =>
          f.relation.location.rootPaths.map(_.getParent.getName)
      }
      val plan = df.queryExecution.executedPlan
      assert(termScans(df) == Seq(Seq("postings")) &&
          termScans(rollup) == Seq(Seq("termdf")),
        "the term IN (...) filter must reach the postings scan of the " +
          "search and the termdf scan of its rollup (PushedFilters) — " +
          "without it a query reads the whole inverted index:\n" +
          plan + "\n" + rollup.queryExecution.executedPlan)
      // ONE corpus-sized exchange (the per-doc score agg over matched
      // postings); the rollups were collected before the plan was built
      assert(shuffles(df) <= 1,
        "search grew a second exchange — the only one must be the " +
          "per-doc score agg:\n" + plan.toString)
      assert(plan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }.isEmpty, "an empty ledger must add no join:\n" + plan.toString)
    }
  }

  test("TextIndex.search between folds: after an un-folded applyCdc " +
    "with updates and deletes the plan reads ONE postings scan over " +
    "both batches with the term IN pushed, no termdf/stats/deleted/" +
    "pending scan, no join, no tokenize Generate, ≤ 1 exchange; the " +
    "rollup job pushes the term IN into its termdf scan") {
    withStaticPlans {
      import org.apache.spark.sql.functions.{col, concat, lit}
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-textindex-cdc-plan").toString + "/idx"
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      graft.ops.TextIndex.save(tmp, docs, "doc_id", "text")
      val upd = docs.filter(col("doc_id") % 7 === 2)
      graft.ops.TextIndex.applyCdc(spark, tmp,
        docs.filter(col("doc_id") % 7 <= 3).select("doc_id"),
        upd.select(col("doc_id"),
          concat(col("text"), lit(" updated window")).as("text")),
        "doc_id", "text")
      val query = "merge window sort"
      val df = graft.ops.TextIndex.search(spark, tmp, query, 10)
      val plan = df.queryExecution.executedPlan
      def scansOf(p: org.apache.spark.sql.execution.SparkPlan,
          part: String) = p.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.relation.location.rootPaths
              .exists(_.toString.contains(s"/$part/")) => f
      }
      def pushesIn(f: org.apache.spark.sql.execution.FileSourceScanExec) =
        f.metadata.get("PushedFilters").exists(_.contains("In(term"))
      assert(plan.collect {
        case g: org.apache.spark.sql.execution.GenerateExec => g
      }.isEmpty, "search must not tokenize at query time:\n" + plan)
      assert(shuffles(df) <= 1,
        "the search plan grew past its one score-agg exchange:\n" + plan)
      for (part <- Seq("termdf", "stats", "deleted", "pending"))
        assert(scansOf(plan, part).isEmpty,
          s"the returned plan must not scan $part (the rollup job " +
            s"reads it):\n$plan")
      assert(plan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }.isEmpty, "the collected ledger must be an inlined filter, not " +
        "a join:\n" + plan)
      // the CDC append added a second postings batch: both batches of
      // equal schema load as ONE relation
      val postings = scansOf(plan, "postings")
      assert(postings.length == 1 && postings.head.relation.location
          .rootPaths.map(_.getName).sorted == Seq("b0", "b1") &&
          pushesIn(postings.head),
        "expected one postings scan over b0 and b1 with the term " +
          "IN (...) pushed:\n" + plan)
      val (parts, _) = graft.ops.AnnIndex.load(spark, tmp)
      val rollup = graft.ops.TextIndex.rollupRows(parts,
        query.split(" ").toSeq, "doc_id")
      val termdf = scansOf(rollup.queryExecution.executedPlan, "termdf")
      assert(termdf.length == 1 && termdf.forall(pushesIn) &&
          shuffles(rollup) == 0,
        "the rollup job must read termdf once with the term IN pushed, " +
          "and shuffle nothing:\n" + rollup.queryExecution.executedPlan)
    }
  }

  test("ANN maintenance probes: the batch's cell predicate is PUSHED " +
    "into the members part's parquet scan, and a key-column predicate " +
    "commutes below the keyed-resolve window into the knn scan — " +
    "per-batch maintenance reads ∝ batch, never ∝ corpus") {
    withStaticPlans {
      import graft.ops.{AnnIndex, Hnsw}
      import org.apache.spark.sql.functions.col
      import spark.implicits._
      def vec(i: Int) = {
        val c = i % 8
        Array.tabulate(8)(j =>
          (if (j == c) 1.0 else 0.0) + math.sin(i * 7.31 + j) * 0.05)
      }
      val vecsA = (0 until 160).map(i => (i.toLong, vec(i)))
        .toDF("id", "v")
      val bf = Hnsw.defaultBucketFn(nPlanes = 3, dim = 8, seed = 9)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-ann-plan").toString + "/idx"
      Hnsw.saveIndex(dir, vecsA, "id", "v", 9, 2, 6, 2, bf)
      // two knn batches so the keyed-resolve window exists in the plan
      val (p0, _) = AnnIndex.load(spark, dir)
      val batch = Seq((160L, vec(160))).toDF("id", "v")
      val (d, md) = Hnsw.insertKnnDeltaIndexed(p0("knn"), p0("members"),
        p0("memdead"), batch, "id", "v", 9, 2, 6, 2, bf,
        AnnIndex.partBatches(spark, dir, "members"))
      AnnIndex.append(dir, Map("knn" -> d, "vectors" -> batch,
        "members" -> md))
      val (parts, _) = AnnIndex.load(spark, dir)

      def pushedScans(df: DataFrame, marker: String) =
        df.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
              if f.metadata.get("PushedFilters")
                .exists(_.contains(marker)) => f
        }
      // 1) the members probe: one arriving vector's banded cells,
      // inlined as IN literals, must reach the members parquet scan
      val memB = Hnsw.memberRows(Seq((161L, vec(161))).toDF("id", "v"),
        "id", "v", 9, 2, 2, bf, 1)
      val probe = Hnsw.memberProbe(parts("members"), parts("memdead"),
        memB)
      assert(pushedScans(probe, "In(cell").nonEmpty,
        "the cell IN (...) predicate must reach the members part's " +
          "parquet scan as PushedFilters — without it every " +
          "micro-batch re-reads the stored membership corpus:\n" +
          probe.queryExecution.executedPlan.toString)
      // 2) a KEY-column predicate on the loaded keyed knn part (what
      // the maintenance merge does for touched srcs) must commute
      // below the latest-batch-wins window into the parquet scan
      val pruned = parts("knn").filter(col("src").isin(1L, 2L, 3L))
      val knnPlan = pruned.queryExecution.executedPlan
      assert(knnPlan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec => w
        }.nonEmpty,
        "expected the keyed-resolve window in the plan (two batches):\n"
          + knnPlan.toString)
      assert(pushedScans(pruned, "In(src").nonEmpty,
        "the src IN (...) predicate must push BELOW the keyed-resolve " +
          "window into the knn parquet scan — without it every " +
          "maintenance merge shuffles the whole stored kNN:\n" +
          knnPlan.toString)
    }
  }

  test("pruneBy beyond the In-pushdown ceiling: the sorted key list " +
    "chunks into range-bounded IN scans — each branch row-group-" +
    "prunable on its own [lo, hi] against a range-clustered part — " +
    "and the union stays exactly the single-IN semantics") {
    withStaticPlans {
      import org.apache.spark.sql.functions.col
      import spark.implicits._
      val dir = java.nio.file.Files
        .createTempDirectory("graft-prune-chunk").toString + "/part"
      (0L until 20000L).map(i => (i * 7L, i)).toDF("cell", "payload")
        .repartitionByRange(col("cell")).sortWithinPartitions("cell")
        .write.parquet(dir)
      val part = spark.read.parquet(dir)
      val keyVals = (0L until 2500L).map(_ * 56L)
      val pruned = graft.ops.Hnsw.pruneBy(part, "cell",
        keyVals.toDF("cell"), "cell")
      // >1000 keys → ≥2 chunk branches, each scan carrying BOTH its
      // range bound (the row-group pruner that survives any In-pushdown
      // degradation) and its chunk-sized In
      val chunkScans = pruned.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.metadata.get("PushedFilters").exists(m =>
              m.contains("GreaterThanOrEqual(cell") &&
                m.contains("LessThanOrEqual(cell") &&
                m.contains("In(cell")) => f
      }
      assert(chunkScans.length >= 2,
        "an over-ceiling key list must slice into ≥2 range-bounded IN " +
          "scans — a single InSet filter re-reads the whole part per " +
          "probe (the r13 sf100 bulk-batch corpus-scan floor):\n" +
          pruned.queryExecution.executedPlan.toString)
      val want = part.filter(col("cell").isin(keyVals: _*))
        .collect().map(_.toSeq).sortBy(_.mkString("|"))
      val got = pruned.collect().map(_.toSeq).sortBy(_.mkString("|"))
      assert(got.toSeq == want.toSeq,
        "chunked pruneBy must equal the single-IN filter exactly")
    }
  }

  test("q125 blocklist anti-join stays a broadcast join") {
    withStaticPlans {
      val df = SparkEntry.queries("q125_url_canonical")(spark, sfDir)
      val plan = df.queryExecution.executedPlan
      val bcastAnti = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti =>
          j
      }
      assert(bcastAnti.nonEmpty && shuffles(df) == 0,
        "the domain blocklist is list-sized — its anti-join must stay" +
          " map-side (BroadcastHashJoin, zero exchanges), never a" +
          " shuffled join of the corpus.\n" + plan.toString)
    }
  }

  test("DatasetPreprocessor.transform reads the measurements once: one " +
    "scan and no Union, however many measurements were fitted") {
    withStaticPlans {
      import graft.core.{DataModality => DM, DatasetConfig,
        MeasurementConfig, TemporalityType => TT}
      import spark.implicits._
      val dir = java.nio.file.Files
        .createTempDirectory("graft-dataset-transform-plan").toString
      (0 until 80).map(i => (i.toLong, i.toLong, "A", i % 4 + 1L,
          Seq("lab", "vit", "dx", "other")(i % 4), s"k${i % 5}", i * 0.5))
        .toDF("metadata_id", "event_id", "event_type", "subject_id",
          "measurement", "key", "value")
        .write.parquet(s"$dir/measurements")
      val events = (0 until 80).map(i => (i.toLong, i % 4 + 1L,
          new java.sql.Timestamp(1704067200000L + i * 3600000L), "A"))
        .toDF("event_id", "subject_id", "timestamp", "event_type")
      val subjects = (1L to 4L).map(Tuple1(_)).toDF("subject_id")
      val ds = graft.ingest.EventDataset(events,
        spark.read.parquet(s"$dir/measurements"), subjects)
      val splits = (1L to 4L).map(s => (s, "train"))
        .toDF("subject_id", "split")
      def num(n: String) = MeasurementConfig(n, TT.Dynamic,
        DM.MultivariateRegression, valuesColumn = Some("value"))
      val cfg = DatasetConfig(measurements = Seq(num("lab"), num("vit"),
        MeasurementConfig("dx", TT.Dynamic, DM.MultiLabelClassification)))
      val fit = graft.preprocess.DatasetPreprocessor.fit(ds, splits, cfg)
      val (tm, _, _) = graft.preprocess.DatasetPreprocessor.transform(ds, fit)
      val plan = tm.queryExecution.executedPlan
      val scans = plan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      val unions = plan.collect {
        case u: org.apache.spark.sql.execution.UnionExec => u
      }
      assert(scans.length == 1 && unions.isEmpty,
        "the transformed measurements must be one pass over one scan " +
          "(broadcast-joined fit state), not a filter per fitted " +
          "measurement unioned back:\n" + plan.toString)
    }
  }
}
