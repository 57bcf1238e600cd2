package graft

import graft.ops.{AnnIndex, TextIndex, TextOps}
import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The persisted BM25 inverted index: batch save/search equivalence
  * with the in-memory scorer, additive append semantics, and the
  * streaming maintenance loop (with in-loop compaction). */
class TextIndexSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "merge sort beats bubble sort on large arrays"),
    (3L, "a sliding window sort merges sorted runs"),
    (4L, "  "), // whitespace-only: excluded from every statistic
    (5L, "the window merge pass sorts each window"),
    (6L, "dogs and foxes are not sorting algorithms"),
    (7L, "external merge sort is the disk based window sort"))

  private def dir(tag: String) = java.nio.file.Files
    .createTempDirectory(s"graft-textindex-$tag").toString + "/idx"

  private def asRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSeq

  test("save → search answers exactly like the in-memory bm25Search, " +
    "for single- and multi-term queries") {
    val docs = corpus.toDF("doc_id", "text")
    val path = dir("batch")
    TextIndex.save(path, docs, "doc_id", "text")
    for (q <- Seq("merge window sort", "fox", "the lazy window")) {
      val want = asRows(
        TextOps.bm25Search(docs, "doc_id", "text", q, k = 5))
      val got = asRows(TextIndex.search(spark, path, q, k = 5))
      assert(got == want, s"query '$q': $got != $want")
    }
  }

  test("append is additive and idempotent: seed + append ≡ " +
    "save(everything); re-arrivals and exact in-batch replays are " +
    "dropped; CONFLICTING texts under one id fail loudly") {
    val (a, b) = corpus.splitAt(4)
    val path = dir("append")
    TextIndex.save(path, a.toDF("doc_id", "text"), "doc_id", "text")
    // two different texts for one new id: no arbitrary winner — loud
    intercept[IllegalArgumentException] {
      TextIndex.append(spark, path,
        (b ++ Seq((7L, "conflicting text"))).toDF("doc_id", "text"),
        "doc_id", "text")
    }
    // re-arrival of id 2 (stored, changed text: ignored — deletes are
    // the CDC path) + an exact in-batch replay of id 7 (collapsed)
    val batch = (b ++ Seq((2L, "changed text must be ignored"),
      b.last)).toDF("doc_id", "text")
    val appended = TextIndex.append(spark, path, batch, "doc_id", "text")
    assert(appended == 3, s"expected 3 fresh docs, got $appended")
    val full = dir("full")
    TextIndex.save(full, corpus.toDF("doc_id", "text"), "doc_id", "text")
    for (q <- Seq("merge window sort", "dog")) {
      assert(asRows(TextIndex.search(spark, path, q, k = 7)) ==
        asRows(TextIndex.search(spark, full, q, k = 7)))
    }
    // df is exact after the dedup: sum(df_delta) == distinct docs/term
    val termdf = AnnIndex.load(spark, path)._1("termdf")
      .groupBy("term").agg(sum("df_delta").as("df"))
    val wantDf = corpus.toDF("doc_id", "text")
      .filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        explode(TextOps.tokens(lower(col("text")))).as("term"))
      .distinct().groupBy("term").agg(count(lit(1)).as("df"))
    assert(asRows(termdf.orderBy("term")) ==
      asRows(wantDf.orderBy("term")))
  }

  test("bm25MaintenanceStream: micro-batched arrivals leave the " +
    "persisted index answering like a from-scratch build; compaction " +
    "folds the batch list without changing answers") {
    implicit val sqlCtx = spark.sqlContext
    val (a, b) = corpus.splitAt(3)
    val path = dir("stream")
    TextIndex.save(path, a.toDF("doc_id", "text"), "doc_id", "text")
    val input = MemoryStream[(Long, String)]
    val df = input.toDF().toDF("doc_id", "text")
    val q = StreamOps.bm25MaintenanceStream(df, "doc_id", "text", path,
      compactEvery = 2).start()
    try {
      input.addData(b.take(2) :+ ((1L, "re-arrival ignored")))
      q.processAllAvailable()
      assert(AnnIndex.maxBatches(spark, path) == 1,
        "compactEvery=2 should fold every micro-batch")
      input.addData(b.drop(2))
      q.processAllAvailable()
      assert(AnnIndex.maxBatches(spark, path) == 1)
      val docs = corpus.toDF("doc_id", "text")
      for (query <- Seq("merge window sort", "fox")) {
        assert(asRows(TextIndex.search(spark, path, query, k = 7)) ==
          asRows(TextOps.bm25Search(docs, "doc_id", "text", query,
            k = 7)))
      }
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$path-compacting")))
    } finally q.stop()
  }

  test("delete is live-docs semantics: deleted docs stop scoring " +
    "immediately (df/N stale, Lucene-style); compact applies the " +
    "list physically and search equals save(survivors) exactly") {
    val docs = corpus.toDF("doc_id", "text")
    val path = dir("delete")
    TextIndex.save(path, docs, "doc_id", "text")
    TextIndex.delete(spark, path, Seq(3L, 5L).toDF("doc_id"), "doc_id")
    val q = "merge window sort"
    // deleted docs never appear; survivors keep PRE-delete df/N (3 and
    // 5 still count toward df until the merge) — assert both halves
    val preIds = asRows(TextIndex.search(spark, path, q, k = 7))
      .map(_.head.asInstanceOf[Long])
    assert(!preIds.contains(3L) && !preIds.contains(5L))
    val staleScores = asRows(TextIndex.search(spark, path, q, k = 7))
    val fullScores = asRows(
      TextOps.bm25Search(docs, "doc_id", "text", q, k = 7))
      .filter(r => r.head != 3L && r.head != 5L)
    assert(staleScores == fullScores,
      "pre-compact scores must be the full-corpus weights minus the " +
        "deleted docs (stale df/N — the documented Lucene semantics)")
    // a deleted id cannot sneak back in before the merge
    assert(TextIndex.append(spark, path,
      Seq((3L, "resurrected")).toDF("doc_id", "text"),
      "doc_id", "text") == 0)
    val merged = dir("merged")
    TextIndex.compact(spark, path, merged)
    val survivors = corpus.filter(d => d._1 != 3L && d._1 != 5L)
    val want = dir("want")
    TextIndex.save(want, survivors.toDF("doc_id", "text"),
      "doc_id", "text")
    for (query <- Seq(q, "dog", "fox")) {
      assert(asRows(TextIndex.search(spark, merged, query, k = 7)) ==
        asRows(TextIndex.search(spark, want, query, k = 7)),
        s"post-compact '$query' must equal save(survivors)")
    }
    // the merge freed the ids: re-insertion works again
    assert(TextIndex.append(spark, merged,
      Seq((3L, "fresh text")).toDF("doc_id", "text"),
      "doc_id", "text") == 1)
  }

  test("bm25MaintenanceStream CDC mode: deletes ride the stream as " +
    "live-docs marks; the compaction fold merges them out and the " +
    "index equals save(survivors ∪ later arrivals)") {
    implicit val sqlCtx = spark.sqlContext
    val (a, b) = corpus.splitAt(5)
    val path = dir("cdc")
    TextIndex.save(path, a.toDF("doc_id", "text"), "doc_id", "text")
    val input = MemoryStream[(Long, String, String)]
    val df = input.toDF().toDF("doc_id", "text", "op")
    // compactEvery=2 → every micro-batch folds, so each delete merges
    // out immediately after its batch
    val q = StreamOps.bm25MaintenanceStream(df, "doc_id", "text", path,
      compactEvery = 2, opCol = "op").start()
    try {
      // batch 1: delete doc 3, insert doc 6
      input.addData(Seq((3L, null.asInstanceOf[String], "delete"),
        (b.head._1, b.head._2, "insert")))
      q.processAllAvailable()
      // batch 2: insert doc 7
      input.addData(Seq((b(1)._1, b(1)._2, "insert")))
      q.processAllAvailable()
      val survivors = (a.filter(_._1 != 3L) ++ b)
        .toDF("doc_id", "text")
      val want = dir("cdc-want")
      TextIndex.save(want, survivors, "doc_id", "text")
      for (query <- Seq("merge window sort", "fox")) {
        assert(asRows(TextIndex.search(spark, path, query, k = 7)) ==
          asRows(TextIndex.search(spark, want, query, k = 7)),
          s"CDC stream '$query' must equal save(survivors)")
      }
    } finally q.stop()
  }

  test("bm25MaintenanceStream CDC UPDATE: delete + re-arrival of one " +
    "id in the SAME micro-batch replaces its text (staged pending, " +
    "merged by the scheduled fold); a NULL op appends as documented") {
    implicit val sqlCtx = spark.sqlContext
    val path = dir("cdc-upd")
    TextIndex.save(path, corpus.take(5).toDF("doc_id", "text"),
      "doc_id", "text")
    val input = MemoryStream[(Long, String, String)]
    val df = input.toDF().toDF("doc_id", "text", "op")
    // compactEvery=2: the delete append takes a part to 2 batches, so
    // the SCHEDULED fold runs right after the batch and merges the
    // staged update in — post-fold answers are exact
    val q = StreamOps.bm25MaintenanceStream(df, "doc_id", "text", path,
      compactEvery = 2, opCol = "op").start()
    try {
      // ONE batch: update doc 3's text (delete + insert), insert doc 6
      // with a NULL op (must append, not drop)
      input.addData(Seq(
        (3L, null.asInstanceOf[String], "delete"),
        (3L, "replacement text about window sort", "insert"),
        (corpus(5)._1, corpus(5)._2, null.asInstanceOf[String])))
      q.processAllAvailable()
      val want = dir("cdc-upd-want")
      val survivors = (corpus.take(5).filter(_._1 != 3L) ++
        Seq((3L, "replacement text about window sort"), corpus(5)))
        .toDF("doc_id", "text")
      TextIndex.save(want, survivors, "doc_id", "text")
      for (query <- Seq("merge window sort", "replacement", "fox")) {
        assert(asRows(TextIndex.search(spark, path, query, k = 7)) ==
          asRows(TextIndex.search(spark, want, query, k = 7)),
          s"same-batch CDC update: '$query' must equal " +
            "save(updated corpus)")
      }
    } finally q.stop()
  }

  test("applyCdc (one load + one multi-part append) ≡ the sequential " +
    "delete → stageUpdates → append chain it fused: same search " +
    "answers before AND after a fold, deletes-without-replacement " +
    "included, conflicting staged texts still fail loudly") {
    val docs = corpus.toDF("doc_id", "text")
    val fusedPath = dir("cdc-fused")
    val seqPath = dir("cdc-seq")
    TextIndex.save(fusedPath, docs, "doc_id", "text")
    TextIndex.save(seqPath, docs, "doc_id", "text")
    // one CDC batch: update ids 2 and 5, delete id 6 outright (no
    // replacement), append fresh id 8
    val dels = Seq(2L, 5L, 6L).toDF("doc_id")
    val staged = Seq((2L, "rewritten merge article"),
      (5L, "rewritten window survey")).toDF("doc_id", "text")
    val appends = Seq((8L, "a brand new sorting paper"))
      .toDF("doc_id", "text")
    // sequential chain (the pre-r14 loop body)
    TextIndex.delete(spark, seqPath, dels, "doc_id")
    TextIndex.stageUpdates(spark, seqPath, staged, "doc_id", "text")
    TextIndex.append(spark, seqPath, appends, "doc_id", "text")
    // fused
    val n = TextIndex.applyCdc(spark, fusedPath, dels, staged, appends,
      "doc_id", "text")
    assert(n == 1L, s"one genuinely-new doc appended, got $n")
    for (q <- Seq("merge window sort", "rewritten", "fox", "sorting")) {
      assert(asRows(TextIndex.search(spark, fusedPath, q, k = 8)) ==
        asRows(TextIndex.search(spark, seqPath, q, k = 8)),
        s"pre-fold '$q' must match the sequential chain")
    }
    AnnIndex.compactToNextGen(spark, fusedPath, TextIndex.compact)
    AnnIndex.compactToNextGen(spark, seqPath, TextIndex.compact)
    for (q <- Seq("merge window sort", "rewritten", "fox", "sorting")) {
      assert(asRows(TextIndex.search(spark, fusedPath, q, k = 8)) ==
        asRows(TextIndex.search(spark, seqPath, q, k = 8)),
        s"post-fold '$q' must match the sequential chain")
    }
    // the stageUpdates conflict guard still fires through applyCdc
    val err = intercept[IllegalArgumentException] {
      TextIndex.applyCdc(spark, fusedPath, Seq(1L).toDF("doc_id"),
        Seq((1L, "version a"), (1L, "version b")).toDF("doc_id", "text"),
        appends.limit(0), "doc_id", "text")
    }
    assert(err.getMessage.contains("conflicting staged texts"))
    // the staged ⊆ dels precondition is ENFORCED, not just documented:
    // a stray staged id (stage without delete) would double-count the
    // doc in scores/df until the next fold — it must fail loudly
    val stray = intercept[IllegalArgumentException] {
      TextIndex.applyCdc(spark, fusedPath, Seq(1L).toDF("doc_id"),
        Seq((1L, "fine"), (3L, "stray staged text"))
          .toDF("doc_id", "text"),
        appends.limit(0), "doc_id", "text")
    }
    assert(stray.getMessage.contains("not in the delete set"))
  }

  test("bm25MaintenanceStream CDC UPDATE BURST: N colliding batches " +
    "stage N pending appends and ZERO folds; search serves each " +
    "staged text immediately (latest wins); ONE fold then makes the " +
    "index exactly save(final corpus)") {
    implicit val sqlCtx = spark.sqlContext
    val path = dir("cdc-burst")
    TextIndex.save(path, corpus.take(5).toDF("doc_id", "text"),
      "doc_id", "text")
    val input = MemoryStream[(Long, String, String)]
    val df = input.toDF().toDF("doc_id", "text", "op")
    // compactEvery=0: NO scheduled folds — the burst must not force any
    val q = StreamOps.bm25MaintenanceStream(df, "doc_id", "text", path,
      compactEvery = 0, opCol = "op").start()
    try {
      val versions = Seq(
        "first replacement about zebras",
        "second replacement about quokkas",
        "third replacement about window sort merges")
      versions.foreach { text =>
        input.addData(Seq((3L, null.asInstanceOf[String], "delete"),
          (3L, text, "insert")))
        q.processAllAvailable()
        // no generation fold happened — the update was STAGED
        assert(AnnIndex.currentGen(spark, path) == 0,
          "a colliding batch must stage, not force a Lucene merge")
        // ...and the staged text is searchable right away, newest wins
        val hit = asRows(TextIndex.search(spark, path,
          text.split(" ").last, k = 7)).map(_.head.asInstanceOf[Long])
        assert(hit.contains(3L), s"staged '$text' must be live")
      }
      // pending resolved keyed: exactly one live row, the LAST version
      val pend = AnnIndex.load(spark, path)._1("pending").collect()
      assert(pend.length == 1 && pend.head.getString(1) == versions.last)
      // ONE fold merges the burst; the index then equals save(final)
      AnnIndex.compactToNextGen(spark, path, TextIndex.compact)
      val want = dir("cdc-burst-want")
      TextIndex.save(want,
        (corpus.take(5).filter(_._1 != 3L) :+ ((3L, versions.last)))
          .toDF("doc_id", "text"),
        "doc_id", "text")
      for (query <- Seq("merge window sort", "merges", "fox")) {
        assert(asRows(TextIndex.search(spark, path, query, k = 7)) ==
          asRows(TextIndex.search(spark, want, query, k = 7)),
          s"post-burst fold: '$query' must equal save(final corpus)")
      }
    } finally q.stop()
  }

  test("bm25MaintenanceStream seqCol: a micro-batch carrying TWO CDC " +
    "updates of one id (the restart poison-pill shape) resolves to " +
    "the highest sequence deterministically instead of dying") {
    implicit val sqlCtx = spark.sqlContext
    val path = dir("cdc-seq")
    TextIndex.save(path, corpus.take(4).toDF("doc_id", "text"),
      "doc_id", "text")
    val input = MemoryStream[(Long, String, String, Long)]
    val df = input.toDF().toDF("doc_id", "text", "op", "seq")
    val q = StreamOps.bm25MaintenanceStream(df, "doc_id", "text", path,
      compactEvery = 2, opCol = "op", seqCol = "seq").start()
    try {
      // delete 2, insert A, delete 2, insert B — normal CDC traffic;
      // without seqCol the in-batch conflict guard would kill the
      // stream and every restart would replay the same batch forever
      input.addData(Seq(
        (2L, null.asInstanceOf[String], "delete", 1L),
        (2L, "intermediate text about llamas", "insert", 2L),
        (2L, null.asInstanceOf[String], "delete", 3L),
        (2L, "final text about window sort", "insert", 4L)))
      q.processAllAvailable()
      val want = dir("cdc-seq-want")
      TextIndex.save(want,
        (corpus.take(4).filter(_._1 != 2L) :+
          ((2L, "final text about window sort")))
          .toDF("doc_id", "text"),
        "doc_id", "text")
      for (query <- Seq("merge window sort", "llamas", "fox")) {
        assert(asRows(TextIndex.search(spark, path, query, k = 7)) ==
          asRows(TextIndex.search(spark, want, query, k = 7)),
          s"seqCol resolution: '$query' must equal save(last version)")
      }
    } finally q.stop()
  }

  test("append BULK regime: a batch past the 100k inline-id cap " +
    "takes the distributed anti-join (no driver-side literal list) " +
    "and lands the same index contents") {
    val path = dir("bulk")
    TextIndex.save(path,
      (0L until 10L).map(i => (i, s"seed doc w$i"))
        .toDF("doc_id", "text"),
      "doc_id", "text")
    // 100_001 arrivals, one of them (id 5) a stored re-arrival that
    // must still be dropped by the fallback anti-join
    val bulk = spark.range(100001)
      .selectExpr("CASE WHEN id = 0 THEN 5 ELSE id + 1000 END AS doc_id",
        "concat('bulk doc w', id % 97) AS text")
    val appended = TextIndex.append(spark, path, bulk, "doc_id", "text")
    assert(appended == 100000L,
      s"expected 100000 fresh docs (re-arrival dropped), got $appended")
    val (parts, _) = AnnIndex.load(spark, path)
    assert(parts("docs").count() == 100010L)
    // df stayed exact through the bulk path: every bulk doc carries
    // the term 'bulk', none of the 10 seed docs do
    val df = parts("termdf").filter(col("term") === "bulk")
      .agg(sum(col("df_delta"))).collect().head.getLong(0)
    assert(df == 100000L)
  }

  test("kind guard: searching or appending a non-bm25 store fails " +
    "loudly") {
    val path = dir("kind")
    AnnIndex.save(path, Map("vectors" ->
        Seq((1L, Array(1.0))).toDF("id", "v")),
      Map("kind" -> "hnsw"))
    intercept[IllegalArgumentException] {
      TextIndex.search(spark, path, "x", 1)
    }
    intercept[IllegalArgumentException] {
      TextIndex.append(spark, path,
        Seq((1L, "t")).toDF("doc_id", "text"), "doc_id", "text")
    }
  }
}
