package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import org.json4s._
import org.json4s.JsonDSL._

import graft.ops.{AnnIndex, Dedup, TextIndex, TextOps}
import graft.streaming.StreamOps

/** A persisted BM25 store (TextIndex on the AnnIndex store format) used
  * by one closed-loop client while its CDC maintenance loop grows it. A
  * pass is one round:
  *
  *  1. curate a batch of raw HTML arrivals with planted exact and near
  *     copies and junk: HTML extraction, NFC and text normalisation and
  *     a quality gate, exact dedup, MinHash-LSH near-dup pairs and
  *     cluster dedup (the native text expressions run here);
  *  2. drop one CDC micro-batch file (the curated arrivals, updates and
  *     deletes) and wait until the loop has committed it;
  *  3. run one search from disk;
  *  4. fold the store into its next generation. The loop runs with
  *     compactEvery = 0, so every fold is the client's and is timed.
  *
  * The HNSW store, its maintenance loop and its searches are left out:
  * with them a run no longer fits the per-run time budget (see
  * BENCHMARK.md). */
final class IndexLifecycle(spark: SparkSession, seed: Long)
    extends Workload(spark, seed) {
  val seedDocs = 400
  val mix = Gen.ArrivalMix(docs = 60, exactCopies = 6, nearCopies = 4,
    junk = 3)
  val updates = 15
  val deletes = 10
  val k = 10
  val gate = 0.75

  val curation = Seq("ops.text_clean", "ops.dedup_exact",
    "ops.dedup_minhash_lsh", "ops.dedup_by_pairs")
  val phases = curation ++ Seq("streaming.bm25_batch",
    "ops.text_index_search", "ops.fold")
  def stageOf(p: String): String =
    if (p == "ops.fold") "transform"
    else if (p == "ops.text_index_search") "serve" else "ingest"
  val opsPerPass = 7

  /** What was planted in one round's arrivals and what curation kept. */
  final case class RoundLog(round: Int, planted: Seq[(Long, String, Long)],
      kept: Set[Long])

  /** Live text corpus: id → indexed text. */
  private val live = mutable.LinkedHashMap.empty[Long, String]
  private val touched = mutable.Set.empty[Long]
  private val log = mutable.ArrayBuffer.empty[RoundLog]
  private var nextId = 0L
  private var round = 0
  private var root = ""
  private var bm25: StreamingQuery = _
  private var inputBytes = 0L
  private var rawBytes = 0L
  private var batchesMax = 0
  private var candPairs = Vector.empty[Long]
  private var checkDir = ""

  private def textPath = s"$root/store/text"

  def setUp(dir: String): Unit = {
    root = dir
    live.clear(); touched.clear(); log.clear(); round = 0
    inputBytes = 0L; rawBytes = 0L
    (0 until seedDocs).foreach(i => live(i.toLong) = Gen.docText(seed, i, 0))
    nextId = seedDocs
    textDf().write.parquet(s"$root/seed")
    inputBytes += bytesUnder(s"$root/seed")
    TextIndex.save(textPath, spark.read.parquet(s"$root/seed"), "id", "text")
    Seq("bm25", "stage", "raw").foreach(d =>
      Files.createDirectories(Paths.get(s"$root/in/$d")))
    bm25 = StreamOps.bm25MaintenanceStream(
        spark.readStream.schema("id LONG, text STRING, op STRING, seq LONG")
          .option("maxFilesPerTrigger", 1).json(s"$root/in/bm25"),
        "id", "text", textPath, compactEvery = 0, opCol = "op",
        seqCol = "seq")
      .option("checkpointLocation", s"$root/ckpt/bm25").start()
  }

  override def tearDown(): Unit = {
    if (bm25 != null) try bm25.stop() catch { case _: Throwable => () }
    bm25 = null
  }

  private def textDf(): DataFrame = {
    import spark.implicits._
    live.toSeq.toDF("id", "text")
  }

  override def streamPhases: Seq[(String, String)] =
    Option(bm25).map(_.id.toString -> "streaming.bm25_batch").toSeq

  def pass(t: Tracer, traced: Boolean): Unit = {
    val batch = Gen.arrivals(seed, round, nextId, mix)
    nextId += mix.docs
    val raw = Paths.get(s"$root/in/raw/$round.json")
    Files.write(raw, batch.map(a =>
        s"""{"doc_id":${a.id},"html":${Json.str(a.html)}}""")
      .mkString("\n").getBytes(StandardCharsets.UTF_8))
    rawBytes += Files.size(raw)
    val fresh = curate(t, traced, raw.toString, keep = None)
    log += RoundLog(round, batch.map(a => (a.id, a.role, a.grp)),
      fresh.map(_._1).toSet)
    // CDC picks come from ids untouched since the last fold: an id
    // deleted before a fold cannot come back until the fold frees it
    val r = Gen.rng(seed, 50, round)
    val pool = live.keys.filterNot(touched).toIndexedSeq
    val picks = mutable.LinkedHashSet.empty[Long]
    while (picks.size < math.min(updates + deletes, pool.size))
      picks += pool(r.nextInt(pool.size))
    val (upd, del) = picks.toSeq.splitAt(updates)
    del.foreach(live.remove)
    upd.foreach(id => live(id) = Gen.docText(seed, id, round + 1))
    live ++= fresh
    touched ++= picks ++ fresh.map(_._1)
    drop(t, (upd ++ del).map(id => s"""{"id":$id,"op":"delete","seq":0}""") ++
      (upd ++ fresh.map(_._1)).map(id =>
        s"""{"id":$id,"text":${Json.str(live(id))},"op":"insert","seq":1}"""))
    if (traced) observeBatches()
    val terms = Gen.words(Gen.rng(seed, 51, round), 3).mkString(" ")
    t.span("ops.text_index_search") {
      TextIndex.search(spark, textPath, terms, k).collect()
    }
    t.span("ops.fold") {
      AnnIndex.compactToNextGen(spark, textPath, TextIndex.compact)
    }
    touched.clear()
    round += 1
  }

  /** Curate one raw batch; returns the kept (id, text) in id order.
    * `keep`: write the clean and exact boundaries under that directory. */
  private def curate(t: Tracer, traced: Boolean, raw: String,
      keep: Option[String]): Seq[(Long, String)] = {
    def boundary(name: String, df: DataFrame): DataFrame = keep match {
      case Some(k) =>
        df.write.parquet(s"$k/$name")
        spark.read.parquet(s"$k/$name")
      case None => pin(df, traced)
    }
    val docs = spark.read.schema("doc_id LONG, html STRING").json(raw)
    val clean = t.span("ops.text_clean") {
      boundary("clean", docs.select(col("doc_id"),
          TextOps.normalize(TextOps.nfcNormalize(
            TextOps.extractHtmlText(col("html")))).as("text"))
        .filter(TextOps.qualityScore(col("text")) >= gate))
    }
    val exact = t.span("ops.dedup_exact") {
      boundary("exact", Dedup.exact(clean, "doc_id", "text"))
    }
    val pairs = t.span("ops.dedup_minhash_lsh") {
      pin(Dedup.minhashLsh(exact, "doc_id", "text"), traced)
    }
    if (traced) candPairs :+= pairs.count()
    t.span("ops.dedup_by_pairs") {
      Dedup.dedupByPairs(exact, "doc_id", pairs).select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
        .toSeq
    }
  }

  /** Write the batch file aside, move it into the loop's input in one
    * rename, and time until the loop has committed it. */
  private def drop(t: Tracer, rows: Seq[String]): Unit = {
    val staged = Paths.get(s"$root/in/stage/$round.json")
    Files.write(staged, rows.mkString("\n").getBytes(StandardCharsets.UTF_8))
    inputBytes += Files.size(staged)
    val t0 = t.nowMs
    Files.move(staged, Paths.get(s"$root/in/bm25/$round.json"),
      StandardCopyOption.ATOMIC_MOVE)
    // processAllAvailable can return on a trigger that listed the input
    // just before the move; the commit log says when the file is in
    while ({ bm25.processAllAvailable(); commits <= round })
      Thread.sleep(2)
    t.record("streaming.bm25_batch", t0, t.nowMs)
  }

  private def commits: Int =
    Option(new java.io.File(s"$root/ckpt/bm25/commits").list()).toSeq
      .flatten.count(f => f.forall(_.isDigit))

  /** The BM25 store's batch count with a micro-batch appended, before the
    * fold (traced passes only: it is one more manifest read). */
  private def observeBatches(): Unit =
    batchesMax = batchesMax max AnnIndex.maxBatches(spark, textPath)

  def check(dir: String): Seq[String] = {
    val fail = mutable.ArrayBuffer.empty[String]
    bm25.exception.foreach(e =>
      fail += s"maintenance loop failed: ${e.getMessage}")
    fail ++= plantedChecks()
    // The checks are small jobs bound by driver latency; they run on a
    // few threads so that their gaps overlap (nothing here is timed).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    // curate the last round's arrivals once more, writing the clean and
    // exact boundaries for run.py's DuckDB replay of the exact dedup
    checkDir = s"$dir/curation"
    val last = log.last
    val recurated = Future(curate(new Tracer("check"), traced = false,
      s"$root/in/raw/${last.round}.json", keep = Some(checkDir)))
    // every pass ends with a fold, so BM25 df/N are exact: rebuild the
    // store from scratch and compare it part by part
    val corpus = textDf().localCheckpoint(true)
    val rebuilt = Future(TextIndex.save(s"$dir/text", corpus, "id", "text"))
    // a sampled answer: the streamed store = BM25 scored from scratch
    val terms = Gen.words(Gen.rng(seed, 52, 0), 3).mkString(" ")
    val answers = Future.sequence(Seq(
      Future(TextIndex.search(spark, textPath, terms, k).collect().toSeq),
      Future(TextOps.bm25Search(corpus, "id", "text", terms, k).collect()
        .toSeq)))
    Await.result(rebuilt, Duration.Inf)
    // row count and the sum of row hashes: equal multisets of rows
    def digest(df: DataFrame) = Future(df.agg(count(lit(1)),
        sum(xxhash64(df.columns.sorted.map(col): _*).cast("decimal(38,0)")))
      .head().toSeq)
    val (st, _) = AnnIndex.load(spark, textPath)
    val (ft, _) = AnnIndex.load(spark, s"$dir/text")
    def termdf(p: Map[String, DataFrame]) =
      p("termdf").groupBy("term").agg(sum("df_delta").as("df"))
    def stats(p: Map[String, DataFrame]) =
      p("stats").agg(sum("n_docs").as("n"), sum("len_sum").as("l"))
    val pairs = Seq("postings", "docs", "deleted", "pending").map(p =>
        (s"text store part $p", st(p), ft(p))) ++ Seq(
      ("text store term df", termdf(st), termdf(ft)),
      ("text store stats", stats(st), stats(ft)))
    pairs.map { case (what, a, b) =>
      what -> digest(a).zipWith(digest(b))(_ == _)
    }.foreach { case (what, same) =>
      if (!Await.result(same, Duration.Inf))
        fail += s"$what differs from the rebuild"
    }
    val Seq(streamed, scratch) = Await.result(answers, Duration.Inf)
    if (streamed != scratch)
      fail += s"bm25 search '$terms' differs from scoring from scratch"
    val again = Await.result(recurated, Duration.Inf).map(_._1).toSet
    if (again != last.kept)
      fail += s"curating round ${last.round} again kept ${again.size} " +
        s"documents, the timed pass ${last.kept.size}"
    fail.toSeq
  }

  /** Against what each round planted: every exact and every near group
    * keeps exactly one document, junk never passes the gate, and no
    * unplanted original is removed. */
  private def plantedChecks(): Seq[String] = log.toSeq.flatMap { l =>
    val groups = l.planted.filter(_._3 >= 0).groupBy(x => (x._2, x._3))
    val badGroups = groups.collect {
      case ((role, g), ms) if ms.count(m => l.kept(m._1)) != 1 =>
        s"$role group $g"
    }
    val junk = l.planted.count(p => p._2 == "junk" && l.kept(p._1))
    val lost = l.planted.count(p => p._2 == "orig" && !l.kept(p._1))
    (if (badGroups.isEmpty) Nil else Seq(s"round ${l.round}: " +
      s"${badGroups.toSeq.sorted.mkString(", ")} do not keep exactly one " +
      "document")) ++
    (if (junk == 0) Nil else Seq(s"round ${l.round}: $junk junk documents " +
      "passed the quality gate")) ++
    (if (lost == 0) Nil else Seq(s"round ${l.round}: $lost unplanted " +
      "documents were removed as duplicates"))
  }

  def inputInfo: JObject = JObject(
    "seed_docs" -> seedDocs, "raw_arrivals_per_batch" -> mix.docs,
    "exact_copies_per_batch" -> mix.exactCopies,
    "near_copies_per_batch" -> mix.nearCopies,
    "junk_per_batch" -> mix.junk,
    "kept_arrivals_per_batch" -> mix.originals,
    "updates_per_batch" -> updates, "deletes_per_batch" -> deletes,
    "update_share" -> updates.toDouble / (mix.originals + updates + deletes),
    "delete_share" -> deletes.toDouble / (mix.originals + updates + deletes),
    "raw_arrival_bytes" -> rawBytes, "input_bytes" -> inputBytes,
    "live_docs_end" -> live.size)

  private def storeBytesPerInputByte: Double =
    bytesUnder(s"$root/store").toDouble / math.max(1L, inputBytes)

  override def details: JObject = JObject(
    "store_bytes" -> bytesUnder(s"$root/store"),
    "store_bytes_per_input_byte" -> storeBytesPerInputByte,
    "rounds_run" -> round)

  override def checkInputs: JObject = JObject(
    "clean" -> s"$checkDir/clean", "exact" -> s"$checkDir/exact")

  override def layerExtras: JObject = JObject(
    "store.text.batches_max" -> batchesMax,
    "store_bytes_per_input_byte" -> storeBytesPerInputByte,
    "ops.dedup_minhash_lsh.cand_pairs" ->
      (if (candPairs.isEmpty) 0.0
       else Stats.median(candPairs.map(_.toDouble))))
}
