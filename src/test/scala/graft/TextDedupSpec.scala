package graft

import graft.ops.{Dedup, TextOps}
import org.apache.spark.sql.functions._

/** Text-analysis + dedup operators (north-star extensions). */
class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  test("charShingles: native expression semantics") {
    val df = Seq("abcd", "ab", "", "aaaa", "héllo").toDF("t")
    val out = df.select(col("t"),
      TextOps.charShingles(col("t"), 3).as("sh"))
      .as[(String, Seq[String])].collect().toMap
    assert(out("abcd") == Seq("abc", "bcd"))
    assert(out("ab") == Seq()) // shorter than n
    assert(out("") == Seq())
    assert(out("aaaa") == Seq("aaa")) // distinct
    assert(out("héllo") == Seq("hél", "éll", "llo")) // multi-byte safe
  }

  test("charShingleHashes ≡ sorted distinct xxhash64(charShingles); " +
    "wsTokenHashes ≡ xxhash64 per split token") {
    val df = Seq("the quick brown fox", "aaaa bbbb aaaa", "héllo wörld", "x")
      .toDF("t")
    val sh = df.select(col("t"),
      TextOps.charShingles(col("t"), 5).as("s"),
      TextOps.charShingleHashes(col("t"), 5).as("h"))
      .withColumn("s_hashed", transform(col("s"), x => xxhash64(x)))
      .as[(String, Seq[String], Seq[Long], Seq[Long])].collect()
    sh.foreach { case (_, _, hashed, viaStrings) =>
      assert(hashed == viaStrings.distinct.sorted)
    }
    val tok = df.select(col("t"),
      graft.expressions.TextExpressions.wsTokenHashes(lower(col("t")))
        .as("h"),
      transform(split(trim(lower(col("t"))), "\\s+"), x => xxhash64(x))
        .as("ref"))
      .as[(String, Seq[Long], Seq[Long])].collect()
    tok.foreach { case (_, h, ref) => assert(h == ref) }
  }

  test("native MinHash/SimHash signatures ≡ explode+aggregate forms") {
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "")).toDF("doc_id", "text")
    val k = 8
    // reference: the former explode + k-min-aggregation plan
    val exploded = docs.select(col("doc_id").as("id"),
      explode(TextOps.charShingleHashes(col("text"), 5)).as("h"))
    def splitmix64(x0: Long): Long = {
      var z = x0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val aggs = (0 until k).map(i =>
      min(xxhash64(lit(splitmix64(i.toLong)), col("h"))).as(s"m$i"))
    val ref = exploded.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"),
        array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val native = Dedup.minhashSignatures(docs, "doc_id", "text", k, 5)
      .as[(Long, Seq[Long])].collect().toMap
    assert(native == ref) // doc 3 absent from both
    // simhash: native expression vs the HOF bit-majority form
    val simRef = docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id").as("id"),
        Dedup.simhash(TextOps.tokens(lower(col("text")))).as("sig"))
      .as[(Long, Long)].collect().toMap
    val simNative = Dedup.simhashSignatures(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(simNative == simRef)
  }

  test("simhashSignatures excludes zero-token docs (exact dedup's job)") {
    val docs = Seq((1L, "real content here"), (2L, ""), (3L, "   \t "))
      .toDF("doc_id", "text")
    val ids = Dedup.simhashSignatures(docs, "doc_id", "text")
      .select("id").as[Long].collect().toSet
    assert(ids == Set(1L))
  }

  test("redactPii: emails, IPv4s, phones → typed placeholders") {
    val df = Seq(
      "contact jane.doe+x@sub.example.org or bob@a.io now",
      "server at 192.168.1.254 and 10.0.0.1 up",
      "call +1 555 0123 or +44 20-7946-0958 today",
      "clean text with no pii at all",
      "mixed a@b.co 8.8.8.8 +1 234 5678 end"
    ).toDF("t")
    val out = df.select(TextOps.redactPii(col("t")).as("r"))
      .as[String].collect()
    assert(out(0) == "contact <EMAIL> or <EMAIL> now")
    assert(out(1) == "server at <IP> and <IP> up")
    assert(out(2) == "call <PHONE> or <PHONE> today")
    assert(out(3) == "clean text with no pii at all")
    assert(out(4) == "mixed <EMAIL> <IP> <PHONE> end")
  }

  test("charShingles normalizes case and whitespace") {
    val df = Seq("A  B\tC").toDF("t")
    val out = df.select(TextOps.charShingles(col("t"), 3).as("sh"))
      .as[Seq[String]].collect().head
    assert(out == Seq("a b", " b ", "b c"))
  }

  test("tokens / tokenCount handle empties") {
    val df = Seq(("a b  c", 3), ("", 0), ("   ", 0), ("one", 1))
      .toDF("t", "want")
    val got = df.select(col("want"),
      TextOps.tokenCount(col("t")).as("n")).as[(Int, Int)].collect()
    got.foreach { case (want, n) => assert(n == want) }
  }

  test("fingerprint is whitespace/case-jitter invariant") {
    val df = Seq("Hello  World", "hello world", "HELLO\tWORLD", "other")
      .toDF("t")
    val fps = df.select(TextOps.fingerprint(col("t")).as("fp"))
      .as[Long].collect()
    assert(fps(0) == fps(1) && fps(1) == fps(2))
    assert(fps(3) != fps(0))
  }

  test("langId votes by stopword sets") {
    val df = Seq(
      ("the cat and the dog in the house", "en"),
      ("le chat et les chiens est une", "fr"),
      ("el perro que la casa y los gatos", "es"),
      ("xyzzy qwerty plugh", "und")).toDF("t", "want")
    df.select(col("want"), TextOps.langId(col("t")).as("got"))
      .as[(String, String)].collect()
      .foreach { case (want, got) => assert(got == want, s"$want != $got") }
  }

  test("qualityScore rewards prose, punishes garbage") {
    val prose = "the quick brown fox jumps over the lazy dog and runs " +
      "far away into the woods to find some food for the winter"
    val garbage = "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"
    val df = Seq(prose, garbage).toDF("t")
    val scores = df.select(TextOps.qualityScore(col("t")).as("s"))
      .as[Double].collect()
    assert(scores(0) > scores(1))
    assert(scores(0) == 1.0)
  }

  test("exact dedup keeps lowest id per normalized content") {
    val df = Seq(
      (10L, "Hello  World"), (3L, "hello world"), (7L, "unique doc"))
      .toDF("doc_id", "text")
    val kept = Dedup.exact(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(3L, 7L))
  }

  test("exact dedup: null text is one fingerprint — its lowest id " +
    "survives, every column passes through") {
    val df = Seq[(Long, String, Int)]((5L, null, 1), (2L, null, 2),
      (9L, "Same text", 3), (4L, "same  TEXT", 4)).toDF("doc_id", "text", "x")
    val kept = Dedup.exact(df, "doc_id", "text")
    assert(kept.columns.toSeq == Seq("doc_id", "text", "x"))
    assertSameRows(kept, Seq(Seq(2L, null, 2), Seq(4L, "same  TEXT", 4)))
  }

  test("exact dedup reads a parquet upstream with ONE scan") {
    val path = java.nio.file.Files.createTempDirectory("graft-exact")
      .toString + "/docs"
    Seq((1L, "a b"), (2L, "A  b"), (3L, "c")).toDF("doc_id", "text")
      .write.parquet(path)
    val kept = Dedup.exact(spark.read.parquet(path), "doc_id", "text")
    val scans = kept.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.length == 1,
      s"the upstream was scanned ${scans.length}×:\n" +
        kept.queryExecution.sparkPlan)
    assertSameRows(kept, Seq(Seq(1L, "a b"), Seq(3L, "c")))
  }

  test("exact dedup keeps exactly the minimum-id rows of each " +
    "fingerprint when an id repeats across two fingerprints") {
    // id 1 is the minimum of "a" but not of "b" (whose minimum is 0):
    // its "b" row is not a survivor of "b"
    val df = Seq((1L, "a"), (0L, "b"), (1L, "b")).toDF("doc_id", "text")
    assertSameRows(Dedup.exact(df, "doc_id", "text"),
      Seq(Seq(0L, "b"), Seq(1L, "a")))
  }

  test("jaccard on array columns") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d")),
      (Seq("a"), Seq("a")), (Seq[String](), Seq[String]()))
      .toDF("a", "b")
    val j = df.select(Dedup.jaccard(col("a"), col("b")).as("j"))
      .as[Double].collect()
    assert(j(0) == 0.5 && j(1) == 1.0 && j(2) == 0.0)
  }

  test("minhashLsh finds planted near-dups, not unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog near the " +
      "river bank while birds sing in the morning light of early spring"
    val nearDup = base.replace("morning", "evening")
    val unrelated = "completely different content about database engines " +
      "and distributed query processing with columnar storage formats"
    val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
      k = 64, bands = 16, shingleN = 5, jaccardThreshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("simhash: identical docs collide, near-dups within hamming budget") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    val docs = Seq((1L, base), (2L, base),
      (3L, "totally other words entirely unrelated corpus"))
      .toDF("doc_id", "text")
    val sigs = Dedup.simhashSignatures(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("winnowFingerprints: shared-substring guarantee, edge cases, " +
    "rolling hash matches direct polynomial evaluation") {
    val k = 8; val w = 4
    def fps(texts: String*): Map[String, Seq[Long]] =
      texts.toDF("t").select(col("t"),
        TextOps.winnowFingerprints(col("t"), k, w).as("f"))
        .as[(String, Seq[Long])].collect().toMap
    val common = "zqxjkvbw_shared_core_substring"
    val a = s"prefix one $common suffix alpha"
    val b = s"totally different lead-in $common and tail"
    val out = fps(a, b, "short", "", "a" * 12)
    // winnowing guarantee: any shared substring of >= k+w-1 codepoints
    // yields at least one shared fingerprint, regardless of alignment
    assert(out(a).toSet.intersect(out(b).toSet).nonEmpty)
    assert(out("short") == Seq()) // < k codepoints
    assert(out("") == Seq())
    // 12 codepoints -> 5 grams of one repeated char -> all hashes equal
    assert(out("a" * 12).length == 1)
    // sorted distinct
    assert(out(a) == out(a).sorted.distinct)
    // rolling hash == direct polynomial evaluation mod 1e9+7
    val text = "abcdefghij"
    val cps = text.codePoints().toArray
    val M = 1000000007L
    val direct = (0 to cps.length - k).map { i =>
      (0 until k).foldLeft(0L)((h, j) => (h * 257L + cps(i + j)) % M)
    }
    // w=1 → every gram hash selected
    val all = Seq(text).toDF("t")
      .select(TextOps.winnowFingerprints(col("t"), k, 1).as("f"))
      .as[Seq[Long]].collect().head
    assert(all.toSet == direct.toSet)
  }

  test("winnowOverlapPairs: copied passage detected, corpus-wide " +
    "boilerplate capped out") {
    val passage = "the quick brown fox jumps over the lazy dog repeatedly"
    val boiler = "standard header text present in every single document"
    val docs = Seq(
      (1L, s"$boiler unique alpha content one two three $passage"),
      (2L, s"$boiler $passage completely different trailing words here"),
      (3L, s"$boiler unrelated gamma delta epsilon zeta eta theta"),
      (4L, s"$boiler another separate document with its own words"),
      (5L, s"$boiler fifth doc shares only the boilerplate header"),
      (6L, s"$boiler sixth doc also boilerplate only nothing else"))
      .toDF("doc_id", "text")
    // cap 4 < 6 docs: boilerplate fingerprints (in all 6) are dropped,
    // passage fingerprints (in 2) survive
    val pairs = graft.ops.Dedup.winnowOverlapPairs(docs, "doc_id", "text",
      k = 8, w = 4, minShared = 3, maxPostingSize = 4)
      .as[(Long, Long, Long)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
  }

  test("clusterPairs: transitive closure with min-id labels") {
    // chain 1-2-3 plus pair 5-6; 4 unpaired
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val labels = Dedup.clusterPairs(pairs)
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L,
      6L -> 5L))
    val docs = (1L to 6L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val kept = Dedup.dedupByPairs(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 4L, 5L)) // canonical per cluster + lone 4
  }

  test("wsTokenPolyHashes: known answers, 8-byte cap, base parameter") {
    import graft.expressions.TextExpressions
    val df = Seq("ab cd", "abcdefghiXYZ abcdefgh", "", "  ")
      .toDF("t")
      .select(TextExpressions.wsTokenPolyHashes(col("t")).as("h"))
      .as[Seq[Long]].collect()
    // "ab" → 97·257 + 98 ; "cd" → 99·257 + 100
    assert(df(0) == Seq(97L * 257 + 98, 99L * 257 + 100))
    // first-8-bytes cap: "abcdefghiXYZ" hashes like "abcdefgh"
    assert(df(1)(0) == df(1)(1))
    assert(df(2).isEmpty && df(3).isEmpty)
    // a different base produces a different family
    val alt = Seq("ab").toDF("t")
      .select(TextExpressions.wsTokenPolyHashes(col("t"), 263L).as("h"))
      .as[Seq[Long]].collect()
    assert(alt(0) == Seq(97L * 263 + 98))
  }

  test("minhash signature estimate correlates with true jaccard") {
    // identical docs → identical signatures
    val docs = Seq((1L, "aaaa bbbb cccc dddd"), (2L, "aaaa bbbb cccc dddd"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 64, 5)
      .as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) == sigs(2L))
  }

  test("repetitionSignals: known-answer fractions and edge cases") {
    val r = TextOps.repetitionSignals(col("text"))
    val out = Seq(
      // bigrams: "a b","b a","a b","b c" → top "a b"=2/4; trigrams:
      // "a b a","b a b","a b c" all distinct → dup 0
      (1L, "a b a b c"),
      // all-same word: bigrams "x x"×4 → top 1.0; trigrams "x x x"×3 dup 1
      (2L, "x x x x x"),
      (3L, "one two"), // 1 bigram → top 1.0; no trigram → 0.0
      (4L, "single"), // no bigrams at all → both 0
      (5L, "  A  b   a B c ") // case-fold + whitespace runs ≡ doc 1
    ).toDF("doc_id", "text")
      .select(col("doc_id"), r("top_bigram_frac"), r("dup_trigram_frac"))
      .as[(Long, Double, Double)].collect()
      .map { case (k, b, t) => k -> ((b, t)) }.toMap
    assert(out(1L) == ((0.5, 0.0)))
    assert(out(2L) == ((1.0, 1.0)))
    assert(out(3L) == ((1.0, 0.0)))
    assert(out(4L) == ((0.0, 0.0)))
    assert(out(5L) == out(1L))
  }

  test("tfIdf: counts and weights on a tiny corpus") {
    val docs = Seq((1L, "cat dog cat"), (2L, "dog fish"), (3L, "CAT"))
      .toDF("doc_id", "text")
    val rows = TextOps.tfIdf(docs, "doc_id", "text")
      .as[(Long, String, Long, Long, Double)].collect()
      .map { case (id, term, tf, df, w) => (id, term) -> (tf, df, w) }
      .toMap
    assert(rows((1L, "cat"))._1 == 2L && rows((1L, "cat"))._2 == 2L)
    // Spark's log is StrictMath-based — ulp-level tolerance
    assert(math.abs(rows((1L, "cat"))._3 - 2.0 * math.log(3.0 / 2)) < 1e-12)
    assert(rows((2L, "fish"))._2 == 1L)
    assert(math.abs(rows((2L, "fish"))._3 - math.log(3.0)) < 1e-12)
    assert(rows((3L, "cat"))._1 == 1L) // case-folded into the cat df
    // ubiquitous term → idf 0
    val all = Seq((1L, "the a"), (2L, "the b"), (3L, "the c"))
      .toDF("doc_id", "text")
    val thew = TextOps.tfIdf(all, "doc_id", "text")
      .filter(col("term") === "the").select("tfidf")
      .as[Double].collect()
    assert(thew.length == 3 && thew.forall(_ == 0.0))
  }

  test("prefixJaccardPairs == brute-force blocked Jaccard (exact filter)") {
    // 30 docs: 10 base sentences, each with a near-dup (one word swapped)
    // and an unrelated doc — the prefix filter must lose NOTHING vs the
    // all-pairs enumeration at the same threshold.
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    val docs = (0 until 10).flatMap { i =>
      val base = (0 until 8).map(j => words((i + j) % 12)).mkString(" ")
      val near = base.replace(words(i % 12), "swapped")
      val other = s"totally unrelated content number $i about nothing " +
        s"shared with base texts $i"
      Seq((i * 3L, base), (i * 3L + 1, near), (i * 3L + 2, other))
    }.toDF("doc_id", "text")
    val viaPrefix = Dedup.prefixJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.3)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    // brute force: one giant block through the blocked operator
    val brute = Dedup.ngramJaccardPairs(
      docs.withColumn("blk", lit(1)), "doc_id", "text", "blk",
      n = 3, threshold = 0.3)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    assert(viaPrefix == brute && viaPrefix.nonEmpty)
    // planted near-dup pairs present
    assert((0 until 10).forall(i =>
      viaPrefix.exists(p => p._1 == i * 3L && p._2 == i * 3L + 1)))
  }

  test("prefixJaccardPairs: maxPostingSize drops boilerplate postings") {
    // every doc shares one boilerplate trigram; cap of 3 kills its
    // posting, and since unrelated docs share ONLY that trigram, no
    // candidate survives for them
    val docs = (0 until 8).map { i =>
      (i.toLong, s"common header line unique$i body$i tail$i words$i")
    }.toDF("doc_id", "text")
    val uncapped = Dedup.prefixJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.05, maxPostingSize = 1000)
    val capped = Dedup.prefixJaccardPairs(docs, "doc_id", "text",
      n = 3, threshold = 0.05, maxPostingSize = 3)
    assert(uncapped.count() > 0 && capped.count() == 0)
  }

  test("contaminationMatches: flags exactly the docs sharing an eval " +
      "n-gram") {
    val evalSet = Seq((100L,
      "the secret benchmark answer is forty two exactly")).toDF(
      "doc_id", "text")
    val train = Seq(
      (1L, "some doc quoting the secret benchmark answer is forty two " +
        "exactly verbatim"),
      (2L, "clean document with no overlap whatsoever here"),
      (3L, "partial overlap secret benchmark answer only four words"))
      .toDF("doc_id", "text")
    val hits = TextOps.contaminationMatches(train, evalSet, "doc_id",
      "text", n = 5).as[(Long, Long)].collect().toMap
    // doc 1 contains the full 8-token eval text -> its 4 5-grams all hit;
    // doc 3's longest shared run is 4 tokens -> no 5-gram hit
    assert(hits.keySet == Set(1L))
    assert(hits(1L) == 4L)
    // n_gram granularity: at n=3 doc 3's 3-token runs do hit
    val loose = TextOps.contaminationMatches(train, evalSet, "doc_id",
      "text", n = 3).as[(Long, Long)].collect().toMap
    assert(loose.keySet == Set(1L, 3L))
  }

  test("paragraphDedup: repeated paragraphs keep first occurrence only; " +
      "reassembly preserves order; emptied docs vanish") {
    val boiler = "subscribe to our newsletter today"
    val docs = Seq(
      (1L, s"unique intro one\n\n$boiler\n\nunique body one"),
      (2L, s"$boiler\n\nunique body two"),
      (3L, boiler), // only the boilerplate -> doc disappears
      (4L, s"repeated para\n\nrepeated para\n\ntail four"))
      .toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(out(1L) ==
      s"unique intro one\n\n$boiler\n\nunique body one")
    assert(out(2L) == "unique body two")
    assert(!out.contains(3L))
    // within-doc repeat also deduped, order kept
    assert(out(4L) == "repeated para\n\ntail four")
    // layout independence: same result from a different partitioning
    val out2 = Dedup.paragraphDedup(docs.repartition(5), "doc_id", "text")
      .as[(Long, String)].collect().toMap
    assert(out2 == out)
  }

  test("dropFrequentUnits: >= maxDocFreq distinct docs kills ALL copies " +
      "(no first-copy survivor); within-doc repeats count once; " +
      "under-threshold repeats all survive") {
    val banner = "accept all cookies"
    val docs = Seq(
      (1L, 0L, banner), (1L, 1L, "intro one"), (1L, 2L, "twice line"),
      (2L, 0L, banner), (2L, 1L, "body two"), (2L, 2L, "twice line"),
      (3L, 0L, banner), (3L, 1L, "only in three"),
      // within-doc multiplicity must NOT inflate doc frequency:
      (4L, 0L, "echoed"), (4L, 1L, "echoed"), (4L, 2L, "echoed"))
      .toDF("doc_id", "idx", "unit")
    val kept = Dedup.dropFrequentUnits(docs, "doc_id", "unit", 3)
      .as[(Long, Long, String)].collect().toSet
    // banner (df=3) gone everywhere, incl. doc 1's first copy
    assert(!kept.exists(_._3 == banner))
    // "twice line" (df=2) keeps BOTH occurrences
    assert(kept.filter(_._3 == "twice line").map(_._1) == Set(1L, 2L))
    // "echoed" appears in 1 doc (df=1) regardless of 3 copies
    assert(kept.count(_._3 == "echoed") == 3)
    assert(kept.exists(_._3 == "only in three"))
    // layout independence
    val kept2 = Dedup.dropFrequentUnits(
      docs.repartition(7), "doc_id", "unit", 3)
      .as[(Long, Long, String)].collect().toSet
    assert(kept2 == kept)
  }

  test("incrementalExact: store blocks prior content (normalized), " +
      "intra-batch keeps min id, store evolution covers the union") {
    val prior = Seq((1L, "seen before"), (2L, "also seen"))
      .toDF("doc_id", "text")
    val store = Dedup.fingerprintStore(prior, "doc_id", "text")
    val batch = Seq(
      (10L, "Seen   BEFORE"), // normalizes to prior content -> dropped
      (11L, "brand new"),
      (12L, "brand new"),     // intra-batch dup -> min id 11 survives
      (13L, "also new"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalExact(batch, "doc_id", "text", store)
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(11L, 13L))
    // next round's state: prior store + survivors' fingerprints blocks
    // everything seen so far
    val survivors = batch.filter(col("doc_id").isin(11L, 13L))
    val store2 = store.unionByName(
      Dedup.fingerprintStore(survivors, "doc_id", "text"))
    val round2 = Seq((20L, "brand  new"), (21L, "truly fresh"))
      .toDF("doc_id", "text")
    val out2 = Dedup.incrementalExact(round2, "doc_id", "text", store2)
      .select("doc_id").as[Long].collect().toSet
    assert(out2 == Set(21L))
  }

  test("bm25: known-answer weights; reduces toward tf-idf shape") {
    // 3 docs, hand-computed: N=3, avg_dl=(2+2+4)/3
    val docs = Seq((1L, "cat dog"), (2L, "cat cat"), (3L, "fish a b c"))
      .toDF("doc_id", "text")
    val out = TextOps.bm25(docs, "doc_id", "text")
      .select("doc_id", "term", "tf", "df", "bm25")
      .as[(Long, String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    val avgDl = (2.0 + 2 + 4) / 3
    def score(tf: Long, df: Long, dl: Double): Double =
      math.log(1.0 + (3.0 - df + 0.5) / (df + 0.5)) *
        (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgDl))
    assert(out((1L, "cat"))._1 == 1L && out((1L, "cat"))._2 == 2L)
    assert(math.abs(out((1L, "cat"))._3 - score(1, 2, 2)) < 1e-12)
    assert(math.abs(out((2L, "cat"))._3 - score(2, 2, 2)) < 1e-12)
    assert(math.abs(out((3L, "fish"))._3 - score(1, 1, 4)) < 1e-12)
    // higher tf -> higher score, same term
    assert(out((2L, "cat"))._3 > out((1L, "cat"))._3)
    // rarer term (df=1) outscores common (df=2) at equal tf and dl=2
    assert(out((1L, "dog"))._3 > out((1L, "cat"))._3)
  }

  test("bigramLogProb: known-answer smoothed transition probabilities; " +
      "fluent text outscores vocabulary soup") {
    // train corpus: "a b" x3 and "a c" x1 -> c(a b)=3, c(a c)=1,
    // context c(a)=4, V=3 distinct contexts... V = |{a,b,c}| among w1?
    // contexts seen as w1: only "a" (4 transitions) -> V=1
    val train = Seq((1L, "a b"), (2L, "a b"), (3L, "a b"), (4L, "a c"))
      .toDF("doc_id", "text")
    val scored = TextOps.bigramLogProb(train, train, "doc_id", "text",
      k = 0.5)
      .select("doc_id", "n_transitions", "avg_logprob")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // V = 1 (only "a" occurs as a context); p(b|a) = (3+0.5)/(4+0.5),
    // p(c|a) = (1+0.5)/(4+0.5)
    assert(scored(1L)._1 == 1L)
    assert(math.abs(scored(1L)._2 - math.log(3.5 / 4.5)) < 1e-12)
    assert(math.abs(scored(4L)._2 - math.log(1.5 / 4.5)) < 1e-12)
    // common transitions score higher than rare ones
    assert(scored(1L)._2 > scored(4L)._2)
    // single-token and empty docs have no transitions -> absent
    val withShort = train.union(Seq((5L, "a"), (6L, "")).toDF(
      "doc_id", "text"))
    val s2 = TextOps.bigramLogProb(withShort, withShort, "doc_id",
      "text").select("doc_id").as[Long].collect().toSet
    assert(!s2.contains(5L) && !s2.contains(6L))
    // unseen transition in the scored set smooths, not crashes
    val other = Seq((9L, "b a")).toDF("doc_id", "text")
    val cross = TextOps.bigramLogProb(train, other, "doc_id", "text",
      k = 0.5).select("doc_id", "avg_logprob")
      .as[(Long, Double)].collect().toMap
    // c(b a)=0, context c(b)=0 -> ln(0.5 / (0 + 0.5*1))= ln(1) = 0
    assert(math.abs(cross(9L) - 0.0) < 1e-12)
  }

  test("naiveBayesClassify: known-answer smoothed scores, OOV-only and " +
      "empty docs fall back to the prior argmax") {
    val train = Seq(
      (1L, "cat cat dog", "en"),
      (2L, "chat chien", "fr"),
      (3L, "dog dog", "en")).toDF("doc_id", "text", "lang")
    val score = Seq(
      (10L, "cat dog"),   // en evidence dominates
      (11L, "chat chat"), // fr evidence dominates
      (12L, "zebra"),     // OOV-only -> prior argmax (en: 2/3 docs)
      (13L, "")           // tokenless -> prior argmax
    ).toDF("doc_id", "text")
    val out = TextOps.naiveBayesClassify(train, score, "doc_id", "text",
      "lang")
      .as[(Long, String, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(10L)._1 == "en")
    assert(out(11L)._1 == "fr")
    assert(out(12L)._1 == "en")
    assert(out(13L)._1 == "en")
    // V=4 {cat,dog,chat,chien}; en: c_l=5 (cat 2, dog 3), prior 2/3 →
    // score(10,en) = ln(2/3) + ln((2+1)/(5+4)) + ln((3+1)/(5+4))
    val expected = math.log(2.0 / 3) + math.log(3.0 / 9) +
      math.log(4.0 / 9)
    assert(math.abs(out(10L)._2 - math.rint(expected * 1e6) / 1e6) < 1e-9)
    // prior-only docs score exactly the prior
    assert(math.abs(out(12L)._2 -
      math.rint(math.log(2.0 / 3) * 1e6) / 1e6) < 1e-9)
  }

  test("semanticDedup: cosine components collapse to min-id survivor; " +
      "bucketed and exact discovery agree on planted duplicates") {
    // ids 1,2,3 share a direction (cos = 1 pairwise), 4 and 5 are
    // orthogonal to them and to each other
    val vecs = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(2f, 0f, 0f, 0f)),
      (3L, Array(0.5f, 0f, 0f, 0f)),
      (4L, Array(0f, 1f, 0f, 0f)),
      (5L, Array(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding")
    val exact = Dedup.semanticDedup(vecs, "vec_id", "embedding",
      threshold = 0.95, exact = true)
      .select("vec_id").as[Long].collect().toSet
    assert(exact == Set(1L, 4L, 5L))
    // identical directions produce identical hyperplane sign bits, so the
    // bucketed production route must find the same components here
    val bucketed = Dedup.semanticDedup(vecs, "vec_id", "embedding",
      threshold = 0.95, exact = false, dim = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(bucketed == exact)
  }

  test("embeddingNearDupsKmeans: pairs discovered within clusters only — " +
      "a cross-cluster near-dup is out of scope by construction; cosines " +
      "round-6 before the threshold compare") {
    // angles (radians, in the xy-plane): v1≈.01, v2≈-.01, v5≈.02 hug
    // +x; v3/v4 hug +y. All within-cluster cosines ≈ .9998.
    val vecs = Seq(
      (1L, Array(1f, 0.01f, 0f, 0f)),
      (2L, Array(1f, -0.01f, 0f, 0f)),
      (3L, Array(0.01f, 1f, 0f, 0f)),
      (4L, Array(-0.01f, 1f, 0f, 0f)),
      (5L, Array(1f, 0.02f, 0f, 0f))).toDF("vec_id", "embedding")
    val cents = Seq(
      (0L, Array(1.0, 0.0, 0.0, 0.0)),
      (1L, Array(0.0, 1.0, 0.0, 0.0))).toDF("centroid_id", "c_vec")
    // axis centroids: {1,2,5}→c0, {3,4}→c1; every within-cluster pair
    // clears .9 and the huge cross-cluster block is never formed
    val all = Dedup.embeddingNearDupsKmeans(vecs, "vec_id", "embedding",
      threshold = 0.9, cents)
      .as[(Long, Long, Long, Double)].collect()
    assert(all.map(r => (r._1, r._2, r._3)).toSet ==
      Set((0L, 1L, 2L), (0L, 1L, 5L), (0L, 2L, 5L), (1L, 3L, 4L)))
    // move c1 to angle .035: v5 (angle .02) now sits closer to c1 than
    // to c0 while v1/v2 stay at c0 — the (1,5)/(2,5) cosines are still
    // ~1 but the pairs MUST vanish (SemDeDup's clusters bound the
    // candidate space); v3/v4 also tip to c1 but their cosines vs v5
    // are ~.03, below threshold
    val cents5 = Seq(
      (0L, Array(1.0, 0.0, 0.0, 0.0)),
      (1L, Array(1.0, 0.035, 0.0, 0.0))).toDF("centroid_id", "c_vec")
    val scoped = Dedup.embeddingNearDupsKmeans(vecs, "vec_id",
      "embedding", threshold = 0.9, cents5)
      .as[(Long, Long, Long, Double)].collect()
    assert(scoped.map(r => (r._2, r._3)).toSet ==
      Set((1L, 2L), (3L, 4L)))
    // cos values are 6dp-rounded in the output (q222 portability rule)
    assert(all.forall(r => r._4 == math.rint(r._4 * 1e6) / 1e6))
  }

  test("embeddingNearDupsKmeans: the salted join is content-invariant " +
      "— every saltSlices returns the identical pair set (salting only " +
      "spreads the quadratic work)") {
    val r = new scala.util.Random(13)
    val vecs = (0L until 60L).map { i =>
      val c = (i % 3).toInt
      (i, Array.tabulate(4)(j =>
        (if (j == c) 1.0f else 0.0f) + r.nextGaussian().toFloat * 0.1f))
    }.toDF("vec_id", "embedding")
    val cents = Seq(
      (0L, Array(1.0, 0.0, 0.0, 0.0)),
      (1L, Array(0.0, 1.0, 0.0, 0.0)),
      (2L, Array(0.0, 0.0, 1.0, 0.0))).toDF("centroid_id", "c_vec")
    def pairs(slices: Int) = Dedup.embeddingNearDupsKmeans(vecs,
        "vec_id", "embedding", threshold = 0.8, cents,
        saltSlices = slices)
      .as[(Long, Long, Long, Double)].collect().toSet
    val base = pairs(1)
    assert(base.nonEmpty)
    assert(pairs(8) == base && pairs(32) == base && pairs(7) == base)
    // STRING ids must salt correctly too: the slice key is a hash, not
    // a long cast (a failed cast would null the key and silently drop
    // every pair touching those rows)
    val svecs = vecs.select(concat(lit("doc-"), col("vec_id"))
      .as("vec_id"), col("embedding"))
    def spairs(slices: Int) = Dedup.embeddingNearDupsKmeans(svecs,
        "vec_id", "embedding", threshold = 0.8, cents,
        saltSlices = slices)
      .as[(Long, String, String, Double)].collect()
      .map(r => (r._1, Set(r._2, r._3), r._4)).toSet
    val sbase = spairs(1)
    assert(sbase.size == base.size)
    assert(spairs(8) == sbase && spairs(7) == sbase)
  }

  test("clusterTopTerms: characteristic terms outrank frequent-everywhere " +
      "ones; c-TF-IDF formula exact; ties break by term") {
    val docs = Seq(
      (1L, "spark spark shuffle common"),
      (2L, "spark spark shuffle common"),
      (3L, "duck pond common"),
      (4L, "duck pond common")).toDF("doc_id", "text")
    val assign = Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L))
      .toDF("aid", "cl")
    val out = TextOps.clusterTopTerms(docs, "doc_id", "text",
      assign, "aid", "cl", topN = 5)
      .as[(Long, Int, String, Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    // 14 tokens / 2 clusters → A = 7
    // c0: spark 4·ln(1+7/4), shuffle 2·ln(1+7/2), common 2·ln(1+7/4)
    assert(out(0L).map(_._3).toSeq == Seq("spark", "shuffle", "common"))
    assert(out(0L).head._6 ==
      math.rint(4.0 * math.log(1.0 + 7.0 / 4.0) * 1e6) / 1e6)
    // c1: duck and pond tie at 2·ln(1+7/2) → term ASC; common last
    assert(out(1L).map(_._3).toSeq == Seq("duck", "pond", "common"))
    assert(out(1L)(0)._6 == out(1L)(1)._6)
    // tf/ft carried through: spark tf=4 in c0, corpus-wide ft=4;
    // common ft=4 across both clusters
    assert(out(0L).head._4 == 4L && out(0L).head._5 == 4L)
    assert(out(0L).last._5 == 4L && out(1L).last._5 == 4L)
  }

  test("substringDedup: repeated >=L spans excised (cross-doc, self-copy, " +
      "within-doc repetition); hash shuffle key is result-equivalent") {
    val d1 = "abcdefghijklmnopqrst" // 20 chars, internally unique
    val docs = Seq(
      (1L, d1),                          // first occurrence — untouched
      (2L, "ZZZZZ" + d1 + "YYYYY"),      // embedded copy at 6..25
      (3L, d1),                          // whole doc is a duplicate
      (4L, "qwertyuiop" * 3),            // self-repetition: 11..30 dup
      (5L, "short")                      // below L — untouched
    ).toDF("doc_id", "text")
    val spans = Dedup.substringSpans(docs, "doc_id", "text", L = 10)
      .as[(Long, Int, Int)].collect().toSet
    assert(spans == Set((2L, 6, 25), (3L, 1, 20), (4L, 11, 30)))
    val out = Dedup.substringDedup(docs, "doc_id", "text", L = 10)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((0L, 0L, d1)))
    assert(out(2L) == ((1L, 20L, "ZZZZZYYYYY")))
    assert(out(3L) == ((1L, 20L, "")))
    assert(out(4L) == ((1L, 20L, "qwertyuiop")))
    assert(out(5L) == ((0L, 0L, "short")))
    // the 100 TB shuffle-key variant (8-byte keys) must not change results
    val hashed = Dedup.substringDedup(docs, "doc_id", "text", L = 10,
      hashShuffleKey = true)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(hashed == out)
  }

  test("normalize: ctl strip, ascii projection, ws collapse, lower") {
    val out = Seq(
      "  Hello\tWORLDé  x\n\ny ",
      "", "你好 ok").toDF("t")
      .select(TextOps.normalize(col("t")).as("n"))
      .as[String].collect().toList
    assert(out == List("hello world x y", "", "ok"))
    // non-lowercase, non-ascii variant keeps case and É; the
    // NUL is a control char (not whitespace), so stripping it glues
    // A and b
    val keep = Seq("\u00c9  A\u0000b").toDF("t")
      .select(TextOps.normalize(col("t"), asciiOnly = false,
        lowercase = false).as("n")).as[String].head()
    assert(keep == "É Ab")
  }

  test("containmentPairs: a quoted doc is contained, not resembling") {
    val quote = "the five boxing wizards jump quickly over the fence " +
      "and vanish into the night without a trace at all"
    val filler = (1 to 12).map(i =>
      s"unrelated padding sentence number $i with plenty of distinct " +
        s"words like marker$i and token$i floating around").mkString(" ")
    val docs = Seq(
      (1L, quote),             // the short doc
      (2L, filler + " " + quote + " " + filler), // quotes it verbatim
      (3L, "completely different content nothing shared here at all " +
        "not even close to any other document in this tiny corpus")
    ).toDF("doc_id", "text")
    val c = Dedup.containmentPairs(docs, "doc_id", "text",
      threshold = 0.5, maxPostingSize = 10)
      .select("id_a", "id_b", "containment")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // quote ⊂ big doc: C(1→2) ≈ 1; the reverse direction is far below
    // threshold (big doc mostly NOT in the quote), as is doc 3 anywhere
    assert(c.contains((1L, 2L)) && c((1L, 2L)) >= 0.9)
    assert(!c.contains((2L, 1L)))
    assert(!c.keySet.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("cdcBoundaries == naive per-position hash on random strings " +
    "(rolling-subtraction recurrence check)") {
    val M = 1000000007L
    val B = 257L
    def naive(s: String, k: Int, d: Int): List[Int] =
      (0 to s.length - k).filter { i =>
        var h = 0L
        (i until i + k).foreach(j => h = (h * B + s.charAt(j)) % M)
        h % d == 0
      }.map(_ + 1).toList
    val r = new scala.util.Random(7)
    val cases = (1 to 20).map(_ =>
      (1 to 3 + r.nextInt(120)).map(_ =>
        ('a' + r.nextInt(26)).toChar).mkString)
    val df = cases.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "t")
    val got = df.select(col("id"),
        graft.expressions.TextExpressions.cdcBoundaries(col("t"), 5, 4)
          .as("bs"))
      .as[(Long, Seq[Int])].collect().toMap
    cases.zipWithIndex.foreach { case (s, i) =>
      assert(got(i.toLong).toList == naive(s, 5, 4), s"case $i: $s")
    }
  }

  test("tfidfEmbed: identical term profiles map to identical vectors; " +
    "disjoint vocab stays far") {
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "beta alpha alpha gamma"), // same multiset, other order
      (3L, "delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val v = TextOps.tfidfEmbed(docs, "doc_id", "text", dims = 16)
      .collect().map(r => r.getLong(0) ->
        (1 to 16).map(r.getDouble).toVector).toMap
    def cos(a: Vector[Double], b: Vector[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    assert(v(1L) == v(2L)) // projection is a pure function of tf-idf
    assert(cos(v(1L), v(3L)) < 0.8) // disjoint vocab: uncorrelated
    assert(v(1L).exists(_ != 0.0))
  }

  test("knBigramLogProb: hand-computed probabilities and the " +
    "continuation (san-francisco) effect") {
    // bc: (san,francisco,3) (a,b,1) (c,b,1); c(san)=3, N1+(san·)=1;
    // N1+(·francisco)=1, N1+(·b)=2, N1+(··)=3, V=3
    val train = Seq((1L, "san francisco"), (2L, "san francisco"),
      (3L, "san francisco"), (4L, "a b"), (5L, "c b"))
      .toDF("doc_id", "text")
    def score(docs: Seq[(Long, String)]): Map[Long, Double] =
      TextOps.knBigramLogProb(train, docs.toDF("doc_id", "text"),
        "doc_id", "text")
        .select("doc_id", "avg_logprob").as[(Long, Double)]
        .collect().toMap
    // seen pair: (3−0.75)/3 + 0.75·(1/3)·P_cont(francisco),
    // P_cont(francisco) = (1+0.5)/(3+0.5·4) = 0.3 → p = 0.825
    val sf = score(Seq((10L, "san francisco")))(10L)
    assert(math.abs(sf - math.log(0.825)) < 1e-9)
    // unseen context backs off to P_cont: "francisco" is frequent but
    // completes ONE context; "b" is rarer but completes two → b wins
    val cont = score(Seq((11L, "zzz francisco"), (12L, "zzz b")))
    assert(math.abs(cont(11L) - math.log(0.3)) < 1e-9)
    assert(math.abs(cont(12L) - math.log(0.5)) < 1e-9)
    assert(cont(12L) > cont(11L))
  }

  test("gopherFilter: rule booleans and conjunction, zero-default edges") {
    val docs = Seq(
      (1L, "the cat sat on the mat and it was a fine day for all of " +
        "us to be here together in the sun"), // passes everything
      (2L, ""),                                // empty: keep false
      (3L, ("spam " * 40).trim)                // repetitive: bigram rule
    ).toDF("doc_id", "text")
    val r = docs.select(col("doc_id"),
        TextOps.gopherFilter(col("text")).as("g"))
      .select(col("doc_id"), col("g.ok_n_tokens"), col("g.ok_punct"),
        col("g.ok_top_bigram"), col("g.keep"))
      .as[(Long, Boolean, Boolean, Boolean, Boolean)].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4, x._5))).toMap
    assert(r(1L) == ((true, true, true, true)))
    // empty: token rule fails, punct/bigram zero-default to pass
    assert(r(2L) == ((false, true, true, false)))
    // "spam spam" bigram dominates: top_bigram_frac = 1.0
    assert(r(3L)._3 == false && r(3L)._4 == false)
  }

  test("cdcChunks: chunks tile the doc; boundaries are content-defined " +
    "(insertion-robust)") {
    // deterministic pseudorandom a-z string
    def rnd(n: Int, seed: Long): String =
      (0 until n).map(i => ('a' +
        (math.floorMod(graft.core.Hashing.splitmix64(seed * 1000 + i),
          26L)).toInt).toChar).mkString
    val a = rnd(400, 1)
    val b = a.substring(0, 200) + "INSERTED" + a.substring(200)
    val docs = Seq((1L, a), (2L, b), (3L, ""), (4L, "xy")).toDF(
      "doc_id", "text")
    val ch = Dedup.cdcChunks(docs, "doc_id", "text", k = 8, divisor = 8)
      .select("id", "chunk_start", "chunk_end", "chunk")
      .as[(Long, Long, Long, String)].collect()
    val byId = ch.groupBy(_._1).view
      .mapValues(_.sortBy(_._2).toList).toMap
    // tiling: in-order concat reassembles each doc exactly
    assert(byId(1L).map(_._4).mkString == a)
    assert(byId(2L).map(_._4).mkString == b)
    assert(byId(4L) == List((4L, 1L, 2L, "xy"))) // len < k: one chunk
    assert(!byId.contains(3L))                   // empty doc excluded
    // content-defined: every chunk of A lying strictly after the
    // insertion point survives in B verbatim (boundaries resync) —
    // the property fixed-size blocks lack
    val bChunks = byId(2L).map(_._4).toSet
    val aAfter = byId(1L).filter(_._2 > 208).map(_._4)
    assert(aAfter.nonEmpty && aAfter.forall(bChunks.contains))
    // composition with dedupUnits: an exact duplicate doc keeps nothing
    val dup = Seq((1L, a), (2L, a)).toDF("doc_id", "text")
    val kept = Dedup.dedupUnits(
      Dedup.cdcChunks(dup, "doc_id", "text", k = 8, divisor = 8),
      "id", "chunk_start", "chunk")
      .select("id").as[Long].collect()
    assert(kept.forall(_ == 1L))
  }

  test("extractHtmlText: script/style/comment/tag/entity/ws rules, " +
    "malformed fragments degrade safely") {
    def ext(s: String): String =
      Seq(s).toDF("h").select(TextOps.extractHtmlText(col("h")).as("t"))
        .as[String].collect().head
    // tags → word-boundary spaces
    assert(ext("<p>Hello</p><p>World</p>") == "Hello World")
    // script/style ELEMENTS drop whole, incl. </>-laden code; attrs ok
    assert(ext("<script type=\"x\">if (a < b && c > d) go();</script>" +
      "kept") == "kept")
    assert(ext("<style media=\"all\">p > em { color: #fff; }</style>ok")
      == "ok")
    // non-greedy span: only to the FIRST terminator
    assert(ext("<script>x</script>mid<script>y</script>end") == "mid end")
    // comments drop whole, nested tags inside and all
    assert(ext("a<!-- <b>hidden</b> -->b") == "a b")
    // entity decode, &amp; LAST (single-pass: &amp;lt; → literal &lt;)
    assert(ext("&lt;x&gt; &quot;q&quot; &#39;s&#39;&nbsp;&amp; &amp;lt;")
      == "<x> \"q\" 's' & &lt;")
    // whitespace collapse + trim
    assert(ext("  <div>\n\ta \n b\t</div> ") == "a b")
    // malformed: unclosed script keeps tail text, bare '<' survives
    assert(ext("<script>lost forever") == "lost forever")
    assert(ext("price < 5 and > 2") == "price < 5 and > 2")
    // null propagates
    val nul = Seq(Option.empty[String]).toDF("h")
      .select(TextOps.extractHtmlText(col("h")).as("t"))
      .as[Option[String]].collect().head
    assert(nul.isEmpty)
  }

  test("corpusDiff: added/removed/kept on content, multiplicity-free, " +
      "whitespace variants collapse") {
    import graft.ops.Dedup
    val a = Seq((1L, "alpha"), (2L, "beta"), (3L, "ALPHA  "),
      (4L, "gone")).toDF("doc_id", "text")
    val b = Seq((10L, "alpha"), (11L, "beta two"), (12L, "beta"))
      .toDF("doc_id", "text")
    val got = Dedup.corpusDiff(a, b, "text")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // contents: A = {alpha(×2 incl. ws/case variant), beta, gone};
    // B = {alpha, "beta two", beta}
    assert(got("kept") == ((2L, 9L)))    // alpha(5) + beta(4), B volumes
    assert(got("removed") == ((1L, 4L))) // gone
    assert(got("added") == ((1L, 8L)))   // "beta two"
  }

  test("charStats: hand-computed entropy, uniques, unicode codepoints, " +
      "empty/null -> null") {
    val rows = Seq(Some("aaaa"), Some("abab"), Some("abcd"),
      Some("日本語"), Some(""), None).toDF("t")
      .select(TextOps.charStats(col("t")).as("cs"))
      .select(col("cs.entropy_bits"), col("cs.n_unique"),
        col("cs.n_chars"))
      .as[(Option[Double], Option[Int], Option[Int])].collect()
    // "aaaa": one symbol, entropy 0
    assert(rows(0) == ((Some(0.0), Some(1), Some(4))))
    // "abab": two equiprobable symbols, exactly 1 bit
    assert(rows(1) == ((Some(1.0), Some(2), Some(4))))
    // "abcd": four equiprobable symbols, exactly 2 bits
    assert(rows(2) == ((Some(2.0), Some(4), Some(4))))
    // unicode counts CODEPOINTS, not bytes
    assert(rows(3)._2 == Some(3) && rows(3)._3 == Some(3))
    assert(math.abs(rows(3)._1.get - math.log(3.0) / math.log(2.0))
      < 1e-12)
    // empty and null both yield null
    assert(rows(4) == ((None, None, None)))
    assert(rows(5) == ((None, None, None)))
  }

  test("editDistanceVerify: banded distance matches full Levenshtein, " +
      "over-threshold and length-mismatch pairs drop, order-sensitivity") {
    val docs = Seq(
      (1L, "the quick brown fox"),
      (2L, "the quick brown fix"),   // dist 1 from doc 1
      (3L, "fox brown quick the"),   // same token SET as 1, shuffled
      (4L, "entirely different content that is long"),
      (5L, "xy")).toDF("id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L))
      .toDF("id_a", "id_b")
    val got = graft.ops.Dedup.editDistanceVerify(docs, "id", "text",
        pairs, maxDist = 12)
      .select("id_a", "id_b", "dist", "sim")
      .as[(Long, Long, Long, Double)].collect().toMap2
    // (1,2): one substitution; sim rounded to 6 dp
    assert(got((1L, 2L)) ==
      ((1L, math.rint((1.0 - 1.0 / 19) * 1e6) / 1e6)))
    // (1,3) same Jaccard-1 token set but 12 edits away — kept at the
    // bound, which is exactly what a set-similarity verify cannot see
    assert(got.contains((1L, 3L)) == (reference("the quick brown fox",
      "fox brown quick the") <= 12))
    // (1,4) and (1,5): beyond the band (length gap alone > 12) — gone
    assert(!got.contains((1L, 4L)) && !got.contains((1L, 5L)))
    // banded result == full-DP reference for everything kept
    got.foreach { case ((a, b), (d, _)) =>
      val texts = docs.as[(Long, String)].collect().toMap
      assert(d == reference(texts(a), texts(b)), s"pair ($a,$b)")
    }
  }

  test("goodTuringClasses: textbook table on a hand-counted stream, " +
      "high-r gap stays null") {
    val toks = Seq("a", "a", "a", "b", "b", "c", "d", "e").toDF("t")
    val got = graft.ops.TextOps.goodTuringClasses(toks, "t")
      .as[(Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // counts: a=3 b=2 c,d,e=1 -> N_1=3, N_2=1, N_3=1
    assert(got == Map(
      1L -> ((3L, Some(math.rint(2.0 * 1 / 3 * 1e6) / 1e6))),
      2L -> ((1L, Some(3.0))),
      3L -> ((1L, None))))
  }

  test("dedupByPairsBest: max score wins the cluster, ties to min id, " +
      "singletons survive with n_members=1") {
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 9L), (4L, 2L), (5L, 7L))
      .toDF("id", "score")
    // cluster {1,2,3} (chain), cluster {4} via no pairs, 5 singleton
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = graft.ops.Dedup.dedupByPairsBest(docs, "id", pairs, "score")
      .as[(Long, Long)].collect().toMap
    // score 9 shared by 2 and 3 -> min id 2 wins; 4 and 5 keep selves
    assert(got == Map(2L -> 3L, 4L -> 1L, 5L -> 1L))
  }

  test("groupMinhashOverlap: identical groups match on every " +
      "permutation, disjoint groups on few; union-composability") {
    val perms = (0 until 16).map(j =>
      ((j * 2654435761L + 1L) % 1000000007L,
        (j * 40503L + 7L) % 1000000007L))
    def elems(rows: (String, Long)*) = rows.toDF("grp", "h")
    val a = (1L to 300L).map(i => ("a", i * 7919L % 1000000007L))
    val b = a.map { case (_, h) => ("b", h) }           // identical
    val c = (1L to 300L).map(i => ("c", (i * 7919L + 3L) % 1000000007L))
    val got = graft.ops.Dedup.groupMinhashOverlap(
        elems(a ++ b ++ c: _*), "grp", "h", perms)
      .select("grp_a", "grp_b", "n_match", "est_jaccard")
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got(("a", "b")) == ((16L, 1.0)))
    assert(got(("a", "c"))._1 < 8L) // disjoint sets: chance matches only
    // union composability: sig(a ∪ c) = elementwise min — overlap of
    // (a∪c) with a must be ≥ a's share of the union (J ≈ 1/2)
    val u = (a ++ c).map { case (_, h) => ("u", h) }
    val got2 = graft.ops.Dedup.groupMinhashOverlap(
        elems(a ++ u: _*), "grp", "h", perms)
      .select("n_match").as[Long].collect()
    assert(got2.head >= 4L && got2.head <= 14L) // J=1/2 ± sampling
  }

  test("nfcNormalize: composes decomposed sequences, ASCII identity, " +
    "already-composed stable, null preserved; same as java.text.Normalizer") {
    val rows = Seq("éclair Å", "plain ascii",
      "é déjà composed", "mixed éé")
    val got = rows.toDF("t")
      .select(TextOps.nfcNormalize(col("t"))).as[String].collect().toSeq
    val want = rows.map(java.text.Normalizer
      .normalize(_, java.text.Normalizer.Form.NFC))
    assert(got == want)
    assert(got(0) == "éclair Å") // e+U+0301 and A+U+030A compose
    assert(got(1) == "plain ascii")
    assert(got(2) == rows(2)) // NFC is idempotent on composed input
    val n = Seq((1L, null: String)).toDF("id", "t")
      .select(TextOps.nfcNormalize(col("t"))).collect().head
    assert(n.isNullAt(0))
  }

  test("fitLangProfiles/rankLangId: df-ranked profiles with the exact " +
    "tie rules; rank-sum argmin classifies; absent grams cost K+1; " +
    "score ties break lang-asc") {
    val corpus = Seq(
      (1L, "aaab", "xx"), (2L, "aaac", "xx"),
      (3L, "zzzb", "yy"), (4L, "zzzc", "yy"))
      .toDF("doc_id", "text", "lang")
    val prof = TextOps.fitLangProfiles(corpus, "text", "lang",
      n = 3, profileK = 2, prefix = 10)
    // xx doc grams: {aaa,aab}, {aaa,aac} → df aaa=2, aab=1, aac=1;
    // top-2 by (df desc, gram asc) = aaa rank 1, aab rank 2
    val px = prof.filter(col("lang") === "xx").orderBy("rank")
      .select("gram", "rank").as[(String, Int)].collect().toSeq
    assert(px == Seq(("aaa", 1), ("aab", 2)))
    val pred = TextOps.rankLangId(
        Seq((10L, "aaab"), (11L, "qqqq")).toDF("doc_id", "text"),
        "doc_id", "text", prof, n = 3, profileK = 2, prefix = 10)
      .as[(Long, String, Long)].collect().map(r => r._1 -> r).toMap
    // doc 10 grams {aaa,aab}: xx = 1+2 = 3; yy = (2+1)+(2+1) = 6 → xx
    assert(pred(10L) == ((10L, "xx", 3L)))
    // doc 11 grams {qqq} unknown everywhere: both langs score K+1 = 3;
    // the (score asc, lang asc) tie rule picks xx
    assert(pred(11L) == ((11L, "xx", 3L)))
  }

  test("blockedWordCount: case-folded set probe, duplicates counted, " +
    "clean and empty text score zero") {
    val got = Seq(
      (1L, "clean words only here"),
      (2L, "FRAK mid frak end"),
      (3L, "smeg"),
      (4L, ""),
      (5L, "fraktal is not frak alone")) // substring must NOT match
      .toDF("doc_id", "t")
      .select(col("doc_id"), TextOps.blockedWordCount(col("t"),
        Seq("frak", "smeg")).as("n"))
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 0, 2L -> 2, 3L -> 1, 4L -> 0, 5L -> 1))
  }

  test("knTrigramLogProb: hand-computed order-3 interpolated KN; " +
    "unseen-context and unseen-middle backoff chains") {
    // train "a b c a b d": trigram types each ×1; c(a b)=2, N1+(ab·)=2;
    // mids(b) = {c, d} → nw3_after=2, n1p_mid=2; bigram types
    // {(a,b),(b,c),(c,a),(b,d)} → N1+(··)=4, V={a,b,c}=3,
    // N1+(·c)=1 → pcont(c) = 1.5/6 = 0.25
    val train = Seq((1L, "a b c a b d")).toDF("doc_id", "text")
    val score = Seq((10L, "a b c"), (11L, "z b c"), (12L, "a z q"))
      .toDF("doc_id", "text")
    val got = TextOps.knTrigramLogProb(train, score, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // p2(c|b) = (1−.75)/2 + .75·(2/2)·0.25 = 0.3125
    // p3(c|a,b) = (1−.75)/2 + .75·(2/2)·0.3125 = 0.359375
    assert(got(10L)._2 == 1L)
    assert(math.abs(got(10L)._3 - math.log(0.359375)) < 1e-12)
    // unseen context (z,b) → backs off to p2(c|b)
    assert(math.abs(got(11L)._3 - math.log(0.3125)) < 1e-12)
    // unseen middle z → backs off to pcont(q) = 0.5/6
    assert(math.abs(got(12L)._3 - math.log(0.5 / 6.0)) < 1e-12)
  }

  test("pmiCollocations: hand-counted counts and the exact PMI formula; " +
    "minCount gates") {
    // corpus: "a b a b" + "a c" → bigrams: (a b)×2, (b a)×1, (a c)×1;
    // tokens: a×3, b×2, c×1; N_big = 4, N_tok = 6
    val docs = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "t")
    val got = TextOps.pmiCollocations(docs, "doc_id", "t", minCount = 2)
      .as[(String, String, Long, Long, Long, Double)].collect()
    assert(got.length == 1) // only (a, b) reaches count 2
    val (wa, wb, cab, ca, cb, pmi) = got.head
    assert((wa, wb, cab, ca, cb) == (("a", "b", 2L, 3L, 2L)))
    val want = math.log((2.0 / 4.0) / ((3.0 / 6.0) * (2.0 / 6.0))) /
      math.log(2.0)
    assert(math.abs(pmi - (math.rint(want * 1e6) / 1e6)) < 1e-12)
    // lowering the gate admits the count-1 pairs
    assert(TextOps.pmiCollocations(docs, "doc_id", "t", minCount = 1)
      .count() == 3)
  }

  test("code fences: tag + body extraction, multi-fence docs, empty " +
    "tag, unterminated fence yields nothing, prose backticks survive") {
    val md = Seq(
      (1L, "intro\n```scala\nval x = 1\n```\nmid\n```python\nprint(1)\n```\nend"),
      (2L, "no fences, just `inline code` here"),
      (3L, "open\n```rust\nfn broken() {"), // never closed
      (4L, "```\nplain block\n```")) // empty info tag
      .toDF("doc_id", "md")
    val got = md.select(col("doc_id"),
        TextOps.codeFenceLangs(col("md")).as("ls"),
        TextOps.codeFenceBodies(col("md")).as("bs"))
      .as[(Long, Seq[String], Seq[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((Seq("scala", "python"),
      Seq("val x = 1\n", "print(1)\n"))))
    assert(got(2L) == ((Seq(), Seq())))
    assert(got(3L) == ((Seq(), Seq())))
    assert(got(4L) == ((Seq(""), Seq("plain block\n"))))
  }

  test("hashedEmbedding: unit L2 norm per doc, deterministic, " +
    "token-order-invariant, both hash families; empty docs vanish") {
    import graft.ops.TextOps
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "dog lazy the over jumps fox brown quick the"), // permuted
      (3L, "completely different words entirely"),
      (4L, "   "), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    for (family <- Seq("xxhash", "md5")) {
      val out = TextOps.hashedEmbedding(docs, "doc_id", "text",
          dim = 16, seed = 7, family = family)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      val byDoc = out.groupBy(_._1)
      assert(byDoc.keySet == Set(1L, 2L, 3L), s"$family: ${byDoc.keySet}")
      byDoc.foreach { case (id, rows) =>
        val n2 = rows.map(r => r._3 * r._3).sum
        assert(math.abs(n2 - 1.0) < 1e-4, s"$family doc $id norm² $n2")
        assert(rows.forall(r => r._2 >= 0 && r._2 < 16))
      }
      // a bag embedding ignores token order: docs 1 and 2 identical
      assert(byDoc(1L).map(r => (r._2, r._3)).toSet ==
        byDoc(2L).map(r => (r._2, r._3)).toSet, family)
      // deterministic across runs
      val again = TextOps.hashedEmbedding(docs, "doc_id", "text",
          dim = 16, seed = 7, family = family)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      assert(again.toSet == out.toSet, family)
    }
  }

  /** Textbook full-matrix Levenshtein, the oracle for the banded impl. */
  private def reference(a: String, b: String): Long = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length).toLong
  }

  private implicit class Tup4Map(
      rows: Array[(Long, Long, Long, Double)]) {
    def toMap2: Map[(Long, Long), (Long, Double)] =
      rows.map(r => (r._1, r._2) -> (r._3, r._4)).toMap
  }
}
