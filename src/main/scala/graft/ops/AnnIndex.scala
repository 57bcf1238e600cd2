package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.json4s.{JArray, JInt, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods

/** Params-as-data persistence for ANN index artifacts — the
  * first-class save/load surface the index family was missing: the
  * HNSW directed kNN / adjacency ([[Hnsw]]), IVF centroids, PQ
  * codebooks and int8 scale tables are all plain DataFrames, so an
  * index "file" is a directory of parquet part tables plus one small
  * JSON manifest, mirroring the `graft.ml` stages' persistence pattern
  * (everything the loader needs is DATA; no JVM serialization, any
  * engine can read an index back).
  *
  * Layout: `path/<part>/b<i>/` parquet per part BATCH (b0 at save,
  * b1.. appended) and `path/_manifest/manifest.json`: the params, and
  * per part its upsert key columns and the schema of every batch as
  * written. The manifest is written LAST and committed by its
  * `_SUCCESS` marker, so a torn save has no committed manifest and
  * `load` fails loudly. It is read and written on the driver through
  * the Hadoop `FileSystem` API, and readers scan each batch with its
  * recorded schema: opening, loading and committing a store run no
  * Spark job of their own (the log carries schema and table
  * properties so readers never infer them from files — the Delta Lake
  * design). Every append writes its bumped manifest as a NEW
  * `_manifest-v(N+1)/` directory (readers resolve the highest
  * committed version; the prior version is kept one cycle, then
  * pruned) — a torn APPEND (delta batch written, manifest version not
  * yet committed) loads the PREVIOUS index intact, the retried append
  * simply overwrites the orphan batch directory, and a load
  * CONCURRENT with an append always sees a whole manifest (there is
  * no delete→rewrite window on a shared manifest file).
  *
  * Incremental maintenance ([[append]]): a part saved with `keys`
  * declared (e.g. the kNN's `(lvl, src)`) is a KEYED part — `load`
  * resolves batches by latest-batch-wins per key group, so a delta
  * batch carrying the full replacement rows for just the groups an
  * [[Hnsw.insertKnnDeltaIndexed]] / [[Hnsw.deleteKnnDeltaIndexed]]
  * touched updates the index at delta-sized write cost instead of
  * re-paying the full kNN rewrite the incremental compute just saved.
  * A row whose NON-KEY columns are all null is a TOMBSTONE: it wins
  * its group like any latest-batch row and then drops, deleting the
  * group (how a deleted vector's (lvl, src) groups leave an
  * append-only store).
  * Parts without `keys` are plain union-of-batches.
  *
  * 100 TB posture: saving is one parquet write per part; appending
  * writes ONLY the delta batch; loading is lazy parquet scans (the
  * keyed resolve is one window over the key columns — the same
  * exchange a fresh build's final rank already pays), so a recall
  * audit against a reloaded index reads only what the search touches.
  *
  * Compaction is GENERATIONAL ([[compactToNextGen]]): a fold writes a
  * complete fresh index under `root/gen-(N+1)/` and the generation's
  * own manifest-last write IS the pointer flip — [[resolveGen]] picks
  * the highest generation whose manifest committed, so a crash at ANY
  * point leaves the previous index live (there is no delete→rename
  * window), and the PRIOR generation is kept one extra cycle for
  * in-flight readers whose lazy scans still point at it. Every reader
  * entry point ([[load]], [[append]], [[maxBatches]]) resolves the
  * generation first, so callers address the stable root path
  * forever. */
object AnnIndex {

  private val partName = "[A-Za-z0-9_]+".r
  private val batchCol = "__ann_batch"
  private val genName = "gen-(\\d+)".r
  private val manifestVName = "_manifest-v(\\d+)".r

  private def requireValidName(n: String): Unit =
    require(partName.matches(n) && !n.startsWith("_"),
      s"AnnIndex part name '$n' must be alphanumeric/underscore and " +
        "not start with '_'")

  /** Run independent part writes as CONCURRENT Spark jobs (guide §2.6:
    * actions are only sequential because the driver calls them
    * sequentially — overlapping lets the next part's tasks back-fill
    * executors freed by the current part's stragglers; an index save
    * writes 4–6 parts whose job tails otherwise serialize). Failures
    * propagate AND cancel the sibling jobs (one job group per
    * invocation): the manifest is still written LAST by the caller, so
    * a failed or torn multi-part write stays invisible to readers.
    *
    * The r14 driver's q256/q257 32-core regression named this pool as
    * a suspect; r15 TESTED that hypothesis at the driver's both core
    * counts (sf0.1, quiet box, same session pairs) and REFUTED it:
    * sequential part writes are 25–30% SLOWER for the fold-heavy BM25
    * lifecycle at local[32] (q257 15.2 s sequential vs 10.1 s 4-way,
    * calib-normalized 21.4 vs 14.9) and still slower at local[8]
    * (12.9 vs 9.9) — local[] caps in-flight TASKS at its core count
    * across all jobs, so overlap hides the small parts' per-job
    * latency without multiplying task threads. The measured r14
    * regression came from per-delta range clustering + per-batch
    * manifest re-reads (both fixed in r15), not from this pool.
    * `spark.graft.index.writeConcurrency` overrides the default 4
    * (a cluster caller can raise it; 1 forces sequential). */
  private def writeAll(spark: SparkSession,
      jobs: Seq[() => Unit]): Unit = {
    val conc = writeConcurrency(spark, jobs.length)
    if (conc <= 1 || jobs.lengthCompare(1) <= 0) jobs.foreach(_.apply())
    else {
      val sc = spark.sparkContext
      val group = "annindex-write-" +
        java.util.UUID.randomUUID().toString
      val pool = java.util.concurrent.Executors.newFixedThreadPool(conc)
      try {
        val futs = jobs.map { j =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = {
              // job group is thread-local: tag every pool thread so a
              // sibling failure can cancel the whole invocation's jobs
              sc.setJobGroup(group, "AnnIndex.writeAll",
                interruptOnCancel = true)
              try j() finally sc.clearJobGroup()
            }
          })
        }
        awaitAll(futs, () => sc.cancelJobGroup(group))
      } finally pool.shutdownNow()
    }
  }

  /** Wait for every part write, rethrowing the first failure. ANY
    * failure — a failed write (its cause is rethrown), a cancelled
    * future, an interrupt of the waiting thread, an Error — first runs
    * `cancel`, which stops the siblings' jobs, not just their threads. */
  private[graft] def awaitAll(
      futs: Seq[java.util.concurrent.Future[Unit]],
      cancel: () => Unit): Unit =
    try futs.foreach(_.get())
    catch {
      case e: Throwable =>
        cancel()
        throw (e match {
          case ee: java.util.concurrent.ExecutionException
              if ee.getCause != null => ee.getCause
          case other => other
        })
    }

  private val WriteConcurrencyKey = "spark.graft.index.writeConcurrency"

  private def writeConcurrency(spark: SparkSession, n: Int): Int = {
    val conf = spark.conf.get(WriteConcurrencyKey, "").trim
    if (conf.isEmpty) math.min(n, 4)
    else {
      val c = conf.toIntOption
      require(c.isDefined,
        s"$WriteConcurrencyKey must be an integer, got '$conf'")
      math.max(1, math.min(c.get, n))
    }
  }

  /** One part's manifest entry: its upsert key columns (comma-joined,
    * "" = un-keyed) and the schema of every batch as written — b<i>'s
    * schema is `schemas(i)`, so the batch count is `schemas.size`. */
  private final case class PartEntry(part: String, keyCols: String,
      schemas: Seq[StructType]) {
    def batches: Int = schemas.size
  }

  private val ManifestFile = "manifest.json"

  /** Commit one manifest version: `dir/manifest.json` (params plus
    * every part's `batches`, `key_cols` and per-batch schemas), then
    * the `_SUCCESS` marker LAST — the marker is the commit, so a torn
    * write is an uncommitted version readers never resolve. Written on
    * the driver through the Hadoop `FileSystem` API: no Spark job. A
    * leftover directory (a torn earlier attempt) is replaced whole. */
  private def writeManifest(spark: SparkSession, dir: String,
      entries: Seq[PartEntry], params: Map[String, String]): Unit = {
    val json = JObject(
      "params" -> JObject(params.toSeq.sortBy(_._1).map {
        case (k, v) => k -> (JString(v): JValue)
      }: _*),
      "parts" -> JArray(entries.sortBy(_.part).map { e =>
        JObject(
          "part" -> JString(e.part),
          "batches" -> JInt(e.batches),
          "key_cols" -> JString(e.keyCols),
          "schemas" ->
            JArray(e.schemas.map(s => JsonMethods.parse(s.json)).toList))
      }.toList))
    val (fs, dirP) = hadoopFs(spark, dir)
    fs.delete(dirP, true)
    val out = fs.create(new Path(dirP, ManifestFile), false)
    try out.write(JsonMethods.compact(JsonMethods.render(json))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.create(new Path(dirP, "_SUCCESS"), false).close()
  }

  /** A batch's schema as a reader of its parquet files resolves it:
    * file relations are all-nullable, so the recorded schema is the
    * written one with every field, element and value made nullable. */
  private def asRead(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asRead(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(asRead(e), containsNull = true)
    case MapType(k, v, _) =>
      MapType(asRead(k), asRead(v), valueContainsNull = true)
    case other => other
  }

  private def batchSchema(df: DataFrame): StructType =
    asRead(df.schema).asInstanceOf[StructType]

  /** Manifests are VERSIONED like generations: a fresh [[save]] writes
    * `_manifest` (version 0); every [[append]] writes the bumped
    * manifest as a NEW `_manifest-v(N+1)` directory and only then
    * prunes versions older than the prior one — readers resolve the
    * highest committed version, so a load concurrent with an append
    * sees either the pre-append or the post-append index, never a
    * missing/uncommitted manifest (the delete→rewrite window a
    * `mode("overwrite")` of one shared `_manifest` dir would open:
    * a concurrent reader could silently fall back a generation, or
    * fail outright on a never-compacted root). Committed versions
    * under `dir`, as (version, concrete directory). */
  private def committedManifests(fs: FileSystem, dir: String)
      : Seq[(Int, String)] = {
    val p = new Path(dir)
    val v0 =
      if (fs.exists(new Path(s"$dir/_manifest/_SUCCESS")))
        Seq(0 -> s"$dir/_manifest")
      else Seq.empty
    val versioned =
      if (!fs.exists(p)) Seq.empty
      else fs.listStatus(p).toSeq.collect {
        case s if s.isDirectory =>
          s.getPath.getName match {
            case manifestVName(n) if fs.exists(
                new Path(s"$dir/${s.getPath.getName}/_SUCCESS")) =>
              Some(n.toInt -> s"$dir/${s.getPath.getName}")
            case _ => None
          }
      }.flatten
    v0 ++ versioned
  }

  private def hadoopFs(spark: SparkSession, path: String)
      : (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** True once a directory's index layout is COMPLETE: some manifest
    * version committed (the `_SUCCESS` marker [[writeManifest]] writes
    * last). This is the generation-flip test — a torn fold has
    * no committed manifest and is invisible. */
  private def manifestCommitted(fs: FileSystem, dir: String): Boolean =
    committedManifests(fs, dir).nonEmpty

  /** Generation numbers present under `root` (committed or not). */
  private def listGens(fs: FileSystem, root: Path): Seq[Int] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.collect {
      case s if s.isDirectory =>
        s.getPath.getName match {
          case genName(n) => Some(n.toInt)
          case _          => None
        }
    }.flatten

  /** The concrete directory the index at `root` currently lives in:
    * the highest `gen-N/` whose manifest committed, else `root` itself
    * (a never-compacted index IS its own generation — backward
    * compatible with every pre-generational layout). One filesystem
    * listing; no data read. */
  def resolveGen(spark: SparkSession, root: String): String = {
    val (fs, rootP) = hadoopFs(spark, root)
    listGens(fs, rootP).sorted.reverse
      .map(g => s"$root/gen-$g")
      .find(manifestCommitted(fs, _))
      .getOrElse(root)
  }

  /** Current committed generation number (0 = the root layout). */
  def currentGen(spark: SparkSession, root: String): Int = {
    val d = resolveGen(spark, root)
    if (d == root) 0
    else d.substring(d.lastIndexOf("gen-") + 4).toInt
  }

  /** Fold the index at `root` into its NEXT generation: compact the
    * current generation into `root/gen-(N+1)/` (whose manifest-last
    * save commits the flip), then prune generations OLDER than the
    * prior one — the new current and its predecessor both stay on
    * disk, so readers that resolved before the fold keep answering
    * from lazy scans for a full extra cycle. Crash-safe at every
    * point: an uncommitted `gen-(N+1)` is ignored by [[resolveGen]]
    * and overwritten by the retried fold. `compactFn` defaults to the
    * generic [[compact]]; index families with derived parts
    * (e.g. [[TextIndex.compact]]'s Lucene merge) pass their own. */
  def compactToNextGen(spark: SparkSession, root: String,
      compactFn: (SparkSession, String, String) => Unit =
        compact): Unit = {
    val (fs, rootP) = hadoopFs(spark, root)
    val cur = resolveGen(spark, root)
    val curGen = currentGen(spark, root)
    val next = s"$root/gen-${curGen + 1}"
    val (_, nextP) = hadoopFs(spark, next)
    if (fs.exists(nextP)) fs.delete(nextP, true) // torn prior fold
    compactFn(spark, cur, next)
    require(manifestCommitted(fs, next),
      s"compactToNextGen: fold to $next did not commit a manifest")
    // prune: keep the new current (N+1) and the prior (N); everything
    // older goes — gen dirs below N, and the root layout once the
    // prior generation is itself a gen dir
    listGens(fs, rootP).filter(_ < curGen).foreach { g =>
      fs.delete(new Path(s"$root/gen-$g"), true)
    }
    if (curGen >= 1 && manifestCommitted(fs, root)) {
      readManifest(spark, root)._1.foreach { e =>
        fs.delete(new Path(s"$root/${e.part}"), true)
      }
      // every manifest version of the retired root layout goes
      committedManifests(fs, root).foreach { case (_, d) =>
        fs.delete(new Path(d), true)
      }
      fs.delete(new Path(s"$root/_manifest"), true)
    }
  }

  /** The highest committed manifest version under `path`, as its
    * part entries and params. Fails loudly, naming the path, when no
    * version committed (not an index, or a torn save), and naming the
    * manifest file when it cannot be read or parsed as a manifest. */
  private def readManifest(spark: SparkSession, path: String)
      : (Seq[PartEntry], Map[String, String]) = {
    val (fs, _) = hadoopFs(spark, path)
    val dir = committedManifests(fs, path).sortBy(-_._1).headOption
      .map(_._2).getOrElse(throw new IllegalArgumentException(
        s"AnnIndex: no committed manifest under $path (not an index, " +
          "or a torn save)"))
    val file = new Path(dir, ManifestFile)
    val (entries, params) =
      try {
        val in = fs.open(file)
        try decodeManifest(new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8))
        finally in.close()
      } catch {
        case scala.util.control.NonFatal(e) =>
          throw new IllegalStateException(
            s"AnnIndex: manifest $file is unreadable: ${e.getMessage}", e)
      }
    // re-validate what we read: a corrupted/crafted manifest must not
    // be able to point part reads at arbitrary relative paths
    entries.foreach(e => requireValidName(e.part))
    (entries, params)
  }

  private def decodeManifest(text: String)
      : (Seq[PartEntry], Map[String, String]) = {
    def bad(what: String) = throw new IllegalStateException(what)
    def str(v: JValue, what: String): String = v match {
      case JString(x) => x
      case _          => bad(s"$what is not a string")
    }
    val root = JsonMethods.parse(text)
    val params = root \ "params" match {
      case JObject(kvs) => kvs.map { case (k, v) => k -> str(v, k) }.toMap
      case _            => bad("no params object")
    }
    val entries = root \ "parts" match {
      case JArray(ps) => ps.map { p =>
        val name = str(p \ "part", "part")
        val schemas = p \ "schemas" match {
          case JArray(ss) => ss.map(j => DataType.fromJson(
            JsonMethods.compact(JsonMethods.render(j)))
            .asInstanceOf[StructType])
          case _ => bad(s"part '$name' has no schemas array")
        }
        if (p \ "batches" != JInt(schemas.size))
          bad(s"part '$name' batches != its ${schemas.size} schemas")
        PartEntry(name, str(p \ "key_cols", "key_cols"), schemas)
      }
      case _ => bad("no parts array")
    }
    (entries, params)
  }

  /** Write a fresh index: every part as batch `b0`, then the manifest
    * (params, keys and each part's b0 schema) LAST. `keys(part)`
    * declares the upsert key columns that make the part appendable via
    * [[append]] (must be a subset of the part's columns); undeclared
    * parts are plain union-of-batches. */
  def save(path: String, parts: Map[String, DataFrame],
      params: Map[String, String],
      keys: Map[String, Seq[String]] = Map.empty): Unit = {
    require(parts.nonEmpty, "AnnIndex.save: no part tables")
    parts.keys.foreach(requireValidName)
    keys.foreach { case (n, ks) =>
      require(parts.contains(n),
        s"AnnIndex.save: keys declared for unknown part '$n'")
      require(ks.nonEmpty, s"AnnIndex.save: empty key list for '$n'")
      val cols = parts(n).columns.toSet
      ks.foreach(k => require(cols.contains(k),
        s"AnnIndex.save: key '$k' not a column of part '$n'"))
      require(ks.size < cols.size,
        s"AnnIndex.save: part '$n' needs at least one non-key column " +
          "(tombstones are all-null non-key rows)")
    }
    val spark = parts.head._2.sparkSession
    // a fresh save writes the LITERAL path; refuse if a committed
    // generation already shadows it (readers resolve to the gen dir,
    // so the save would be silently invisible)
    require(resolveGen(spark, path) == path,
      s"AnnIndex.save: $path already has committed generations — " +
        "append/compactToNextGen maintain a generational index; a " +
        "fresh save needs a fresh root")
    writeAll(spark, parts.toSeq.sortBy(_._1).map { case (name, df) =>
      () => df.write.mode("overwrite").parquet(s"$path/$name/b0")
    })
    writeManifest(spark, s"$path/_manifest",
      parts.toSeq.map { case (n, df) =>
        PartEntry(n, keys.get(n).map(_.mkString(",")).getOrElse(""),
          Seq(batchSchema(df)))
      }, params)
  }

  /** Delta-sized incremental write: each delta part lands as the next
    * batch directory of an EXISTING part, then the manifest is
    * rewritten LAST with the bumped batch counts. Keyed parts take
    * full replacement rows per touched key group (plus all-null-non-key
    * tombstones for deleted groups); un-keyed parts take plain
    * additional rows. Write cost is the delta, never the index. */
  def append(root: String, deltaParts: Map[String, DataFrame]): Unit = {
    require(deltaParts.nonEmpty, "AnnIndex.append: no delta parts")
    val spark = deltaParts.head._2.sparkSession
    appendTo(open(spark, root), deltaParts)
    ()
  }

  /** [[append]] against an OPEN handle: skips the per-call generation
    * resolve and manifest read (the handle already carries both), and
    * returns the successor handle so a maintenance loop chains delete →
    * insert → compact probes off ONE store snapshot per micro-batch. */
  def appendTo(store: Store, deltaParts: Map[String, DataFrame])
      : Store = {
    require(deltaParts.nonEmpty, "AnnIndex.append: no delta parts")
    val spark = store.spark
    val path = store.path
    val byName = store.entries.map(e => e.part -> e).toMap
    deltaParts.foreach { case (n, df) =>
      requireValidName(n)
      require(byName.contains(n),
        s"AnnIndex.append: part '$n' not in the saved index " +
          s"(${store.entries.map(_.part).mkString(", ")})")
      // schema drift fails at APPEND time, not at some future load's
      // unionByName — the batch directories of one part must stay
      // column-compatible forever. The manifest records the schema of
      // the part's last batch, so this reads no file.
      val stored = byName(n).schemas.last.fieldNames.toSet
      require(df.columns.toSet == stored,
        s"AnnIndex.append: part '$n' delta columns " +
          s"${df.columns.sorted.mkString("[", ",", "]")} != stored " +
          s"${stored.toSeq.sorted.mkString("[", ",", "]")}")
    }
    writeAll(spark, deltaParts.toSeq.sortBy(_._1).map { case (name, df) =>
      () => df.write.mode("overwrite")
        .parquet(s"$path/$name/b${byName(name).batches}")
    })
    // the bumped manifest lands as a NEW version directory (its own
    // _SUCCESS commits it), then versions older than the prior one are
    // pruned — a concurrent load resolves pre- or post-append state,
    // never a mid-rewrite hole (the generational discipline, applied
    // to the manifest itself; the prior version stays one cycle for
    // in-flight readers)
    val (fs, _) = hadoopFs(spark, path)
    val versions = committedManifests(fs, path).map(_._1)
    val cur = if (versions.isEmpty) 0 else versions.max
    val bumped = store.entries.map { e =>
      deltaParts.get(e.part).fold(e)(df =>
        e.copy(schemas = e.schemas :+ batchSchema(df)))
    }
    writeManifest(spark, s"$path/_manifest-v${cur + 1}", bumped,
      store.params)
    versions.filter(_ < cur).foreach { v =>
      val d = if (v == 0) s"$path/_manifest" else s"$path/_manifest-v$v"
      fs.delete(new Path(d), true)
    }
    new Store(spark, path, bumped, store.params)
  }

  /** Batch-resolved part relations for a manifest already in hand:
    * plain union for un-keyed parts; latest-batch-wins per key group
    * then tombstone drop for keyed parts. Lazy scans throughout, each
    * batch with its recorded schema (no schema-inference job). */
  private def partsFrom(spark: SparkSession, path: String,
      entries: Seq[PartEntry]): Map[String, DataFrame] =
    entries.map { case e @ PartEntry(name, keyCols, schemas) =>
      val union = schemas.zipWithIndex.map { case (schema, b) =>
        spark.read.schema(schema).parquet(s"$path/$name/b$b")
          .withColumn(batchCol, lit(b))
      }.reduce(_ unionByName _)
      val resolved =
        if (keyCols.isEmpty || e.batches == 1) {
          if (keyCols.isEmpty) union.drop(batchCol)
          else dropTombstones(union, keyCols).drop(batchCol)
        } else {
          val keys = keyCols.split(",").toSeq
          val w = Window.partitionBy(keys.map(col): _*)
          dropTombstones(
            union.withColumn("__mb", max(col(batchCol)).over(w))
              .filter(col(batchCol) === col("__mb"))
              .drop("__mb"),
            keyCols).drop(batchCol)
        }
      name -> resolved
    }.toMap

  /** An OPEN index: generation resolved and manifest read ONCE, part
    * relations and params derived from that snapshot. The maintenance
    * loops open one handle per micro-batch where they previously paid
    * a fresh resolveGen + manifest read for EVERY load / partBatches /
    * maxBatches / append call in the batch (pure per-batch fixed
    * cost, guide §1.2). Opening reads one small JSON file on the
    * driver and building `parts` reads no file footer, so neither
    * runs a Spark job.
    * Handles are snapshots: [[appendTo]] returns the successor handle;
    * a stale handle keeps reading its own committed state (the same
    * guarantee concurrent readers already have). */
  final class Store private[AnnIndex] (val spark: SparkSession,
      val path: String, private[AnnIndex] val entries: Seq[PartEntry],
      val params: Map[String, String]) {
    /** (part, batches, key_cols) per part, as committed. */
    val manifest: Seq[(String, Int, String)] =
      entries.map(e => (e.part, e.batches, e.keyCols))
    /** Batch-resolved part relations (see [[load]]). */
    lazy val parts: Map[String, DataFrame] =
      partsFrom(spark, path, entries)
    /** The schema recorded for each batch of `part`, b0 first. */
    private[graft] def batchSchemas(part: String): Seq[StructType] =
      entries.find(_.part == part).map(_.schemas).getOrElse(
        throw new IllegalArgumentException(
          s"Store.batchSchemas: no part '$part' in " +
            s"(${manifest.map(_._1).mkString(", ")})"))
    def partBatches(part: String): Int =
      manifest.find(_._1 == part).map(_._2).getOrElse(
        throw new IllegalArgumentException(
          s"Store.partBatches: no part '$part' in " +
            s"(${manifest.map(_._1).mkString(", ")})"))
    def maxBatches: Int = manifest.map(_._2).max
    def partKeys: Map[String, Seq[String]] = manifest.collect {
      case (n, _, ks) if ks.nonEmpty => n -> ks.split(",").toSeq
    }.toMap
  }

  /** Open the index at `root`: ONE generation resolve + ONE manifest
    * read backing every accessor on the returned handle. */
  def open(spark: SparkSession, root: String): Store = {
    val path = resolveGen(spark, root)
    val (entries, params) = readManifest(spark, path)
    new Store(spark, path, entries, params)
  }

  /** Read the index back: batches resolved per the manifest — plain
    * union for un-keyed parts; latest-batch-wins per key group then
    * tombstone drop for keyed parts. Lazy scans throughout. */
  def load(spark: SparkSession, root: String)
      : (Map[String, DataFrame], Map[String, String]) = {
    val s = open(spark, root)
    (s.parts, s.params)
  }

  /** Fold an appended index back to single-batch form: load (batches
    * resolved, tombstones dropped) and re-save to `dstPath` with the
    * same keys and params. Run it when the batch list grows past the
    * point where load's per-batch scans + the keyed window outweigh a
    * rewrite — the standard LSM-ish compaction trade, expressed as
    * the two existing primitives so there is nothing new to trust.
    * dst must differ from src (a self-overwrite would read its own
    * partially-deleted inputs). */
  def compact(spark: SparkSession, srcRoot: String, dstPath: String)
      : Unit = {
    val srcPath = resolveGen(spark, srcRoot)
    require(srcPath != dstPath,
      "AnnIndex.compact: dstPath must differ from srcPath")
    val src = open(spark, srcPath)
    save(dstPath, src.parts, src.params, src.partKeys)
  }

  /** The upsert-key declaration of every keyed part, as saved. */
  def partKeys(spark: SparkSession, root: String)
      : Map[String, Seq[String]] =
    open(spark, root).partKeys

  /** Largest batch-directory count across parts — the compaction
    * trigger signal (read cost grows with this number, measured in
    * bench/ANN_LOAD_CURVE_SF1_r12.json). One small manifest read on
    * the driver. */
  def maxBatches(spark: SparkSession, root: String): Int =
    open(spark, root).maxBatches

  /** Batch-directory count of ONE part — the monotone per-part write
    * counter incremental maintainers stamp their rows with (the
    * [[graft.ops.Hnsw]] membership ledger's `mb`). One manifest read. */
  def partBatches(spark: SparkSession, root: String,
      part: String): Int =
    open(spark, root).partBatches(part)

  /** Tombstone rows (all non-key columns null) delete their group. */
  private def dropTombstones(df: DataFrame, keyCols: String)
      : DataFrame = {
    val keys = keyCols.split(",").toSet
    val nonKey = df.columns.filter(c => c != batchCol && !keys.contains(c))
    if (nonKey.isEmpty) df
    else df.filter(nonKey.map(c => col(c).isNotNull).reduce(_ || _))
  }
}
