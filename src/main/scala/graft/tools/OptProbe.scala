package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Ad-hoc phase-timing probe for the round-14 optimization pass (not
  * part of the driver contract): times the SUB-PHASES of the heavy
  * lifecycle queries (seed save / per-micro-batch maintenance / fold /
  * search) so optimization effort lands where the seconds are.
  * Usage: runMain graft.tools.OptProbe <sfDir> <probe> */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val probe = args.lift(1).getOrElse("q258")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time[A](label: String)(f: => A): A = {
      spark.sparkContext.setJobDescription(label)
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      spark.sparkContext.setJobDescription(null)
      r
    }
    def run(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    spark.range(1000).selectExpr("sum(id)").collect()
    import graft.SparkEntry.{HnswReplay => H}

    probe match {
      case "q258" =>
        import java.nio.file.Files
        (1 to 2).foreach { rep =>
          val root = Files.createTempDirectory(s"probe-q258-$rep")
          val idxPath = root.resolve("idx").toString
          val docs = spark.read.parquet(s"$sfDir/documents.parquet")
            .select(col("doc_id"), col("text"))
          time(s"rep$rep save(full corpus)") {
            graft.ops.TextIndex.save(idxPath, docs, "doc_id", "text")
          }
          Seq(2 -> " updated beta", 3 -> " updated gamma").foreach {
            case (r7, sfx) =>
              val sel = col("doc_id") % 7 === r7
              time(s"rep$rep applyCdc(r7=$r7)") {
                graft.ops.TextIndex.applyCdc(spark, idxPath,
                  docs.filter(sel).select("doc_id"),
                  docs.filter(sel).select(col("doc_id"),
                    concat(col("text"), lit(sfx)).as("text")),
                  "doc_id", "text")
              }
          }
          time(s"rep$rep fold(compactToNextGen)") {
            graft.ops.AnnIndex.compactToNextGen(spark, idxPath,
              graft.ops.TextIndex.compact)
          }
          time(s"rep$rep search") {
            run(graft.ops.TextIndex.search(spark, idxPath,
              "merge window updated", 20))
          }
        }

      case "q256" =>
        import java.nio.file.Files
        (1 to 2).foreach { rep =>
          val root = Files.createTempDirectory(s"probe-q256-$rep")
          val idxPath = root.resolve("idx").toString
          val corpus = spark.read.parquet(s"$sfDir/embeddings.parquet")
            .filter(col("vec_id") % 4 === 1)
            .select("vec_id", "embedding")
          val a = corpus.filter(col("vec_id") % 3 =!= 1)
          time(s"rep$rep saveIndex(seed)") {
            graft.ops.Hnsw.saveIndex(idxPath, a, "vec_id", "embedding",
              H.seed, H.maxLevel, H.m, H.bands, H.bucketFn)
          }
          Seq(1, 5).zipWithIndex.foreach { case (r8, snap) =>
            val batch = corpus.filter(col("vec_id") % 3 === 1 &&
              col("vec_id") % 8 === r8).localCheckpoint(true)
            time(s"rep$rep microbatch$snap insert") {
              val (parts, _) = graft.ops.AnnIndex.load(spark, idxPath)
              val mb = graft.ops.AnnIndex.partBatches(spark, idxPath,
                "members")
              val arrIds = batch.select(col("vec_id"))
                .limit(100001).collect().map(_.get(0)).toIndexedSeq
              val fresh = batch.join(parts("vectors").select("vec_id")
                  .filter(col("vec_id").isin(arrIds: _*)),
                Seq("vec_id"), "left_anti").localCheckpoint(true)
              val (delta, memDelta) =
                graft.ops.Hnsw.insertKnnDeltaIndexed(
                  parts("knn"), parts("members"), parts("memdead"),
                  fresh, "vec_id", "embedding", H.seed, H.maxLevel,
                  H.m, H.bands, H.bucketFn, mb)
              graft.ops.AnnIndex.append(idxPath,
                Map("knn" -> delta.localCheckpoint(true),
                  "vectors" -> fresh, "members" -> memDelta))
            }
          }
          time(s"rep$rep load+read knn") {
            run(graft.ops.AnnIndex.load(spark, idxPath)._1("knn")
              .select(col("lvl"), col("src"), col("dst"), col("c")))
          }
        }

      case "q257" =>
        import java.nio.file.Files
        (1 to 2).foreach { rep =>
          val root = Files.createTempDirectory(s"probe-q257-$rep")
          val idxPath = root.resolve("idx").toString
          val docs = spark.read.parquet(s"$sfDir/documents.parquet")
            .select(col("doc_id"), col("text"))
          time(s"rep$rep save(2/3 corpus)") {
            graft.ops.TextIndex.save(idxPath,
              docs.filter(col("doc_id") % 3 =!= 1), "doc_id", "text")
          }
          Seq(1, 0).foreach { r2 =>
            time(s"rep$rep append(r2=$r2)") {
              graft.ops.TextIndex.append(spark, idxPath,
                docs.filter(col("doc_id") % 3 === 1 &&
                  col("doc_id") % 2 === r2),
                "doc_id", "text")
            }
            time(s"rep$rep fold(r2=$r2)") {
              graft.ops.AnnIndex.compactToNextGen(spark, idxPath,
                graft.ops.TextIndex.compact)
            }
          }
          time(s"rep$rep search") {
            run(graft.ops.TextIndex.search(spark, idxPath,
              "merge window sort", 20))
          }
        }

      case "q230" =>
        (1 to 2).foreach { rep =>
          val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
          val corpus = emb.filter(col("vec_id") % 10 =!= 0)
            .select("vec_id", "embedding")
          val queries = emb.filter(col("vec_id") % 10 === 0)
            .select(col("vec_id").as("q_vec_id"),
              col("embedding").as("q_vec"))
          val adj = time(s"rep$rep buildAdjacency+ckpt") {
            graft.ops.Hnsw.buildAdjacency(corpus, "vec_id",
              "embedding", H.seed, H.maxLevel, H.m, H.bands, H.bucketFn)
              .localCheckpoint(true)
          }
          time(s"rep$rep searchTopK") {
            run(graft.ops.Hnsw.searchTopK(adj, corpus, "vec_id",
              "embedding", queries, "q_vec_id", "q_vec", H.seed,
              H.maxLevel, H.steps, H.ef, H.k))
          }
        }

      case "q254" =>
        (1 to 2).foreach { rep =>
          val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          val eav = graft.ops.TextOps.hashedEmbedding(docs, "doc_id",
            "text", dim = 64, seed = 7, family = "md5")
          val vecs = time(s"rep$rep embed+pivot+ckpt") {
            new graft.ml.EavToVector()
              .setIdCol("doc_id").setDimCol("dim").setValCol("val")
              .setOutputCol("embedding").setDim(64)
              .transform(eav)
              .localCheckpoint(true)
          }
          val cents0 = spark.range(8).select(col("id").as("centroid_id"),
            expr("transform(sequence(0, 63)," +
              " i -> CAST((id * 31 + i * 7) % 17 - 8 AS DOUBLE) / 8.0)")
              .as("c_vec"))
          val cents = time(s"rep$rep kmeans 2 iters") {
            val c = graft.ops.Similarity.kmeansIterate(vecs, "doc_id",
              "embedding", cents0, iters = 2)
            c.collect(); c
          }
          val dupIds = time(s"rep$rep salted pair scan + distinct") {
            val d = graft.ops.Dedup.embeddingNearDupsKmeans(vecs,
                "doc_id", "embedding", threshold = 0.9, cents,
                saltSlices = 32)
              .select(col("id_b").as("doc_id")).distinct()
              .localCheckpoint(true)
            d
          }
          val survivors = vecs.join(dupIds, Seq("doc_id"), "left_anti")
          val labeled = survivors.join(
            docs.select(col("doc_id"),
              (col("lang") === "en").cast("double").as("y")),
            Seq("doc_id"))
          val kept = time(s"rep$rep ridge fit+score") {
            graft.ops.Linalg.ridgeScore(labeled, "doc_id", "embedding",
                "y", lambda = 0.1, eta = 0.5, iters = 30,
                threshold = 0.4)
              .filter(col("keep")).select("doc_id")
              .localCheckpoint(true)
          }
          time(s"rep$rep mixture") {
            import spark.implicits._
            val keptDocs = docs.join(kept, Seq("doc_id"))
            val counts = keptDocs.groupBy("lang")
              .agg(sum(graft.ops.TextOps.tokenCount(col("text"))
                .cast("long")).as("n_tok"))
            val weights = Seq(("en", 4L), ("de", 2L), ("es", 1L),
              ("fr", 1L), ("zh", 1L)).toDF("lang", "w")
            val plan = graft.ops.Sampling.mixturePlan(counts, "lang",
              "n_tok", weights, "lang", "w", budget = 10000L)
            run(graft.ops.Sampling.materializeMixture(keptDocs,
              "doc_id", "lang", plan, seed = 11L))
          }
        }

      case other => sys.error(s"unknown probe $other")
    }
    spark.stop()
  }
}
