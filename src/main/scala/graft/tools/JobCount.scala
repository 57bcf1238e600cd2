package graft.tools

import graft.{Harness, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark-job counter for a declared query — the r15 evidence tool for
  * fixed-cost claims the final `explain` cannot show (an index
  * maintenance micro-batch is a CHAIN of driver-issued jobs: manifest
  * reads, guard collects, checkpoints, part writes; removing them
  * changes the JOB COUNT, not the last plan's shape). Runs the query
  * twice with a job-start listener and prints both counts + walls
  * (rep 2 is the steady state).
  * Usage: runMain graft.tools.JobCount <sfDir> <query> (cores from
  * `SPARK_GRAFT_CPUS`) */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = args.lift(1).getOrElse("q256_ann_index_stream")
    val spark = Harness.session(Harness.cpus)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    })
    spark.range(1000).selectExpr("sum(id)").collect() // session warmup
    (1 to 2).foreach { rep =>
      Thread.sleep(300) // let queued listener events land on rep edges
      jobs.set(0)
      val t0 = System.nanoTime()
      Harness.noop(SparkEntry.queries(name)(spark, sfDir))
      Thread.sleep(300)
      println(f"[jobcount] $name rep$rep jobs=${jobs.get()}%d " +
        f"wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
