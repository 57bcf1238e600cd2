package graft.tools

import graft.{Harness, SparkEntry}

/** Dump formatted physical plans for the driver-contract queries —
  * the "is this the plan you'd want at 100 TB" review loop.
  * Usage: runMain graft.tools.Plans <sfDir> [query ...] */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val which = args.drop(1).toSet
    val spark = Harness.session(cpus = 4)
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (which.isEmpty || which.contains(name)) {
        println(s"\n━━━━━━━━ $name ━━━━━━━━")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable =>
          println(s"PLAN FAILED: ${e.getMessage}")
        }
      }
    }
    spark.stop()
  }
}
