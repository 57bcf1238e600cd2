package graft.tools

import graft.{Harness, SparkEntry}

/** Dump the bucketed-variant plans (SCALE.md zero-exchange claim). */
object BucketedPlan {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Harness.session(cpus = 4)
    // static plans: the exchanges AQE would otherwise rewrite at runtime
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    SparkEntry.bucketedSetup(spark, sfDir)
    SparkEntry.bucketedQueries.toSeq.sortBy(_._1).foreach {
      case (name, fn) =>
        println(s"\n━━━━━━━━ $name ━━━━━━━━")
        fn(spark).explain("formatted")
    }
    spark.stop()
  }
}
