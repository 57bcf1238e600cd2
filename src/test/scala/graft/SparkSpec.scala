package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, one context): the
  * engine session every main runs on ([[Harness]]) at 4 cores, plus the
  * graft SQL extensions. */
object SparkTestSession {
  lazy val spark: SparkSession = Harness.builder(cpus = 4)
    .appName("graft-test")
    .withExtensions(new graft.GraftExtensions)
    .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  spark.sparkContext.setLogLevel("ERROR")

  /** Order-insensitive DataFrame compare on a sorted-collect. */
  def assertSameRows(actual: DataFrame, expected: Seq[Seq[Any]]): Unit = {
    val got = actual.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    val want = expected.sortBy(_.mkString("|"))
    assert(got == want, s"\n got: ${got.mkString("\n      ")}" +
      s"\nwant: ${want.mkString("\n      ")}")
  }
}
