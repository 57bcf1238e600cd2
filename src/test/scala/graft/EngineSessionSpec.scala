package graft

import graft.ops.Hnsw

/** The specs run on the engine session every main uses ([[Harness]]):
  * the parquet IN-pushdown bound [[Hnsw.InlineChunk]] chunks against
  * and the UTC session time zone. */
class EngineSessionSpec extends SparkSpec {
  test("the test session carries the engine's IN-pushdown bound " +
    "(= Hnsw.InlineChunk) and UTC") {
    assert(spark.conf.get("spark.sql.parquet.pushdown.inFilterThreshold")
      == Hnsw.InlineChunk.toString)
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }
}
