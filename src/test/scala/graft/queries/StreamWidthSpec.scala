package graft.queries

import StreamingHarness.streamWidth

/** The replay runner's width rule: one task wave per microbatch, the
  * session's task slots capped at 8, unless `SPARK_GRAFT_STREAM_PARTS`
  * pins it. */
class StreamWidthSpec extends graft.SparkTestBase {

  test("unset, the width is the session's slots capped at 8") {
    assert(Seq(1, 4, 8, 32).map(streamWidth(None, _)) == Seq(1, 4, 8, 8))
  }

  test("a set value wins over the slots, in both directions") {
    assert(streamWidth(Some("8"), 4) == 8)
    assert(streamWidth(Some("16"), 32) == 16)
    assert(streamWidth(Some("2"), 4) == 2)
  }

  test("a non-positive or non-numeric value fails with the knob's contract") {
    for (bad <- Seq("0", "-1", "x")) {
      val e = intercept[IllegalArgumentException](streamWidth(Some(bad), 4))
      assert(e.getMessage.contains(
        s"SPARK_GRAFT_STREAM_PARTS must be a positive integer, got '$bad'"))
      assert(e.getMessage.contains("constant across a query's restarts"))
    }
  }

  test("withStreamConf sets the shuffle width to the local[4] session's 4 slots " +
    "and restores it after") {
    val expected = sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "4")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try {
      val inside = StreamingHarness.withStreamConf(spark)(
        spark.conf.get("spark.sql.shuffle.partitions"))
      assert(inside == expected)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "3")
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }
}
