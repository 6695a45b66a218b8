package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The append-mode replay's flush contract: every row a watermark
  * closes only after the sentinel has arrived (here, every emitted row)
  * comes out of the no-data batch the engine runs at the sentinel's
  * watermark, and the runner's drain waits for that batch, so the
  * idempotent log equals the batch answer at any trigger size, and a
  * failure in that batch fails the row. */
class AppendReplaySpec extends graft.SparkTestBase {

  // 280 events over 4 days in the events replay schema, as 140 pairs
  // 37 minutes apart: each pair is one user's two events 5 minutes
  // apart, so range-join matches happen only inside a pair, and the
  // pairs' event types give matched and unmatched left rows alike.
  // `value` leads because the source range-splits on its first column:
  // its five values make five chunk files, one per event type, so a
  // pair's left and right arrive in different files
  private val synthetic = StreamingHarness.ChunkedSource("appendspec_events", "t",
    StreamingHarness.Events.schema, (spark, _) => spark.range(280).selectExpr(
      "CAST(id % 5 AS DOUBLE) AS value", "id AS event_id", "(id div 2) % 7 AS user_id",
      "element_at(array('signup', 'error', 'click', 'purchase', 'view'), " +
        "CAST(id % 5 + 1 AS INT)) AS event_type",
      "1700000000000000 + ((id div 2) * 37 + (id % 2) * 5) * 60000000 AS ts_us"))

  private def windows(src: () => DataFrame): DataFrame =
    src().groupBy(window(col("ets"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("day"), col("event_type"), col("n"),
        col("sum_value"))

  private def leftOuter(src: () => DataFrame): DataFrame =
    StreamWindowTwins.rangeJoin(src, "left_outer")
      .select(col("user_id"), col("event_id").as("e1"), col("e2"))

  private def withSource[T](body: String => T): T = {
    val sf = Files.createTempDirectory("graft_append_sf_")
    try body(sf.toString) finally {
      StreamingHarness.deleteRecursively(synthetic.chunkDir(spark, sf.toString))
      StreamingHarness.deleteRecursively(sf)
    }
  }

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  test("a tumbling window and a left-outer range join equal the batch " +
    "answer at 1 and at coarse files per trigger") {
    withSource { sf =>
      val batch = () => spark.read.parquet(synthetic.chunkDir(spark, sf).toString)
        .withColumn("ets", expr("timestamp_micros(ts_us)"))
      val lastDay = batch().agg(max(date_trunc("day", col("ets")))).head().get(0)
      val expectWindows = sorted(windows(batch))
      val expectJoin = sorted(leftOuter(batch))
      assert(expectWindows.exists(_.get(0) == lastDay))
      assert(expectJoin.exists(_.isNullAt(2)) && expectJoin.exists(!_.isNullAt(2)),
        "the fixture must hold matched and unmatched lefts")
      for (files <- Seq(1, StreamingHarness.coarseFilesPerTrigger)) {
        val gotWindows = sorted(StreamingHarness.runAppendReplay(spark, sf,
          "s0_append_windows", synthetic, files)(windows)(identity))
        assert(gotWindows == expectWindows, s"windows at $files file(s) per trigger")
        val gotJoin = sorted(StreamingHarness.runAppendReplay(spark, sf,
          "s0_append_left_outer", synthetic, files)(leftOuter)(
          _.filter(col("user_id") >= 0)))
        assert(gotJoin == expectJoin, s"left outer at $files file(s) per trigger")
      }
    }
  }

  test("a failure in the flush batch fails the row") {
    withSource { sf =>
      // no real window closes before the sentinel, so this fires only
      // in the no-data batch after it
      val e = intercept[Exception] {
        StreamingHarness.runAppendReplay(spark, sf, "s0_append_flush_failure",
            synthetic, StreamingHarness.coarseFilesPerTrigger) { src =>
          windows(src).withColumn("n",
            when(col("n") > 0, raise_error(lit("append flush probe"))).otherwise(col("n")))
        }(identity).collect()
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("append flush probe")), e)
    }
  }
}
