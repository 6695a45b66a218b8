package graft.queries

import java.nio.file.Files

/** A coarsened replay must run at least two microbatches, or its
  * batching-independence argument is never exercised. The runner
  * checks this from the commit log and names the row that failed. */
class ReplayGuardSpec extends graft.SparkTestBase {

  test("a coarsened replay of a one-chunk source fails, naming its row") {
    val sf = Files.createTempDirectory("graft_guard_sf_")
    val oneRow = StreamingHarness.ChunkedSource("guardspec_one_row", "t",
      "id BIGINT", (spark, _) => spark.range(1).toDF("id"))
    val in = oneRow.chunkDir(spark, sf.toString)
    try {
      assert(StreamingHarness.listDir(in)
        .count(_.getFileName.toString.startsWith("part-")) == 1)
      val e = intercept[IllegalArgumentException] {
        StreamingHarness.runFileStream(spark, sf.toString, "s0_guard_probe",
            oneRow, mode = "append",
            filesPerTrigger = StreamingHarness.coarseFilesPerTrigger)(
          src => src())(identity)
      }
      assert(e.getMessage == "requirement failed: s0_guard_probe: " +
        "coarsened replay ran 1 committed microbatch(es); >=2 required " +
        "so multi-batch upsert semantics stay exercised", e.getMessage)
    } finally {
      StreamingHarness.deleteRecursively(in)
      StreamingHarness.deleteRecursively(sf)
    }
  }
}
