package graft.queries

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fault-tolerance contract of the streamed Lloyd rounds behind
  * s65/s66 (the last trained twin whose recovery was argued but not
  * stop/restart-tested, r16 verdict item 2). Three surfaces:
  *
  *  (a) q1 re-delivery — a crash between the relay write and q1's
  *      checkpoint commit re-runs that microbatch; the idempotent
  *      per-bid writer must REPLACE the first attempt's relay files
  *      (same deterministic names, so the restarted q2 sees nothing
  *      new) instead of appending duplicate (cell, pos, q) rows into
  *      the Σq/n sufficient statistics;
  *  (b) q2 re-delivery — same crash window on the statistics query;
  *      the converged-log fold must not double-count the re-written
  *      log batch;
  *  (c) mid-chain restart — re-running a whole round with the same
  *      work dir (the s66 trajectory killed between rounds) resumes
  *      from the checkpoints and reproduces the same centroids.
  *
  * After all three injected faults, the final assignment must equal
  * the batch v_kmeans_lloyd3 answer — the same oracle the s66 row is
  * hash-checked against. */
class StreamTrainedRecoverySpec extends graft.SparkTestBase {

  private val sfDir = sys.props.getOrElse("graft.testdata.dir",
    sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001"))

  private def rmTree(p: Path): Unit =
    StreamingHarness.deleteRecursively(p)

  private def centMap(df: DataFrame): Map[Long, Seq[Double]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap

  /** Delete the HIGHEST-numbered entry in a checkpoint's commits/ dir:
    * the batch's effects (sink files) are on disk but the engine never
    * recorded completion — exactly the crash-between-write-and-commit
    * window, so a restart re-delivers that microbatch. */
  private def dropLatestCommit(ckpt: Path): Unit = {
    val latest = StreamingHarness.listDir(ckpt.resolve("commits"))
      .filter(_.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    Files.delete(latest)
  }

  private def relayFiles(work: Path): Set[String] =
    StreamingHarness.listDir(work.resolve("relay"))
      .map(_.getFileName.toString).toSet

  test("streamed Lloyd rounds survive re-delivery and mid-chain " +
    "restarts and still train the batch centroids") {
    StreamingHarness.withStreamConf(spark) {
      val tmp = Files.createTempDirectory("graft_lloydrec_")
      try {
        val in = StreamingHarness.EmbVec.chunkDir(spark, sfDir)
        val cent0 = VectorOps.ivfSeedCentroids(spark, sfDir)
          .select(col("cid"), col("ce")).localCheckpoint()

        // ---- round 1, clean run ----
        val w1 = tmp.resolve("r1")
        val c1 = centMap(
          StreamTrainedTwins.streamedLloydRound(spark, in, cent0, w1))
        assert(c1.nonEmpty, "round 1 produced no centroids")
        val relayAfterClean = relayFiles(w1)
        assert(relayAfterClean.nonEmpty, "round 1 wrote no relay files")

        // ---- (a) q1 re-delivery: drop its last commit, re-run ----
        dropLatestCommit(w1.resolve("ckpt"))
        val c1a = centMap(
          StreamTrainedTwins.streamedLloydRound(spark, in, cent0, w1))
        assert(relayFiles(w1) == relayAfterClean,
          "re-delivered relay batch appended new files instead of " +
            "replacing its first attempt")
        assert(c1a == c1,
          "q1 re-delivery changed the trained centroids (relay rows " +
            "double-counted into the sufficient statistics)")

        // ---- (b) q2 re-delivery: drop its last commit, re-run ----
        dropLatestCommit(w1.resolve("ckpt2"))
        val c1b = centMap(
          StreamTrainedTwins.streamedLloydRound(spark, in, cent0, w1))
        assert(c1b == c1,
          "q2 re-delivery changed the converged statistics (log batch " +
            "double-counted by the max-bid fold)")

        // ---- (c) mid-chain restart: whole round re-run, same dir ----
        val w2 = tmp.resolve("r2")
        val cent1 = StreamTrainedTwins.streamedLloydRound(
          spark, in, cent0, w1) // resumed handle to round 1's output
        val c2 = centMap(
          StreamTrainedTwins.streamedLloydRound(spark, in, cent1, w2))
        val c2b = centMap(
          StreamTrainedTwins.streamedLloydRound(spark, in, cent1, w2))
        assert(c2b == c2,
          "re-running round 2 from its checkpoints diverged")

        // ---- round 3, then the batch-oracle comparison ----
        val cent2 = StreamTrainedTwins.streamedLloydRound(
          spark, in, cent1, w2)
        val cent3 = StreamTrainedTwins.streamedLloydRound(
          spark, in, cent2, tmp.resolve("r3"))
        val streamed = graft.core.VectorTools.assignCells(
            VectorOps.embSlim(spark, sfDir)
              .select(col("vec_id").as("id"), col("e")),
            cent3)
          .select(col("id").as("vec_id"), col("cell"), col("csim"))
          .orderBy(col("vec_id")).collect().toSeq
        val batch = Registry.all.find(_.name == "v_kmeans_lloyd3").get
          .fn(spark, sfDir).collect().toSeq
        assert(streamed == batch,
          "post-recovery trajectory diverged from batch v_kmeans_lloyd3")
      } finally rmTree(tmp)
    }
  }

  /** Same contract for the OTHER trained-twin shape: s64's
    * single-query converged word-count stream (s47 and s63 share the
    * identical discipline — one streaming aggregation, an idempotent
    * per-bid log, a max-bid/max-seq converged fold). Surfaces:
    *
    *  (a) re-delivered microbatch — the idempotent writer must replace
    *      its first attempt's log files, leaving the converged counts
    *      unchanged;
    *  (b) mid-replay restart — a replay stopped partway through the
    *      corpus and resumed with the same work dir must pick up
    *      exactly the unread chunk files (count state restored from
    *      the state store) and converge to the clean full-corpus
    *      counts.
    *
    * After both, the recovered counts must train the SAME merge table
    * as the batch t_bpe_train oracle row. */
  test("streamed BPE word counts survive re-delivery and mid-replay " +
    "restarts and still train the batch merge table") {
    StreamingHarness.withStreamConf(spark) {
      val tmp = Files.createTempDirectory("graft_bperec_")
      try {
        val shared = StreamingHarness.DocText.chunkDir(spark, sfDir)
        def countsOf(df: DataFrame): Map[String, Long] =
          df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        def logFiles(work: Path): Set[String] =
          StreamingHarness.listDir(work.resolve("log"))
            .map(_.getFileName.toString).toSet

        // ---- clean full run: the reference answer ----
        val wClean = tmp.resolve("clean")
        val full = countsOf(
          StreamTrainedTwins.streamedBpeCounts(spark, shared, wClean))
        assert(full.nonEmpty, "clean run produced no word counts")

        // ---- (a) re-delivered microbatch: drop its last commit ----
        val logAfterClean = logFiles(wClean)
        dropLatestCommit(wClean.resolve("ckpt"))
        val redelivered = countsOf(
          StreamTrainedTwins.streamedBpeCounts(spark, shared, wClean))
        assert(logFiles(wClean) == logAfterClean,
          "re-delivered count batch appended new files instead of " +
            "replacing its first attempt")
        assert(redelivered == full,
          "re-delivery changed the converged word counts")

        // ---- (b) mid-replay restart: half the corpus, then the rest ----
        val in2 = tmp.resolve("in2")
        Files.createDirectories(in2)
        val parts = StreamingHarness.listDir(shared)
          .filter(_.getFileName.toString.startsWith("part-"))
          .sortBy(_.getFileName.toString)
        assert(parts.size >= 2, "need at least two chunk files to stop " +
          "a replay mid-corpus")
        val (firstHalf, rest) = parts.splitAt(parts.size / 2)
        firstHalf.foreach(p => Files.createLink(in2.resolve(p.getFileName), p))
        val wHalf = tmp.resolve("half")
        val partial = countsOf(
          StreamTrainedTwins.streamedBpeCounts(spark, in2, wHalf))
        assert(partial != full,
          "half-corpus run should not already equal the full counts")
        rest.foreach(p => Files.createLink(in2.resolve(p.getFileName), p))
        val resumedDf =
          StreamTrainedTwins.streamedBpeCounts(spark, in2, wHalf)
        assert(countsOf(resumedDf) == full,
          "resuming the stopped replay with the remaining chunks " +
            "diverged from the clean full-corpus counts")

        // ---- batch-oracle comparison: train from recovered counts ----
        val streamedTrain =
          TextOps.bpeTrainFromCounts(spark, resumedDf).collect().toSeq
        val batch = Registry.all.find(_.name == "t_bpe_train").get
          .fn(spark, sfDir).collect().toSeq
        assert(streamedTrain == batch,
          "post-recovery counts trained a different merge table than " +
            "batch t_bpe_train")
      } finally rmTree(tmp)
    }
  }
}
