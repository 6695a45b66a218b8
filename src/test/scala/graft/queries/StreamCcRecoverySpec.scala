package graft.queries

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

/** Fault-tolerance contract of the incremental connected-components
  * engine behind s62: STOPPED and RESTARTED from its checkpoint, the
  * engine resumes from the last COMMITTED star-forest snapshot —
  * components discovered before the restart survive it, edges arriving
  * after it merge into them, and the final labeling equals the
  * one-shot batch connected components over all edges. On top of the
  * restart property this drives the label-bucketed snapshot layout's
  * two scale guarantees: (a) a PARTIAL multi-bucket write (no _SUCCESS
  * marker) is never selected — recovery falls back to the previous
  * committed snapshot; (b) a batch that touches one component leaves
  * every untouched bucket's files BYTE-IDENTICAL (hardlinked, not
  * rewritten) — per-batch write work is proportional to touched
  * components, which is what lets a 100 TB dedup graph accumulate
  * across driver losses without full-state rewrites or edge replay. */
class StreamCcRecoverySpec extends graft.SparkTestBase {
  import spark.implicits._

  private def rmTree(p: Path): Unit =
    StreamingHarness.deleteRecursively(p)

  /** (relative path → bytes) of every data file under a snapshot's
    * bucket=k dir — the byte-identity witness for untouched buckets. */
  private def bucketFiles(snap: Path, k: Int): Map[String, Seq[Byte]] = {
    import scala.jdk.CollectionConverters._
    val d = snap.resolve(s"bucket=$k")
    if (!Files.isDirectory(d)) Map.empty
    else {
      val s = Files.list(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq)
        .toMap
      finally s.close()
    }
  }

  test("incremental CC restarts from the committed star forest") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    val tmp = Files.createTempDirectory("graft_ccrec_")
    try {
      val edges = Files.createDirectories(tmp.resolve("edges")).toString
      val ckpt = tmp.resolve("ckpt").toString
      val state = tmp.resolve("state").toString

      def append(rows: (Long, Long)*): Unit =
        rows.toDF("d1", "d2").coalesce(1).write.mode("append").parquet(edges)
      def committedSnap(): Path = StreamDedupTwins.latestCommittedForest(state)
        .getOrElse(fail("no committed snapshot"))

      // phase 1: two separate chains land before the "crash".
      // Labels: component {1,2,3} → 1 (bucket 1), {10,11,12} → 10
      // (bucket 10) under pmod(label, 16).
      append((1L, 2L), (2L, 3L))
      append((10L, 11L), (11L, 12L))
      val q1 = StreamDedupTwins.incrementalCcQuery(spark, edges, ckpt, state)
      try q1.processAllAvailable() finally q1.stop()
      val mid = StreamDedupTwins.loadStarForest(spark, state)
        .as[(Long, Long)].collect().toMap
      assert(mid == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
        10L -> 10L, 11L -> 10L, 12L -> 10L),
        s"pre-restart forest wrong: $mid")
      val beforeB10 = bucketFiles(committedSnap(), 10)
      assert(beforeB10.nonEmpty, "component {10,11,12} not in bucket 10")

      // phase 2: restart; the new edge touches ONLY component 1, so
      // bucket 10 must carry over byte-identical (hardlink, no rewrite)
      append((1L, 4L))
      val q2 = StreamDedupTwins.incrementalCcQuery(spark, edges, ckpt, state)
      try q2.processAllAvailable() finally q2.stop()
      val grown = StreamDedupTwins.loadStarForest(spark, state)
        .as[(Long, Long)].collect().toMap
      assert(grown == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L, 12L -> 10L),
        s"post-grow forest wrong: $grown")
      val afterB10 = bucketFiles(committedSnap(), 10)
      assert(afterB10 == beforeB10,
        "untouched bucket 10 was rewritten; expected byte-identical " +
          s"carry-over (before=${beforeB10.keys}, after=${afterB10.keys})")

      // phase 2b: a PARTIAL multi-bucket write (higher bid, no _SUCCESS)
      // must never be selected — recovery falls back to the committed one
      val partial = java.nio.file.Paths.get(state, "b999")
      Files.createDirectories(partial.resolve("bucket=0"))
      Files.createDirectories(partial.resolve("bucket=10"))
      Files.write(partial.resolve("bucket=0").resolve("part-junk.parquet"),
        Array[Byte](1, 2, 3))
      val fallback = StreamDedupTwins.loadStarForest(spark, state)
        .as[(Long, Long)].collect().toMap
      assert(fallback == grown,
        s"partial uncommitted b999 leaked into recovery: $fallback")

      // phase 3: restart again past the partial write; a bridging edge
      // must MERGE the pre-restart components (provable only if the
      // persisted forest survived), plus a fresh component
      append((3L, 10L), (20L, 21L))
      val q3 = StreamDedupTwins.incrementalCcQuery(spark, edges, ckpt, state)
      try q3.processAllAvailable() finally q3.stop()
      val got = StreamDedupTwins.loadStarForest(spark, state)
        .as[(Long, Long)].collect().toMap
      val oneShot = graft.core.GraphTools
        .connectedComponents(
          Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (1L, 4L),
            (3L, 10L), (20L, 21L)).toDF("d1", "d2"), "d1", "d2")
        .as[(Long, Long)].collect().toMap
      assert(got == oneShot, s"post-restart labels $got != $oneShot")
      // the merge re-labeled component 10's rows into bucket 1, so
      // bucket 10 must be EMPTIED (a touched bucket whose new content
      // is empty writes no dir), not carried over stale
      assert(bucketFiles(committedSnap(), 10).isEmpty,
        "bucket 10 should vanish after its component merged into bucket 1")
      // the committed state is exactly one snapshot deep, and the
      // partial b999 remnant was pruned with the stale snapshots
      import scala.jdk.CollectionConverters._
      val snaps = Files.list(java.nio.file.Paths.get(state))
        .iterator().asScala.map(_.getFileName.toString).toSeq
      assert(snaps.count(_.startsWith("b")) == 1 &&
        !snaps.exists(_.startsWith(".stage_")),
        s"stale snapshots not pruned: $snaps")

      // phase 4: a bridge across the bucket layout. 4a populates
      // components across half the buckets; 4b's star touches a
      // component in EVERY existing bucket — and must still agree with
      // the one-shot batch answer, with every merged-away bucket
      // vanishing.
      val chains = Seq((100L, 101L), (102L, 103L), (104L, 105L),
        (106L, 107L), (108L, 109L), (110L, 111L), (112L, 113L))
      append(chains: _*)
      val q4 = StreamDedupTwins.incrementalCcQuery(spark, edges, ckpt, state)
      try q4.processAllAvailable() finally q4.stop()
      // existing buckets now: {1, 4} ∪ pmod({100,102,...,112}, 16)
      // = 8 of 16
      val star = Seq((1L, 20L), (1L, 100L), (1L, 102L), (1L, 104L),
        (1L, 106L), (1L, 108L), (1L, 110L), (1L, 112L))
      val existing8 = (Set(1L, 20L) ++ chains.map(_._1))
        .map(l => java.lang.Math.floorMod(l, 16L).toInt)
      append(star: _*)
      val q5 = StreamDedupTwins.incrementalCcQuery(spark, edges, ckpt, state)
      try q5.processAllAvailable() finally q5.stop()
      val allEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L),
        (1L, 4L), (3L, 10L), (20L, 21L)) ++ chains ++ star
      val starGot = StreamDedupTwins.loadStarForest(spark, state)
        .as[(Long, Long)].collect().toMap
      val starExp = graft.core.GraphTools
        .connectedComponents(allEdges.toDF("d1", "d2"), "d1", "d2")
        .as[(Long, Long)].collect().toMap
      assert(starGot == starExp, s"bridge-star labels $starGot != $starExp")
      assert(starGot.values.toSet == Set(1L),
        s"bridge star should collapse everything into component 1")
      for (k <- existing8 - 1)
        assert(bucketFiles(committedSnap(), k).isEmpty,
          s"bucket $k should vanish after the bridge-star merge")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      StreamDedupTwins.dropForestHandle(tmp.resolve("state").toString)
      rmTree(tmp)
    }
  }

  test("a batch over the quotient cap takes the distributed contraction") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    val tmp = Files.createTempDirectory("graft_ccovercap_")
    val state = tmp.resolve("state").toString
    try {
      val edges = Files.createDirectories(tmp.resolve("edges")).toString
      val ckpt = tmp.resolve("ckpt").toString
      def append(rows: Seq[(Long, Long)]): Unit =
        rows.toDF("d1", "d2").coalesce(1).write.mode("append").parquet(edges)
      def run(): Map[Long, Long] = {
        val q = StreamDedupTwins.incrementalCcQuery(spark, edges, ckpt, state)
        try q.processAllAvailable() finally q.stop()
        StreamDedupTwins.loadStarForest(spark, state).as[(Long, Long)].collect().toMap
      }
      // a trickle batch: component {1,2} → bucket 1, {5,6} → bucket 5
      val seed = Seq((1L, 2L), (5L, 6L))
      append(seed)
      assert(run() == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L))
      // one batch of cap + 1 edges: cap disjoint pairs labelled into
      // bucket 0 (min ids 1024 + 16i), plus a bridge merging {5,6}
      // into {1,2}, so bucket 5 is merged away
      val cap = StreamDedupTwins.ccQuotientMaxEdges
      val overCap = (0L until cap.toLong).map(i => (1024L + 16 * i, 1025L + 16 * i)) :+
        ((2L, 6L))
      assert(overCap.length == cap + 1)
      append(overCap)
      val got = run()
      val oneShot = graft.core.GraphTools
        .connectedComponents((seed ++ overCap).toDF("d1", "d2"), "d1", "d2")
        .as[(Long, Long)].collect().toMap
      assert(got == oneShot, "over-cap labels differ from the one-shot components")
      val snap = StreamDedupTwins.latestCommittedForest(state)
        .getOrElse(fail("no committed snapshot"))
      assert(bucketFiles(snap, 5).isEmpty,
        "bucket 5 should vanish after its component merged into bucket 1")
      assert(bucketFiles(snap, 1).nonEmpty && bucketFiles(snap, 0).nonEmpty)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      StreamDedupTwins.dropForestHandle(state)
      rmTree(tmp)
    }
  }
}
