package graft.queries

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Shared machinery of the streaming replay rows. A table replays as
  * a [[ChunkedSource]]: `chunks` range-split parquet files, written
  * once into a shared immutable cache dir and consumed through the file
  * source, a few files per trigger, like a growing ingest prefix. One
  * runner drives every single-query row ([[runFileStream]], or
  * [[replayInto]] in a caller-owned dir): it starts the row's query
  * under the stream-tuned session conf ([[withStreamConf]]), logs every
  * microbatch idempotently to parquet ([[startLog]],
  * [[writeBatchIdempotent]]), drains it, checks that a coarsened replay
  * ran several microbatches, and folds the re-read log to the row's
  * converged answer, which is pinned before the work dir is deleted.
  * The folds are the two convergence rules of at-least-once
  * re-emission: the latest emission `seq` per key for keyed upsert
  * state ([[latestSeqPerKey]], [[latestMembers]]) and the last
  * microbatch per group for running aggregates ([[latestBidPerKey]]).
  * Two-stage rows relay stage 1's scan-local output through a parquet
  * dir (an append-mode [[startLog]] whose layout is the stage, tailed
  * by [[relayTail]]) and drain the stages in order ([[drain]]).
  * Append-mode watermark rows run on the same runner through
  * [[runAppendReplay]]: a sentinel file pushes the watermark past
  * every real row, and the drain waits for the no-data batch that
  * flushes them. */
private[graft] object StreamingHarness {


  private[graft] val chunks = 8

  /** Files per trigger of a coarsened replay: 4 of the 8 chunk files,
    * so the replay runs at least two microbatches while paying the
    * per-microbatch fixed costs (state-store commit, sink write and
    * rename, incremental planning, offset and commit logs) half as
    * often as one file per trigger. Sound only for rows whose converged
    * answer does not depend on batching: keyed upsert state folded by
    * max seq, or monoid aggregates folded by max bid or overwritten in
    * complete mode. Rows whose batch boundaries matter (TTL firing:
    * s17/s18/s45; watermark-horizon dedup: s29; the batch-size-capped
    * incremental CC: s62) and each family's per-file fidelity row (s4,
    * s8, s11, s19, s20, s25, s48) take one file per trigger. The
    * runner asserts that a coarsened replay committed >= 2 microbatches
    * ([[requireMultiBatch]]), so it can never silently collapse to a
    * single batch. */
  private[graft] val coarseFilesPerTrigger = 4

  /** Assert a coarsened replay of row `what` actually ran ≥2 committed
    * microbatches, from the engine's own commit log under `ckpt` (works
    * for every output mode). */
  private[graft] def requireMultiBatch(ckpt: java.nio.file.Path,
                                       what: String): Unit = {
    val commits = listDir(ckpt.resolve("commits"))
      .count(_.getFileName.toString.forall(_.isDigit))
    require(commits >= 2,
      s"$what: coarsened replay ran $commits committed microbatch(es); " +
        ">=2 required so multi-batch upsert semantics stay exercised")
  }

  /** State-store and shuffle width of the replay runs: one task wave
    * per microbatch. Every state partition is one task per microbatch,
    * and a stage-2 task's fixed cost is ~74 ms (cold_keys Spark event
    * logs, 8 partitions: ~31 ms task deserialization plus ~40-50 ms of
    * state-store open and commit, per-task operator codegen and the
    * sink writer) against ~130 ms of per-key work per whole batch. So a
    * width above the session's task slots buys a second wave of that
    * fixed cost and no parallelism: on a 4-core host, perfbench
    * cold_keys ran 120 tasks in 8-wide batches and 72 at width 4, and
    * its upserts/s rose 12.7k → 16.2k (10/10 pairs, together with the
    * join's key-column grouping). Widening past 8 LOSES even with the
    * slots for it: 8/16/32 over six representative replay rows
    * (min-of-3, sf0.1) read totals 28.9 / 30.5 / 52.2 s, because each
    * partition's per-batch commit (a RocksDB instance and a changelog
    * file) grows faster than the critical path shrinks. A real cluster
    * against object storage sizes this to executor slots too, hence
    * the env knob. The width must stay constant across a query's
    * restarts: state partitioning is fixed at the first batch, and the
    * idempotent sink's stable part count rides the width. The default
    * follows the session's slots, so a restart under a different slot
    * count must pin `SPARK_GRAFT_STREAM_PARTS`. */
  private[graft] def streamWidth(spark: SparkSession): Int =
    streamWidth(sys.env.get("SPARK_GRAFT_STREAM_PARTS"),
      spark.sparkContext.defaultParallelism)

  /** The width rule: `raw` (the `SPARK_GRAFT_STREAM_PARTS` value) when
    * set, else `min(8, slots)`. A set value is validated fail-fast: it
    * becomes spark.sql.shuffle.partitions AND relay trigger sizes,
    * where a non-numeric or non-positive value would otherwise surface
    * as an opaque mid-query failure. */
  private[graft] def streamWidth(raw: Option[String], slots: Int): Int =
    raw match {
      case Some(v) =>
        require(v.toIntOption.exists(_ > 0),
          s"SPARK_GRAFT_STREAM_PARTS must be a positive integer, got '$v'" +
            " (it must also stay constant across a query's restarts - the" +
            " idempotent sink's stable-part-count contract rides it)")
        v.toInt
      case None => math.min(8, slots)
    }

  private[graft] def withStreamConf[T](spark: SparkSession)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", streamWidth(spark).toString)
    // All replay checkpoints live under the local /tmp dirs these
    // harnesses create, so commit them through the fork-free NIO
    // manager (see [[graft.streaming.NioCheckpointFileManager]]: the
    // Hadoop local FS forks a `chmod` process per checkpoint file —
    // measured ~1,600 forks for ONE stream-stream join replay, the
    // dominant cost of the streaming suite).
    val prevFm = spark.conf.getOption(
      "spark.sql.streaming.checkpointFileManagerClass")
    spark.conf.set("spark.sql.streaming.checkpointFileManagerClass",
      classOf[graft.streaming.NioCheckpointFileManager].getName)
    // Spark 4.1 wraps the manager with checksum-sidecar generation by
    // default, DOUBLING the per-commit file count. Corruption detection
    // buys nothing for a throwaway local replay checkpoint (it exists
    // for long-lived checkpoints on remote storage) — keep it off here.
    val prevCk = spark.conf.getOption(
      "spark.sql.streaming.checkpoint.fileChecksum.enabled")
    spark.conf.set(
      "spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    try body finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      def restore(k: String, v: Option[String]): Unit = v match {
        case Some(x) => spark.conf.set(k, x)
        case None    => spark.conf.unset(k)
      }
      restore("spark.sql.streaming.checkpointFileManagerClass", prevFm)
      restore("spark.sql.streaming.checkpoint.fileChecksum.enabled", prevCk)
    }
  }

  /** Shared by every temp-dir harness below (deepest paths first). */
  private[graft] def deleteRecursively(root: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala.toSeq
      .sortBy(-_.getNameCount).foreach(java.nio.file.Files.deleteIfExists(_))
  }

  /** Immediate children of `root`, with the listing stream CLOSED (an
    * unclosed Files.list leaks a directory fd per call — some callers
    * run every microbatch). The one flat-listing idiom for every
    * harness and the s62 snapshot machinery. */
  private[graft] def listDir(root: java.nio.file.Path): Seq[java.nio.file.Path] =
    if (!java.nio.file.Files.isDirectory(root)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(root)
      try s.iterator().asScala.toVector finally s.close()
    }

  /** IDEMPOTENT per-microbatch sink write for the converged-log /
    * relay harnesses: stages the batch with Spark's committer, then
    * atomically renames each part file to a DETERMINISTIC
    * `b<bid>_p<i>` name inside `dir`. foreachBatch is at-least-once —
    * a re-delivered batch (crash between the sink write and the
    * checkpoint commit) re-runs this body with the SAME bid and, the
    * computation being deterministic, the same content: the renames
    * then REPLACE the first attempt's files instead of appending
    * duplicates next to them, so downstream folds (max-bid/max-seq,
    * streaming file sources tracking seen paths) observe exactly-once
    * content with no dedup logic of their own. Stable names also mean
    * a streaming file source that already consumed the first attempt
    * sees nothing new. Plain `mode("append")` logs lack exactly this
    * property (the s65/s66 relay relies on it).
    *
    * CONTRACT: a re-delivery must reproduce the first attempt's FILE
    * SET — deterministic content AND a stable part count across
    * attempts. Callers uphold the count side one of two ways: an
    * explicit constant layout (`repartition(1)`, or
    * `repartition(k, key)` with k a compile-time constant), or — for
    * the relay/join-log writers that keep the upstream shuffle layout —
    * the harness itself, which runs every twin (and therefore every
    * re-delivery) under [[withStreamConf]]'s compile-time-constant
    * shuffle width, so the same deterministic plan over the same batch
    * produces the same non-empty-partition set on retry (AQE included:
    * its coalescing decisions are a function of the same runtime
    * stats). A re-delivery whose part count DRIFTED anyway — possible
    * only if the code or its constants changed between crash and
    * restart — is handled for a fresh lister (the tail-trim below),
    * but a tailing file source that consumed part of the first attempt
    * mid-batch cannot be reconciled with a content-repacked retry by
    * ANY filesystem layout (its path-based seen-files log would skip
    * the replaced names while the trimmed tails vanish) — which is why
    * the stable-layout contract, not the trim, is the load-bearing
    * property. */
  private[graft] def writeBatchIdempotent(df: DataFrame,
      dir: java.nio.file.Path, bid: Long): Unit = {
    val stage = dir.resolveSibling(
      dir.getFileName.toString + s".stage_b$bid")
    if (java.nio.file.Files.exists(stage)) deleteRecursively(stage)
    df.write.mode("overwrite").parquet(stage.toString)
    java.nio.file.Files.createDirectories(dir)
    val parts = listDir(stage)
      .filter(_.getFileName.toString.startsWith("part-"))
      .sortBy(_.getFileName.toString)
    val prefix = s"b${bid}_p"
    // total parse of a file's `b<bid>_p<i>` index: None for a name
    // with no digit run after the prefix (a stray or foreign artifact
    // in the log dir must be ignored, not crash the microbatch with
    // NumberFormatException)
    def partIndex(p: java.nio.file.Path): Option[Int] = {
      val n = p.getFileName.toString
      if (!n.startsWith(prefix)) None
      else n.stripPrefix(prefix).takeWhile(_.isDigit).toIntOption
    }
    // one pre-rename listing serves both the drift check and the
    // tail-trim: leftover indices >= parts.length are never rename
    // targets, so the set is identical before and after the moves
    val existing = listDir(dir)
    // part-count drift across a re-delivery (possible only if code or
    // conf changed between crash and restart) is reconciled for fresh
    // listers by the tail-trim below, but a TAILING source may then
    // hold a mixed view — surface it instead of staying silent
    val prior = existing.count(partIndex(_).isDefined)
    if (prior != 0 && prior != parts.length)
      System.err.println(s"[graft] writeBatchIdempotent: part-count " +
        s"drift on re-delivery of batch $bid in $dir: " +
        s"$prior existing vs ${parts.length} staged — a tailing file " +
        s"source that consumed the first attempt mid-batch may hold a " +
        s"mixed view (fresh listers are reconciled by the tail-trim)")
    parts.zipWithIndex.foreach { case (p, i) =>
      // ATOMIC_MOVE on POSIX is rename(2): replaces an existing
      // target atomically, so a reader never sees a partial file
      java.nio.file.Files.move(p, dir.resolve(f"b${bid}_p$i%05d.parquet"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    // a re-delivery that produced FEWER parts than the first attempt
    // (partition-count drift across a restart) must not leave the
    // first attempt's tail files beside the replacement — they would
    // duplicate the batch for any fresh lister of the directory
    existing
      .filter(partIndex(_).exists(_ >= parts.length))
      .foreach(java.nio.file.Files.delete(_))
    deleteRecursively(stage)
  }

  // -- shared immutable replay-ingest chunk dirs ----------------------
  //
  // Every streaming row replays a table as range-split parquet chunks.
  // The chunk files are a pure function of (sf dir, projection, chunk
  // count), so they are written ONCE into a shared immutable dir and
  // reused by all replay rows — each row keeps its own checkpoint and
  // sink-log dirs (the stateful parts), only the read-only ingest
  // prefix is shared. Publication is atomic (write to a pid-suffixed
  // sibling, rename into place) so a concurrent second process either
  // wins the rename or reuses the winner's dir; _SUCCESS (written by
  // Spark's committer) marks completeness across JVM restarts.

  private[graft] val sharedIngestRoot = java.nio.file.Paths
    .get(sys.props.getOrElse("java.io.tmpdir", "/tmp"), "graft_shared_ingest")

  /** Content fingerprint of a source table file/dir: total byte size +
    * newest mtime over its files. Part of the shared-ingest cache key so
    * a driver-side testdata regeneration invalidates the cache instead
    * of silently replaying stale chunks into the streaming rows (the
    * events table has been regenerated before, which made this a live hazard:
    * the oracle reads fresh parquet while a keyed-on-path cache would
    * keep serving the old vintage). */
  private[graft] def srcFingerprint(sfDir: String, srcTable: String): String = {
    val p = java.nio.file.Paths.get(sfDir, srcTable + ".parquet")
    if (!java.nio.file.Files.exists(p)) "absent"
    else {
      // digest over every file's (relative path, size, mtime): a
      // regeneration that happens to preserve the TOTAL size and lands
      // within the filesystem's mtime granularity must still change
      // the key (the aggregate size+max-mtime form it replaces could
      // silently replay stale chunks in exactly that case)
      import scala.jdk.CollectionConverters._
      val parts = {
        val s = java.nio.file.Files.walk(p)
        try s.iterator().asScala
          .filter(java.nio.file.Files.isRegularFile(_))
          .map(f => p.relativize(f).toString + ":" +
            java.nio.file.Files.size(f) + ":" +
            java.nio.file.Files.getLastModifiedTime(f).toMillis)
          .toSeq.sorted
        finally s.close()
      }
      val md = java.security.MessageDigest.getInstance("MD5")
      parts.foreach(x => md.update(x.getBytes("UTF-8")))
      md.digest().map("%02x".format(_)).mkString.take(16)
    }
  }

  private[graft] def sharedChunkDir(sfDir: String, name: String,
      srcTable: String)(
      write: java.nio.file.Path => Unit): java.nio.file.Path = synchronized {
    val prefix = (sfDir + "_" + name + "_" + chunks + "_")
      .replaceAll("[^A-Za-z0-9._-]", "_")
    val key = prefix + srcFingerprint(sfDir, srcTable)
      .replaceAll("[^A-Za-z0-9._-]", "_")
    val target = sharedIngestRoot.resolve(key)
    // prune superseded cache dirs for the same (sfDir, name, chunks):
    // a regenerated source changes the fingerprint suffix, and without
    // this the stale chunk dirs accumulate under /tmp forever (in-
    // flight ".tmp.<pid>" dirs of other processes are left alone)
    listDir(sharedIngestRoot)
      .filter { d =>
        val n = d.getFileName.toString
        n.startsWith(prefix) && n != key && !n.contains(".tmp.")
      }.foreach(deleteRecursively)
    if (java.nio.file.Files.exists(target.resolve("_SUCCESS"))) target
    else {
      java.nio.file.Files.createDirectories(sharedIngestRoot)
      val tmp = sharedIngestRoot.resolve(
        key + ".tmp." + ProcessHandle.current().pid())
      if (java.nio.file.Files.exists(tmp)) deleteRecursively(tmp)
      write(tmp)
      try java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.FileSystemException =>
        deleteRecursively(tmp) // another process published first; reuse
      }
      target
    }
  }

  /** A table replayed as `chunks` range-split parquet files: the
    * shared-chunk-dir `name`, the source `table` whose content keys the
    * cache (see [[sharedChunkDir]]), the replay files' `schema`, and
    * the projection `project` that writes them, range-split on its
    * first column. The cache key fingerprints the source data, not the
    * projection, so a projection change must come with a new `name`. */
  private[graft] final case class ChunkedSource(name: String, table: String,
      schema: String, project: (SparkSession, String) => DataFrame) {
    /** This source's chunk dir for the tables under `dir`, written once. */
    def chunkDir(spark: SparkSession, dir: String): Path =
      sharedChunkDir(dir, name, table) { p =>
        val df = project(spark, dir)
        df.repartitionByRange(chunks, col(df.columns.head)).write.parquet(p.toString)
      }
  }

  private def documents(cols: Column*): (SparkSession, String) => DataFrame =
    (spark, dir) => Registry.table(spark, dir, "documents").select(cols: _*)

  private[graft] val Events = ChunkedSource("events", "events",
    "event_id BIGINT, user_id BIGINT, event_type STRING, ts_us BIGINT, value DOUBLE",
    (spark, dir) => Registry.table(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("ts_us"), col("value")))
  private[graft] val DocText = ChunkedSource("doctext", "documents",
    "doc_id BIGINT, text STRING", documents(col("doc_id"), col("text")))
  private[graft] val DocFingerprint = ChunkedSource("docfp", "documents",
    "doc_id BIGINT, fp STRING", documents(col("doc_id"), md5(col("text")).as("fp")))
  private[graft] val DocLang = ChunkedSource("doclang", "documents",
    "doc_id BIGINT, lang STRING", documents(col("doc_id"), col("lang")))
  private[graft] val DocSource = ChunkedSource("docsrc", "documents",
    "doc_id BIGINT, source STRING, text STRING",
    documents(col("doc_id"), col("source"), col("text")))
  private[graft] val DocId = ChunkedSource("docid", "documents",
    "doc_id BIGINT", documents(col("doc_id")))
  private[graft] val EmbVec = ChunkedSource("embvec", "embeddings",
    "vec_id BIGINT, e ARRAY<DOUBLE>, nrm DOUBLE", VectorOps.embSlim)
  private[graft] val EmbLabeled = ChunkedSource("emblab", "embeddings",
    "vec_id BIGINT, label INT, e ARRAY<DOUBLE>, nrm DOUBLE", VectorOps.embLabeled)
  /** Near-duplicate candidate edges (s62's streamed graph). */
  private[graft] val DupPairs = ChunkedSource("duppairs", "documents",
    "d1 BIGINT, d2 BIGINT",
    (spark, dir) => DedupOps.jaccardPairs(spark, dir).select(col("d1"), col("d2")))

  /** The chained-join tables (customer / orders / lineitem), shared by
    * s11 and s22. `l_ver` packs (shipdate epoch-days, price cents) so
    * its strict ordering equals the batch oracle's dedup (see
    * [[LiRow]]). */
  private[graft] val ChainCust = ChunkedSource("chain_cust", "customer",
    "c_custkey BIGINT, c_name STRING",
    (spark, dir) => Registry.table(spark, dir, "customer")
      .select(col("c_custkey"), col("c_name")))
  // "_v2" names the +1 o_ver shift (see ChunkedSource on naming)
  private[graft] val ChainOrd = ChunkedSource("chain_ord_v2", "orders",
    "o_orderkey BIGINT, o_custkey BIGINT, o_ver BIGINT, o_totalprice DOUBLE",
    (spark, dir) => Registry.table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        // +1: versions must stay POSITIVE — o_orderkey 0 exists, and
        // under s22's event-time TTL an epoch-zero version is dropped
        // by the watermarked union (EventTimeZeroVersionSpec); a
        // strictly monotone shift changes no dedup outcome
        (col("o_orderkey") + lit(1)).as("o_ver"), col("o_totalprice")))
  private[graft] val ChainLi = ChunkedSource("chain_li", "lineitem",
    "l_orderkey BIGINT, l_linenumber INT, l_ver BIGINT, l_extendedprice DOUBLE",
    (spark, dir) => Registry.table(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        (expr("unix_date(cast(l_shipdate as date))") * lit(10000000000L)
          + expr("cast(round(l_extendedprice * 100) as bigint)"))
          .as("l_ver"),
        col("l_extendedprice")))

  /** The replay file source: `schema` rows of the `glob` files in `in`,
    * at most `filesPerTrigger` files per microbatch. */
  private[graft] def fileStream(spark: SparkSession, schema: String, in: Path,
      filesPerTrigger: Int, glob: String = "part-*"): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger.toString)
      .option("pathGlobFilter", glob)
      .parquet(in.toString)

  /** Replay-log layouts. `singleFile` funnels each microbatch's small
    * emission set through one write task (repartition, not coalesce, so
    * the stateful stage keeps its parallelism), bounding the log at one
    * file per microbatch for the converge-scan. `keyBuckets` spreads
    * the rows over the stream's shuffle width by upsert key, for logs
    * whose rows carry payloads (vectors, features), where bytes rather
    * than rows set the write cost. Both are constant layouts, as
    * [[writeBatchIdempotent]] requires. */
  private[graft] val singleFile: DataFrame => DataFrame = _.repartition(1)
  private[graft] val keyBuckets: DataFrame => DataFrame =
    df => df.repartition(streamWidth(df.sparkSession), col("key"))

  /** Starts `df`'s query, checkpointed at `ckpt`, logging its output
    * to parquet under `log` in `layout`. Update and append modes write
    * each microbatch through [[writeBatchIdempotent]], so a re-delivered
    * batch replaces its first attempt; update mode also stamps each row
    * with its microbatch `bid`, the order [[latestBidPerKey]] folds by.
    * Complete mode overwrites the log: each trigger carries the whole
    * current answer. A relay's stage 1 is an append-mode log whose
    * `layout` is the scan-local stage itself: it keeps the stage's own
    * partitioning, whose part count [[withStreamConf]]'s constant
    * shuffle width keeps stable across re-deliveries. */
  private[graft] def startLog(df: DataFrame, ckpt: Path, log: Path,
      mode: String = "update",
      layout: DataFrame => DataFrame = singleFile): StreamingQuery =
    df.writeStream.outputMode(mode)
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        mode match {
          case "complete" =>
            layout(batch).write.mode("overwrite").parquet(log.toString)
          case "update" =>
            writeBatchIdempotent(layout(batch.withColumn("bid", lit(bid))), log, bid)
          case _ => writeBatchIdempotent(layout(batch), log, bid)
        }
      }.start()

  /** Relay stage 2's source: the `b*` files stage 1 committed to
    * `relay`, up to one stage-1 batch (one file per shuffle partition)
    * per trigger. Creates `relay`: the file source must list it before
    * stage 1's first commit. */
  private[graft] def relayTail(spark: SparkSession, relay: Path,
      schema: String): DataFrame = {
    java.nio.file.Files.createDirectories(relay)
    fileStream(spark, schema, relay, streamWidth(spark), glob = "b*")
  }

  /** Drains `qs` in order, then stops them all. processAllAvailable is
    * a barrier: it returns only once every microbatch of its query has
    * committed, i.e. every file the query writes is complete and
    * renamed into place. Draining a relay's stage 1 before the stage 2
    * that tails it therefore guarantees stage 2 neither lists a
    * half-written relay file nor misses stage 1's last one; overlapping
    * or swapping the drains silently breaks this. */
  private[graft] def drain(qs: StreamingQuery*): Unit =
    try qs.foreach(_.processAllAvailable()) finally stopAll(qs)

  private def stopAll(qs: Seq[StreamingQuery]): Unit =
    if (qs.nonEmpty) try qs.head.stop() finally stopAll(qs.tail)

  /** One query over `source`'s chunk files in `in`, built by `build`
    * (given a source factory, so joins can open two streams), run to
    * completion in the caller's `work` dir (checkpoint `work/ckpt`, log
    * `work/log`); returns the re-read log. Nothing is deleted: called
    * again with the same dir, the query resumes from its checkpoint. */
  private[graft] def replayInto(spark: SparkSession, source: ChunkedSource,
      in: Path, work: Path, mode: String, filesPerTrigger: Int,
      layout: DataFrame => DataFrame)(
      build: (() => DataFrame) => DataFrame): DataFrame = {
    drain(startLog(build(() => fileStream(spark, source.schema, in, filesPerTrigger)),
      work.resolve("ckpt"), work.resolve("log"), mode, layout))
    spark.read.parquet(work.resolve("log").toString)
  }

  /** Runs the replay of row `name` in a fresh work dir under
    * [[withStreamConf]]. A coarsened replay (`filesPerTrigger` > 1)
    * must have committed >= 2 microbatches on its first query,
    * checkpointed at `work/ckpt` ([[requireMultiBatch]]). The answer is
    * localCheckpointed, pinning only the small converged result in
    * executor blocks, before the dir and every raw emission in it are
    * deleted. */
  private[graft] def inWorkDir(spark: SparkSession, name: String,
      filesPerTrigger: Int)(replay: Path => DataFrame): DataFrame =
    withStreamConf(spark) {
      val work = java.nio.file.Files.createTempDirectory("graft_replay_")
      try {
        val answer = replay(work)
        if (filesPerTrigger > 1) requireMultiBatch(work.resolve("ckpt"), name)
        answer.localCheckpoint()
      } finally deleteRecursively(work)
    }

  /** The single-query replay row `name`: `source` replayed through
    * [[replayInto]] in a fresh work dir ([[inWorkDir]]), its log folded
    * to the converged answer by `finish`. */
  private[graft] def runFileStream(spark: SparkSession, dir: String,
      name: String, source: ChunkedSource, mode: String = "update",
      filesPerTrigger: Int = 1, layout: DataFrame => DataFrame = singleFile)(
      build: (() => DataFrame) => DataFrame)(
      finish: DataFrame => DataFrame): DataFrame =
    inWorkDir(spark, name, filesPerTrigger) { work =>
      finish(replayInto(spark, source, source.chunkDir(spark, dir), work,
        mode, filesPerTrigger, layout)(build))
    }

  /** Each `keys` group's rows from its highest emission `seq`: the
    * converged answer of a re-emitting update-mode query over keyed
    * upsert state. */
  private[graft] def latestSeqPerKey(raw: DataFrame, keys: String*): DataFrame =
    raw.withColumn("max_seq", max(col("seq")).over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("seq") === col("max_seq"))

  /** Each key's converged members: its latest emission's `xs`,
    * exploded to one `x` per row beside its `key`. */
  private[graft] def latestMembers(raw: DataFrame): DataFrame =
    latestSeqPerKey(raw, "key").select(col("key"), explode(col("xs")).as("x"))

  /** Each `keys` group's rows from its last microbatch `bid`: the
    * converged value of a streaming aggregation's running update-mode
    * emissions. */
  private[graft] def latestBidPerKey(raw: DataFrame, keys: String*): DataFrame =
    raw.withColumn("max_bid", max(col("bid")).over(Window.partitionBy(keys.map(col): _*)))
      .filter(col("bid") === col("max_bid"))

  /** Converged view of a raw update-mode join sink projected to the
    * batch J1/J2/J5 output shape (every pair-emitting join twin must
    * hash-match its batch oracle through it). */
  private[graft] def convergedJ1(raw: DataFrame): DataFrame =
    latestSeqPerKey(raw, "key")
      .select(
        col("key").cast("long").as("user_id"),
        col("x.event_id").as("x_event_id"),
        col("x.event_type").as("x_type"),
        expr("timestamp_micros(x.ts_us)").as("x_ts"),
        col("y.event_id").as("y_event_id"),
        col("y.event_type").as("y_type"),
        expr("timestamp_micros(y.ts_us)").as("y_ts"))
      .orderBy(col("user_id"), asc_nulls_first("x_type"),
        asc_nulls_first("y_type"))

  /** Converged J3 (leftOuterSeq) sink projected to the batch
    * j3_left_outer_seq shape: the ys array becomes a sorted
    * comma-joined id string. */
  private[graft] def convergedJ3(raw: DataFrame): DataFrame =
    latestSeqPerKey(raw, "key")
      .select(
        col("key").cast("long").as("user_id"),
        element_at(col("xs"), 1).getField("event_id").as("x_event_id"),
        element_at(col("xs"), 1).getField("event_type").as("x_type"),
        expr("timestamp_micros(element_at(xs, 1).ts_us)").as("x_ts"),
        sortedIds("ys").as("y_event_ids"),
        size(col("ys")).cast("long").as("y_n"))
      .orderBy(col("user_id"))

  /** Converged J4 (fullOuterSeq) sink projected to the batch
    * j4_full_outer_seq shape: both sides as sorted comma-joined id
    * strings. */
  private[graft] def convergedJ4(raw: DataFrame): DataFrame =
    latestSeqPerKey(raw, "key")
      .select(
        col("key").cast("long").as("user_id"),
        sortedIds("xs").as("x_event_ids"),
        sortedIds("ys").as("y_event_ids"))
      .orderBy(col("user_id"))

  private def sortedIds(side: String) =
    concat_ws(",", sort_array(expr(s"transform($side, v -> v.event_id)"))
      .cast("array<string>"))

  private[graft] def isX(e: Ev): Boolean =
    (e.event_type == "signup" || e.event_type == "error") && e.user_id % 3 != 0
  private[graft] def isY(e: Ev): Boolean =
    (e.event_type == "click" || e.event_type == "purchase" ||
      e.event_type == "view") && e.user_id % 5 != 0

  /** The append-mode watermark replay of row `name` (s13 and s15
    * windows, the s26-s28/s31 range joins), in a fresh work dir
    * ([[inWorkDir]]). `source`'s chunk files are hardlinked into
    * `work/in`, and three sentinel events 40 days past its max event
    * time follow as the LAST file (mtime-bumped so the source lists it
    * last). The 35-day watermark delay exceeds the source's time span,
    * so no real window or match range closes before the sentinel
    * arrives: file arrival order and trigger size cannot make a real
    * row late. `build` gets a factory of `ets`-stamped, watermarked
    * streams (joins open two), and the query runs through
    * [[replayInto]] like every other row: its closed rows land in the
    * idempotent log at `work/log`, keeping the stateful stage's own
    * partitioning. The drain waits for the no-data batch the engine
    * runs at the sentinel's watermark, which flushes the closed state;
    * a failed batch, that flush included, throws from here. The
    * sentinels' own windows never close, so they are never emitted. */
  private[graft] def runAppendReplay(spark: SparkSession, dir: String,
      name: String, source: ChunkedSource, filesPerTrigger: Int)(
      build: (() => DataFrame) => DataFrame)(
      finish: DataFrame => DataFrame): DataFrame =
    inWorkDir(spark, name, filesPerTrigger) { work =>
      import spark.implicits._
      // hardlinks, not copies: the sentinel must not enter the shared
      // chunk dir
      val in = java.nio.file.Files.createDirectories(work.resolve("in"))
      def parts() = listDir(in).filter(_.getFileName.toString.startsWith("part-")).toSet
      listDir(source.chunkDir(spark, dir))
        .filter(_.getFileName.toString.startsWith("part-"))
        .foreach(p => java.nio.file.Files.createLink(in.resolve(p.getFileName), p))
      val bounds = spark.read.parquet(in.toString)
        .agg(min(col("ts_us")), max(col("ts_us"))).head()
      val (minUs, maxUs) = (bounds.getLong(0), bounds.getLong(1))
      require(maxUs - minUs < 34L * 86400000000L,
        s"$name: events span ${(maxUs - minUs) / 86400000000L} days; " +
          "raise the 35-day watermark or arrival order can drop rows")
      val mainParts = parts()
      // one sentinel per downstream filter shape: Catalyst pushes a
      // branch's event-type filter below the watermark operator, so a
      // sentinel advances only the branches whose filter it survives;
      // distinct negative ids keep the sentinels from joining each other
      Seq((-1L, -1L, "sentinel"), (-2L, -1L, "signup"), (-3L, -2L, "click"))
        .map { case (e, u, t) => (e, u, t, maxUs + 40L * 86400000000L, 0.0) }
        .toDF("event_id", "user_id", "event_type", "ts_us", "value")
        .coalesce(1).write.mode("append").parquet(in.toString)
      (parts() -- mainParts).foreach(java.nio.file.Files.setLastModifiedTime(_,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 60000L)))
      finish(replayInto(spark, source, in, work, "append", filesPerTrigger,
          layout = identity) { src =>
        build(() => src().withColumn("ets", expr("timestamp_micros(ts_us)"))
          .withWatermark("ets", "35 days"))
      })
    }
}
