package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.queries.StreamingHarness
import graft.streaming.VersionedStreamJoin

/** Closed-loop J1 streaming workload (`hot_keys`, `cold_keys`): one
  * client hands over a chunk holding both sides as one source offset,
  * waits until the chunk's emissions are committed to the parquet sink
  * written by `foreachBatch`, then hands over the next. The join is
  * `VersionedStreamJoin.fullOuter` on RocksDB state under the
  * registry's stream configuration. */
final class StreamBench(spark: SparkSession, work: Path, seed: Long,
                        shape: StreamShape, tracedChunks: Int)
    extends Workload {
  import spark.implicits._

  private val warmChunks = 3
  private val setups = 3

  private final class Live(val mem: MemoryStream[Upsert],
                           val query: StreamingQuery, val sink: Path,
                           val gen: UpsertStream, val oracle: Oracle) {
    var records = 0L
    var genNs = 0L
    var failed = 0L
    var batches = 0L // committed micro-batches so far

    def nextChunk(): Array[Upsert] = {
      val t = System.nanoTime
      val c = gen.next()
      genNs += System.nanoTime - t
      records += c.length
      c
    }

    /** Hand one chunk over and wait until its emissions are committed;
      * returns (start ms, latency ms, oracle effect). A chunk fails when
      * it did not run as exactly one micro-batch reading every record
      * and updating every key the oracle says it touches. Both join
      * sides scan the one source, so progress counts each record twice. */
    def deliver(chunk: Array[Upsert]): (Long, Double, ChunkEffect) = {
      val effect = oracle(chunk)
      val startMs = System.currentTimeMillis
      val t0 = System.nanoTime
      mem.addData(chunk.toSeq)
      query.processAllAvailable()
      val ms = (System.nanoTime - t0) / 1e6
      val p = query.lastProgress
      val ok = p != null && p.batchId == batches &&
        p.numInputRows == 2L * chunk.length &&
        p.stateOperators.headOption.exists(_.numRowsUpdated == effect.keys)
      if (!ok) {
        if (failed == 0) System.err.println(s"chunk check failed: batch " +
          s"${Option(p).map(_.batchId)} (want $batches), input " +
          s"${Option(p).map(_.numInputRows)} (want ${2L * chunk.length}), keys " +
          s"${Option(p).map(_.stateOperators.map(_.numRowsUpdated).toSeq)} " +
          s"(want ${effect.keys})")
        failed += 1
      }
      batches += 1
      (startMs, ms, effect)
    }
  }

  private def start(round: Int): Live = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[Upsert]
    val up = mem.toDS()
    val sink = work.resolve(s"sink-$round")
    val ckpt = work.resolve(s"ckpt-$round")
    val query = VersionedStreamJoin.withStateStoreProvider(spark) {
      StreamingHarness.withStreamConf(spark) {
        VersionedStreamJoin.fullOuter[Rec, Rec](
          up.filter(_.side == 0).map(_.rec), up.filter(_.side == 1).map(_.rec),
          _.key.toString, _.key.toString, _.id.toString, _.id.toString,
          _.ts, _.ts)
          .toDF()
          .select(col("key").cast("long").as("key"), col("seq"),
            col("x.id").as("xid"), col("x.ts").as("xts"),
            col("y.id").as("yid"), col("y.ts").as("yts"))
          .writeStream.outputMode("update").queryName(s"perfbench_$round")
          .option("checkpointLocation", ckpt.toString)
          .foreachBatch { (df: DataFrame, id: Long) =>
            df.write.mode("overwrite").parquet(s"$sink/batch=$id")
          }
          .start()
      }
    }
    new Live(mem, query, sink, new UpsertStream(shape, seed), new Oracle(shape))
  }

  /** One set-up: generate the load chunk, start a fresh query, and run
    * the load chunk plus the warm-up chunks (RocksDB load, JIT). */
  private def setUp(round: Int): (Live, Double) = {
    val t0 = System.nanoTime
    val live = start(round)
    val tg = System.nanoTime
    val load = live.gen.load()
    live.genNs += System.nanoTime - tg
    live.records += load.length
    live.deliver(load)
    (1 to warmChunks).foreach(_ => live.deliver(live.nextChunk()))
    (live, (System.nanoTime - t0) / 1e9)
  }

  def run(seconds: Double, trace: Option[Spans]): Outcome = {
    val out = new Outcome
    val setupS = mutable.ArrayBuffer.empty[Double]
    var live: Live = null
    (0 until setups).foreach { r =>
      if (live != null) { live.query.stop(); StreamingHarness.deleteRecursively(live.sink) }
      val (l, s) = setUp(r)
      live = l; setupS += s
      Log(f"set-up $r took $s%.2f s")
    }
    out.endToEnd("setup_s") = (Stats.median(setupS.toSeq), "s")

    // untraced samples: for `seconds` when not tracing, else a fixed
    // chunk count so counters repeat exactly for a seed
    val untraced = mutable.ArrayBuffer.empty[(Long, Double, ChunkEffect, Int)]
    val deadline = System.nanoTime + (seconds * 1e9).toLong
    def more = if (trace.isEmpty) System.nanoTime < deadline
               else untraced.size < tracedChunks
    while (more) {
      val c = live.nextChunk()
      val (t, ms, e) = live.deliver(c)
      untraced += ((t, ms, e, c.length))
    }
    record(out.endToEnd, untraced.toSeq)
    Log(s"measured ${untraced.size} chunks, ms: " +
      untraced.map(_._2.round).mkString(" "))

    trace.foreach { spans =>
      val exec = new ExecTrace(spans)
      spark.sparkContext.addSparkListener(exec)
      val runStart = System.currentTimeMillis
      val firstTraced = live.batches
      val samples = (0 until tracedChunks).map { i =>
        val c = live.nextChunk()
        val (t, ms, e) = live.deliver(c)
        spans.add(Span(s"chunk-$i", "chunk", t, t + ms.round, "run"))
        (t, ms, e, c.length)
      }
      PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(exec)
      spans.add(Span("run", "run", runStart, System.currentTimeMillis, ""))
      val traced = mutable.LinkedHashMap.empty[String, (Double, String)]
      record(traced, samples)
      out.perLayer("trace.overhead_pct") = (100.0 *
        (traced("result_latency_p50_ms")._1 /
          out.endToEnd("result_latency_p50_ms")._1 - 1), "%")
      layers(out, spans, exec, live, firstTraced, samples)
    }

    out.attempted = live.batches
    out.failed = live.failed
    live.query.stop()
    if (!converged(live)) out.failed = out.attempted
    Log("output checked")
    out.perLayer("gen.records") = (live.records.toDouble, "count")
    out.perLayer("gen.s") = (live.genNs / 1e9, "s")
    out.perLayer("error_rate") = (out.failed.toDouble / out.attempted, "ratio")
    out
  }

  private def record(into: mutable.Map[String, (Double, String)],
                     samples: Seq[(Long, Double, ChunkEffect, Int)]): Unit = {
    val lat = samples.map(_._2)
    into("upserts_per_s") = (samples.map(_._4).sum / (lat.sum / 1000), "1/s")
    into("result_latency_p50_ms") = (Stats.quantile(lat, 0.5), "ms")
    into("result_latency_p90_ms") = (Stats.quantile(lat, 0.9), "ms")
  }

  private def layers(out: Outcome, spans: Spans, exec: ExecTrace, live: Live,
                     firstBatch: Long,
                     samples: Seq[(Long, Double, ChunkEffect, Int)]): Unit = {
    val progress: Seq[StreamingQueryProgress] = live.query.recentProgress.toSeq
      .filter(p => p.batchId >= firstBatch && p.numInputRows > 0)
    progress.foreach { p =>
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
      spans.add(Span(s"batch-${p.batchId}", "batch", t0,
        t0 + p.durationMs.get("triggerExecution").longValue,
        s"chunk-${p.batchId - firstBatch}"))
    }
    def dur(k: String) =
      progress.map(p => Option(p.durationMs.get(k)).fold(0L)(_.longValue)).sum.toDouble
    def op(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      progress.map(p => p.stateOperators.map(f).sum).sum.toDouble
    def custom(k: String) = op(s =>
      Option(s.customMetrics.get(k)).fold(0L)(_.longValue))
    val last = progress.last.stateOperators
    val upserts = samples.map(_._4).sum.toDouble
    val emitted = spark.read.parquet(live.sink.toString)
      .filter(col("batch") >= firstBatch).count().toDouble
    val changed = samples.map(_._3.changed).sum.toDouble
    val l = out.perLayer
    l("streaming.state_update_ms") = (op(_.allUpdatesTimeMs), "ms")
    l("streaming.state_write_bytes_per_upsert") =
      (custom("rocksdbTotalBytesWritten") / upserts, "B/upsert")
    l("streaming.rocksdb_put_ms") = (custom("rocksdbPutLatency"), "ms")
    l("streaming.emitted_rows") = (emitted, "count")
    l("streaming.emitted_per_upsert") = (emitted / upserts, "rows/upsert")
    l("streaming.useful_ratio") = (changed / emitted, "ratio")
    l("streaming.state_rows") = (last.map(_.numRowsTotal).sum.toDouble, "count")
    l("streaming.state_bytes") = (last.map(s =>
      Option(s.customMetrics.get("rocksdbSstFileSize")).fold(0L)(_.longValue)).sum.toDouble, "B")
    l("streaming.rocksdb_get_count") = (custom("rocksdbGetCount"), "count")
    l("streaming.rocksdb_get_ms") = (custom("rocksdbGetLatency"), "ms")
    l("streaming.batches") = (progress.size.toDouble, "count")
    l("streaming.plan_ms") = (dur("queryPlanning"), "ms")
    l("streaming.wal_commit_ms") = (dur("walCommit"), "ms")
    l("streaming.commit_offsets_ms") = (dur("commitOffsets"), "ms")
    l("streaming.state_commit_ms") = (op(_.commitTimeMs), "ms")
    Layers.noCore(l)
    Layers.exec(l, exec, samples.map(_._2).sum, spark)
  }

  /** The end-of-run output check against the oracle: the converged
    * emissions (max seq per key) equal the oracle's J1 result, the raw
    * emission count is at least its size, and deduplicating the raw
    * emissions by row identity leaves exactly its size. One pass folds
    * the sink to its row identities (key, x id, y id), each with its
    * emission count and latest emission; the rest runs in plain Scala. */
  private def converged(live: Live): Boolean = {
    val ids = spark.read.parquet(live.sink.toString)
      .groupBy("key", "xid", "yid")
      .agg(count(lit(1)), max("seq"), max_by(col("xts"), col("seq")),
        max_by(col("yts"), col("seq")))
      .as[(Long, Option[Long], Option[Long], Long, Long, Option[Long],
        Option[Long])].collect()
    val keySeq = ids.groupMapReduce(_._1)(_._5)(math.max)
    val got = ids.collect { case (k, xid, yid, _, seq, xts, yts)
      if seq == keySeq(k) => (k, xid, xts, yid, yts) }
    val want = live.oracle.result().map { case (k, x, y) =>
      (k, x.map(_.id), x.map(_.ts), y.map(_.id), y.map(_.ts)) }.toArray
    val raw = ids.map(_._4).sum
    val ok = got.length == want.length && got.toSet == want.toSet &&
      raw >= want.length && ids.length == want.length
    if (!ok) System.err.println(s"output check failed: converged ${got.length} " +
      s"rows (distinct ${got.toSet.size}), oracle ${want.length}, raw $raw, " +
      s"deduped ${ids.length}")
    ok
  }
}

/** Per-layer metrics shared by the workloads. */
object Layers {
  def exec(l: mutable.Map[String, (Double, String)], e: ExecTrace,
           wallMs: Double, spark: SparkSession): Unit = {
    val cores = spark.sparkContext.defaultParallelism
    l("exec.shuffle_write_bytes") = (e.shuffleWrite.toDouble, "B")
    l("exec.shuffle_read_bytes") = (e.shuffleRead.toDouble, "B")
    l("exec.spill_bytes") = (e.spill.toDouble, "B")
    l("exec.gc_ms") = (e.gcMs.toDouble, "ms")
    l("exec.jobs") = (e.jobs.toDouble, "count")
    l("exec.stages") = (e.stages.toDouble, "count")
    l("exec.tasks") = (e.tasks.toDouble, "count")
    l("exec.task_run_ms") = (e.taskRunMs.toDouble, "ms")
    l("exec.driver_gap_ms") = (wallMs - e.taskRunMs.toDouble / cores, "ms")
  }

  def noCore(l: mutable.Map[String, (Double, String)]): Unit = {
    l("core.dedup_ms") = (0.0, "ms")
    l("core.join_ms") = (0.0, "ms")
    l("core.exchanges") = (0.0, "count")
  }

  val streaming = Seq(
    "state_update_ms" -> "ms", "state_write_bytes_per_upsert" -> "B/upsert",
    "rocksdb_put_ms" -> "ms", "emitted_rows" -> "count",
    "emitted_per_upsert" -> "rows/upsert", "useful_ratio" -> "ratio",
    "state_rows" -> "count", "state_bytes" -> "B",
    "rocksdb_get_count" -> "count", "rocksdb_get_ms" -> "ms",
    "batches" -> "count", "plan_ms" -> "ms", "wal_commit_ms" -> "ms",
    "commit_offsets_ms" -> "ms", "state_commit_ms" -> "ms")

  def noStreaming(l: mutable.Map[String, (Double, String)]): Unit =
    streaming.foreach { case (k, u) => l(s"streaming.$k") = (0.0, u) }
}
