package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.{EventTimeTtl, VersionedStreamDedup, VersionedStreamJoin}

/** Watermarked window/aggregation twins and the native
  * stream-stream operators: tumbling/session windows (update and
  * append mode), range outer/semi joins, native dedup, static
  * enrichment, and event-time TTL retirement — the rows that exercise
  * Spark's own watermark machinery rather than custom state. */
private[graft] object StreamWindowTwins {

  import StreamingHarness._

  def entries: Seq[Entry] = Seq(

    // Streaming windowed aggregation (complete mode): per-day,
    // per-type counts/sums accumulated across the file-source
    // microbatches must equal the batch group-by. (MemoryStream-based
    // replay lives only in the sbt determinism harnesses.)
    Entry("s2_stream_window_agg",
      (spark, dir) => {
        runFileStream(spark, dir, "s2_stream_window_agg", Events, mode = "complete",
            // coarsened trigger (StreamingHarness.coarseFilesPerTrigger): complete-mode agg, final overwrite is the converged answer at any batching
            filesPerTrigger = coarseFilesPerTrigger) { src =>
          src()
            .withColumn("ts", expr("timestamp_micros(ts_us)"))
            .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
            .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
        }(_.orderBy(col("day"), col("event_type")))
      },
      Some("""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
        |  count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin)),

    // True file-source streaming: readStream over the events parquet
    // (one file per trigger), watermarked event-time windowed count,
    // complete mode — converges to the same batch group-by. This is
    // the production shape: at scale the source is a growing directory
    // and maxFilesPerTrigger bounds each microbatch.
    Entry("s3_stream_file_agg",
      (spark, dir) => inWorkDir(spark, "s3_stream_file_agg", filesPerTrigger = 1) { work =>
        // MUST precede the raw-footer sniff below: on the
        // TIMESTAMP(NANOS) vintage an unguarded spark.read.parquet
        // throws PARQUET_TYPE_ILLEGAL — this set keeps s3
        // order-independent (no reliance on an earlier Registry.table
        // call having set the conf session-wide)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        // readStream needs an explicit schema, and the testdata has
        // shipped events.ts in two vintages (TIMESTAMP(NANOS) → read
        // as BIGINT under the legacy conf; TIMESTAMP(MICROS) → NTZ).
        // Sniff the dtype the batch reader actually loads (a footer
        // read, no data scan) and declare the matching stream schema
        // instead of assuming one vintage.
        val tsIsLong = spark.read.parquet(s"$dir/events.parquet")
          .schema("ts").dataType == org.apache.spark.sql.types.LongType
        val tsDecl = if (tsIsLong) "ts BIGINT" else "ts TIMESTAMP_NTZ"
        val src = fileStream(spark, s"event_id BIGINT, $tsDecl, user_id BIGINT, " +
          "event_type STRING, value DOUBLE, props STRING",
          java.nio.file.Paths.get(dir), 1, glob = "events.parquet")
        val ets =
          if (tsIsLong) expr("timestamp_micros(ts div 1000)") else col("ts").cast("timestamp")
        val agg = src.withColumn("ets", ets)
          .withWatermark("ets", "1 hour")
          .groupBy(window(col("ets"), "1 day").getField("start").as("day"),
            col("event_type"))
          .agg(count(lit(1)).as("n"))
        drain(startLog(agg, work.resolve("ckpt"), work.resolve("log"), "complete"))
        spark.read.parquet(work.resolve("log").toString)
          .orderBy(col("day"), col("event_type"))
      },
      Some("""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin)),

    // Streaming SESSION windows: the stateful merging window operator —
    // Spark's session-window state tracks open sessions per user and
    // MERGES them when a bridging event arrives, which no fixed-window
    // agg exercises. Complete mode (no watermark) keeps every session
    // in state and re-emits the full current session set per trigger,
    // so out-of-order file arrival needs no convergence gymnastics:
    // the final sink content IS the answer and must hash-match the
    // batch q_session_window oracle. At 100 TB the same query runs
    // with `.withWatermark` + append mode — closed sessions emit once
    // and state stays bounded by OPEN sessions (the complete-mode form
    // here is the oracle-checkable twin; the watermark form is
    // s3_stream_file_agg's pattern applied to session_window).
    Entry("s12_stream_session_window",
      (spark, dir) => {
        runFileStream(spark, dir, "s12_stream_session_window", Events, mode = "complete",
            // coarsened trigger (StreamingHarness.coarseFilesPerTrigger): complete-mode session state, batching-independent final emission
            filesPerTrigger = coarseFilesPerTrigger) { src =>
          src()
            .withColumn("ts", expr("timestamp_micros(ts_us)"))
            .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
            .agg(count(lit(1)).as("n_events"),
              round(sum(col("value")), 4).as("sum_value"))
            .select(col("user_id"),
              col("session_window.start").as("session_start"),
              col("session_window.end").as("session_end"),
              col("n_events"), col("sum_value"))
        }(_.orderBy(col("user_id"), col("session_start")))
      },
      Some(Analytics.sessionWindowOracleSql)),

    // APPEND-mode watermarked windowed agg — the production output
    // mode: each closed window is emitted once to the idempotent log
    // (a downstream consumer needs no upsert handling), and state for
    // closed windows is dropped. A window closes once the watermark
    // passes its end; the sentinel event far past the data (the
    // "punctuation" idea) moves the watermark past every real window,
    // and the drain waits for the no-data batch that emits them
    // (StreamingHarness.runAppendReplay). The flushed log must
    // hash-match the batch q_time_window oracle.
    Entry("s13_stream_append_window",
      (spark, dir) => runAppendReplay(spark, dir, "s13_stream_append_window", Events,
          filesPerTrigger = 1) { src =>
        // append mode requires grouping by the window STRUCT (the
        // watermark tracking rides on it); .start projects after
        src().groupBy(window(col("ets"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            round(sum(col("value")), 4).as("sum_value"))
          .select(col("window.start").as("day"), col("event_type"),
            col("n"), col("sum_value"))
      }(_.orderBy(col("day"), col("event_type"))),
      Some(Analytics.timeWindowOracleSql)),

    // APPEND-mode watermarked SESSION windows — the production output
    // mode for the MERGING window state (s12 is
    // the complete-mode twin): an open session per user is held in
    // state, merged when a bridging event arrives, and emitted exactly
    // once when the watermark passes its end. The sentinel flush
    // closes every real session (watermark reaches max event time
    // + 5 days > any session end = last event + 30 min) while the
    // sentinel's own session — keyed under user_id = -1 — never closes
    // and is never emitted. Must hash-match the batch q_session_window
    // oracle, proving merging-window state in append mode end-to-end.
    Entry("s15_stream_session_append",
      (spark, dir) => runAppendReplay(spark, dir, "s15_stream_session_append", Events,
          // coarsened trigger (StreamingHarness.coarseFilesPerTrigger): s13 keeps the tumbling-window per-file archetype; session closure happens only at the sentinel flush
          filesPerTrigger = coarseFilesPerTrigger) { src =>
        src().groupBy(session_window(col("ets"), "30 minutes"),
            col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("value")), 4).as("sum_value"))
          .select(col("user_id"),
            col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"),
            col("n_events"), col("sum_value"))
      }(_.orderBy(col("user_id"), col("session_start"))),
      Some(Analytics.sessionWindowOracleSql)),

    // Spark's NATIVE stream-stream join in its OUTER form: matched
    // pairs emit immediately, but an unmatched left row emits its
    // null-extended form only once the watermark proves no future
    // right match can arrive — the delayed-null contract a production
    // outer join lives by (state for the row is dropped at the same
    // moment). Asymmetric sides (signup/error lefts probing
    // click/purchase/view rights, see [[rangeJoin]]) so genuinely
    // unmatched lefts exist; the sentinel advances BOTH streams'
    // watermarks past every match window, and the no-data batch the
    // engine runs at that watermark flushes the nulls.
    // The join condition carries only key equality + the event-time
    // range (the stream-stream state watermark contract, as in s9);
    // both the matched and the null-extended rows must hash-match the
    // batch left-outer range oracle.
    Entry("s26_stream_range_left_outer",
      (spark, dir) => rangeLeftOuter(spark, dir, "s26_stream_range_left_outer"),
      Some(Analytics.rangeLeftOuterOracleSql)),

    // s26's NATIVE outer join under the PRODUCTION state backend:
    // RocksDB provider + changelog checkpointing. The custom joins
    // prove the backend swap on flatMapGroupsWithState state (s14,
    // s18); this proves it on Spark's symmetric-hash-join state AND
    // the watermark bookkeeping behind the delayed null flush — the
    // two structures a 100 TB native outer join actually keeps off
    // heap. Unmatched-left nulls must still flush exactly when the
    // watermark closes the match window, hash-matching the same batch
    // left-outer oracle.
    Entry("s31_stream_native_rocksdb",
      (spark, dir) => VersionedStreamJoin.withStateStoreProvider(spark) {
        rangeLeftOuter(spark, dir, "s31_stream_native_rocksdb")
      },
      Some(Analytics.rangeLeftOuterOracleSql)),

    // The FULL-outer form: unmatched rows on EITHER side flush
    // null-extended once the watermark closes their match window
    // (state for both sides is watermark-bounded). The output key is
    // the coalesced user id since right-only rows carry no left
    // columns. Same oracle discipline: matched + left-null +
    // right-null rows together hash-match the batch full-outer range
    // join.
    Entry("s27_stream_range_full_outer",
      (spark, dir) => runAppendReplay(spark, dir, "s27_stream_range_full_outer", Events,
          // coarsened trigger (StreamingHarness.coarseFilesPerTrigger): as s26
          filesPerTrigger = coarseFilesPerTrigger) { src =>
        rangeJoin(src, "full_outer")
          .select(coalesce(col("user_id"), col("uid2")).as("user_id"),
            col("event_id").as("e1"), col("e2"),
            (col("tus2") - col("ts_us")).as("dt_us"))
      }(_.filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("e1"), col("e2"))),
      Some(Analytics.rangeFullOuterOracleSql)),

    // The LEFT-SEMI form: a left row emits exactly once — when its
    // first in-range match arrives (or never, if none does, the state
    // again dropped at the watermark). The streaming answer is the
    // EXISTS shape a feed filter runs ("keep signups that saw
    // activity within 30 minutes").
    Entry("s28_stream_range_semi",
      (spark, dir) => runAppendReplay(spark, dir, "s28_stream_range_semi", Events,
          // coarsened trigger (StreamingHarness.coarseFilesPerTrigger): as s26
          filesPerTrigger = coarseFilesPerTrigger) { src =>
        rangeJoin(src, "left_semi")
          .select(col("user_id"), col("event_id").as("e1"), col("ts_us"))
      }(_.filter(col("user_id") >= 0)
        .orderBy(col("user_id"), col("e1"))),
      Some(Analytics.rangeSemiOracleSql)),

    // Spark's NATIVE streaming deduplication operator
    // (dropDuplicatesWithinWatermark): state-store-backed first-seen
    // dedup whose per-key state expires at the event-time watermark —
    // the built-in counterpart to the custom latest-wins
    // [[graft.streaming.VersionedStreamDedup]] (s8/s19). First
    // occurrences emit immediately in append mode (the watermark only
    // bounds STATE, not emission), and the 400-day delay exceeds the
    // corpus span, so the streamed answer is the exact distinct key
    // set — hash-matched against a batch DISTINCT oracle. At 100 TB
    // the state holds one slim entry per distinct in-horizon key
    // (never payloads) and is dropped by the watermark — the operator
    // a production feed runs to suppress replayed/at-least-once
    // duplicates. Completes native-streaming-operator coverage:
    // joins (s9/s26–s28), windows (s13/s12/s15), dedup (here).
    Entry("s29_stream_native_dedup",
      (spark, dir) =>
        runFileStream(spark, dir, "s29_stream_native_dedup", Events, mode = "append") { src =>
          src()
            .withColumn("ets", expr("timestamp_micros(ts_us)"))
            .withWatermark("ets", "400 days")
            .dropDuplicatesWithinWatermark("user_id", "event_type")
            .select(col("user_id"), col("event_type"))
        }(_.orderBy(col("user_id"), col("event_type"))),
      Some("""SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin)),

    // STREAM-STATIC ENRICHMENT JOIN — the remaining native streaming
    // join form: a stream joined to a STATIC dimension inside the
    // streaming query itself (not per-batch in foreachBatch). It is
    // stateless — each microbatch hash/broadcast-joins against the
    // dimension and emits immediately, no watermark, no state store —
    // which is exactly the 100 TB enrichment shape: the dimension
    // broadcasts to every executor once per batch (or bucket-joins
    // when too big) while the fact stream never shuffles. Every event
    // enriched exactly once across batches, so the converged log
    // hash-matches the batch join oracle with no upsert handling.
    Entry("s33_stream_static_enrich",
      (spark, dir) => {
        val dim = broadcast(Registry.table(spark, dir, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment")))
        runFileStream(spark, dir, "s33_stream_static_enrich", Events, mode = "append",
            // coarsened trigger (StreamingHarness.coarseFilesPerTrigger): stateless enrichment, each event emitted exactly once at any batching
            filesPerTrigger = coarseFilesPerTrigger) { src =>
          src()
            .join(dim, col("user_id") === col("c_custkey"))
            .select(col("event_id"), col("user_id"), col("event_type"),
              col("c_name"), col("c_mktsegment"))
        }(_.orderBy(col("event_id")))
      },
      Some("""SELECT event_id, user_id, event_type, c_name, c_mktsegment
        |FROM events JOIN customer ON user_id = c_custkey
        |ORDER BY event_id""".stripMargin)),

    // EVENT-TIME TTL TIMERS, ACTUALLY FIRING — the one TTL behavior no
    // other driver row exercises end-to-end (s14/s17/s18/s22 size the
    // TTL beyond the replay horizon, so their timers arm but never
    // fire). The purchase stream is replayed in six TIME-ORDERED
    // chunks (one file = one microbatch; the file source lists files
    // in mtime order, so strictly increasing mtimes fix the replay
    // order), keyed by user under a TTL of
    // 1/32 of the event-time span (~22 h of the 30-day corpus): a user
    // idle while the watermark advances past last-activity + TTL is
    // RETIRED mid-replay, emitting a TOMBSTONE (empty xs, the
    // retraction a downstream copy needs), and a later purchase
    // rebuilds the key from scratch — so the converged view excludes
    // everything the user did before a long gap. A final sentinel file
    // (ets pinned to the global max, so the watermark never moves past
    // the last real batch's frontier — no nondeterministic extra
    // firings) fires the remaining timers in a guaranteed data batch:
    // users idle at end-of-replay are tombstoned entirely. Because
    // chunks are time-ordered and timers are pure watermark functions,
    // the full firing schedule is deterministic, and the oracle
    // replays it in SQL: per-chunk watermark table → per-(user, chunk)
    // timer anchor → retirement between consecutive active chunks iff
    // the last pre-rebuild watermark passed the timer → survivors =
    // events after the user's last retirement, keys retired at the
    // end excluded. Converged readback orders by SINK BATCH ID (seq
    // restarts at 1 on rebuild, so per-key seq alone cannot order
    // pre/post-retirement emissions). At 100 TB this is the state
    //-bounding contract: state holds only watermark-active keys, and
    // the tombstone stream is the change feed that keeps downstream
    // materializations consistent with the retirements.
    Entry("s45_stream_ttl_retirement",
      (spark, dir) => inWorkDir(spark, "s45_stream_ttl_retirement", filesPerTrigger = 1) { work =>
        import spark.implicits._
        val in = java.nio.file.Files.createDirectories(work.resolve("in"))
        val ev = Registry.table(spark, dir, "events")
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"),
            expr("unix_micros(ts)").as("ts_us"))
        val bounds = ev.agg(min(col("ts_us")), max(col("ts_us"))).head()
        val (mn, mx) = (bounds.getLong(0), bounds.getLong(1))
        val nCh = 6
        val ttlMs = (mx / 1000 - mn / 1000) / 32
        val chunked = ev.withColumn("c", expr(
          s"least(${nCh - 1}, ((ts_us - ${mn}L) * $nCh) div ${mx - mn + 1}L)"))
          .localCheckpoint()
        // one file per time-ordered chunk + the sentinel, with
        // strictly increasing mtimes so the file source replays
        // them in event-time order (batch = chunk)
        val base = System.currentTimeMillis() - 3600000L
        def writeChunk(df: DataFrame, idx: Int): Unit = {
          val stage = work.resolve(s"stage$idx")
          df.coalesce(1).write.parquet(stage.toString)
          val part = listDir(stage)
            .find(_.getFileName.toString.startsWith("part-")).get
          val dst = in.resolve(f"chunk$idx%02d.parquet")
          java.nio.file.Files.move(part, dst)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(base + idx * 10000L))
        }
        for (c <- 0 until nCh)
          writeChunk(chunked.filter(col("c") === c)
            .select(col("user_id"), col("event_id"), col("ts_us")), c)
        writeChunk(Seq(TtlEv(-1L, -1L, mx)).toDF(), nCh)
        val src = fileStream(spark, "user_id BIGINT, event_id BIGINT, ts_us BIGINT",
          in, 1, glob = "chunk*").as[TtlEv]
        val dd = VersionedStreamDedup.latestPerKeyId[TtlEv](
          src, _.user_id.toString, _.event_id.toString, _.ts_us / 1000,
          Some(EventTimeTtl(ttlMs)))
        drain(startLog(dd.toDF(), work.resolve("ckpt"), work.resolve("log"), "update"))
        latestBidPerKey(spark.read.parquet(work.resolve("log").toString), "key")
          .filter(size(col("xs")) > 0) // end-retired keys: tombstoned
          .select(col("key").cast("long").as("user_id"),
            explode(col("xs")).as("x"))
          .filter(col("user_id") >= 0) // drop the sentinel key
          .select(col("user_id"), col("x.event_id").as("event_id"),
            col("x.ts_us").as("ts_us"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us
        |  FROM events WHERE event_type = 'purchase'),
        |mm AS (SELECT min(ts_us) AS mn, max(ts_us) AS mx FROM ev),
        |prm AS (SELECT mn, mx,
        |  ((mx // 1000) - (mn // 1000)) // 32 AS ttl,
        |  (mx // 1000) - 10000 AS wfire FROM mm),
        |ch AS (SELECT e.*, e.ts_us // 1000 AS ts_ms,
        |  LEAST(5, ((e.ts_us - mm.mn) * 6) // (mm.mx - mm.mn + 1)) AS c
        |  FROM ev e, mm),
        |cmx AS (SELECT c, max(ts_ms) AS cmax FROM ch GROUP BY c),
        |wt AS (SELECT g.c,
        |  CASE WHEN g.c = 0 THEN 0
        |       ELSE (SELECT max(cmax) FROM cmx WHERE cmx.c < g.c) - 10000
        |  END AS w
        |  FROM (SELECT unnest(generate_series(0, 5)) AS c) g),
        |kb AS (SELECT user_id, c, max(ts_ms) AS kmax FROM ch GROUP BY 1, 2),
        |anc AS (SELECT kb.user_id, kb.c,
        |  GREATEST(wt.w, kb.kmax) + prm.ttl AS timer,
        |  lead(kb.c) OVER (PARTITION BY kb.user_id ORDER BY kb.c) AS nc
        |  FROM kb JOIN wt USING (c), prm),
        |ret AS (SELECT a.user_id, a.c, a.nc,
        |  CASE WHEN a.nc IS NULL THEN prm.wfire > a.timer
        |       ELSE (SELECT w FROM wt WHERE wt.c = a.nc - 1) > a.timer
        |  END AS retired
        |  FROM anc a, prm),
        |dead AS (SELECT user_id FROM ret WHERE nc IS NULL AND retired),
        |cut AS (SELECT user_id,
        |  max(CASE WHEN retired AND nc IS NOT NULL THEN c ELSE -1 END) AS cutc
        |  FROM ret GROUP BY user_id)
        |SELECT ch.user_id, ch.event_id, ch.ts_us
        |FROM ch JOIN cut USING (user_id)
        |WHERE ch.c > cut.cutc
        |  AND ch.user_id NOT IN (SELECT user_id FROM dead)
        |ORDER BY user_id, event_id""".stripMargin)),
  )

  /** The native range join of the s26-s28/s31 rows over two streams
    * from `src`: signup/error lefts (users not divisible by 3) against
    * click/purchase/view rights (users not divisible by 5) of the same
    * user within 30 minutes of event time, joined `how`. Left columns
    * `user_id`, `event_id`, `ts_us`, `ats`; right `uid2`, `e2`, `tus2`,
    * `bts`. */
  private[graft] def rangeJoin(src: () => DataFrame, how: String): DataFrame = {
    val a = src()
      .filter(expr("event_type IN ('signup','error') AND user_id % 3 != 0"))
      .select(col("user_id"), col("event_id"), col("ts_us"), col("ets").as("ats"))
    val b = src()
      .filter(expr("event_type IN ('click','purchase','view') AND user_id % 5 != 0"))
      .select(col("user_id").as("uid2"), col("event_id").as("e2"),
        col("ts_us").as("tus2"), col("ets").as("bts"))
    a.join(b, expr("user_id = uid2 AND " +
      "bts BETWEEN ats - INTERVAL 30 MINUTES AND ats + INTERVAL 30 MINUTES"), how)
  }

  /** s26 and s31: the left-outer [[rangeJoin]] as row `name`. */
  private def rangeLeftOuter(spark: SparkSession, dir: String, name: String): DataFrame =
    runAppendReplay(spark, dir, name, Events,
        // coarsened trigger (StreamingHarness.coarseFilesPerTrigger): matched rows and the sentinel-flushed nulls are the same set at any batching
        filesPerTrigger = coarseFilesPerTrigger) { src =>
      rangeJoin(src, "left_outer")
        .select(col("user_id"), col("event_id").as("e1"), col("e2"),
          (col("tus2") - col("ts_us")).as("dt_us"))
    }(_.filter(col("user_id") >= 0) // belt-and-braces vs sentinels
      .orderBy(col("user_id"), col("e1"), col("e2")))
}
