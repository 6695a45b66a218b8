package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.nio.file.Path
import scala.reflect.runtime.universe.TypeTag

import graft.streaming.{EventTimeTtl, PerIdEntries, VersionedStreamDedup,
  VersionedStreamJoin}

/** The reference-surface streaming twins: every versioned join
  * variant (full/left outer, sequenced, inner — both state-API
  * generations, plus as-of, range and the chained A⋈B⋈C production
  * topology) replayed through the file source and converged against
  * the SAME batch DuckDB oracles as the batch rows. */
private[graft] object StreamJoinTwins {

  import StreamingHarness._

  /** A single-join row's join over the split events stream. */
  private type Join = (Dataset[Ev], Dataset[Ev]) => DataFrame

  /** One single-join replay row: the events stream split into the
    * signup/error x side and the click/purchase/view y side, keyed by
    * user with event_type as the upsert id and ts_us as the version.
    * `join` names the [[VersionedStreamJoin]] variant with its TTL and
    * state layout: the default per-key packed state, or the per-id
    * entries ([[PerIdEntries]]: transformWithState, per-(key, id)
    * MapState and a per-key event-time timer; requires RocksDB). The
    * TTL rows pass [[horizon]], sized beyond the replay (the watermarked
    * union and retirement timers run, but never fire mid-replay).
    * `rocksDb` runs the state on the RocksDB provider; `coarse` takes
    * [[StreamingHarness.coarseFilesPerTrigger]] files per trigger
    * instead of one (sound here: every fold is a max-seq view, which is
    * batching-independent). */
  private final case class Twin(name: String, rocksDb: Boolean,
                                coarse: Boolean,
                                fold: DataFrame => DataFrame, oracle: String,
                                join: Join)

  /** Event-time TTL beyond the replay horizon. The version axis is
    * epoch MICROSECONDS read as the TTL clock's milliseconds, which
    * stretches the corpus's 29-day span ~80 years, so the watermark
    * delay is sized in the same stretched units (a deployment with real
    * epoch-millis versions uses its real out-of-orderness bound).
    * Retirement itself is sbt-asserted (StreamJoinSpec, TwsJoinSpec),
    * where arrival order is controllable. */
  private val horizonTtlMs = 1000L * 365 * 86400 * 1000
  private val horizon: Option[EventTimeTtl] = Some(EventTimeTtl(horizonTtlMs, "36500 days"))

  private val user: Ev => String = _.user_id.toString
  private val evType: Ev => String = _.event_type
  private val evId: Ev => String = _.event_id.toString
  private val evTs: Ev => Long = _.ts_us

  /** SKEW-SALTED streaming state, composed from the existing operators
    * (SkewTools' salt-and-replicate contract in streaming form): the
    * streaming joins leave skewed keys to the caller, and this is the
    * fix. Each x lands in exactly one of `salts` sub-keys of its user
    * (by id hash), so a hot key's X state and emission fan-out spread
    * over `salts` state partitions; each y is replicated to every
    * sub-key as `(salt, y)`. The converged sub-key rows fold back to
    * the unsalted batch oracle's answer through [[convergedSalted]]. */
  private final val salts = 4
  private def salted(join: (Dataset[Ev], Dataset[(Int, Ev)]) => DataFrame): Join =
    (xs, ys) => join(xs, ys.flatMap(y => (0 until salts).map(s => (s, y)))(
      Encoders.product[(Int, Ev)]))
  private val saltedUser: Ev => String =
    x => x.user_id.toString + "#" + math.floorMod(x.event_type.hashCode, salts)
  private val replicaUser: ((Int, Ev)) => String = y => y._2.user_id.toString + "#" + y._1
  private val replicaType: ((Int, Ev)) => String = _._2.event_type
  private val replicaTs: ((Int, Ev)) => Long = _._2.ts_us

  private val singleJoins: Seq[Twin] = {
    import ReferenceJoins.{j1OracleSql => j1, j2OracleSql => j2,
      j3OracleSql => j3, j4OracleSql => j4, j5OracleSql => j5}
    // the join columns are built here, outside any session
    implicit def productEncoder[T <: Product : TypeTag]: Encoder[T] =
      Encoders.product[T]
    implicit val stringEncoder: Encoder[String] = Encoders.STRING
    import VersionedStreamJoin._
    Seq(
      //   name, rocksDb, coarse, fold, oracle, join
      // the per-file fidelity archetype of the packed-state path
      Twin("s4_stream_file_join", false, false, convergedJ1, j1,
        fullOuter(_, _, user, user, evType, evType, evTs, evTs).toDF()),
      // J2's per-KEY x: at most one latest x per user (unique at every SF)
      Twin("s5_stream_left_outer", false, true, convergedJ1, j2,
        leftOuter(_, _, user, user, evType, evType, evTs, evTs).toDF()),
      Twin("s6_stream_left_outer_seq", false, true, convergedJ3, j3,
        leftOuterSeq(_, _, user, user, evType, evType, evTs, evTs).toDF()),
      Twin("s7_stream_full_outer_seq", false, true, convergedJ4, j4,
        fullOuterSeq(_, _, user, user, evType, evType, evTs, evTs).toDF()),
      Twin("s10_stream_inner", false, true, convergedJ1, j5,
        inner(_, _, user, user, evType, evType, evTs, evTs).toDF()),
      // state-backend swap: upserts, maps and seqs round-trip RocksDB
      Twin("s14_stream_rocksdb", true, true, convergedJ1, j1,
        fullOuter(_, _, user, user, evType, evType, evTs, evTs).toDF()),
      // watermarked union + EventTimeTimeout; s45 keeps a firing-TTL row
      Twin("s17_stream_ttl_join", false, true, convergedJ1, j1,
        fullOuter(_, _, user, user, evType, evType, evTs, evTs,
          horizon).toDF()),
      // the per-file fidelity archetype of the per-id entries layout
      Twin("s20_stream_tws_join", true, false, convergedJ1, j1,
        fullOuter(_, _, user, user, evType, evType, evTs, evTs,
          horizon, PerIdEntries).toDF()),
      Twin("s23_stream_tws_left_outer", true, true, convergedJ1, j2,
        leftOuter(_, _, user, user, evType, evType, evTs, evTs,
          horizon, PerIdEntries).toDF()),
      Twin("s34_stream_tws_left_outer_seq", true, true, convergedJ3, j3,
        leftOuterSeq(_, _, user, user, evType, evType, evTs, evTs,
          horizon, PerIdEntries).toDF()),
      Twin("s35_stream_tws_full_outer_seq", true, true, convergedJ4, j4,
        fullOuterSeq(_, _, user, user, evType, evType, evTs, evTs,
          horizon, PerIdEntries).toDF()),
      Twin("s49_stream_tws_inner", true, true, convergedJ1, j5,
        inner(_, _, user, user, evType, evType, evTs, evTs,
          horizon, PerIdEntries).toDF()),
      // SKEW-SALTED streaming state (see [[salted]]) on the inner join
      Twin("s16_stream_salted_inner", false, true, convergedSalted, j5,
        salted(inner(_, _, saltedUser, replicaUser, evType, replicaType,
          evTs, replicaTs).toDF())),
      // THE PRODUCTION DEPLOYMENT SHAPE: all three 100 TB configs at
      // once — RocksDB state (state >> heap), event-time TTL (state
      // bounded to watermark-active keys; beyond the horizon as in s17)
      // and skew-salted keys — on the FULL OUTER join
      Twin("s18_stream_production_join", true, true, convergedSalted, j1,
        salted(fullOuter(_, _, saltedUser, replicaUser, evType, replicaType,
          evTs, replicaTs, horizon).toDF())))
  }

  /** Converged view of a salted J1/J5 sink in the batch shape: the
    * latest emission per sub-key, [[crossSalt]]-suppressed on x, its
    * `salts`-fold (None, y) replicas collapsed by one `distinct` (exact
    * for every other row too: each J1/J5 row carries its event ids, so
    * the answer holds no duplicate rows). (x, y) and (x, None) rows
    * are exact as emitted: each x is in one sub-key, and the y replicas
    * reach it all. For the inner join neither step changes anything. */
  private def convergedSalted(raw: DataFrame): DataFrame =
    crossSalt(latestSeqPerKey(raw, "key"), col("x").isNotNull)
      .select(
        col("base_key").cast("long").as("user_id"),
        col("x.event_id").as("x_event_id"),
        col("x.event_type").as("x_type"),
        expr("timestamp_micros(x.ts_us)").as("x_ts"),
        col("y._2.event_id").as("y_event_id"),
        col("y._2.event_type").as("y_type"),
        expr("timestamp_micros(y._2.ts_us)").as("y_ts"))
      .distinct()
      .orderBy(col("user_id"), asc_nulls_first("x_type"),
        asc_nulls_first("y_type"))

  /** Cross-salt suppression of a salted outer join's converged rows,
    * keyed `<base>#<salt>`: a row without x (`hasX` false) is a
    * replicated y's unmatched emission, real only when NO sub-key of
    * its `base_key` holds an x (each x lives in exactly one sub-key).
    * Adds the `base_key` column. */
  private def crossSalt(rows: DataFrame, hasX: Column): DataFrame =
    rows.withColumn("base_key", substring_index(col("key"), "#", 1))
      .withColumn("has_x", max(when(hasX, 1).otherwise(0))
        .over(Window.partitionBy(col("base_key"))))
      .filter(hasX || col("has_x") === 0)

  /** Runs one [[Twin]] row: state config around a file-source replay of
    * the row's join, folded and checked against the row's oracle. */
  private def entry(t: Twin): Entry = Entry(t.name, (spark, dir) => {
    def replay(): DataFrame = runFileStream(spark, dir, t.name, Events,
        filesPerTrigger = if (t.coarse) coarseFilesPerTrigger else 1) { src =>
      def ev = src().as(Encoders.product[Ev])
      t.join(ev.filter(isX _), ev.filter(isY _))
    }(t.fold)
    if (t.rocksDb) VersionedStreamJoin.withStateStoreProvider(spark)(replay())
    else replay()
  }, Some(t.oracle))

  def entries: Seq[Entry] = singleJoins.map(entry) ++ Seq(

    // Standalone streaming latest-wins dedup (reference D2 as its own
    // operator, not a join side): the whole events stream keyed by
    // user with event_type as the upsert id must converge to the batch
    // d2_latest_by_key_id answer. Deterministic: (user, type, ts) is
    // unique at every SF, so strict latest-wins needs no tiebreak.
    Entry("s8_stream_dedup",
      (spark, dir) => {
        import spark.implicits._
        runFileStream(spark, dir, "s8_stream_dedup", Events) { src =>
          VersionedStreamDedup.latestPerKeyId[Ev](src().as[Ev],
            e => e.user_id.toString, e => e.event_type, e => e.ts_us).toDF()
        } { raw =>
          latestMembers(raw)
            .select(col("x.user_id").as("user_id"),
              col("x.event_id").as("event_id"),
              col("x.event_type").as("event_type"),
              expr("timestamp_micros(x.ts_us)").as("ts"),
              col("x.value").as("value"))
            .orderBy(col("user_id"), col("event_type"))
        }
      },
      Some(ReferenceJoins.d2OracleSql)),

    // STREAMING AS-OF JOIN — q_asof_join's streaming twin: every
    // signup/error event is enriched with the click/purchase/view IN
    // EFFECT at its own event time (latest y at-or-before x.ts), i.e.
    // leakage-free point-in-time feature attachment over a live
    // stream. Late or out-of-order arrivals on EITHER side
    // retroactively correct exactly the rows they should, so the
    // converged view hash-matches DuckDB's native ASOF JOIN (a
    // genuinely independent implementation). The per-file replay
    // guarantees xs and ys interleave across microbatches, so the
    // retroactive-correction path actually runs.
    asOfTwin("s48_stream_asof_join", forward = false, coarse = false,
      Analytics.asofOracleSql),

    // STREAMING FORWARD AS-OF — q_asof_forward's streaming twin: each
    // signup/error resolves to the user's EARLIEST click/purchase/view
    // at-or-after its own event time (next-action attribution). A late
    // y with a smaller qualifying ts CORRECTS already-emitted xs, which
    // the per-trigger re-emit + converged view provides; the coarsened
    // trigger is sound because those corrections are arrival-order-free.
    asOfTwin("s51_stream_asof_forward", forward = true, coarse = true,
      Analytics.asofForwardOracleSql),

    // Spark's NATIVE watermarked stream-stream join (the built-in
    // operator family, distinct from the custom versioned-join core):
    // the same bounded range join as q_range_join, run append-mode with
    // both sides streaming. The join condition carries only the key and
    // the event-time range (a non-time inequality in a stream-stream
    // join condition makes StreamingJoinHelper log a caught
    // INTERNAL_ERROR per microbatch while probing it for a state
    // watermark), so each unordered pair is emitted exactly twice —
    // once per orientation — plus once per self-pair; the final BATCH
    // projection over the sink applies e1 < e2, keeping each pair
    // exactly once. Watermark delay is set beyond the replay's total
    // disorder so no buffered row is evicted early — exactness over
    // state size, the right trade for a finite replay; a production
    // deployment sizes it to the stream's real out-of-orderness bound
    // and accepts the documented late-drop.
    Entry("s9_stream_range_join",
      (spark, dir) => {
        runFileStream(spark, dir, "s9_stream_range_join", Events, mode = "append",
            // coarsened trigger (StreamingHarness.coarseFilesPerTrigger): inner range join with beyond-span watermark: every pair emitted exactly once whatever the batching; e1<e2 fold batching-independent
            filesPerTrigger = coarseFilesPerTrigger) { src =>
          val a = src()
            .select(col("user_id"), col("event_id"), col("ts_us"))
            .withColumn("ats", expr("timestamp_micros(ts_us)"))
            .withWatermark("ats", "400 days")
          val b = src()
            .select(col("user_id").as("uid2"), col("event_id").as("e2"),
              col("ts_us").as("tus2"))
            .withColumn("bts", expr("timestamp_micros(tus2)"))
            .withWatermark("bts", "400 days")
          a.join(b, expr("user_id = uid2 AND " +
              "bts BETWEEN ats - INTERVAL 30 MINUTES " +
              "AND ats + INTERVAL 30 MINUTES"))
            // NO post-join e1 < e2 filter on the streaming side: the
            // optimizer pushes such a filter INTO the inner-join
            // condition (PushDownPredicates), and StreamingJoinHelper
            // then logs a caught INTERNAL_ERROR per microbatch while
            // probing the non-time predicate for a state watermark.
            // Both orientations + self-pairs are emitted; the batch
            // projection below keeps each unordered pair exactly once.
            .select(col("user_id"), col("event_id").as("e1"), col("e2"),
              (col("tus2") - col("ts_us")).as("dt_us"))
        } { raw =>
          raw.filter(col("e1") < col("e2"))
            .orderBy(col("user_id"), col("e1"), col("e2"))
        }
      },
      Some(Analytics.rangeJoinOracleSql)),

    // The chain with per-file triggers on the default state store, so
    // the fine-grained interleaving of both stages stays exercised.
    Entry("s11_stream_chain_abc",
      (spark, dir) => chain(spark, dir, "s11_stream_chain_abc", salts = 1,
        production = false, filesPerTrigger = 1),
      Some(ReferenceJoins.j6OracleSql)),

    // THE CHAIN UNDER THE PRODUCTION CONFIG: RocksDB on both stages,
    // event-time TTL, a 2-way salted stage 2 (2, not s18's 4: the salt
    // factor multiplies the biggest table's state writes — lineitem
    // replicas × RocksDB upserts — and two sub-keys already prove the
    // cross-salt composition), and coarsened triggers, as a
    // deployment sizes its trigger to its ingest prefix.
    Entry("s22_stream_production_chain",
      (spark, dir) => chain(spark, dir, "s22_stream_production_chain",
        salts = 2, production = true, filesPerTrigger = coarseFilesPerTrigger),
      Some(ReferenceJoins.j6OracleSql)),
  )

  /** One as-of replay row: signup/error events as x, click/purchase/view
    * as y, keyed by user with event_id as the upsert id. */
  private def asOfTwin(name: String, forward: Boolean, coarse: Boolean,
                       oracle: String): Entry =
    Entry(name, (spark, dir) => { import spark.implicits._
      runFileStream(spark, dir, name, Events,
          filesPerTrigger = if (coarse) coarseFilesPerTrigger else 1) { src =>
        val xs = src().as[Ev].filter((e: Ev) =>
          e.event_type == "signup" || e.event_type == "error")
        val ys = src().as[Ev].filter((e: Ev) => e.event_type == "click" ||
          e.event_type == "purchase" || e.event_type == "view")
        (if (forward) VersionedStreamJoin.asOfForward[Ev, Ev](
           xs, ys, user, user, evId, evId, evTs, evTs)
         else VersionedStreamJoin.asOf[Ev, Ev](
           xs, ys, user, user, evId, evId, evTs, evTs)).toDF()
      } { raw =>
        latestSeqPerKey(raw, "key")
          .select(
            col("key").cast("long").as("user_id"),
            col("x.event_id").as("x_event_id"),
            col("x.event_type").as("x_type"),
            expr("timestamp_micros(x.ts_us)").as("x_ts"),
            col("y.event_id").as("y_event_id"),
            col("y.event_type").as("y_type"),
            expr("timestamp_micros(y.ts_us)").as("y_ts"),
            col("y.value").as("y_value"))
          .orderBy(col("user_id"), col("x_ts"), col("x_event_id"))
      }
    }, Some(oracle))

  /** CHAINED streaming joins: the reference's full 3-level data model
    * A 1—N B 1—N C (GenJoinInput.scala:32-34) with the second versioned
    * join running over the FIRST's streaming output, verified against
    * the batch j6_chain_abc oracle. Chaining update-mode joins without
    * retractions needs the decomposition proven in StreamJoinSpec ("two
    * chained streaming joins converge"):
    *   - stage 2 consumes only the b-carrying AB rows, keyed and
    *     identified by o_orderkey (STABLE across an AB row's lifetime)
    *     with the stage-1 per-key seq as a monotone version, so
    *     superseded stage-1 emissions upsert cleanly downstream;
    *   - the a-only arm (customers with no orders), whose identity
    *     would MOVE when an order arrived, is taken from stage 1's own
    *     converged view instead.
    * Both stages are file-source streams, the inter-stage relay is a
    * parquet log ([[StreamingHarness.startLog]], an object-store prefix
    * at scale), and stage 2's sink is another parquet log — nothing is
    * collected to the driver. Both stages checkpoint in the row's work
    * dir ([[StreamingHarness.inWorkDir]]). Both stages emit
    * deltas ([[VersionedStreamJoin.fullOuterDelta]]): every relayed row
    * is a stage-2 state upsert, and full re-emission would make that
    * work quadratic in a key's update count.
    *
    * The rows differ only in the parameters:
    *   - `salts`: stage 2's X side (AB rows, identity o_orderkey) lands
    *     in exactly one of `salts` sub-keys and lineitem replicas reach
    *     all of them; the fold's cross-salt (None, lineitem)
    *     suppression and replica dedup change nothing when
    *     `salts` = 1, so both rows share one fold. Stage 1 stays
    *     unsalted: a salted stage 1 would relay per-sub-key
    *     (None, order) rows as AB versions of the same o_orderkey
    *     identity, colliding with the true (customer, order) row;
    *   - `production`: RocksDB state on both stages plus event-time TTL
    *     on watermarked unions. The delay covers the chain's MIXED
    *     version axes (stage-1 seqs up to packed shipdate·1e10
    *     lineitem versions), so the watermark stays at zero through the
    *     replay and timers are armed but never fire;
    *   - `filesPerTrigger`: above one, each stage must still commit
    *     >= 2 microbatches ([[StreamingHarness.requireMultiBatch]] on
    *     both checkpoints), and every commit is an upserting one: a
    *     no-data batch runs only to advance a watermark, which the
    *     unwatermarked stages lack and `production`'s delay holds at 0.
    * The customer side's constant version is positive because the
    * watermarked union drops rows whose event time is at or below the
    * epoch-0 watermark floor; the unwatermarked stage does not care. */
  private def chain(spark: SparkSession, dir: String, name: String,
                    salts: Int, production: Boolean,
                    filesPerTrigger: Int): DataFrame = {
    val ttl = if (production) Some(EventTimeTtl(horizonTtlMs,
      watermarkDelay = "36500000 days")) else None
    def replay(): DataFrame = inWorkDir(spark, name, filesPerTrigger) { work =>
      val answer = chainReplay(spark, dir, work, salts, filesPerTrigger, ttl)
      // stage 1's checkpoint, work/ckpt, is checked by inWorkDir
      if (filesPerTrigger > 1) requireMultiBatch(work.resolve("ckpt2"), name)
      answer
    }
    if (production) VersionedStreamJoin.withStateStoreProvider(spark)(replay())
    else replay()
  }

  private def chainReplay(spark: SparkSession, dir: String, work: Path,
                          salts: Int, filesPerTrigger: Int,
                          ttl: Option[EventTimeTtl]): DataFrame = {
    import spark.implicits._
    val (abLog, bcLog) = (work.resolve("ablog"), work.resolve("bclog"))
    def src(c: ChunkedSource): DataFrame =
      fileStream(spark, c.schema, c.chunkDir(spark, dir), filesPerTrigger)

    // stage 1: customer ⋈ orders keyed by custkey; every microbatch's
    // emissions land in the relay log in the stateful stage's own
    // partitioning (one file per shuffle partition per batch — no
    // single-task funnel). The a-only arm below stays sound under delta
    // emission because a key's LAST emission carries a non-null
    // o_orderkey iff the key ever saw an order ((cust, None) is only
    // emitted while ys is empty, and no deletions exist to empty it
    // again).
    val q1 = startLog(
      VersionedStreamJoin.fullOuterDelta[CustRow, OrdRow](
          src(ChainCust).as[CustRow],
          src(ChainOrd).as[OrdRow],
          _.c_custkey.toString, _.o_custkey.toString,
          _.c_custkey.toString, _.o_orderkey.toString,
          _ => 1L, _.o_ver, ttl) // one customer version per id
        .select(col("key"), col("seq"),
          col("x.c_custkey").as("c_custkey"),
          col("x.c_name").as("c_name"),
          col("y.o_orderkey").as("o_orderkey"),
          col("y.o_totalprice").as("o_totalprice")),
      work.resolve("ckpt"), abLog, layout = identity)

    val abSchema = "key STRING, seq BIGINT, c_custkey BIGINT, " +
      "c_name STRING, o_orderkey BIGINT, o_totalprice DOUBLE"

    // stage 2: (b-carrying AB rows) ⋈ lineitem keyed by orderkey, a
    // file-source stream over the relay log. It starts WHILE stage 1
    // is still emitting — the production topology — which is sound
    // because the converged view is interleaving-independent. It
    // takes up to a full stage-1 batch's files per trigger.
    val lis = src(ChainLi).as[LiRow]
      .flatMap(li => (0 until salts).map(s => (s, li)))
    val q2 = startLog(
      VersionedStreamJoin.fullOuterDelta[AbRel, (Int, LiRow)](
          relayTail(spark, abLog, abSchema)
            .where(col("o_orderkey").isNotNull)
            .select(col("seq"), col("c_custkey"), col("c_name"),
              col("o_orderkey"), col("o_totalprice")).as[AbRel],
          lis,
          ab => ab.o_orderkey.toString + "#" + math.floorMod(ab.o_orderkey, salts),
          li => li._2.l_orderkey.toString + "#" + li._1,
          _.o_orderkey.toString,
          li => li._2.l_orderkey.toString + "_" + li._2.l_linenumber,
          _.seq, _._2.l_ver, ttl)
        .select(col("key"), col("seq"),
          col("x.c_custkey").as("c_custkey"),
          col("x.c_name").as("c_name"),
          col("x.o_orderkey").as("o_orderkey"),
          col("x.o_totalprice").as("o_totalprice"),
          col("y._2.l_linenumber").as("l_linenumber"),
          col("y._2.l_extendedprice").as("l_extendedprice")),
      // NOT repartition(1)-bounded like the singleFile logs: the
      // per-batch emission sets are large (~10^5 rows), and funneling
      // them through one write task was A/B-measured at +1.3–1.8 s per
      // row (min-of-4, sf0.1, matched controls)
      work.resolve("ckpt2"), bcLog, layout = identity)
    // drain stage 1 first (it feeds the relay), then stage 2; both
    // have been processing concurrently since start
    drain(q1, q2)

    // converged stage-2 view under DELTA emission: the last emission
    // for a key is only its last CHANGE, so convergence is per row
    // identity — latest seq per (key, l_linenumber) for the
    // lineitem-carrying rows (an AB-row update re-emits every pair at
    // a higher seq, and a (None, li) row is superseded the same way
    // once its AB row arrives) — plus the null-linenumber group, a
    // key's (x, None) rows, valid only while the key never emitted a
    // pair. Folded as groupBy + max_by: ONE partially-aggregating
    // exchange instead of a whole-log window sort; seq ties per group
    // are impossible (a key emits each identity at most once per
    // batch, and seq increases per batch).
    val bcStruct = struct(col("c_custkey"), col("c_name"),
      col("o_orderkey"), col("o_totalprice"), col("l_linenumber"),
      col("l_extendedprice"))
    val perIdentity = spark.read
      .schema(abSchema + ", l_linenumber INT, l_extendedprice DOUBLE")
      .parquet(bcLog.toString)
      .groupBy(col("key"), col("l_linenumber"))
      .agg(max_by(bcStruct, col("seq")).as("r"))
      .withColumn("has_li",
        max(when(col("l_linenumber").isNotNull, 1).otherwise(0))
          .over(Window.partitionBy(col("key"))))
      .filter(col("l_linenumber").isNotNull || col("has_li") === 0)
    // cross-salt suppression of (None, lineitem) rows (x present ⟺
    // o_orderkey non-null, since AbRel.o_orderkey is mandatory)
    val viaBc = crossSalt(perIdentity, col("r.o_orderkey").isNotNull).select(col("r.c_custkey"), col("r.c_name"),
      col("r.o_orderkey"), col("r.o_totalprice"),
      col("r.l_linenumber"), col("r.l_extendedprice"))
      // collapse the salts-fold replicas
      .distinct()
    // converged stage-1 view: the a-only arm (no order ever came).
    // Among a max-seq TIE (one batch changing two of a key's orders)
    // max_by picks arbitrarily, but every tied row then carries a
    // non-null o_orderkey and is filtered out either way.
    val aOnly = spark.read.schema(abSchema).parquet(abLog.toString)
      .groupBy(col("key"))
      .agg(max_by(struct(col("c_custkey"), col("c_name"),
        col("o_orderkey")), col("seq")).as("r"))
      .filter(col("r.o_orderkey").isNull)
      .select(col("r.c_custkey").as("c_custkey"),
        col("r.c_name").as("c_name"),
        lit(null).cast("long").as("o_orderkey"),
        lit(null).cast("double").as("o_totalprice"),
        lit(null).cast("int").as("l_linenumber"),
        lit(null).cast("double").as("l_extendedprice"))
    viaBc.unionByName(aOnly)
      .orderBy(asc_nulls_first("c_custkey"),
        asc_nulls_first("o_orderkey"),
        asc_nulls_first("l_linenumber"))
  }
}
