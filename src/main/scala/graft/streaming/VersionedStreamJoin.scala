package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders, KeyValueGroupedDataset}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, TimeMode}

import graft.core.JoinRules

/** One emitted join row, stamped with the per-key emission sequence so
  * downstream consumers can (a) apply the reference's latest-wins dedup
  * contract, or (b) filter to the converged result (max seq per key). */
final case class Emitted[X, Y](key: String, seq: Long,
                               x: Option[X], y: Option[Y])

/** One emitted nested join row (J3/J4 shapes): both sides' latest
  * versions as sequences, ordered by primary id for determinism. */
final case class EmittedSeq[X, Y](key: String, seq: Long,
                                  xs: Seq[X], ys: Seq[Y])

/** One record of either side as the keyed state drivers read it — the
  * Spark-explicit form of the reference's internal `TaggedUnion[X,Y]`
  * cogroup input (reference: versionDeduplicator.scala:61,
  * VersioningEvictor.scala:15): the join key, the side, the record as
  * [[RowCodec]] bytes, and its version as an event-time instant
  * (version interpreted as epoch millis) so event-time TTL mode can
  * hang a watermark on the union. A flat row, so the operators'
  * per-task input decode is trivial. */
private[streaming] final case class Packed(key: String, isX: Boolean,
                                           row: Array[Byte],
                                           ets: java.sql.Timestamp)

/** What the keyed state drivers need of the two sides: the key, id and
  * version of a record, and a [[RowCodec]] per side. The streaming
  * dedup runs one-sided: a `JoinSides[X, X]` fed by [[packX]] alone.
  *
  * The [[PackedPerKey]] state of a key is one byte array
  * ([[PackedState]]): its emission seq, then the latest X row per id,
  * then the latest Y row per id; ids are re-derived on unpack. Upsert
  * on write means the state IS the reference's compacted window
  * buffer — the VersioningEvictor/deduplicateMutable machinery (E1/D3,
  * VersioningEvictor.scala:10-29) becomes unnecessary by construction,
  * and D3's Y-side eviction bug (versionDeduplicator.scala:100) has
  * nothing to port. */
private[streaming] final class JoinSides[X, Y](
    keyX: X => String, keyY: Y => String,
    idX: X => String, idY: Y => String,
    tsX: X => Long, tsY: Y => Long)(
    implicit ex: Encoder[X], ey: Encoder[Y]) extends Serializable {
  private val cx = RowCodec(ex)
  private val cy = RowCodec(ey)

  /** One side as keyed rows whose event time is the record's version. */
  private def packSide[T](ds: Dataset[T], isX: Boolean, key: T => String,
                          codec: RowCodec[T], ts: T => Long): Dataset[Packed] =
    ds.map(t => Packed(key(t), isX, codec.toBytes(t),
      new java.sql.Timestamp(ts(t))))(Encoders.product[Packed])

  /** The X side alone: the input of a one-sided run, such as the dedup. */
  def packX(dsx: Dataset[X]): Dataset[Packed] = packSide(dsx, isX = true, keyX, cx, tsX)

  /** Both sides as one keyed stream. */
  def pack(dsx: Dataset[X], dsy: Dataset[Y]): Dataset[Packed] =
    packX(dsx).union(packSide(dsy, isX = false, keyY, cy, tsY))

  /** One trigger's rows for a key upserted into its latest-per-id maps
    * with [[JoinRules.upsert]], in one pass that also takes the newest
    * event time delivered. */
  def upsert(xs: Map[String, X], ys: Map[String, Y],
             rows: Iterator[Packed]): KeyUpdate[X, Y] = {
    var xs1 = xs
    var ys1 = ys
    var maxEtsMs = Long.MinValue
    rows.foreach { p =>
      if (p.isX) xs1 = JoinRules.upsert(xs1, cx.fromBytes(p.row))(idX, tsX)
      else ys1 = JoinRules.upsert(ys1, cy.fromBytes(p.row))(idY, tsY)
      maxEtsMs = math.max(maxEtsMs, p.ets.getTime)
    }
    KeyUpdate(xs, ys, xs1, ys1, maxEtsMs)
  }

  def writeState(seq: Long, xs: Map[String, X],
                 ys: Map[String, Y]): Array[Byte] =
    PackedState.write(seq, xs.valuesIterator.map(cx.toBytes).toSeq,
      ys.valuesIterator.map(cy.toBytes).toSeq)

  /** A key's seq and latest-per-id maps; none yet is seq 0, both empty. */
  def readState(state: Option[Array[Byte]]
               ): (Long, Map[String, X], Map[String, Y]) = state match {
    case Some(bytes) =>
      val r = new PackedState.Reader(bytes)
      val xs = r.side(cx, idX)
      (r.seq, xs, r.side(cy, idY))
    case None => (0L, Map.empty, Map.empty)
  }
}

/** Key retirement of a keyed streaming operator, passed to it as an
  * argument: watermark-aligned, the Spark analog of Flink
  * watermark-driven state cleanup (reference watermark assignment:
  * GenJoinInput.scala:36-52). The reference never expires state
  * (`GlobalWindows`, SURVEY.md §2.9 late-data note), so no TTL keeps
  * state forever. At 100 TB a generous TTL bounds state to
  * recently-active entities; a late-but-newer version for a retired
  * key rebuilds the key from scratch (upsert semantics make that safe
  * — it can only miss join partners that were themselves retired),
  * with its emission `seq` restarting at 1, so converged-result
  * consumers must treat it as a fresh key.
  *
  * Versions are read as epoch-millisecond event times and the input is
  * watermarked on them with `watermarkDelay`, the bounded
  * out-of-orderness (the reference uses 10,000 ms,
  * JoinSpec.scala:19,140-141). A key retires once the watermark passes
  * [[timeoutAt]]. Fires only when data advances the watermark — no
  * background batches, so `processAllAvailable()` works and tests need
  * no sleeps.
  *
  * SEMANTIC CAVEAT: because the input is watermarked, the stateful
  * operator silently DROPS any row whose event time is at or below the
  * watermark — such a too-late record neither updates nor rebuilds
  * state, unlike the unwatermarked default where a late-but-newer
  * version always supersedes and a late-but-older one is ignored by
  * dedup (SURVEY.md §2.9). Size `watermarkDelay` to the stream's real
  * out-of-orderness bound. */
final case class EventTimeTtl(ms: Long, watermarkDelay: String = "10 seconds") {
  require(ms > 0, s"TTL must be positive, got $ms")

  /** The retirement time of a key a trigger just updated: `ms` past the
    * LATER of the current watermark and the newest event time the
    * trigger delivered for the key, so the key retires once the
    * watermark advances `ms` past the data that last touched it.
    * Anchoring at the watermark alone is a first-batch footgun: the
    * watermark is 0 during batch 1, so `0 + ms` is instantly passed
    * once real event times arrive, retiring every batch-1-only key and
    * restarting its emission seq — nondeterministic under input
    * chunking. The data-side anchor keeps the timeout at or above the
    * key's own event-time frontier. */
  def timeoutAt(watermarkMs: Long, newestEtsMs: Long): Long =
    math.max(watermarkMs, newestEtsMs) + ms
}

/** How a streaming versioned join keeps a key's state. Both layouts
  * run every [[StreamEmit]] variant through the same upsert, seq and
  * TTL contract, and converge to the same answers. */
sealed trait StateLayout

/** `flatMapGroupsWithState`: one [[PackedState]] byte array per key
  * (its emission seq, then the latest row per id of each side); every
  * touch rewrites the key's whole array. Runs on any state store. */
case object PackedPerKey extends StateLayout

/** `transformWithState`: one `MapState` entry per (key, id) on each
  * side plus a `seq` value, so an upsert rewrites only the changed
  * ids, and event-time TTL is one per-key timer. Requires the RocksDB
  * provider ([[VersionedStreamJoin.withStateStoreProvider]]). */
case object PerIdEntries extends StateLayout

/** Streaming versioned joins over CDC-style upsert streams — the
  * reference's continuously-updated J1–J4 (joins.scala:10-70)
  * re-expressed on Structured Streaming.
  *
  * Shape: pack both streams into [[Packed]] rows, union, group by the
  * `key` column, then keyed update-mode state in the chosen
  * [[StateLayout]]. On every microbatch each touched key upserts
  * arrivals into latest-wins per-id state and re-emits its join
  * result — per-microbatch granularity instead of the reference's
  * per-record `CountTrigger.of(1)` (joins.scala:19); the reference's
  * own dedup-based verification
  * contract (raw ≥ expected, deduped == expected, JoinSpec.scala:153-154)
  * is insensitive to that difference (SURVEY.md §4.2). Every variant
  * takes an optional [[EventTimeTtl]] (default: keep state forever) and a
  * [[StateLayout]] (default [[PackedPerKey]]).
  *
  * At scale: state is hash-partitioned by join key across executors
  * (the one hash Exchange on `key`, one partition per state partition:
  * the replay runner sizes that width to the session's task slots, see
  * `StreamingHarness.streamWidth`); each key holds only latest
  * versions, so state size is bounded by live entities, not stream
  * length. Skewed keys are the caller's concern (salt the key or
  * pre-aggregate) as with any keyed stateful op.
  */
object VersionedStreamJoin {

  /** FQCN of Spark's RocksDB state store provider — the off-heap,
    * disk-spilling backend the streaming joins should run on once live
    * key cardinality outgrows the default in-memory HDFS-backed
    * provider (at 100 TB state it is the only option that holds). */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with the session's streaming state store backed by
    * [[RocksDbProvider]], restoring the prior settings after. The
    * provider is read per streaming query at start, so this scopes
    * cleanly around query construction + execution. Changelog
    * checkpointing is enabled too: each microbatch then uploads only
    * the batch's state DELTA to the checkpoint (snapshots move to
    * background maintenance), instead of snapshotting the full store
    * inline — at 100 TB state the per-batch checkpoint cost must track
    * the update rate, not the store size. */
  def withStateStoreProvider[T](spark: org.apache.spark.sql.SparkSession)(
      body: => T): T = {
    val keys = Seq(
      org.apache.spark.sql.internal.SQLConf.STATE_STORE_PROVIDER_CLASS.key -> RocksDbProvider,
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** J1: full-outer — per trigger each touched key re-emits its
    * [[JoinRules.fullOuter]] result (reference cgfFullOuter,
    * cogroupFunctions.scala:7-30). */
  def fullOuter[X, Y](
      dsx: Dataset[X], dsy: Dataset[Y],
      keyFromX: X => String, keyFromY: Y => String,
      idFromX: X => String, idFromY: Y => String,
      tsFromX: X => Long, tsFromY: Y => Long,
      ttl: Option[EventTimeTtl] = None, layout: StateLayout = PackedPerKey)(
      implicit ex: Encoder[X], ey: Encoder[Y],
      es: Encoder[String],
      ee: Encoder[Emitted[X, Y]]): Dataset[Emitted[X, Y]] =
    joined(dsx, dsy, keyFromX, keyFromY, idFromX, idFromY, tsFromX, tsFromY,
      ttl, layout)(StreamEmit.fullOuter[X, Y])

  /** [[fullOuter]] with DELTA emission: per trigger a touched key emits
    * only the join rows whose content CHANGED this batch
    * ([[JoinRules.fullOuterDelta]]) instead of its full current result.
    * State, upsert semantics, seq stamping and TTL behavior are those of
    * [[fullOuter]]; only the emission set shrinks.
    *
    * A downstream fold must therefore converge per ROW IDENTITY —
    * latest seq per (key, x-id, y-id), with (x, None) rows valid only
    * while the key has never emitted a pair — instead of [[fullOuter]]'s
    * whole-key max-seq filter, because the last emission for a key no
    * longer carries its full result. ((None, y) rows need no such
    * guard: the pair that supersedes one always carries a higher seq
    * for the same y id, so per-identity latest-wins already retires
    * it.) Used by the chain rows (s11/s22), where every stage-1
    * re-emission is a stage-2 state upsert: the full re-emission is
    * quadratic in a hot key's update count, the delta is linear. */
  def fullOuterDelta[X, Y](
      dsx: Dataset[X], dsy: Dataset[Y],
      keyFromX: X => String, keyFromY: Y => String,
      idFromX: X => String, idFromY: Y => String,
      tsFromX: X => Long, tsFromY: Y => Long,
      ttl: Option[EventTimeTtl] = None, layout: StateLayout = PackedPerKey)(
      implicit ex: Encoder[X], ey: Encoder[Y],
      es: Encoder[String],
      ee: Encoder[Emitted[X, Y]]): Dataset[Emitted[X, Y]] =
    joined(dsx, dsy, keyFromX, keyFromY, idFromX, idFromY, tsFromX, tsFromY,
      ttl, layout)(StreamEmit.fullOuterDelta[X, Y])

  /** J2: left-outer — at most one x per key ([[JoinRules.leftOuter]],
    * the reference quirk, cogroupFunctions.scala:31-47); keys with no x
    * emit nothing. */
  def leftOuter[X, Y](
      dsx: Dataset[X], dsy: Dataset[Y],
      keyFromX: X => String, keyFromY: Y => String,
      idFromX: X => String, idFromY: Y => String,
      tsFromX: X => Long, tsFromY: Y => Long,
      ttl: Option[EventTimeTtl] = None, layout: StateLayout = PackedPerKey)(
      implicit ex: Encoder[X], ey: Encoder[Y],
      es: Encoder[String],
      ee: Encoder[Emitted[X, Y]]): Dataset[Emitted[X, Y]] =
    joined(dsx, dsy, keyFromX, keyFromY, idFromX, idFromY, tsFromX, tsFromY,
      ttl, layout)(StreamEmit.leftOuter[X, Y](tsFromX))

  /** J5 analog: inner — emits only when both sides are populated. */
  def inner[X, Y](
      dsx: Dataset[X], dsy: Dataset[Y],
      keyFromX: X => String, keyFromY: Y => String,
      idFromX: X => String, idFromY: Y => String,
      tsFromX: X => Long, tsFromY: Y => Long,
      ttl: Option[EventTimeTtl] = None, layout: StateLayout = PackedPerKey)(
      implicit ex: Encoder[X], ey: Encoder[Y],
      es: Encoder[String],
      ee: Encoder[Emitted[X, Y]]): Dataset[Emitted[X, Y]] =
    joined(dsx, dsy, keyFromX, keyFromY, idFromX, idFromY, tsFromX, tsFromY,
      ttl, layout)(StreamEmit.inner[X, Y])

  /** Streaming AS-OF (point-in-time) join — the production variant the
    * versioned-join state machinery was built for: every x row is
    * enriched with the y version IN EFFECT at x's own event time (the
    * latest y with ts(y) <= ts(x), [[JoinRules.asOf]]; matching the
    * batch q_asof_join / DuckDB `ASOF JOIN ... ON x.ts >= y.ts`), or
    * None when no y existed yet — leakage-free feature attachment over
    * a live stream. Per trigger each touched key re-emits all its xs
    * with their in-effect y, so a LATE y (or a newer version of an old
    * y id) retroactively corrects every x it should have served: the
    * converged result (max seq per key) is arrival-order-free and
    * equals the batch as-of by construction. State holds latest-per-id
    * on both sides, exactly like the other variants; at scale, y
    * versions strictly SHADOWED below the watermark (a newer y also
    * at-or-below it) can be evicted — pass an [[EventTimeTtl]] for
    * whole-key retirement, as every variant takes. */
  def asOf[X, Y](
      dsx: Dataset[X], dsy: Dataset[Y],
      keyFromX: X => String, keyFromY: Y => String,
      idFromX: X => String, idFromY: Y => String,
      tsFromX: X => Long, tsFromY: Y => Long,
      ttl: Option[EventTimeTtl] = None, layout: StateLayout = PackedPerKey)(
      implicit ex: Encoder[X], ey: Encoder[Y],
      es: Encoder[String],
      ee: Encoder[Emitted[X, Y]]): Dataset[Emitted[X, Y]] =
    joined(dsx, dsy, keyFromX, keyFromY, idFromX, idFromY, tsFromX, tsFromY,
      ttl, layout)(StreamEmit.asOf[X, Y](tsFromX, tsFromY, forward = false))

  /** FORWARD as-of: each x resolves to the key's EARLIEST y version
    * at-or-AFTER its own timestamp (x.ts <= y.ts) — the streaming
    * next-action attribution shape (time-to-convert labels,
    * post-signup windows). Same state and convergence contract as
    * [[asOf]]; only the search direction flips. Forward resolution is
    * inherently retroactive in a stream — the answer for an x can
    * improve whenever an earlier-qualifying y arrives late — which is
    * exactly what the per-trigger re-emit + converged (max seq per
    * key) view already handles for the backward variant; no
    * watermark-delayed hold is needed because emissions are
    * corrections, not one-shot appends. */
  def asOfForward[X, Y](
      dsx: Dataset[X], dsy: Dataset[Y],
      keyFromX: X => String, keyFromY: Y => String,
      idFromX: X => String, idFromY: Y => String,
      tsFromX: X => Long, tsFromY: Y => Long,
      ttl: Option[EventTimeTtl] = None, layout: StateLayout = PackedPerKey)(
      implicit ex: Encoder[X], ey: Encoder[Y],
      es: Encoder[String],
      ee: Encoder[Emitted[X, Y]]): Dataset[Emitted[X, Y]] =
    joined(dsx, dsy, keyFromX, keyFromY, idFromX, idFromY, tsFromX, tsFromY,
      ttl, layout)(StreamEmit.asOf[X, Y](tsFromX, tsFromY, forward = true))

  /** J3: left-outer nested — per trigger, the key's single latest x
    * (per-key dedup quirk) with all latest ys as an id-ordered Seq;
    * keys with no x emit nothing (reference joins.scala:39-54, C3). */
  def leftOuterSeq[X, Y](
      dsx: Dataset[X], dsy: Dataset[Y],
      keyFromX: X => String, keyFromY: Y => String,
      idFromX: X => String, idFromY: Y => String,
      tsFromX: X => Long, tsFromY: Y => Long,
      ttl: Option[EventTimeTtl] = None, layout: StateLayout = PackedPerKey)(
      implicit ex: Encoder[X], ey: Encoder[Y],
      es: Encoder[String],
      ee: Encoder[EmittedSeq[X, Y]]): Dataset[EmittedSeq[X, Y]] =
    joined(dsx, dsy, keyFromX, keyFromY, idFromX, idFromY, tsFromX, tsFromY,
      ttl, layout)(StreamEmit.leftOuterSeq[X, Y](tsFromX))

  /** J4: per-key cogroup — all latest versions on both sides as Seqs,
    * either possibly empty (reference joins.scala:56-70, C4). */
  def fullOuterSeq[X, Y](
      dsx: Dataset[X], dsy: Dataset[Y],
      keyFromX: X => String, keyFromY: Y => String,
      idFromX: X => String, idFromY: Y => String,
      tsFromX: X => Long, tsFromY: Y => Long,
      ttl: Option[EventTimeTtl] = None, layout: StateLayout = PackedPerKey)(
      implicit ex: Encoder[X], ey: Encoder[Y],
      es: Encoder[String],
      ee: Encoder[EmittedSeq[X, Y]]): Dataset[EmittedSeq[X, Y]] =
    joined(dsx, dsy, keyFromX, keyFromY, idFromX, idFromY, tsFromX, tsFromY,
      ttl, layout)(StreamEmit.fullOuterSeq[X, Y])

  /** The one join driver: packed union → keyed latest-wins upsert state
    * in `layout` → per-trigger re-expansion via `expand`. A key the TTL
    * retires emits nothing. */
  private def joined[X, Y, U](
      dsx: Dataset[X], dsy: Dataset[Y],
      keyFromX: X => String, keyFromY: Y => String,
      idFromX: X => String, idFromY: Y => String,
      tsFromX: X => Long, tsFromY: Y => Long,
      ttl: Option[EventTimeTtl], layout: StateLayout)(
      expand: StreamEmit.Expand[X, Y, U])(
      implicit ex: Encoder[X], ey: Encoder[Y], es: Encoder[String],
      ee: Encoder[U]): Dataset[U] = {
    val sides = new JoinSides(keyFromX, keyFromY, idFromX, idFromY,
      tsFromX, tsFromY)
    val packed = sides.pack(dsx, dsy)
    layout match {
      case PerIdEntries =>
        byKey(packed, ttl).transformWithState(
          new TwsJoinProcessor(sides, ttl, ex, ey, expand),
          if (ttl.isEmpty) TimeMode.None() else TimeMode.EventTime(),
          OutputMode.Update())
      case PackedPerKey => packedPerKey(sides, packed, ttl)(expand, (_, _) => Iterator.empty)
    }
  }

  /** `packed` grouped by its `key` column, watermarked on the version
    * axis only under an [[EventTimeTtl]]. Grouping by the column (not
    * `groupByKey(_.key)`) hashes the rows as they are: no
    * `AppendColumns` step deserializes every row to run the key
    * function and ships the key a second time as a `value` column. */
  private def byKey(packed: Dataset[Packed], ttl: Option[EventTimeTtl])(
      implicit es: Encoder[String]): KeyValueGroupedDataset[String, Packed] =
    ttl.fold(packed)(t => packed.withWatermark("ets", t.watermarkDelay))
      .groupBy(col("key")).as[String, Packed](es, Encoders.product[Packed])

  /** The [[PackedPerKey]] step, the one keyed latest-wins state of the
    * joins and of [[VersionedStreamDedup]]: per trigger a key's rows are
    * upserted into its [[PackedState]], its seq is bumped, a TTL re-arms
    * its timeout, and `expand` turns the result into rows. A key the TTL
    * retires drops its state and emits `retired(key, last seq)`. */
  private[streaming] def packedPerKey[X, Y, U](
      sides: JoinSides[X, Y], packed: Dataset[Packed], ttl: Option[EventTimeTtl])(
      expand: StreamEmit.Expand[X, Y, U], retired: (String, Long) => Iterator[U])(
      implicit es: Encoder[String], ee: Encoder[U]): Dataset[U] = {
    val timeout =
      if (ttl.isEmpty) GroupStateTimeout.NoTimeout else GroupStateTimeout.EventTimeTimeout
    byKey(packed, ttl).flatMapGroupsWithState(OutputMode.Update, timeout) {
      (key: String, rows: Iterator[Packed], state: GroupState[Array[Byte]]) =>
        if (state.hasTimedOut) {
          // key retirement: a later record for this key rebuilds from scratch
          val seq = new PackedState.Reader(state.get).seq
          state.remove()
          retired(key, seq)
        } else {
          val (seq0, xs0, ys0) = sides.readState(state.getOption)
          val k = sides.upsert(xs0, ys0, rows)
          val seq = seq0 + 1
          state.update(sides.writeState(seq, k.xs, k.ys))
          ttl.foreach(t => state.setTimeoutTimestamp(
            t.timeoutAt(state.getCurrentWatermarkMs(), k.maxEtsMs)))
          expand(key, seq, k)
        }
    }(Encoders.BINARY, ee)
  }
}

/** A key's latest-per-id maps before (`xs0`, `ys0`) and after one
  * trigger, and the newest event time the trigger delivered. The ids
  * the trigger changed are derived only where a variant or driver
  * reads them. */
private[streaming] final case class KeyUpdate[X, Y](
    xs0: Map[String, X], ys0: Map[String, Y],
    xs: Map[String, X], ys: Map[String, Y], maxEtsMs: Long) {
  lazy val newX: Set[String] = JoinRules.changedIds(xs0, xs)
  lazy val newY: Set[String] = JoinRules.changedIds(ys0, ys)
}

/** The streaming drivers' variants: each wraps one [[JoinRules]]
  * expansion into [[Emitted]] / [[EmittedSeq]] rows stamped with the
  * key and its emission seq. Both [[StateLayout]]s run these. */
private[streaming] object StreamEmit {
  type Expand[X, Y, U] = (String, Long, KeyUpdate[X, Y]) => Iterator[U]

  def fullOuter[X, Y]: Expand[X, Y, Emitted[X, Y]] = (key, seq, k) =>
    JoinRules.fullOuter(k.xs, k.ys).map { case (x, y) => Emitted(key, seq, x, y) }

  def fullOuterDelta[X, Y]: Expand[X, Y, Emitted[X, Y]] = (key, seq, k) =>
    JoinRules.fullOuterDelta(k.xs, k.ys, k.newX, k.newY)
      .map { case (x, y) => Emitted(key, seq, x, y) }

  def leftOuter[X, Y](tsX: X => Long): Expand[X, Y, Emitted[X, Y]] =
    (key, seq, k) => JoinRules.leftOuter(k.xs, k.ys, tsX)
      .map { case (x, y) => Emitted(key, seq, Some(x), y) }

  def inner[X, Y]: Expand[X, Y, Emitted[X, Y]] = (key, seq, k) =>
    JoinRules.inner(k.xs, k.ys)
      .map { case (x, y) => Emitted(key, seq, Some(x), Some(y)) }

  def asOf[X, Y](tsX: X => Long, tsY: Y => Long,
                 forward: Boolean): Expand[X, Y, Emitted[X, Y]] =
    (key, seq, k) => JoinRules.asOf(k.xs, k.ys, tsX, tsY, forward)
      .map { case (x, y) => Emitted(key, seq, Some(x), y) }

  def leftOuterSeq[X, Y](tsX: X => Long): Expand[X, Y, EmittedSeq[X, Y]] =
    (key, seq, k) => JoinRules.leftOuterSeq(k.xs, k.ys, tsX)
      .map { case (x, ys) => EmittedSeq(key, seq, Seq(x), ys) }

  def fullOuterSeq[X, Y]: Expand[X, Y, EmittedSeq[X, Y]] = (key, seq, k) =>
    JoinRules.fullOuterSeq(k.xs, k.ys)
      .map { case (xs, ys) => EmittedSeq(key, seq, xs, ys) }
}
