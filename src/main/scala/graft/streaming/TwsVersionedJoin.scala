package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** The J1–J5 versioned joins on Spark 4's `transformWithState` — the
  * typed-state/typed-timer successor to `flatMapGroupsWithState`
  * (SURVEY.md §7.3 named it as the alternative implementation).
  * Semantics are identical to the [[VersionedStreamJoin]] twins
  * (reference joins.scala:10-70, cogroupFunctions.scala:7-73):
  * latest-wins upsert state per (key, id), per-key re-expansion each
  * trigger with a monotone emission seq, and the same [[StreamEmit]]
  * variants over the one [[graft.core.JoinRules]] algebra.
  *
  * What the newer API buys at 100 TB:
  *   - per-id `MapState` entries instead of one state value per key:
  *     an upsert rewrites ONE map entry in RocksDB, not the whole
  *     key's compacted window (the fMGWS path rewrites the key's
  *     packed rows on every touch);
  *   - TTL as an explicit per-key TIMER registered at the key's own
  *     event-time frontier + ttl — the first-batch zero-watermark
  *     footgun the fMGWS path had to code around (see
  *     VersionedStreamJoin's anchor note) cannot arise: the anchor is
  *     always data-derived;
  *   - timers and state live in RocksDB column families
  *     (transformWithState REQUIRES the RocksDB provider — callers
  *     wrap in [[VersionedStreamJoin.withStateStoreProvider]]).
  */
object TwsVersionedJoin {

  /** Per-key processor: per-id `MapState` on each side + seq counter +
    * optional event-time retirement timer. Each trigger reads the key's
    * maps once, upserts the batch's [[Packed]] rows in memory
    * ([[graft.core.JoinRules.upsert]] via [[JoinSides.upsert]]), writes
    * back only the changed ids, and hands the result to the variant's
    * `expand` — the same [[StreamEmit]] variants the fMGWS core runs. */
  private final class TwsJoinProcessor[X, Y, U](
      sides: JoinSides[X, Y], ttlMs: Option[Long],
      ex: Encoder[X], ey: Encoder[Y], expand: StreamEmit.Expand[X, Y, U])
    extends StatefulProcessor[String, Packed, U] {

    @transient private var xs: MapState[String, X] = _
    @transient private var ys: MapState[String, Y] = _
    @transient private var seqS: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      xs = getHandle.getMapState[String, X]("xs", Encoders.STRING, ex,
        TTLConfig.NONE)
      ys = getHandle.getMapState[String, Y]("ys", Encoders.STRING, ey,
        TTLConfig.NONE)
      seqS = getHandle.getValueState[Long]("seq", Encoders.scalaLong,
        TTLConfig.NONE)
    }

    override def handleInputRows(key: String, rows: Iterator[Packed],
        timerValues: TimerValues): Iterator[U] = {
      val k = sides.upsert(xs.iterator().toMap, ys.iterator().toMap, rows)
      k.newX.foreach(id => xs.updateValue(id, k.xs(id)))
      k.newY.foreach(id => ys.updateValue(id, k.ys(id)))
      val seq = (if (seqS.exists()) seqS.get() else 0L) + 1
      seqS.update(seq)
      ttlMs.foreach { ms =>
        // one live timer per key: re-arm on every touch, anchored at
        // the key's own event-time frontier (never below the data).
        // Materialize before deleting: the listTimers iterator is
        // state-store-backed and not guaranteed safe under concurrent
        // mutation on the RocksDB provider.
        getHandle.listTimers().toList.foreach(getHandle.deleteTimer)
        val anchor = math.max(timerValues.getCurrentWatermarkInMs(), k.maxEtsMs)
        if (anchor > Long.MinValue) getHandle.registerTimer(anchor + ms)
      }
      expand(key, seq, k)
    }

    /** Key retirement: drop state and counter; a later record rebuilds
      * the key from scratch (seq restarts — same contract as the
      * fMGWS TTL modes). */
    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[U] = {
      xs.clear(); ys.clear(); seqS.clear()
      Iterator.empty
    }
  }

  /** J1 full-outer via transformWithState. With `ttlMs` set the union
    * is watermarked on the version axis (`watermarkDelay` = bounded
    * out-of-orderness, reference uses 10,000 ms) and idle keys retire
    * once the watermark passes their last event time + ttl; without it
    * state is kept forever, matching the reference's GlobalWindows. */
  def fullOuter[X, Y](
      dsx: Dataset[X], dsy: Dataset[Y],
      keyFromX: X => String, keyFromY: Y => String,
      idFromX: X => String, idFromY: Y => String,
      tsFromX: X => Long, tsFromY: Y => Long,
      ttlMs: Option[Long] = None,
      watermarkDelay: String = "10 seconds")(
      implicit ex: Encoder[X], ey: Encoder[Y],
      es: Encoder[String],
      ee: Encoder[Emitted[X, Y]]): Dataset[Emitted[X, Y]] =
    run(dsx, dsy, keyFromX, keyFromY, idFromX, idFromY, tsFromX, tsFromY,
      ttlMs, watermarkDelay)(StreamEmit.fullOuter[X, Y])

  /** C5/J5 inner via transformWithState — emits only when both sides
    * are populated (the reference defined-but-never-wired cogroup
    * body, promoted first-class; cogroupFunctions.scala:75-87). Twin
    * of [[VersionedStreamJoin.inner]]: with this the Spark 4 state
    * API covers the full J1–J5 matrix, same as the
    * flatMapGroupsWithState generation. */
  def inner[X, Y](
      dsx: Dataset[X], dsy: Dataset[Y],
      keyFromX: X => String, keyFromY: Y => String,
      idFromX: X => String, idFromY: Y => String,
      tsFromX: X => Long, tsFromY: Y => Long,
      ttlMs: Option[Long] = None,
      watermarkDelay: String = "10 seconds")(
      implicit ex: Encoder[X], ey: Encoder[Y],
      es: Encoder[String],
      ee: Encoder[Emitted[X, Y]]): Dataset[Emitted[X, Y]] =
    run(dsx, dsy, keyFromX, keyFromY, idFromX, idFromY, tsFromX, tsFromY,
      ttlMs, watermarkDelay)(StreamEmit.inner[X, Y])

  /** J2 left-outer via transformWithState — the reference's per-KEY X
    * dedup quirk (cogroupFunctions.scala:31-47): at most one x per key,
    * the latest by ts over the WHOLE key (not per id); keys with no x
    * emit nothing. Same contract as
    * [[VersionedStreamJoin.leftOuter]] — both state-API generations
    * must converge to the one batch J2 oracle. */
  def leftOuter[X, Y](
      dsx: Dataset[X], dsy: Dataset[Y],
      keyFromX: X => String, keyFromY: Y => String,
      idFromX: X => String, idFromY: Y => String,
      tsFromX: X => Long, tsFromY: Y => Long,
      ttlMs: Option[Long] = None,
      watermarkDelay: String = "10 seconds")(
      implicit ex: Encoder[X], ey: Encoder[Y],
      es: Encoder[String],
      ee: Encoder[Emitted[X, Y]]): Dataset[Emitted[X, Y]] =
    run(dsx, dsy, keyFromX, keyFromY, idFromX, idFromY, tsFromX, tsFromY,
      ttlMs, watermarkDelay)(StreamEmit.leftOuter[X, Y](tsFromX))

  /** J3 left-outer nested via transformWithState: per trigger the
    * key's single latest x (the per-key quirk, as [[leftOuter]]) with
    * all latest ys as an id-ordered Seq; keys with no x emit nothing
    * (reference joins.scala:39-54, C3). Twin of
    * [[VersionedStreamJoin.leftOuterSeq]]. */
  def leftOuterSeq[X, Y](
      dsx: Dataset[X], dsy: Dataset[Y],
      keyFromX: X => String, keyFromY: Y => String,
      idFromX: X => String, idFromY: Y => String,
      tsFromX: X => Long, tsFromY: Y => Long,
      ttlMs: Option[Long] = None,
      watermarkDelay: String = "10 seconds")(
      implicit ex: Encoder[X], ey: Encoder[Y],
      es: Encoder[String],
      ee: Encoder[EmittedSeq[X, Y]]): Dataset[EmittedSeq[X, Y]] =
    run(dsx, dsy, keyFromX, keyFromY, idFromX, idFromY, tsFromX, tsFromY,
      ttlMs, watermarkDelay)(StreamEmit.leftOuterSeq[X, Y](tsFromX))

  /** J4 per-key cogroup via transformWithState: all latest versions on
    * both sides as id-ordered Seqs, either possibly empty (reference
    * joins.scala:56-70, C4). Twin of
    * [[VersionedStreamJoin.fullOuterSeq]]. */
  def fullOuterSeq[X, Y](
      dsx: Dataset[X], dsy: Dataset[Y],
      keyFromX: X => String, keyFromY: Y => String,
      idFromX: X => String, idFromY: Y => String,
      tsFromX: X => Long, tsFromY: Y => Long,
      ttlMs: Option[Long] = None,
      watermarkDelay: String = "10 seconds")(
      implicit ex: Encoder[X], ey: Encoder[Y],
      es: Encoder[String],
      ee: Encoder[EmittedSeq[X, Y]]): Dataset[EmittedSeq[X, Y]] =
    run(dsx, dsy, keyFromX, keyFromY, idFromX, idFromY, tsFromX, tsFromY,
      ttlMs, watermarkDelay)(StreamEmit.fullOuterSeq[X, Y])

  /** Shared driver: pack + union the sides, watermark iff TTL'd, group
    * by key, run the processor with the variant's `expand`. */
  private def run[X, Y, U](
      dsx: Dataset[X], dsy: Dataset[Y],
      keyFromX: X => String, keyFromY: Y => String,
      idFromX: X => String, idFromY: Y => String,
      tsFromX: X => Long, tsFromY: Y => Long,
      ttlMs: Option[Long], watermarkDelay: String)(
      expand: StreamEmit.Expand[X, Y, U])(
      implicit ex: Encoder[X], ey: Encoder[Y],
      es: Encoder[String],
      eu: Encoder[U]): Dataset[U] = {
    val sides = new JoinSides(keyFromX, keyFromY, idFromX, idFromY,
      tsFromX, tsFromY)
    val packed = sides.pack(dsx, dsy)
    val (withWm, timeMode) = ttlMs match {
      case Some(_) =>
        (packed.withWatermark("ets", watermarkDelay), TimeMode.EventTime())
      case None => (packed, TimeMode.None())
    }
    withWm.groupByKey(_.key).transformWithState(
      new TwsJoinProcessor[X, Y, U](sides, ttlMs, ex, ey, expand),
      timeMode, OutputMode.Update())
  }
}
