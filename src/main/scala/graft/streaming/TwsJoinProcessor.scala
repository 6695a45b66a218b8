package graft.streaming

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** The [[PerIdEntries]] layout of [[VersionedStreamJoin]] on Spark 4's
  * `transformWithState` — the typed-state/typed-timer successor to
  * `flatMapGroupsWithState` (SURVEY.md §7.3 named it as the
  * alternative implementation). Semantics are those of the
  * [[PackedPerKey]] layout (reference joins.scala:10-70,
  * cogroupFunctions.scala:7-73): latest-wins upsert state per
  * (key, id), per-key re-expansion each trigger with a monotone
  * emission seq, and the same [[StreamEmit]] variants over the one
  * [[graft.core.JoinRules]] algebra.
  *
  * What the newer API buys at 100 TB:
  *   - per-id `MapState` entries instead of one state value per key:
  *     an upsert rewrites ONE map entry in RocksDB, not the whole
  *     key's compacted window (the packed layout rewrites the key's
  *     rows on every touch);
  *   - event-time TTL as an explicit per-key TIMER at
  *     [[EventTimeTtl.timeoutAt]], re-armed on every touch;
  *   - timers and state live in RocksDB column families
  *     (transformWithState REQUIRES the RocksDB provider — callers
  *     wrap in [[VersionedStreamJoin.withStateStoreProvider]]).
  *
  * Per trigger it reads the key's maps once, upserts the batch's
  * [[Packed]] rows in memory ([[JoinSides.upsert]]), writes back only
  * the changed ids, and hands the result to the variant's `expand`. */
private[streaming] final class TwsJoinProcessor[X, Y, U](
    sides: JoinSides[X, Y], ttl: Option[EventTimeTtl],
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
    ttl.foreach { t =>
      // one live timer per key, re-armed on every touch. Materialize
      // before deleting: the listTimers iterator is state-store-backed
      // and not guaranteed safe under concurrent mutation on the
      // RocksDB provider.
      getHandle.listTimers().toList.foreach(getHandle.deleteTimer)
      getHandle.registerTimer(
        t.timeoutAt(timerValues.getCurrentWatermarkInMs(), k.maxEtsMs))
    }
    expand(key, seq, k)
  }

  /** Key retirement: drop state and counter; a later record rebuilds
    * the key from scratch (seq restarts — the [[EventTimeTtl]] contract). */
  override def handleExpiredTimer(key: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[U] = {
    xs.clear(); ys.clear(); seqS.clear()
    Iterator.empty
  }
}
