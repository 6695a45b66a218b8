package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.JoinRules

/** One emitted dedup row: the key's current latest versions (one per
  * id, ordered by id for determinism), stamped with the per-key
  * emission seq — same convergence contract as the streaming joins
  * (max seq per key = the final answer). */
final case class EmittedDedup[X](key: String, seq: Long, xs: Seq[X])

/** Input wrapper carrying the event-time column the TTL variant
  * watermarks on (mirrors the joins' `Packed.ets`). */
final case class Stamped[X](x: X, ets: java.sql.Timestamp)

/** Standalone streaming latest-wins deduplication — the reference's D2
  * (latest version per (key, id), versionDeduplicator.scala:36-57) as
  * its own streaming operator, for pipelines that need a compacted
  * upsert view without joining anything (reference D1's per-key form is
  * the join-side quirk, covered by VersionedStreamJoin.leftOuter).
  *
  * Note this is NOT Spark's streaming `dropDuplicates`, which keeps the
  * FIRST arrival of a key forever; CDC semantics need newest-version-
  * wins with late-but-older arrivals ignored, which is what the keyed
  * upsert state here does. State is bounded by live (key, id) pairs,
  * hash-partitioned by key across executors. A key's state is one byte
  * array ([[PackedState]]): its emission seq, then its latest row per id
  * as [[RowCodec]] bytes.
  */
object VersionedStreamDedup {

  /** A key's seq and latest-per-id map; none yet is seq 0, empty. */
  private def readState[X](state: Option[Array[Byte]], codec: RowCodec[X],
                           id: X => String): (Long, Map[String, X]) =
    state match {
      case Some(bytes) =>
        val r = new PackedState.Reader(bytes)
        (r.seq, r.side(codec, id))
      case None => (0L, Map.empty)
    }

  private def writeState[X](seq: Long, m: Map[String, X],
                            codec: RowCodec[X]): Array[Byte] =
    PackedState.write(seq, m.valuesIterator.map(codec.toBytes).toSeq)

  /** Latest version per (key, id) ([[JoinRules.upsert]]: on equal
    * versions the earlier arrival wins); per trigger each touched key
    * re-emits its full compacted set. */
  def latestPerKeyId[X](
      dsx: Dataset[X],
      keyFromX: X => String, idFromX: X => String, tsFromX: X => Long)(
      implicit ex: Encoder[X], es: Encoder[String],
      ee: Encoder[EmittedDedup[X]]): Dataset[EmittedDedup[X]] = {
    val codec = RowCodec(ex)
    dsx.groupByKey(keyFromX).flatMapGroupsWithState(
      OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (key: String, rows: Iterator[X], state: GroupState[Array[Byte]]) =>
        val (seq0, m0) = readState(state.getOption, codec, idFromX)
        val m = JoinRules.upsertAll(m0, rows)(idFromX, tsFromX)
        val seq = seq0 + 1
        state.update(writeState(seq, m, codec))
        Iterator.single(EmittedDedup(key, seq, JoinRules.byId(m)))
    }(Encoders.BINARY, ee)
  }

  /** [[latestPerKeyId]] with watermark-aligned key retirement whose
    * timers actually FIRE observably: when the event-time watermark
    * passes a key's [[EventTimeTtl.timeoutAt]], the key's state is
    * dropped AND a TOMBSTONE emission (`xs` empty, seq incremented) is
    * produced — so an update-log consumer sees the retraction instead
    * of inferring it from silence (the joins retire silently; a dedup
    * view's downstream needs the empty-set emission to invalidate its
    * copy). A later record rebuilds the key from scratch with `seq`
    * restarting at 1, so converged readers must order emissions by sink
    * batch id, not per-key seq.
    *
    * The timer is anchored as the joins anchor theirs
    * ([[EventTimeTtl.timeoutAt]]), and the same watermark caveat
    * applies: a record older than the watermark is silently dropped by
    * flatMapGroupsWithState. `etsMsFromX` supplies the epoch-ms event
    * time the watermark is built from. */
  def latestPerKeyIdWithEventTimeTtl[X](
      dsx: Dataset[X],
      keyFromX: X => String, idFromX: X => String, tsFromX: X => Long,
      etsMsFromX: X => Long, ttl: EventTimeTtl)(
      implicit ex: Encoder[X], est: Encoder[Stamped[X]],
      es: Encoder[String],
      ee: Encoder[EmittedDedup[X]]): Dataset[EmittedDedup[X]] = {
    val codec = RowCodec(ex)
    dsx.map(x => Stamped(x, new java.sql.Timestamp(etsMsFromX(x))))
      .withWatermark("ets", ttl.watermarkDelay)
      .groupByKey(s => keyFromX(s.x))
      .flatMapGroupsWithState(OutputMode.Update,
        GroupStateTimeout.EventTimeTimeout) {
        (key: String, rows: Iterator[Stamped[X]],
         state: GroupState[Array[Byte]]) =>
          if (state.hasTimedOut) {
            val seq = new PackedState.Reader(state.get).seq + 1
            state.remove()
            Iterator.single(EmittedDedup(key, seq, Seq.empty[X]))
          } else {
            val (seq0, m0) = readState(state.getOption, codec, idFromX)
            var m = m0
            var newestEtsMs = Long.MinValue
            rows.foreach { s =>
              m = JoinRules.upsert(m, s.x)(idFromX, tsFromX)
              newestEtsMs = math.max(newestEtsMs, s.ets.getTime)
            }
            val seq = seq0 + 1
            state.update(writeState(seq, m, codec))
            state.setTimeoutTimestamp(
              ttl.timeoutAt(state.getCurrentWatermarkMs(), newestEtsMs))
            Iterator.single(EmittedDedup(key, seq, JoinRules.byId(m)))
          }
      }(Encoders.BINARY, ee)
  }
}
