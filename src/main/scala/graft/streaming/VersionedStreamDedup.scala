package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}

import graft.core.JoinRules

/** One emitted dedup row: the key's current latest versions (one per
  * id, ordered by id for determinism), stamped with the per-key
  * emission seq — same convergence contract as the streaming joins
  * (max seq per key = the final answer). */
final case class EmittedDedup[X](key: String, seq: Long, xs: Seq[X])

/** Standalone streaming latest-wins deduplication — the reference's D2
  * (latest version per (key, id), versionDeduplicator.scala:36-57) as
  * its own streaming operator, for pipelines that need a compacted
  * upsert view without joining anything (reference D1's per-key form is
  * the join-side quirk, covered by VersionedStreamJoin.leftOuter).
  *
  * Note this is NOT Spark's streaming `dropDuplicates`, which keeps the
  * FIRST arrival of a key forever; CDC semantics need newest-version-
  * wins with late-but-older arrivals ignored, which is what the keyed
  * upsert state here does. It is a one-sided run of the streaming
  * join's [[PackedPerKey]] driver ([[VersionedStreamJoin.packedPerKey]]):
  * the X side only, so a key's state is its seq, its latest row per id
  * and an empty Y side. State is bounded by live (key, id) pairs,
  * hash-partitioned by key across executors.
  */
object VersionedStreamDedup {

  /** Latest version per (key, id) ([[JoinRules.upsert]]: on equal
    * versions the earlier arrival wins); per trigger each touched key
    * re-emits its full compacted set.
    *
    * With an [[EventTimeTtl]] (versions read as epoch-ms event times,
    * as for the joins) a key retires once the watermark passes its
    * [[EventTimeTtl.timeoutAt]]: its state is dropped AND a TOMBSTONE
    * emission (`xs` empty, seq incremented) is produced, so an
    * update-log consumer sees the retraction instead of inferring it
    * from silence (the joins retire silently; a dedup view's downstream
    * needs the empty-set emission to invalidate its copy). A later
    * record rebuilds the key from scratch with `seq` restarting at 1,
    * so converged readers must order emissions by sink batch id, not
    * per-key seq. The [[EventTimeTtl]] watermark caveat applies: a
    * record older than the watermark is silently dropped. */
  def latestPerKeyId[X](
      dsx: Dataset[X],
      keyFromX: X => String, idFromX: X => String, tsFromX: X => Long,
      ttl: Option[EventTimeTtl] = None)(
      implicit ex: Encoder[X], es: Encoder[String],
      ee: Encoder[EmittedDedup[X]]): Dataset[EmittedDedup[X]] = {
    val sides = new JoinSides(keyFromX, keyFromX, idFromX, idFromX,
      tsFromX, tsFromX)(ex, ex)
    VersionedStreamJoin.packedPerKey(sides, sides.packX(dsx), ttl)(
      (key, seq, k) => Iterator.single(EmittedDedup(key, seq, JoinRules.byId(k.xs))),
      (key, seq) => Iterator.single(EmittedDedup(key, seq + 1, Seq.empty[X])))
  }
}
