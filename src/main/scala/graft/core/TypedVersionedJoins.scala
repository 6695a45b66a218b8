package graft.core

import org.apache.spark.sql.{Dataset, Encoder}

/** Typed batch API mirroring the reference surface 1:1 so its tests port
  * directly (reference: src/main/scala/flink_perf/joins.scala:10-70 —
  * the uniform `(dsx, dsy, keyFromX, keyFromY, idFromX, idFromY,
  * tsFromX, tsFromY)` signature).
  *
  * Implementation is a typed `cogroup`: Spark hash-partitions both
  * Datasets on the extracted key (one Exchange per side) and hands each
  * key's rows to the expansion function — the near-literal Spark
  * equivalent of the reference's `keyBy → coGroup` skeleton
  * (joins.scala:15-21), minus the per-record trigger/evictor machinery
  * which batch dedup-on-read makes unnecessary (SURVEY.md §2.4).
  *
  * Each key's rows are deduped to latest-per-id maps with
  * [[JoinRules.upsert]] and expanded by the matching [[JoinRules]]
  * variant — dedupe-before-expand, exactly as the reference does. The
  * streaming driver shares the same rules
  * ([[graft.streaming.VersionedStreamJoin]], both state layouts).
  */
object TypedVersionedJoins {

  /** J1 (joins.scala:10-23) + C1: [[JoinRules.fullOuter]]. */
  def fullOuter[X, Y](
      dsx: Dataset[X], dsy: Dataset[Y],
      keyFromX: X => String, keyFromY: Y => String,
      idFromX: X => String, idFromY: Y => String,
      tsFromX: X => Long, tsFromY: Y => Long)(
      implicit ex: Encoder[X], ey: Encoder[Y], es: Encoder[String],
      eo: Encoder[(Option[X], Option[Y])]): Dataset[(Option[X], Option[Y])] =
    cogrouped(dsx, dsy, keyFromX, keyFromY, idFromX, idFromY,
      tsFromX, tsFromY)(JoinRules.fullOuter[X, Y])

  /** J2 (joins.scala:24-37) + C2: [[JoinRules.leftOuter]] — at most
    * one X per key, the latest over the whole key (the reference quirk). */
  def leftOuter[X, Y](
      dsx: Dataset[X], dsy: Dataset[Y],
      keyFromX: X => String, keyFromY: Y => String,
      idFromX: X => String, idFromY: Y => String,
      tsFromX: X => Long, tsFromY: Y => Long)(
      implicit ex: Encoder[X], ey: Encoder[Y], es: Encoder[String],
      eo: Encoder[(X, Option[Y])]): Dataset[(X, Option[Y])] =
    cogrouped(dsx, dsy, keyFromX, keyFromY, idFromX, idFromY,
      tsFromX, tsFromY)(JoinRules.leftOuter(_, _, tsFromX))

  /** J3 (joins.scala:39-54) + C3: [[JoinRules.leftOuterSeq]] — one row
    * per key's X with all latest-version Ys as a Seq (empty allowed). */
  def leftOuterSeq[X, Y](
      dsx: Dataset[X], dsy: Dataset[Y],
      keyFromX: X => String, keyFromY: Y => String,
      idFromX: X => String, idFromY: Y => String,
      tsFromX: X => Long, tsFromY: Y => Long)(
      implicit ex: Encoder[X], ey: Encoder[Y], es: Encoder[String],
      eo: Encoder[(X, Seq[Y])]): Dataset[(X, Seq[Y])] =
    cogrouped(dsx, dsy, keyFromX, keyFromY, idFromX, idFromY,
      tsFromX, tsFromY)(JoinRules.leftOuterSeq(_, _, tsFromX))

  /** J4 (joins.scala:56-70) + C4: [[JoinRules.fullOuterSeq]] — per-key
    * (Seq[X], Seq[Y]) of latest versions; either side may be empty but
    * never both (a key only exists where a record arrived). */
  def fullOuterSeq[X, Y](
      dsx: Dataset[X], dsy: Dataset[Y],
      keyFromX: X => String, keyFromY: Y => String,
      idFromX: X => String, idFromY: Y => String,
      tsFromX: X => Long, tsFromY: Y => Long)(
      implicit ex: Encoder[X], ey: Encoder[Y], es: Encoder[String],
      eo: Encoder[(Seq[X], Seq[Y])]): Dataset[(Seq[X], Seq[Y])] =
    cogrouped(dsx, dsy, keyFromX, keyFromY, idFromX, idFromY,
      tsFromX, tsFromY)(JoinRules.fullOuterSeq[X, Y])

  /** J5: the reference's defined-but-never-wired inner join C5
    * (cogroupFunctions.scala:74-87), promoted to a first-class operator:
    * [[JoinRules.inner]]. */
  def inner[X, Y](
      dsx: Dataset[X], dsy: Dataset[Y],
      keyFromX: X => String, keyFromY: Y => String,
      idFromX: X => String, idFromY: Y => String,
      tsFromX: X => Long, tsFromY: Y => Long)(
      implicit ex: Encoder[X], ey: Encoder[Y], es: Encoder[String],
      eo: Encoder[(X, Y)]): Dataset[(X, Y)] =
    cogrouped(dsx, dsy, keyFromX, keyFromY, idFromX, idFromY,
      tsFromX, tsFromY)(JoinRules.inner[X, Y])

  /** Shared driver: cogroup by key, dedup each side to latest-per-id
    * maps, expand. */
  private def cogrouped[X, Y, R](
      dsx: Dataset[X], dsy: Dataset[Y],
      keyFromX: X => String, keyFromY: Y => String,
      idFromX: X => String, idFromY: Y => String,
      tsFromX: X => Long, tsFromY: Y => Long)(
      expand: (Map[String, X], Map[String, Y]) => Iterator[R])(
      implicit ex: Encoder[X], ey: Encoder[Y], es: Encoder[String],
      er: Encoder[R]): Dataset[R] =
    dsx.groupByKey(keyFromX).cogroup(dsy.groupByKey(keyFromY)) { (_, xs, ys) =>
      expand(JoinRules.upsertAll(Map.empty, xs)(idFromX, tsFromX),
        JoinRules.upsertAll(Map.empty, ys)(idFromY, tsFromY))
    }
}
