package graft.core

/** The versioned-join rules, written once. Every driver — the batch
  * typed cogroup ([[TypedVersionedJoins]]), the streaming join in
  * either state layout ([[graft.streaming.VersionedStreamJoin]]:
  * flatMapGroupsWithState or transformWithState) and the streaming dedup
  * ([[graft.streaming.VersionedStreamDedup]], a one-sided run of the
  * join's packed flatMapGroupsWithState driver) — reduces a key's records
  * to `id → latest version` maps with [[upsert]] and turns those maps
  * into rows with one of the per-key expansions below. The drivers only
  * wrap the rows into their own output types. The expansions re-express
  * the reference's cogroup functions C1–C5
  * (cogroupFunctions.scala:7-87) on deduped inputs.
  *
  * Equal versions:
  *   - per id, the earlier arrival wins ([[upsert]] is strict `>`, as
  *     the reference's versionDeduplicator.scala:17,25,44,53);
  *   - J2/J3 keep one x per key ([[latestX]]); among x's of one key
  *     that tie on the latest version, the LOWEST id (string order)
  *     wins. Documented deviation: the reference keeps whichever x its
  *     window met first, which depends on arrival order; the lowest id
  *     gives the same x in every driver, batch split and arrival order;
  *   - the as-of y timeline breaks version ties by id (see [[asOf]]).
  */
object JoinRules {

  /** Latest-wins upsert of one row into `latest` (id → latest version).
    * The row replaces its id's entry only when its version is strictly
    * greater, so on equal versions the earlier arrival wins; a losing
    * row leaves `latest` as it is. */
  def upsert[T](latest: Map[String, T], r: T)(
      id: T => String, ts: T => Long): Map[String, T] = {
    val k = id(r)
    latest.get(k) match {
      case Some(prev) if ts(r) <= ts(prev) => latest
      case _                               => latest.updated(k, r)
    }
  }

  /** [[upsert]] of `rows`, in arrival order. */
  def upsertAll[T](latest: Map[String, T], rows: Iterator[T])(
      id: T => String, ts: T => Long): Map[String, T] =
    rows.foldLeft(latest)(upsert(_, _)(id, ts))

  /** The ids whose entry upserts changed, given the map `before` them and
    * the map `after`: the new ids and those replaced by a newer version
    * (a replacement always differs, as its version does). */
  def changedIds[T](before: Map[String, T],
                    after: Map[String, T]): Set[String] =
    after.iterator.collect { case (k, v) if !before.get(k).contains(v) => k }
      .toSet

  /** J1 (C1): the key's cross product of latest versions; when one
    * side is empty, each entry of the other side pairs with None. */
  def fullOuter[X, Y](xs: Map[String, X],
                      ys: Map[String, Y]): Iterator[(Option[X], Option[Y])] =
    if (xs.isEmpty) ys.valuesIterator.map(y => (None, Some(y)))
    else if (ys.isEmpty) xs.valuesIterator.map(x => (Some(x), None))
    else for (x <- xs.valuesIterator; y <- ys.valuesIterator)
      yield (Some(x), Some(y))

  /** J1 with delta emission: the rows of [[fullOuter]]`(xs, ys)` that
    * were not in the key's result before the ids `newX`/`newY` changed.
    * With both sides populated that is (changed x) × (all y) ∪
    * (unchanged x) × (changed y); a side that was empty before counts
    * as all changed, so a None → Some transition re-pairs the whole
    * key. With one side empty it is that side's changed entries. */
  def fullOuterDelta[X, Y](xs: Map[String, X], ys: Map[String, Y],
                           newX: Set[String], newY: Set[String]
                          ): Iterator[(Option[X], Option[Y])] =
    if (xs.isEmpty) newY.iterator.map(id => (None, Some(ys(id))))
    else if (ys.isEmpty) newX.iterator.map(id => (Some(xs(id)), None))
    else {
      val changedYs = newY.toList.map(ys)
      xs.iterator.flatMap { case (id, x) =>
        (if (newX(id)) ys.valuesIterator else changedYs.iterator)
          .map(y => (Some(x), Some(y)))
      }
    }

  /** J2 (C2): the key's single [[latestX]] with every latest y, or with
    * None when the key has no y; a key with no x emits nothing. */
  def leftOuter[X, Y](xs: Map[String, X], ys: Map[String, Y],
                      tsX: X => Long): Iterator[(X, Option[Y])] =
    latestX(xs, tsX).iterator.flatMap { x =>
      if (ys.isEmpty) Iterator.single((x, None))
      else ys.valuesIterator.map(y => (x, Some(y)))
    }

  /** J3 (C3): the key's single [[latestX]] with all its latest ys as an
    * id-ordered Seq (empty allowed); a key with no x emits nothing. */
  def leftOuterSeq[X, Y](xs: Map[String, X], ys: Map[String, Y],
                         tsX: X => Long): Iterator[(X, Seq[Y])] =
    latestX(xs, tsX).iterator.map(x => (x, byId(ys)))

  /** J4 (C4): one row per key, both sides' latest versions as id-ordered
    * Seqs; either may be empty, never both. */
  def fullOuterSeq[X, Y](xs: Map[String, X],
                         ys: Map[String, Y]): Iterator[(Seq[X], Seq[Y])] =
    Iterator.single((byId(xs), byId(ys)))

  /** J5 (C5, defined but never wired in the reference): the cross
    * product of latest versions, only when both sides are populated. */
  def inner[X, Y](xs: Map[String, X], ys: Map[String, Y]): Iterator[(X, Y)] =
    for (x <- xs.valuesIterator; y <- ys.valuesIterator) yield (x, y)

  /** As-of: each x, in id order, with the y version in effect at its own
    * version. Backward: the latest y with ts(y) <= ts(x), ties counting
    * as "before" (DuckDB `ASOF JOIN ... ON x.ts >= y.ts`). Forward: the
    * earliest y with ts(y) >= ts(x). None when no y qualifies. The
    * key's y timeline is sorted once and each x resolves by one binary
    * search, O((|xs|+|ys|)·log|ys|).
    *
    * Tie-break: equal-ts ys order by id numeric-aware (length, then
    * lexicographic — numeric order only for non-negative decimal ids
    * without leading zeros, "007" sorts after "12"; the pick stays
    * deterministic either way), and the search takes the boundary
    * element. A SQL ASOF oracle picks an arbitrary row among equal-ts
    * matches, so a hash comparison against one also needs per-key
    * unique y versions (the driver fixtures have them). */
  def asOf[X, Y](xs: Map[String, X], ys: Map[String, Y],
                 tsX: X => Long, tsY: Y => Long,
                 forward: Boolean): Iterator[(X, Option[Y])] = {
    val timeline = ys.toIndexedSeq
      .sortBy { case (id, y) => (tsY(y), id.length, id) }.map(_._2)
    byId(xs).iterator.map { x =>
      val t = tsX(x)
      // first index past x: ts(y) > ts(x) backward, ts(y) >= ts(x) forward
      var lo = 0
      var hi = timeline.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        val yt = tsY(timeline(mid))
        if (yt > t || (forward && yt == t)) hi = mid else lo = mid + 1
      }
      (x, timeline.lift(if (forward) lo else lo - 1))
    }
  }

  /** J2/J3's per-key x: the latest version over the whole key, not per
    * id (the reference quirk, cogroupFunctions.scala:31-32); among equal
    * versions the lowest id wins (see the object doc). */
  def latestX[X](xs: Map[String, X], ts: X => Long): Option[X] =
    xs.maxByOption { case (id, x) => (ts(x), id) }(
      Ordering.Tuple2(Ordering.Long, Ordering.String.reverse)).map(_._2)

  /** A latest-per-id map's versions in id order. */
  private[graft] def byId[T](m: Map[String, T]): Seq[T] =
    m.toSeq.sortBy(_._1).map(_._2)
}
