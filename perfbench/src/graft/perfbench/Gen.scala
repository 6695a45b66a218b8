package graft.perfbench

import java.util.SplittableRandom

/** One versioned record of either join side: join key, primary id
  * (unique across keys), version. */
final case class Rec(key: Long, id: Long, ts: Long)

/** A record tagged with its side (0 = X, 1 = Y), so both sides of a
  * chunk travel through ONE source offset and therefore one
  * micro-batch. */
final case class Upsert(side: Int, key: Long, id: Long, ts: Long) {
  def rec: Rec = Rec(key, id, ts)
}

/** Size of a generated upsert stream: `keys` join keys, each with
  * `xPerKey` X ids and `yPerKey` Y ids, delivered `chunk` records at a
  * time after one load chunk that holds every id once. */
final case class StreamShape(keys: Int, xPerKey: Int, yPerKey: Int,
                             chunk: Int) {
  val perKey: Int = xPerKey + yPerKey
  val ids: Long = keys.toLong * perKey
}

/** Endless, seed-deterministic upsert stream. Record `n` carries the
  * version `n * 16000 / ids + 10000 - jitter` (milliseconds), with
  * `jitter` uniform in [0, 10000): versions arrive out of order within
  * the reference's 10,000 ms bound, and an id is updated about every
  * 16 s of version time, so some arrivals are stale and must be ignored
  * by latest-wins. Ids are drawn uniformly. */
final class UpsertStream(val shape: StreamShape, seed: Long) {
  private val rng = new SplittableRandom(seed)
  private var n = 0L

  private def record(slot: Long): Upsert = {
    val key = slot / shape.perKey
    val j = (slot % shape.perKey).toInt
    val ts = n * 16000L / shape.ids + 10000L - rng.nextInt(10000)
    n += 1
    if (j < shape.xPerKey) Upsert(0, key, key * shape.xPerKey + j, ts)
    else Upsert(1, key, key * shape.yPerKey + (j - shape.xPerKey), ts)
  }

  /** Every id once, in a seeded random order. */
  def load(): Array[Upsert] = {
    val slots = Array.tabulate(shape.ids.toInt)(_.toLong)
    var i = slots.length - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = slots(i); slots(i) = slots(j); slots(j) = t
      i -= 1
    }
    slots.map(record)
  }

  def next(): Array[Upsert] =
    Array.fill(shape.chunk)(record(rng.nextLong(shape.ids)))
}

/** What one chunk should do to the J1 full-outer result, per the
  * oracle: keys it touches, rows a full re-emission writes, and the
  * rows among them whose content changed (the rest repeat an earlier
  * emission unchanged). */
final case class ChunkEffect(keys: Int, emitted: Long, changed: Long)

/** Plain-Scala model of the reference semantics for a
  * [[StreamShape]]: latest version per id (strict `>`, so the first
  * arrival wins a tie), and per key the J1 full-outer cross product of
  * the latest versions. */
final class Oracle(shape: StreamShape) {
  private val absent = Long.MinValue
  private val xTs = Array.fill(shape.keys * shape.xPerKey)(absent)
  private val yTs = Array.fill(shape.keys * shape.yPerKey)(absent)

  def latestX(id: Long): Long = xTs(id.toInt)
  def latestY(id: Long): Long = yTs(id.toInt)

  private def present(ts: Array[Long], key: Long, per: Int): Int = {
    var c = 0; var i = 0
    while (i < per) { if (ts((key * per + i).toInt) != absent) c += 1; i += 1 }
    c
  }

  /** Apply one chunk in arrival order. */
  def apply(chunk: Array[Upsert]): ChunkEffect = {
    val changedX = scala.collection.mutable.HashMap.empty[Long, Set[Long]]
    val changedY = scala.collection.mutable.HashMap.empty[Long, Set[Long]]
    val touched = scala.collection.mutable.HashSet.empty[Long]
    chunk.foreach { u =>
      touched += u.key
      val (ts, changed) = if (u.side == 0) (xTs, changedX) else (yTs, changedY)
      if (ts(u.id.toInt) == absent || u.ts > ts(u.id.toInt)) {
        ts(u.id.toInt) = u.ts
        changed(u.key) = changed.getOrElse(u.key, Set.empty) + u.id
      }
    }
    var emitted = 0L; var changed = 0L
    touched.foreach { k =>
      val nx = present(xTs, k, shape.xPerKey)
      val ny = present(yTs, k, shape.yPerKey)
      val cx = changedX.get(k).fold(0)(_.size)
      val cy = changedY.get(k).fold(0)(_.size)
      if (nx == 0) { emitted += ny; changed += cy }
      else if (ny == 0) { emitted += nx; changed += cx }
      else {
        emitted += nx.toLong * ny
        changed += cx.toLong * ny + (nx - cx).toLong * cy
      }
    }
    ChunkEffect(touched.size, emitted, changed)
  }

  /** The converged J1 result as (key, x, y) rows. */
  def result(): Iterator[(Long, Option[Rec], Option[Rec])] =
    (0L until shape.keys.toLong).iterator.flatMap { k =>
      def side(ts: Array[Long], per: Int) = (0 until per).iterator
        .map(i => k * per + i).filter(id => ts(id.toInt) != absent)
        .map(id => Rec(k, id, ts(id.toInt))).toSeq
      val xs = side(xTs, shape.xPerKey)
      val ys = side(yTs, shape.yPerKey)
      if (xs.isEmpty) ys.iterator.map(y => (k, None, Some(y)))
      else if (ys.isEmpty) xs.iterator.map(x => (k, Some(x), None))
      else for (x <- xs.iterator; y <- ys.iterator) yield (k, Some(x), Some(y))
    }
}

/** Upsert log of the snapshot workload, generated per key from the
  * seed so any partitioning yields the same records. Key `k` has
  * `xPerKey` X ids and `yPerKey` Y ids with `versions` versions each;
  * one key in 16 has no X side and another one in 16 no Y side, so the
  * full outer join pads both ways. Versions of an id are distinct. */
final case class SnapshotShape(keys: Int, xPerKey: Int, yPerKey: Int,
                               versions: Int) {
  def records: Long = {
    val withX = (0 until keys).count(k => hasX(k.toLong)).toLong
    val withY = (0 until keys).count(k => hasY(k.toLong)).toLong
    (withX * xPerKey + withY * yPerKey) * versions
  }
  def hasX(k: Long): Boolean = k % 16 != 3
  def hasY(k: Long): Boolean = k % 16 != 7

  private def side(seed: Long, k: Long, sideTag: Long, per: Int): Array[Rec] = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + k * 4 + sideTag)
    Array.tabulate(per * versions) { i =>
      val id = k * per + i / versions
      // version v lives in [v * 20000, v * 20000 + 10000): distinct per id
      Rec(k, id, (i % versions) * 20000L + rng.nextInt(10000))
    }
  }

  def xs(seed: Long, k: Long): Array[Rec] =
    if (hasX(k)) side(seed, k, 0, xPerKey) else Array.empty
  def ys(seed: Long, k: Long): Array[Rec] =
    if (hasY(k)) side(seed, k, 1, yPerKey) else Array.empty

  /** Oracle: latest version per id (strict `>`), then the J1 cross
    * product per key, as (x, y) rows with the missing side absent. */
  def result(seed: Long): Iterator[(Option[Rec], Option[Rec])] =
    (0L until keys.toLong).iterator.flatMap { k =>
      def latest(rs: Array[Rec]): Seq[Rec] = rs.foldLeft(Map.empty[Long, Rec]) {
        (m, r) => if (m.get(r.id).forall(r.ts > _.ts)) m.updated(r.id, r) else m
      }.values.toSeq.sortBy(_.id)
      val x = latest(xs(seed, k))
      val y = latest(ys(seed, k))
      if (x.isEmpty) y.iterator.map(r => (None, Some(r)))
      else if (y.isEmpty) x.iterator.map(r => (Some(r), None))
      else for (a <- x.iterator; b <- y.iterator) yield (Some(a), Some(b))
    }
}
