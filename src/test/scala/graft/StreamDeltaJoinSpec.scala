package graft

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.GenJoin._
import graft.streaming.{Emitted, PackedPerKey, PerIdEntries, StateLayout,
  VersionedStreamJoin}

/** fullOuterDelta: the delta-emitting variant of the versioned
  * full-outer join must (a) converge to the same answer as fullOuter
  * under the per-row-identity fold its consumers (the s11/s22 chain
  * rows) use, and (b) actually emit FEWER raw rows than the full
  * re-emission — the property the optimization exists for. The replay
  * uses the same chunked stale-version churn as StreamJoinSpec, so the
  * delta rules are exercised on every transition: x-before-y,
  * y-before-x ((None, y) rows superseded per identity), x-only keys
  * ((x, None) rows suppressed once a pair exists), version updates on
  * either side (a changed x re-pairs with every y), multi-y keys
  * (fanout 2) and, in the second input, multi-x keys (unchanged x's
  * re-pair with a changed y). */
class StreamDeltaJoinSpec extends SparkTestBase {
  import spark.implicits._

  val numSamples = 100

  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  /** Replays `xs`/`ys` in 8 interleaved chunks through `build`, each
    * chunk exactly one microbatch: both sides come from one source, so
    * a trigger can never fire between the x and the y half of a chunk,
    * and the raw emission counts of two replays are comparable. */
  private def replay[X, Y](name: String, xs: Seq[X], ys: Seq[Y])(
      build: (Dataset[X], Dataset[Y]) => Dataset[Emitted[X, Y]])(
      implicit ex: Encoder[X], ey: Encoder[Y],
      exy: Encoder[(Option[X], Option[Y])],
      ee: Encoder[Emitted[X, Y]]): Seq[Emitted[X, Y]] = {
    val in = MemoryStream[(Option[X], Option[Y])]
    val both = in.toDS()
    val q = build(both.flatMap(_._1), both.flatMap(_._2)).toDF().writeStream
      .outputMode("update").format("memory").queryName(name).start()
    try {
      val chunks = 8
      val sa = math.max(1, (xs.length + chunks - 1) / chunks)
      val sb = math.max(1, (ys.length + chunks - 1) / chunks)
      xs.grouped(sa).zipAll(ys.grouped(sb), Nil, Nil).foreach {
        case (ca, cb) =>
          in.addData(ca.map(x => (Some(x), None)) ++ cb.map(y => (None, Some(y))))
          q.processAllAvailable()
      }
    } finally q.stop()
    spark.table(name).as[Emitted[X, Y]].collect().toSeq
  }

  /** fullOuter's converged view: whole-key max-seq filter. */
  private def convergedFull[X, Y](raw: Seq[Emitted[X, Y]]): Set[(Option[X], Option[Y])] = {
    val maxSeq = raw.groupBy(_.key).map { case (k, g) => k -> g.map(_.seq).max }
    raw.filter(e => e.seq == maxSeq(e.key)).map(e => (e.x, e.y)).toSet
  }

  test("fullOuterDelta under the per-identity fold equals fullOuter's " +
      "converged view, with strictly fewer raw emissions") {
    val truth = sampleExactlyN(genABNonempty(leftOptional = true, fanoutMax = 2),
      seed = 321L, numSamples)
    val asFresh = truth.flatMap(_._1)
    val bsFresh = truth.flatMap(_._2)
    // stale versions first: later chunks deliver fresh versions that
    // must supersede (the "changed entry" path of the delta rule)
    val as = asFresh.map(a => a.copy(ts = a.ts - 17L)) ++ asFresh
    val bs = bsFresh.map(b => b.copy(ts = b.ts - 17L)) ++ bsFresh

    // both state layouts; the per-id entries need the RocksDB provider
    checkDelta(as, bs, PackedPerKey)
    VersionedStreamJoin.withStateStoreProvider(spark) {
      checkDelta(as, bs, PerIdEntries)
    }
  }

  private def checkDelta(as: Seq[A], bs: Seq[B], layout: StateLayout): Unit = {
    def run(delta: Boolean): Seq[Emitted[A, B]] =
      replay(s"${if (delta) "delta" else "full"}_ab_$layout", as, bs) { (dx, dy) =>
        val (key, id) = ((a: A) => a.id.toString, (b: B) => b.id.toString)
        if (delta) VersionedStreamJoin.fullOuterDelta[A, B](dx, dy, key,
          _.ida.toString, key, id, _.ts, _.ts, layout = layout)
        else VersionedStreamJoin.fullOuter[A, B](dx, dy, key,
          _.ida.toString, key, id, _.ts, _.ts, layout = layout)
      }
    val rawFull = run(delta = false)
    val rawDelta = run(delta = true)

    // the whole point: the delta stream is strictly smaller (the churn
    // guarantees at least one key is touched across >1 batch, which is
    // exactly where full re-emission pays twice)
    assert(rawDelta.size < rawFull.size,
      s"$layout: delta emitted ${rawDelta.size} rows vs full ${rawFull.size}")

    // the delta consumers' fold (one x per key, the s11/s22 shape):
    // y-carrying rows converge per (key, y-id) by latest seq — an x
    // update re-pairs every y at a higher seq, so the latest row per
    // identity carries the current x, and a (None, y) row is
    // superseded by its (x, y) successor under the SAME identity;
    // (x, None) rows are valid only for keys that never emitted a pair
    val yRows = rawDelta.filter(_.y.isDefined)
      .groupBy(e => (e.key, e.y.get.id)).values
      .map(_.maxBy(_.seq)).toSeq
    val keysWithY = yRows.map(_.key).toSet
    val loneX = rawDelta.filter(e => e.y.isEmpty && !keysWithY(e.key))
      .groupBy(_.key).values.map(_.maxBy(_.seq)).toSeq
    val convergedDelta = (yRows ++ loneX).map(e => (e.x, e.y)).toSet

    assert(convergedDelta == convergedFull(rawFull), s"$layout")

    // and both equal the batch latest-wins answer
    val latestA = as.groupBy(_.id).map { case (k, g) => k -> g.maxBy(_.ts) }
    val latestB = bs.groupBy(b => (b.ida, b.id)).values.map(_.maxBy(_.ts)).toSeq
    val bByKey = latestB.groupBy(_.ida)
    val keys = latestA.keySet ++ bByKey.keySet
    val expected: Set[(Option[A], Option[B])] = keys.flatMap { k =>
      (latestA.get(k), bByKey.getOrElse(k, Seq.empty)) match {
        case (None, bs2)      => bs2.map(b => (None, Some(b)))
        case (Some(a), Seq()) => Seq((Some(a), None))
        case (Some(a), bs2)   => bs2.map(b => (Some(a), Some(b)))
      }
    }
    assert(convergedDelta == expected, s"$layout")
  }

  test("fullOuterDelta with several x ids per key converges under the " +
      "per-(x-id, y-id) fold") {
    // x = the Bs, keyed by their A (ida) but identified by their own id,
    // so one key holds several x ids; y = the A of that key. Stale Bs
    // and As arrive first, so a later chunk changes some x's of a key
    // while others stay, and changes the y under unchanged x's.
    val truth = sampleExactlyN(genABNonempty(leftOptional = true, fanoutMax = 3),
      seed = 99L, numSamples)
    val bsFresh = truth.flatMap(_._2)
    val asFresh = truth.flatMap(_._1)
    val bs = bsFresh.map(b => b.copy(ts = b.ts - 17L)) ++ bsFresh
    val as = asFresh.map(a => a.copy(ts = a.ts - 17L)) ++ asFresh
    assert(bsFresh.groupBy(_.ida).values.exists(_.map(_.id).distinct.size > 1),
      "fixture must put several x ids on one key")

    def run(delta: Boolean): Seq[Emitted[B, A]] =
      replay(if (delta) "delta_ba" else "full_ba", bs, as) { (dx, dy) =>
        val (kB, kA) = ((b: B) => b.ida.toString, (a: A) => a.id.toString)
        if (delta) VersionedStreamJoin.fullOuterDelta[B, A](dx, dy, kB, kA,
          _.id.toString, kA, _.ts, _.ts)
        else VersionedStreamJoin.fullOuter[B, A](dx, dy, kB, kA,
          _.id.toString, kA, _.ts, _.ts)
      }
    val rawFull = run(delta = false)
    val rawDelta = run(delta = true)
    assert(rawDelta.size < rawFull.size,
      s"delta emitted ${rawDelta.size} rows vs full ${rawFull.size}")

    // the mixed arm ran: some pair re-uses an x version the key already
    // emitted in an earlier batch, i.e. an unchanged x met a changed y
    val firstSeq = rawDelta.filter(_.x.isDefined)
      .groupBy(e => (e.key, e.x)).map { case (kx, g) => kx -> g.map(_.seq).min }
    assert(rawDelta.exists(e => e.x.isDefined && e.y.isDefined &&
      firstSeq((e.key, e.x)) < e.seq), "no unchanged x re-paired with a changed y")

    // pairs converge per (key, x-id, y-id); one-sided rows are valid
    // only for keys that never emitted a pair, per (key, side id)
    val pairs = rawDelta.filter(e => e.x.isDefined && e.y.isDefined)
      .groupBy(e => (e.key, e.x.get.id, e.y.get.id)).values
      .map(_.maxBy(_.seq)).toSeq
    val pairKeys = pairs.map(_.key).toSet
    val lone = rawDelta.filter(e => e.x.isEmpty || e.y.isEmpty)
      .filterNot(e => pairKeys(e.key))
      .groupBy(e => (e.key, e.x.map(_.id), e.y.map(_.id))).values
      .map(_.maxBy(_.seq)).toSeq
    val convergedDelta = (pairs ++ lone).map(e => (e.x, e.y)).toSet

    val latestB = bs.groupBy(b => (b.ida, b.id)).values.map(_.maxBy(_.ts))
      .toSeq.groupBy(_.ida)
    val latestA = as.groupBy(_.id).map { case (k, g) => k -> g.maxBy(_.ts) }
    val expected: Set[(Option[B], Option[A])] =
      (latestB.keySet ++ latestA.keySet).flatMap { k =>
        (latestB.getOrElse(k, Seq.empty), latestA.get(k)) match {
          case (Seq(), Some(a)) => Seq((None, Some(a)))
          case (xs2, None)      => xs2.map(b => (Some(b), None))
          case (xs2, Some(a))   => xs2.map(b => (Some(b), Some(a)))
        }
      }
    assert(convergedFull(rawFull) == expected)
    assert(convergedDelta == expected)
  }
}
