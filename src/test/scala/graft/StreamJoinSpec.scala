package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.GenJoin._
import graft.streaming.{Emitted, EventTimeTtl, VersionedStreamJoin}

/** Streaming versioned join: chunked MemoryStream replay with
  * stale-version churn, verified with the reference's dedup-tolerant
  * contract (raw emissions ≥ expected; latest-wins dedup == expected —
  * JoinSpec.scala:153-154) AND exact convergence (max-seq emissions
  * per key == the batch answer). */
class StreamJoinSpec extends SparkTestBase {
  import spark.implicits._

  val numSamples = 100

  test("streaming AB full outer converges to the batch answer modulo dedup") {
    val truth = sampleExactlyN(genABNonempty(leftOptional = true, fanoutMax = 2),
      seed = 123L, numSamples)
    // stale versions first in the replay order — later chunks carry
    // the fresh versions that must supersede them
    val asFresh = truth.flatMap(_._1)
    val bsFresh = truth.flatMap(_._2)
    val as = asFresh.map(a => a.copy(ts = a.ts - 17L)) ++ asFresh
    val bs = bsFresh.map(b => b.copy(ts = b.ts - 17L)) ++ bsFresh

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sx = MemoryStream[A]
    val sy = MemoryStream[B]
    val joined = VersionedStreamJoin.fullOuter[A, B](
      sx.toDS(), sy.toDS(),
      _.id.toString, _.ida.toString, _.id.toString, _.id.toString,
      _.ts, _.ts)
    val q = joined.toDF().writeStream.outputMode("update")
      .format("memory").queryName("stream_ab").start()
    try {
      val chunks = 8
      val sa = math.max(1, (as.length + chunks - 1) / chunks)
      val sb = math.max(1, (bs.length + chunks - 1) / chunks)
      as.grouped(sa).zipAll(bs.grouped(sb), Nil, Nil).foreach { case (ca, cb) =>
        if (ca.nonEmpty) sx.addData(ca)
        if (cb.nonEmpty) sy.addData(cb)
        q.processAllAvailable()
      }
    } finally q.stop()

    val raw = spark.table("stream_ab").as[Emitted[A, B]].collect()

    // expected (same derivation as the batch spec; B dedups per
    // (key=ida, id) like the engine's D2 state)
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

    // contract 1 (reference): raw emission count >= converged size
    assert(raw.length >= expected.size)

    // contract 2 (reference OmnicientDeduplicator): latest-wins dedup
    // of the raw emissions by (row identity, version = ts sum) recovers
    // every expected row. Transient rows (e.g. (Some(a), None) emitted
    // before any b arrived, superseded later under a *different*
    // identity) legitimately survive an identity-keyed dedup — the
    // exact gap that kept the reference's fanout>1 B⋈C test ignored
    // (JoinSpec.scala:289) — so this asserts containment; contract 3
    // below is the exact check.
    val deduped = omniDedup[Emitted[A, B]](raw.toSeq, e => {
      val ident = (e.key, e.x.map(_.id), e.y.map(_.id)).toString
      val version = e.x.map(_.ts).getOrElse(0L) + e.y.map(_.ts).getOrElse(0L)
      (ident, version)
    }).map(e => (e.x, e.y)).toSet
    assert(expected.subsetOf(deduped))

    // contract 3 (stronger): the final emission per key IS the answer
    val maxSeq = raw.groupBy(_.key).map { case (k, g) => k -> g.map(_.seq).max }
    val converged = raw.filter(e => e.seq == maxSeq(e.key))
      .map(e => (e.x, e.y)).toSet
    assert(converged == expected)

    // M1 monitoring analog (reference StreamMonitor, SURVEY.md §2.7):
    // the query's own progress reports, recorded on the query thread
    // before it stopped, saw every input row and live join state
    val progress = q.recentProgress
    assert(progress.map(_.numInputRows).sum == (as.length + bs.length).toLong)
    assert(progress.exists(_.stateOperators.exists(_.numRowsTotal > 0)))
  }

  test("streaming as-of join: late ys retroactively correct exactly the xs " +
      "they should serve; converged view equals the batch as-of") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sx = MemoryStream[A] // facts: (id = key here, ts = event time)
    val sy = MemoryStream[B] // versions: ida = key, id = version id
    val joined = VersionedStreamJoin.asOf[A, B](
      sx.toDS(), sy.toDS(),
      _.id.toString, _.ida.toString,
      a => s"x${a.ts}", b => b.id.toString, // each fact is its own id
      _.ts, _.ts)
    val q = joined.toDF().writeStream.outputMode("update")
      .format("memory").queryName("stream_asof").start()
    def emittedNow(): Map[Long, Option[Long]] = {
      val raw = spark.table("stream_asof").as[Emitted[A, B]].collect()
      val maxSeq = raw.groupBy(_.key).map { case (k, g) => k -> g.map(_.seq).max }
      raw.filter(e => e.seq == maxSeq(e.key))
        .map(e => e.x.get.ts -> e.y.map(_.ts)).toMap
    }
    try {
      // batch 1: facts at t=10 and t=20, one version at t=15
      sx.addData(A(1, 10L), A(1, 20L))
      sy.addData(B(100, 15L, 1))
      q.processAllAvailable()
      assert(emittedNow() == Map(10L -> None, 20L -> Some(15L)),
        "before the late version: t=10 has nothing in effect")
      // batch 2: a LATE version at t=5 — must correct ONLY the t=10
      // fact (t=20 keeps the closer t=15 version)
      sy.addData(B(101, 5L, 1))
      q.processAllAvailable()
      assert(emittedNow() == Map(10L -> Some(5L), 20L -> Some(15L)),
        "late y corrected exactly the fact it should serve")
      // batch 3: a late FACT at t=16 resolves against the full timeline
      sx.addData(A(1, 16L))
      q.processAllAvailable()
      assert(emittedNow() ==
        Map(10L -> Some(5L), 16L -> Some(15L), 20L -> Some(15L)))
      // batch 4: tie — a fact exactly at a version's ts counts as AFTER
      // it (x.ts >= y.ts, the batch/DuckDB ASOF contract)
      sx.addData(A(1, 15L))
      q.processAllAvailable()
      assert(emittedNow()(15L) == Some(15L), "tie counts as in-effect")
    } finally q.stop()
  }

  test("streaming FORWARD as-of: late earlier-qualifying ys retroactively " +
      "improve exactly the xs they should; ties count as after") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sx = MemoryStream[A]
    val sy = MemoryStream[B]
    val joined = VersionedStreamJoin.asOfForward[A, B](
      sx.toDS(), sy.toDS(),
      _.id.toString, _.ida.toString,
      a => s"x${a.ts}", b => b.id.toString,
      _.ts, _.ts)
    val q = joined.toDF().writeStream.outputMode("update")
      .format("memory").queryName("stream_asof_fwd").start()
    def emittedNow(): Map[Long, Option[Long]] = {
      val raw = spark.table("stream_asof_fwd").as[Emitted[A, B]].collect()
      val maxSeq = raw.groupBy(_.key).map { case (k, g) => k -> g.map(_.seq).max }
      raw.filter(e => e.seq == maxSeq(e.key))
        .map(e => e.x.get.ts -> e.y.map(_.ts)).toMap
    }
    try {
      // batch 1: facts at t=10 and t=20, one later action at t=25
      sx.addData(A(1, 10L), A(1, 20L))
      sy.addData(B(100, 25L, 1))
      q.processAllAvailable()
      assert(emittedNow() == Map(10L -> Some(25L), 20L -> Some(25L)),
        "both facts see the only future action")
      // batch 2: a late action at t=12 — must improve ONLY the t=10
      // fact (t=20's earliest-after stays t=25)
      sy.addData(B(101, 12L, 1))
      q.processAllAvailable()
      assert(emittedNow() == Map(10L -> Some(12L), 20L -> Some(25L)),
        "late y improved exactly the fact it should serve")
      // batch 3: a late FACT at t=30 has no qualifying action
      sx.addData(A(1, 30L))
      q.processAllAvailable()
      assert(emittedNow() ==
        Map(10L -> Some(12L), 20L -> Some(25L), 30L -> None))
      // batch 4: tie — a fact exactly at an action's ts counts the
      // action as AFTER it (x.ts <= y.ts, the batch/DuckDB contract)
      sx.addData(A(1, 25L))
      q.processAllAvailable()
      assert(emittedNow()(25L) == Some(25L), "tie qualifies forward")
    } finally q.stop()
  }

  test("reference contract verbatim: noseq fanout<=1, join-key version-sum dedup equals expected") {
    // The reference's primary AB test shape (JoinSpec.scala:135-155):
    // at most one B per A, dedup key = the join key, version = sum of
    // constituent ts — transient half-rows (emitted before the other
    // side arrived) are superseded because ts are large positive.
    val truth = sampleExactlyN(genABNonempty(leftOptional = true, fanoutMax = 1),
      seed = 123L, numSamples)
    val as = truth.flatMap(_._1)
    val bs = truth.flatMap(_._2)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sx = MemoryStream[A]
    val sy = MemoryStream[B]
    val joined = VersionedStreamJoin.fullOuter[A, B](
      sx.toDS(), sy.toDS(),
      _.id.toString, _.ida.toString, _.id.toString, _.id.toString,
      _.ts, _.ts)
    val q = joined.toDF().writeStream.outputMode("update")
      .format("memory").queryName("stream_ref").start()
    try {
      val chunks = 8
      val sa = math.max(1, (as.length + chunks - 1) / chunks)
      val sb = math.max(1, (bs.length + chunks - 1) / chunks)
      as.grouped(sa).zipAll(bs.grouped(sb), Nil, Nil).foreach { case (ca, cb) =>
        if (ca.nonEmpty) sx.addData(ca)
        if (cb.nonEmpty) sy.addData(cb)
        q.processAllAvailable()
      }
    } finally q.stop()
    val raw = spark.table("stream_ref").as[Emitted[A, B]].collect()

    val latestA = as.groupBy(_.id).map { case (k, g) => k -> g.maxBy(_.ts) }
    val bByKey = bs.groupBy(b => (b.ida, b.id)).values.map(_.maxBy(_.ts))
      .toSeq.groupBy(_.ida)
    val keys = latestA.keySet ++ bByKey.keySet
    val expected: Set[(Option[A], Option[B])] = keys.flatMap { k =>
      (latestA.get(k), bByKey.getOrElse(k, Seq.empty)) match {
        case (None, bs2)      => bs2.map(b => (None, Some(b)))
        case (Some(a), Seq()) => Seq((Some(a), None))
        case (Some(a), bs2)   => bs2.map(b => (Some(a), Some(b)))
      }
    }

    assert(raw.length >= expected.size) // raw >= expected
    val deduped = omniDedup[Emitted[A, B]](raw.toSeq, e =>
      (e.key, e.x.map(_.ts).getOrElse(0L) + e.y.map(_.ts).getOrElse(0L)))
      .map(e => (e.x, e.y)).toSet
    assert(deduped == expected) // deduped == expected, the reference assertion
  }

  test("generators: FK integrity and outer-arm coverage (reference JoinSpec:122-133)") {
    val truth = sampleExactlyN(genABNonempty(leftOptional = true, fanoutMax = 2),
      seed = 123L, numSamples)
    // FK by construction: every B in a unit with a present A references it
    truth.foreach {
      case (Some(a), bs) => assert(bs.forall(_.ida == a.id))
      case (None, bs)    => assert(bs.nonEmpty) // nonempty filter held
    }
    // all three arms exercised
    assert(truth.exists(_._1.isEmpty))
    assert(truth.exists(t => t._1.isDefined && t._2.isEmpty))
    assert(truth.exists(t => t._1.isDefined && t._2.nonEmpty))
  }

  test("streaming leftOuterSeq and fullOuterSeq converge to nested latest versions") {
    import graft.streaming.EmittedSeq
    val xs = Seq(A(1, 10L), A(1, 30L), A(2, 5L))
    val ys = Seq(B(7, 5L, 1), B(7, 9L, 1), B(8, 4L, 1), B(9, 2L, 3)) // idb=3 keyless
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val sx3 = MemoryStream[A]; val sy3 = MemoryStream[B]
    val q3 = VersionedStreamJoin.leftOuterSeq[A, B](sx3.toDS(), sy3.toDS(),
        _.id.toString, _.ida.toString, _.id.toString, _.id.toString, _.ts, _.ts)
      .toDF().writeStream.outputMode("update").format("memory")
      .queryName("stream_los").start()
    try { sx3.addData(xs); sy3.addData(ys); q3.processAllAvailable() }
    finally q3.stop()
    val los = spark.table("stream_los").as[EmittedSeq[A, B]].collect()
    val losConv = los.groupBy(_.key).map { case (_, g) => g.maxBy(_.seq) }
      .map(e => (e.xs, e.ys)).toSet
    assert(losConv == Set(
      (Seq(A(1, 30L)), Seq(B(7, 9L, 1), B(8, 4L, 1))),
      (Seq(A(2, 5L)), Seq.empty[B])))

    val sx4 = MemoryStream[A]; val sy4 = MemoryStream[B]
    val q4 = VersionedStreamJoin.fullOuterSeq[A, B](sx4.toDS(), sy4.toDS(),
        _.id.toString, _.ida.toString, _.id.toString, _.id.toString, _.ts, _.ts)
      .toDF().writeStream.outputMode("update").format("memory")
      .queryName("stream_fos").start()
    try { sx4.addData(xs); sy4.addData(ys); q4.processAllAvailable() }
    finally q4.stop()
    val fos = spark.table("stream_fos").as[EmittedSeq[A, B]].collect()
    val fosConv = fos.groupBy(_.key).map { case (_, g) => g.maxBy(_.seq) }
      .map(e => (e.xs, e.ys)).toSet
    assert(fosConv == Set(
      (Seq(A(1, 30L)), Seq(B(7, 9L, 1), B(8, 4L, 1))),
      (Seq(A(2, 5L)), Seq.empty[B]),
      (Seq.empty[A], Seq(B(9, 2L, 3)))))
  }

  test("streaming BC full outer with fanout>1 converges (the reference's ignored case, JoinSpec.scala:289)") {
    // The reference ignored its streaming B⋈C fanout>1 test because its
    // identity-keyed dedup oracle can't kill transient half-rows; the
    // max-seq convergence contract (contract 3 above) is immune, so the
    // case is streamable and checked exactly here.
    val truth = sampleExactlyN(genBC(fanoutMax = 2), seed = 42L, numSamples)
    val bsFresh = truth.map(_._1)
    val csFresh = truth.flatMap(_._2)
    // stale-version churn: early chunks carry superseded versions
    val bs = bsFresh.map(b => b.copy(ts = b.ts - 17L)) ++ bsFresh
    val cs = csFresh.map(c => c.copy(ts = c.ts - 17L)) ++ csFresh

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sb = MemoryStream[B]
    val sc = MemoryStream[C]
    val joined = VersionedStreamJoin.fullOuter[B, C](
      sb.toDS(), sc.toDS(),
      _.id.toString, _.idb.toString, _.id.toString, _.id.toString,
      _.ts, _.ts)
    val q = joined.toDF().writeStream.outputMode("update")
      .format("memory").queryName("stream_bc").start()
    try {
      val chunks = 8
      val szb = math.max(1, (bs.length + chunks - 1) / chunks)
      val szc = math.max(1, (cs.length + chunks - 1) / chunks)
      bs.grouped(szb).zipAll(cs.grouped(szc), Nil, Nil).foreach { case (cb, cc) =>
        if (cb.nonEmpty) sb.addData(cb)
        if (cc.nonEmpty) sc.addData(cc)
        q.processAllAvailable()
      }
    } finally q.stop()
    val raw = spark.table("stream_bc").as[Emitted[B, C]].collect()

    val latestB = bs.groupBy(_.id).map { case (k, g) => k -> g.maxBy(_.ts) }
    val cByKey = cs.groupBy(c => (c.idb, c.id)).values.map(_.maxBy(_.ts))
      .toSeq.groupBy(_.idb)
    val keys = latestB.keySet ++ cByKey.keySet
    val expected: Set[(Option[B], Option[C])] = keys.flatMap { k =>
      (latestB.get(k), cByKey.getOrElse(k, Seq.empty)) match {
        case (None, cs2)      => cs2.map(c => (None, Some(c)))
        case (Some(b), Seq()) => Seq((Some(b), None))
        case (Some(b), cs2)   => cs2.map(c => (Some(b), Some(c)))
      }
    }
    assert(raw.length >= expected.size)
    val maxSeq = raw.groupBy(_.key).map { case (k, g) => k -> g.map(_.seq).max }
    val converged = raw.filter(e => e.seq == maxSeq(e.key))
      .map(e => (e.x, e.y)).toSet
    assert(converged == expected)
  }

  test("event-time TTL retires keys by watermark advance (no wall-clock sleeps)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sx = MemoryStream[A]
    val sy = MemoryStream[B]
    // versions double as epoch-ms event times in this mode
    val joined = VersionedStreamJoin.fullOuter[A, B](sx.toDS(), sy.toDS(),
      _.id.toString, _.ida.toString, _.id.toString, _.id.toString,
      _.ts, _.ts, Some(EventTimeTtl(500L)))
    val q = joined.toDF().writeStream.outputMode("update")
      .format("memory").queryName("stream_ettl").start()
    def rows() = spark.table("stream_ettl").as[Emitted[A, B]].collect()
    try {
      // batch 1: key "1" updates; its timeout anchors at its own event
      // time (max(watermark=0, ets=1000) + 500 = 1500) — never at the
      // zero first-batch watermark
      sx.addData(Seq(A(1, 1000L)))
      q.processAllAvailable()
      // batch 2: unrelated key advances the watermark to
      // 20_000 − 10_000 (default delay) = 10_000 > 500; key "1" fires
      // its timeout and is removed
      sx.addData(Seq(A(2, 20000L)))
      q.processAllAvailable()
      // batch 3: key "1" rebuilds from scratch (ets 30_000 is beyond
      // the watermark, so the record is not late-dropped) — the
      // emission must NOT see the retired A(1, 1000L)
      sy.addData(Seq(B(60, 30000L, 1)))
      q.processAllAvailable()
    } finally q.stop()
    val rebuilt = rows().filter(e => e.key == "1" && e.y.contains(B(60, 30000L, 1)))
    assert(rebuilt.nonEmpty && rebuilt.forall(_.x.isEmpty))
    // the pre-retirement emission is still in the raw update log
    assert(rows().exists(e => e.key == "1" && e.x.contains(A(1, 1000L))))
  }

  test("event-time TTL: keys quiet after batch 1 survive many chunks within the TTL horizon (seq never restarts)") {
    // Regression shape for the first-batch timeout-anchor bug: event
    // times far LARGER than the TTL (epoch-scale data, sub-epoch TTL).
    // The buggy anchor `watermark(=0) + ttl` was instantly passed once
    // the watermark first advanced, retiring every batch-1-only key and
    // restarting its emission seq — nondeterministic under input
    // chunking (the driver replays 32+ file chunks). The fixed anchor
    // `max(watermark, max ets in batch) + ttl` keeps a quiet key alive
    // as long as the watermark stays within ttl of the key's own data.
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = 1000000000L // epoch-scale event times >> the 500_000 TTL
    val sx = MemoryStream[A]
    val sy = MemoryStream[B]
    val joined = VersionedStreamJoin.fullOuter[A, B](sx.toDS(), sy.toDS(),
      _.id.toString, _.ida.toString, _.id.toString, _.id.toString,
      _.ts, _.ts, Some(EventTimeTtl(500000L)))
    val q = joined.toDF().writeStream.outputMode("update")
      .format("memory").queryName("stream_ettl_quiet").start()
    def rows() = spark.table("stream_ettl_quiet").as[Emitted[A, B]].collect()
    try {
      // chunk 1: the key that then goes quiet
      sx.addData(Seq(A(1, base)))
      q.processAllAvailable()
      // 40 more chunks (> the driver's 32), none touching key "1",
      // each advancing the watermark — but never past base + TTL
      (1 to 40).foreach { i =>
        sx.addData(Seq(A(100 + i, base + i * 1000L)))
        q.processAllAvailable()
      }
      // final chunk: a partner for key "1"; ets is inside the watermark
      // (base + 40_000 − 10_000 delay) so it is not late-dropped
      sy.addData(Seq(B(60, base + 39000L, 1)))
      q.processAllAvailable()
    } finally q.stop()
    val k1 = rows().filter(_.key == "1")
    // seq never restarted: exactly the two emissions, in order
    assert(k1.map(_.seq).sorted.toSeq == Seq(1L, 2L),
      s"key 1 emissions: ${k1.mkString(", ")}")
    // and the final emission still carries the batch-1 A — state survived
    assert(k1.filter(_.seq == 2L).map(e => (e.x, e.y)).toSet ==
      Set((Some(A(1, base)), Some(B(60, base + 39000L, 1)))))
  }

  test("two chained streaming joins converge to the batch ABC chain answer") {
    // The reference's full data model is the 3-level chain A 1—N B 1—N C
    // (GenJoinInput.scala:32-34) but it never streams the second level
    // over the first's OUTPUT. Chaining two update-mode versioned joins
    // needs care because stage 1 re-emits superseded rows that an
    // upsert-only channel cannot retract. The decomposition here is
    // leak-free without retractions:
    //   - stage 2 joins only the b-carrying AB rows with C, keyed by
    //     b.id: that key and the row identity (= b.id) are STABLE
    //     across an AB row's lifetime, and the stage-1 per-key seq is a
    //     monotone version, so stage-2 state upserts cleanly;
    //   - the a-only arm ((a, no B) rows, whose identity would move
    //     when a b arrives) is taken from stage 1's own converged view,
    //     where max-seq filtering kills the transient.
    val truth = sampleExactlyN(genABNonempty(leftOptional = true, fanoutMax = 2),
      seed = 123L, numSamples)
    val asFresh = truth.flatMap(_._1)
    // the per-b relay identity below requires globally unique b ids;
    // the generator draws with replacement, so bump duplicates out of
    // the id space deterministically (FK is b.ida, unaffected)
    val bsFresh = {
      val seen = scala.collection.mutable.Set.empty[Int]
      truth.flatMap(_._2).map { b =>
        var id = b.id
        while (seen.contains(id)) id += 1000003
        seen += id
        b.copy(id = id)
      }
    }
    // 0..2 C's per B (deterministic), plus orphan C's matching no B
    var nextCid = 2000000
    val csFresh = bsFresh.zipWithIndex.flatMap { case (b, i) =>
      (0 until (i % 3)).map { k =>
        nextCid += 1; C(nextCid, tMax - (i * 31 + k), b.id)
      }
    } ++ (1 to 5).map { k => nextCid += 1; C(nextCid, tMax - k, 3000000 + k) }
    // stale-version churn on every table, stale copies replayed first
    val as = asFresh.map(a => a.copy(ts = a.ts - 17L)) ++ asFresh
    val bs = bsFresh.map(b => b.copy(ts = b.ts - 17L)) ++ bsFresh
    val cs = csFresh.map(c => c.copy(ts = c.ts - 17L)) ++ csFresh

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sa = MemoryStream[A]; val sb = MemoryStream[B]
    val relay = MemoryStream[Emitted[A, B]]; val sc = MemoryStream[C]

    // stage 2: (AB rows carrying a b) ⋈ C on b.id; identity = b.id,
    // version = the stage-1 per-key emission seq (monotone per b)
    val q2 = VersionedStreamJoin.fullOuter[Emitted[A, B], C](
        relay.toDS(), sc.toDS(),
        x => x.y.get.id.toString, c => c.idb.toString,
        x => x.y.get.id.toString, c => c.id.toString,
        x => x.seq, c => c.ts)
      .toDF().writeStream.outputMode("update")
      .format("memory").queryName("chain_bc").start()

    // stage 1: A ⋈ B, feeding stage 2 per microbatch via foreachBatch
    val abBuf = scala.collection.mutable.ArrayBuffer.empty[Emitted[A, B]]
    val q1 = VersionedStreamJoin.fullOuter[A, B](sa.toDS(), sb.toDS(),
        _.id.toString, _.ida.toString, _.id.toString, _.id.toString,
        _.ts, _.ts)
      .toDF().writeStream.outputMode("update")
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.as[Emitted[A, B]].collect()
        abBuf.synchronized { abBuf ++= rows }
        val withB = rows.filter(_.y.isDefined)
        if (withB.nonEmpty) relay.addData(withB.toIndexedSeq)
        ()
      }.start()
    try {
      val chunks = 8
      def chunked[T](xs: Seq[T]): Seq[Seq[T]] = {
        val sz = math.max(1, (xs.length + chunks - 1) / chunks)
        xs.grouped(sz).toSeq.padTo(chunks, Seq.empty)
      }
      chunked(as).lazyZip(chunked(bs)).lazyZip(chunked(cs)).foreach {
        (ca, cb, cc) =>
          if (ca.nonEmpty) sa.addData(ca)
          if (cb.nonEmpty) sb.addData(cb)
          if (cc.nonEmpty) sc.addData(cc)
          q1.processAllAvailable()
          q2.processAllAvailable()
      }
    } finally { q1.stop(); q2.stop() }

    // converged stage-1 view → the a-only arm
    val abConv = abBuf.synchronized {
      val maxSeq = abBuf.groupBy(_.key).map { case (k, g) => k -> g.map(_.seq).max }
      abBuf.filter(e => e.seq == maxSeq(e.key)).toList
    }
    val aOnly = abConv.filter(_.y.isEmpty)
      .map(e => (e.x, None: Option[B], None: Option[C])).toSet
    // converged stage-2 view → the b-carrying and c-orphan arms
    val bcRaw = spark.table("chain_bc").as[Emitted[Emitted[A, B], C]].collect()
    val bcMaxSeq = bcRaw.groupBy(_.key).map { case (k, g) => k -> g.map(_.seq).max }
    val viaBc = bcRaw.filter(e => e.seq == bcMaxSeq(e.key))
      .map(e => (e.x.flatMap(_.x), e.x.map(_.y.get), e.y)).toSet
    val got = aOnly ++ viaBc

    // expected: latest-wins chain, exactly the batch j6 discipline
    val latestA = as.groupBy(_.id).map { case (k, g) => k -> g.maxBy(_.ts) }
    val latestB = bs.groupBy(b => (b.ida, b.id)).values.map(_.maxBy(_.ts)).toSeq
    val bByKey = latestB.groupBy(_.ida)
    val latestC = cs.groupBy(c => (c.idb, c.id)).values.map(_.maxBy(_.ts)).toSeq
    val cByB = latestC.groupBy(_.idb)
    val bIds = latestB.map(_.id).toSet
    val keys = latestA.keySet ++ bByKey.keySet
    val expected: Set[(Option[A], Option[B], Option[C])] = keys.flatMap { k =>
      val aOpt = latestA.get(k)
      val bs2 = bByKey.getOrElse(k, Seq.empty)
      if (bs2.isEmpty) aOpt.map(a => (Some(a), None: Option[B], None: Option[C])).toSeq
      else bs2.flatMap { b =>
        val cs2 = cByB.getOrElse(b.id, Seq.empty)
        if (cs2.isEmpty) Seq((aOpt, Some(b), None: Option[C]))
        else cs2.map(c => (aOpt, Some(b), Some(c)))
      }
    }.toSet ++ latestC.filterNot(c => bIds(c.idb))
      .map(c => (None: Option[A], None: Option[B], Some(c)))

    assert(got == expected)
  }

  test("RocksDB state store runs the versioned join (100 TB state-cardinality path)") {
    // The default HDFS-backed provider keeps all state on the JVM heap;
    // at production key cardinality the join must run on RocksDB.
    // Asserts the provider actually engaged (rocksdb metrics in the
    // query progress) and that results are unchanged.
    val xs = Seq(A(1, 10L), A(1, 30L), A(2, 5L))
    val ys = Seq(B(7, 5L, 1), B(7, 9L, 1), B(8, 4L, 3)) // ida=3 has no A
    VersionedStreamJoin.withStateStoreProvider(spark) {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val sx = MemoryStream[A]; val sy = MemoryStream[B]
      val q = VersionedStreamJoin.fullOuter[A, B](sx.toDS(), sy.toDS(),
          _.id.toString, _.ida.toString, _.id.toString, _.id.toString,
          _.ts, _.ts)
        .toDF().writeStream.outputMode("update")
        .format("memory").queryName("stream_rocks").start()
      val progressJson = try {
        sx.addData(xs); q.processAllAvailable()
        sy.addData(ys); q.processAllAvailable()
        q.lastProgress.json
      } finally q.stop()
      assert(progressJson.contains("rocksdb"),
        s"expected RocksDB state store metrics in progress: $progressJson")
      val raw = spark.table("stream_rocks").as[Emitted[A, B]].collect()
      val maxSeq = raw.groupBy(_.key).map { case (k, g) => k -> g.map(_.seq).max }
      val converged = raw.filter(e => e.seq == maxSeq(e.key))
        .map(e => (e.x, e.y)).toSet
      assert(converged == Set(
        (Some(A(1, 30L)), Some(B(7, 9L, 1))),
        (Some(A(2, 5L)), None),
        (None, Some(B(8, 4L, 3)))))
    }
  }

  test("streaming left outer drops keyless-x rows and keeps latest x per key") {
    val xs = Seq(A(1, 10L), A(1, 30L), A(1, 20L))
    val ys = Seq(B(7, 5L, 1), B(7, 9L, 1), B(8, 4L, 2)) // ida=2 has no A
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sx = MemoryStream[A]
    val sy = MemoryStream[B]
    val joined = VersionedStreamJoin.leftOuter[A, B](
      sx.toDS(), sy.toDS(),
      _.id.toString, _.ida.toString, _.id.toString, _.id.toString,
      _.ts, _.ts)
    val q = joined.toDF().writeStream.outputMode("update")
      .format("memory").queryName("stream_loj").start()
    try {
      sx.addData(xs); sy.addData(ys); q.processAllAvailable()
    } finally q.stop()
    val raw = spark.table("stream_loj").as[Emitted[A, B]].collect()
    val maxSeq = raw.groupBy(_.key).map { case (k, g) => k -> g.map(_.seq).max }
    val converged = raw.filter(e => e.seq == maxSeq(e.key))
      .map(e => (e.x, e.y)).toSet
    assert(converged == Set((Some(A(1, 30L)), Some(B(7, 9L, 1)))))
  }

  test("event-time TTL dedup emits a tombstone when a key retires, " +
    "then rebuilds from scratch") {
    import graft.streaming.{EmittedDedup, VersionedStreamDedup}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sx = MemoryStream[A]
    val dd = VersionedStreamDedup.latestPerKeyId[A](
      sx.toDS(), _.id.toString, _.id.toString, _.ts, Some(EventTimeTtl(500L)))
    val q = dd.toDF().writeStream.outputMode("update")
      .format("memory").queryName("dedup_ettl").start()
    def rows() = spark.table("dedup_ettl").as[EmittedDedup[A]].collect()
    try {
      // batch 1: key "1" (anchor = its own ets 1000, timer 1500)
      sx.addData(Seq(A(1, 1000L)))
      q.processAllAvailable()
      // batch 2: unrelated key pushes the watermark to
      // 20000 - 10000 (default delay) = 10000 > 1500 -> key "1" FIRES:
      // tombstone (empty xs) with seq = 2, state removed
      sx.addData(Seq(A(2, 20000L)))
      q.processAllAvailable()
      // batch 3: key "1" rebuilds from scratch (seq restarts at 1) --
      // the retired A(1, 1000L) must NOT reappear; ets 30000 is ahead
      // of the watermark so the record is not late-dropped
      sx.addData(Seq(A(1, 30000L)))
      q.processAllAvailable()
    } finally q.stop()
    val k1 = rows().filter(_.key == "1")
    assert(k1.exists(e => e.seq == 2L && e.xs.isEmpty),
      s"expected a tombstone emission, got: ${k1.mkString(", ")}")
    assert(k1.exists(e => e.seq == 1L && e.xs == Seq(A(1, 30000L))),
      "rebuild must restart seq at 1 with only the post-retirement row")
    assert(!k1.exists(e => e.xs.contains(A(1, 1000L)) && e.xs.size > 1),
      "the retired version must never co-exist with the rebuilt one")
  }
}
