package graft

import org.apache.spark.sql.{Dataset, Encoder, SQLContext}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.GenJoin._
import graft.core.{JoinRules, TypedVersionedJoins}
import graft.streaming.{Emitted, EmittedSeq, EventTimeTtl, PackedPerKey, PerIdEntries,
  StateLayout, VersionedStreamJoin}

/** The per-id entries layout of the versioned join (PerIdEntries, on
  * transformWithState): must satisfy the same convergence contract as
  * the packed per-key layout (flatMapGroupsWithState), and its
  * typed-timer TTL must retire idle keys without the first-batch
  * anchor hazard. transformWithState requires the RocksDB state store
  * provider, so every test runs inside withStateStoreProvider. */
class TwsJoinSpec extends SparkTestBase {
  import spark.implicits._

  val numSamples = 100

  test("tws full outer converges to the batch answer under chunked replay") {
    VersionedStreamJoin.withStateStoreProvider(spark) {
      val truth = sampleExactlyN(genABNonempty(leftOptional = true,
        fanoutMax = 2), seed = 123L, numSamples)
      val asFresh = truth.flatMap(_._1)
      val bsFresh = truth.flatMap(_._2)
      // stale-version churn: stale copies replayed first
      val as = asFresh.map(a => a.copy(ts = a.ts - 17L)) ++ asFresh
      val bs = bsFresh.map(b => b.copy(ts = b.ts - 17L)) ++ bsFresh

      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val sx = MemoryStream[A]
      val sy = MemoryStream[B]
      val joined = VersionedStreamJoin.fullOuter[A, B](
        sx.toDS(), sy.toDS(),
        _.id.toString, _.ida.toString, _.id.toString, _.id.toString,
        _.ts, _.ts, layout = PerIdEntries)
      val q = joined.toDF().writeStream.outputMode("update")
        .format("memory").queryName("tws_ab").start()
      try {
        val chunks = 8
        val sa = math.max(1, (as.length + chunks - 1) / chunks)
        val sb = math.max(1, (bs.length + chunks - 1) / chunks)
        as.grouped(sa).zipAll(bs.grouped(sb), Nil, Nil).foreach {
          case (ca, cb) =>
            if (ca.nonEmpty) sx.addData(ca)
            if (cb.nonEmpty) sy.addData(cb)
            q.processAllAvailable()
        }
      } finally q.stop()
      val raw = spark.table("tws_ab").as[Emitted[A, B]].collect()

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
      assert(raw.length >= expected.size)
      val maxSeq = raw.groupBy(_.key).map { case (k, g) => k -> g.map(_.seq).max }
      val converged = raw.filter(e => e.seq == maxSeq(e.key))
        .map(e => (e.x, e.y)).toSet
      assert(converged == expected)
    }
  }

  private implicit lazy val sqlCtx: SQLContext = spark.sqlContext

  /** Feeds `batches` through `build` over fresh MemoryStreams, one
    * microbatch each, and returns every emitted row. */
  private def replay[X, Y, R](name: String, batches: Seq[(Seq[X], Seq[Y])])(
      build: (Dataset[X], Dataset[Y]) => Dataset[R])(
      implicit ex: Encoder[X], ey: Encoder[Y], er: Encoder[R]): Seq[R] = {
    val sx = MemoryStream[X]
    val sy = MemoryStream[Y]
    val q = build(sx.toDS(), sy.toDS()).toDF().writeStream
      .outputMode("update").format("memory").queryName(name).start()
    try batches.foreach { case (cx, cy) =>
      if (cx.nonEmpty) sx.addData(cx)
      if (cy.nonEmpty) sy.addData(cy)
      q.processAllAvailable()
    } finally q.stop()
    spark.table(name).as[R].collect().toSeq
  }

  // every join answer as (key, seq, x side, y side) rows
  private type Row = (String, Long, Seq[A], Seq[B])
  private type Rows = Set[(Seq[A], Seq[B])]
  private type Build = (Dataset[A], Dataset[B]) => Dataset[Row]

  test("tws J2/J3/J4/J5 variants converge to the fMGWS twins' answers") {
    // every variant JoinRules defines, as a table: the batch
    // TypedVersionedJoins answer, the converged fMGWS answer and the
    // converged Tws answer must each equal the expectation derived here
    VersionedStreamJoin.withStateStoreProvider(spark) {
      val truth = sampleExactlyN(genABNonempty(leftOptional = true,
        fanoutMax = 3), seed = 321L, numSamples)
      val asFresh = truth.flatMap(_._1)
      val bsFresh = truth.flatMap(_._2)
      val as = asFresh.map(a => a.copy(ts = a.ts - 17L)) ++ asFresh
      val bs = bsFresh.map(b => b.copy(ts = b.ts - 17L)) ++ bsFresh
      val chunks = 8
      val batches = as.grouped(math.max(1, (as.length + chunks - 1) / chunks))
        .zipAll(bs.grouped(math.max(1, (bs.length + chunks - 1) / chunks)),
          Nil, Nil).toSeq

      def pairs(ds: Dataset[Emitted[A, B]]): Dataset[Row] =
        ds.map(e => (e.key, e.seq, e.x.toSeq, e.y.toSeq))
      def nested(ds: Dataset[EmittedSeq[A, B]]): Dataset[Row] =
        ds.map(e => (e.key, e.seq, e.xs, e.ys))
      // converged views: each key's max-seq rows; for delta emission the
      // latest row per (key, x-id, y-id), one-sided rows only for keys
      // that never emitted a pair
      def latestPerKey(raw: Seq[Row]): Rows = raw.groupBy(_._1).values
        .flatMap(g => { val m = g.map(_._2).max; g.filter(_._2 == m) })
        .map(r => (r._3, r._4)).toSet
      def latestPerIdentity(raw: Seq[Row]): Rows = {
        val paired = raw.filter(r => r._3.nonEmpty && r._4.nonEmpty).map(_._1).toSet
        raw.filter(r => (r._3.nonEmpty && r._4.nonEmpty) || !paired(r._1))
          .groupBy(r => (r._1, r._3.map(_.id), r._4.map(_.id))).values
          .map(_.maxBy(_._2)).map(r => (r._3, r._4)).toSet
      }

      val kA: A => String = _.id.toString
      val kB: B => String = _.ida.toString
      val iB: B => String = _.id.toString
      val tA: A => Long = _.ts
      val tB: B => Long = _.ts
      val (stream, batch) = (VersionedStreamJoin, TypedVersionedJoins)
      val (dsA, dsB) = (spark.createDataset(as), spark.createDataset(bs))

      // expected building blocks: per-key latest A (one A id per key),
      // per-(key, id) latest Bs in id order
      val latestA = as.groupBy(_.id).map { case (k, g) => k -> g.maxBy(_.ts) }
      val bByKey = bs.groupBy(b => (b.ida, b.id)).values.map(_.maxBy(_.ts))
        .toSeq.groupBy(_.ida)
      def ysSorted(k: Int): Seq[B] =
        bByKey.getOrElse(k, Seq.empty).sortBy(_.id.toString)
      val keys = latestA.keySet ++ bByKey.keySet
      val j1: Rows = keys.flatMap { k =>
        (latestA.get(k).toSeq, ysSorted(k)) match {
          case (xs, Seq()) => Seq((xs, Seq.empty[B]))
          case (xs, ys)    => ys.map(y => (xs, Seq(y)))
        }
      }
      val j2: Rows = latestA.toSeq.flatMap { case (k, a) =>
        if (ysSorted(k).isEmpty) Seq((Seq(a), Seq.empty[B]))
        else ysSorted(k).map(b => (Seq(a), Seq(b)))
      }.toSet
      // the module's numeric-aware as-of tie order: (ts, id length, id)
      def asOfExp(forward: Boolean): Rows = latestA.toSeq.map { case (k, a) =>
        val order = (b: B) => (b.ts, b.id.toString.length, b.id.toString)
        val y =
          if (forward) ysSorted(k).filter(_.ts >= a.ts).minByOption(order)
          else ysSorted(k).filter(_.ts <= a.ts).maxByOption(order)
        (Seq(a), y.toSeq)
      }.toSet
      // TypedVersionedJoins has no as-of: its batch column is the module
      // run once over each key's whole deduped input
      def asOfBatch(forward: Boolean): Rows = keys.flatMap { k =>
        val xs = JoinRules.upsertAll(Map.empty, as.filter(_.id == k).iterator)(kA, tA)
        val ys = JoinRules.upsertAll(Map.empty, bs.filter(_.ida == k).iterator)(iB, tB)
        JoinRules.asOf(xs, ys, tA, tB, forward).map { case (x, y) => (Seq(x), y.toSeq) }
      }
      val batchJ1: Rows = batch.fullOuter[A, B](dsA, dsB, kA, kB, kA, iB, tA, tB)
        .collect().map { case (x, y) => (x.toSeq, y.toSeq) }.toSet

      // per-id delta is replayed in StreamDeltaJoinSpec; delta and as-of
      // keep one layout here, as each per-id replay is a RocksDB query
      val (both, packed) = (Seq(PackedPerKey, PerIdEntries), Seq(PackedPerKey))
      val table: Seq[(String, Option[Rows], StateLayout => Build, Seq[Row] => Rows,
          Seq[StateLayout], Rows)] = Seq(
        //  variant, batch, stream build per layout, fold, layouts, expected
        ("j1", Some(batchJ1),
          l => (x, y) => pairs(stream.fullOuter[A, B](x, y, kA, kB, kA, iB, tA, tB, layout = l)),
          latestPerKey, both, j1),
        ("j1_delta", Some(batchJ1),
          l => (x, y) => pairs(stream.fullOuterDelta[A, B](x, y, kA, kB, kA, iB, tA, tB, layout = l)),
          latestPerIdentity, packed, j1),
        ("j2", Some(batch.leftOuter[A, B](dsA, dsB, kA, kB, kA, iB, tA, tB)
            .collect().map { case (x, y) => (Seq(x), y.toSeq) }.toSet),
          l => (x, y) => pairs(stream.leftOuter[A, B](x, y, kA, kB, kA, iB, tA, tB, layout = l)),
          latestPerKey, both, j2),
        ("j3", Some(batch.leftOuterSeq[A, B](dsA, dsB, kA, kB, kA, iB, tA, tB)
            .collect().map { case (x, ys) => (Seq(x), ys) }.toSet),
          l => (x, y) => nested(stream.leftOuterSeq[A, B](x, y, kA, kB, kA, iB, tA, tB, layout = l)),
          latestPerKey, both, latestA.toSeq.map { case (k, a) => (Seq(a), ysSorted(k)) }.toSet),
        ("j4", Some(batch.fullOuterSeq[A, B](dsA, dsB, kA, kB, kA, iB, tA, tB)
            .collect().toSet),
          l => (x, y) => nested(stream.fullOuterSeq[A, B](x, y, kA, kB, kA, iB, tA, tB, layout = l)),
          latestPerKey, both, keys.map(k => (latestA.get(k).toSeq, ysSorted(k)))),
        ("j5", Some(batch.inner[A, B](dsA, dsB, kA, kB, kA, iB, tA, tB)
            .collect().map { case (x, y) => (Seq(x), Seq(y)) }.toSet),
          l => (x, y) => pairs(stream.inner[A, B](x, y, kA, kB, kA, iB, tA, tB, layout = l)),
          latestPerKey, both, j1.filter { case (xs, ys) => xs.nonEmpty && ys.nonEmpty }),
        ("asof", Some(asOfBatch(forward = false)),
          l => (x, y) => pairs(stream.asOf[A, B](x, y, kA, kB, kA, iB, tA, tB, layout = l)),
          latestPerKey, packed, asOfExp(forward = false)),
        ("asof_forward", Some(asOfBatch(forward = true)),
          l => (x, y) => pairs(stream.asOfForward[A, B](x, y, kA, kB, kA, iB, tA, tB, layout = l)),
          latestPerKey, packed, asOfExp(forward = true)))

      // the fixture must reach both outer arms and both as-of outcomes
      assert(j1.exists(_._1.isEmpty) && j1.exists(_._2.isEmpty))
      assert(asOfExp(forward = false).exists(_._2.isEmpty) &&
        asOfExp(forward = false).exists(_._2.nonEmpty))
      table.foreach { case (variant, batchRows, build, fold, layouts, expected) =>
        assert(batchRows.forall(_ == expected), s"$variant: batch")
        layouts.foreach { l =>
          assert(fold(replay(s"${l}_$variant", batches)(build(l))) == expected,
            s"$variant: $l")
        }
      }
    }
  }

  test("J2/J3 pick the lowest id among a key's equal-ts x's in every " +
      "driver, in either arrival order") {
    import TypedJoinsSpec.X
    VersionedStreamJoin.withStateStoreProvider(spark) {
      val tied = Seq(X("1", "x2", 10L), X("1", "x1", 10L))
      val ys = Seq(B(7, 5L, 1))
      val (kX, iX, tX) = ((x: X) => x.key, (x: X) => x.id, (x: X) => x.ts)
      val (kB, iB, tB) = ((b: B) => b.ida.toString, (b: B) => b.id.toString,
        (b: B) => b.ts)
      for ((order, n) <- Seq(tied, tied.reverse).zipWithIndex) {
        val (dx, dy) = (spark.createDataset(order), spark.createDataset(ys))
        // each x in its own microbatch, the y with the first
        val batches = Seq((order.take(1), ys), (order.drop(1), Seq.empty[B]))
        def lastX(raw: Seq[(Long, String)]): String = raw.maxBy(_._1)._2
        val picked = Map(
          "batch J2" -> TypedVersionedJoins.leftOuter[X, B](dx, dy,
            kX, kB, iX, iB, tX, tB).collect().map(_._1.id).toSeq.distinct,
          "batch J3" -> TypedVersionedJoins.leftOuterSeq[X, B](dx, dy,
            kX, kB, iX, iB, tX, tB).collect().map(_._1.id).toSeq,
          "fMGWS J2" -> Seq(lastX(replay(s"tie_fm_j2_$n", batches) { (x, y) =>
            VersionedStreamJoin.leftOuter[X, B](x, y, kX, kB, iX, iB, tX, tB)
              .map(e => (e.seq, e.x.get.id)) })),
          "fMGWS J3" -> Seq(lastX(replay(s"tie_fm_j3_$n", batches) { (x, y) =>
            VersionedStreamJoin.leftOuterSeq[X, B](x, y, kX, kB, iX, iB, tX, tB)
              .map(e => (e.seq, e.xs.head.id)) })),
          "Tws J2" -> Seq(lastX(replay(s"tie_tws_j2_$n", batches) { (x, y) =>
            VersionedStreamJoin.leftOuter[X, B](x, y, kX, kB, iX, iB, tX, tB,
              layout = PerIdEntries).map(e => (e.seq, e.x.get.id)) })),
          "Tws J3" -> Seq(lastX(replay(s"tie_tws_j3_$n", batches) { (x, y) =>
            VersionedStreamJoin.leftOuterSeq[X, B](x, y, kX, kB, iX, iB, tX, tB,
              layout = PerIdEntries).map(e => (e.seq, e.xs.head.id)) })))
        assert(picked.values.forall(_ == Seq("x1")),
          s"arrival order ${order.map(_.id)}: $picked")
      }
    }
  }

  test("tws typed-timer TTL: quiet keys inside the horizon survive; idle keys beyond it retire") {
    VersionedStreamJoin.withStateStoreProvider(spark) {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val base = 1000000000L // epoch-scale event times >> the TTL
      val sx = MemoryStream[A]
      val sy = MemoryStream[B]
      val joined = VersionedStreamJoin.fullOuter[A, B](
        sx.toDS(), sy.toDS(),
        _.id.toString, _.ida.toString, _.id.toString, _.id.toString,
        _.ts, _.ts, Some(EventTimeTtl(500000L)), PerIdEntries)
      val q = joined.toDF().writeStream.outputMode("update")
        .format("memory").queryName("tws_ttl").start()
      def rows() = spark.table("tws_ttl").as[Emitted[A, B]].collect()
      try {
        // chunk 1: two keys; key "1" then goes quiet, key "2" goes idle
        sx.addData(Seq(A(1, base), A(2, base)))
        q.processAllAvailable()
        // many chunks advance the watermark but stay inside base + TTL:
        // neither key may retire (the fMGWS first-batch anchor bug
        // would have retired both here)
        (1 to 12).foreach { i =>
          sx.addData(Seq(A(100 + i, base + i * 1000L)))
          q.processAllAvailable()
        }
        // key "1" gets a partner while alive: must join the original A
        sy.addData(Seq(B(60, base + 11000L, 1)))
        q.processAllAvailable()
        // now push the watermark past base + TTL: key "2" (idle since
        // chunk 1) retires; its timer was re-armed never, anchor=base
        sx.addData(Seq(A(900, base + 600000L)))
        q.processAllAvailable()
        // a late-but-in-watermark partner for key "2" must REBUILD the
        // key from scratch (y-only emission, seq restarted)
        sy.addData(Seq(B(61, base + 595000L, 2)))
        q.processAllAvailable()
      } finally q.stop()
      val k1 = rows().filter(_.key == "1")
      // key 1 never retired: its seq sequence never restarted, and the
      // joined emission carries the chunk-1 A
      assert(k1.map(_.seq).sorted.toSeq == Seq(1L, 2L),
        s"key 1 emissions: ${k1.mkString(", ")}")
      assert(k1.filter(_.seq == 2L).map(e => (e.x, e.y)).toSet ==
        Set((Some(A(1, base)), Some(B(60, base + 11000L, 1)))))
      // key 2 retired and rebuilt: the rebuild emission sees no A side
      val k2 = rows().filter(e => e.key == "2" && e.y.contains(B(61, base + 595000L, 2)))
      assert(k2.nonEmpty && k2.forall(_.x.isEmpty),
        s"key 2 rebuild emissions: ${k2.mkString(", ")}")
    }
  }
}
