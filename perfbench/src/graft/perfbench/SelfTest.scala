package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.core.TypedVersionedJoins

/** Self-test of the benchmark's own parts at toy size: the generators
  * are deterministic per seed, and both oracles agree with
  * `TypedVersionedJoins.fullOuter` on the same input. Exits 1 on the
  * first failed check. */
object SelfTest {
  private def check(ok: Boolean, what: String): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) { System.out.flush(); System.exit(1) }
  }

  private def stream(shape: StreamShape, seed: Long, chunks: Int): Seq[Upsert] = {
    val g = new UpsertStream(shape, seed)
    g.load().toSeq ++ (1 to chunks).flatMap(_ => g.next())
  }

  def main(args: Array[String]): Unit = {
    val shape = StreamShape(keys = 20, xPerKey = 2, yPerKey = 3, chunk = 40)
    val snap = SnapshotShape(keys = 64, xPerKey = 1, yPerKey = 4, versions = 4)
    check(stream(shape, 7, 5) == stream(shape, 7, 5),
      "upsert stream repeats for a seed")
    check(stream(shape, 7, 5) != stream(shape, 8, 5),
      "upsert stream differs across seeds")
    check((0L until 64L).forall(k => snap.xs(7, k).toSeq == snap.xs(7, k).toSeq &&
        snap.ys(7, k).toSeq == snap.ys(7, k).toSeq) &&
      (0L until 64L).exists(k => snap.ys(7, k).toSeq != snap.ys(8, k).toSeq),
      "snapshot log repeats for a seed and differs across seeds")

    val tied = Seq(Upsert(0, 0, 0, 5), Upsert(0, 0, 0, 5), Upsert(0, 0, 0, 4),
      Upsert(1, 0, 0, 9))
    val o = new Oracle(StreamShape(1, 1, 1, 1))
    val effect = o(tied.toArray)
    check(o.latestX(0) == 5 && o.latestY(0) == 9 && effect ==
      ChunkEffect(keys = 1, emitted = 1, changed = 1),
      "oracle keeps the first of tied versions and ignores stale ones")

    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    def typed(xs: Seq[Rec], ys: Seq[Rec]): Set[(Option[Rec], Option[Rec])] =
      TypedVersionedJoins.fullOuter[Rec, Rec](xs.toDS(), ys.toDS(),
        _.key.toString, _.key.toString, _.id.toString, _.id.toString,
        _.ts, _.ts).collect().toSet
    try {
      val ups = stream(shape, 7, 5)
      val oracle = new Oracle(shape)
      ups.grouped(shape.chunk).foreach(c => oracle(c.toArray))
      val want = oracle.result().map { case (_, x, y) => (x, y) }.toSet
      val got = typed(ups.filter(_.side == 0).map(_.rec),
        ups.filter(_.side == 1).map(_.rec))
      check(want.nonEmpty && got == want,
        s"stream oracle equals TypedVersionedJoins.fullOuter (${want.size} rows)")

      val xs = (0L until 64L).flatMap(k => snap.xs(7, k))
      val ys = (0L until 64L).flatMap(k => snap.ys(7, k))
      val snapWant = snap.result(7).toSet
      check(snapWant.exists(_._1.isEmpty) && snapWant.exists(_._2.isEmpty) &&
          typed(xs, ys) == snapWant,
        s"snapshot oracle equals TypedVersionedJoins.fullOuter (${snapWant.size} rows)")
      val df = spark.createDataFrame(snap.result(7).toSeq.map { case (x, y) =>
        (x.map(_.id), x.map(_.ts), y.map(_.id), y.map(_.ts)) })
        .toDF("xid", "xts", "yid", "yts")
      check(Digest.of(df) == Digest.of(snap.result(7)),
        "Spark and Scala digests of one result agree")
    } finally spark.stop()
  }
}
