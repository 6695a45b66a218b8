package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.GenJoin._
import graft.streaming.{Emitted, EventTimeTtl, VersionedStreamJoin}

/** The epoch-zero version footgun under event-time TTL: once the union
  * is watermarked, Spark's late-row filter drops any input whose event
  * time is ≤ the watermark — and the watermark FLOOR is epoch 0, so a
  * record carrying version 0 is silently deleted even while the
  * watermark never advances (verified: numRowsDroppedByWatermark = 1
  * with watermark still 1970-01-01). A "constant version" side (one
  * immutable row per id, like s22's customers) must therefore use a
  * POSITIVE constant; 0 is only safe in the unwatermarked modes. */
class EventTimeZeroVersionSpec extends SparkTestBase {
  import spark.implicits._

  private def converged(constTs: Long): Iterable[Emitted[A, B]] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sx = MemoryStream[A]
    val sy = MemoryStream[B]
    val joined = VersionedStreamJoin.fullOuter[A, B](
      sx.toDS(), sy.toDS(),
      _.id.toString, _.ida.toString, _.id.toString, _.id.toString,
      _ => constTs, _.ts,
      Some(EventTimeTtl(ms = 1000L * 365 * 86400 * 1000,
        watermarkDelay = "36500000 days")))
    val name = s"zero_ver_$constTs"
    val q = joined.toDF().writeStream.outputMode("update")
      .format("memory").queryName(name).start()
    try {
      // y first with a big version (like s22's packed l_ver ~1.2e14 ms),
      // then the constant-version x — the arrival order that exposes
      // the drop
      sy.addData(B(id = 1, ts = 120000000000000L, ida = 7))
      q.processAllAvailable()
      sx.addData(A(id = 7, ts = 0L))
      q.processAllAvailable()
    } finally q.stop()
    spark.table(name).as[Emitted[A, B]].collect()
      .groupBy(_.key).map { case (_, g) => g.maxBy(_.seq) }
  }

  test("a positive constant version survives the watermarked union") {
    val conv = converged(constTs = 1L)
    assert(conv.exists(e => e.x.isDefined && e.y.isDefined),
      s"expected joined (x,y) at convergence, got ${conv.mkString("; ")}")
  }

  test("an epoch-zero constant version is dropped (documented footgun)") {
    val conv = converged(constTs = 0L)
    assert(conv.forall(_.x.isEmpty),
      "epoch-zero rows unexpectedly survived — if Spark's late-row " +
        "filter changed to strict <, the s22 comment can be relaxed")
  }
}
