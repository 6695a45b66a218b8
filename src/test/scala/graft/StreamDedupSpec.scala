package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.core.JoinRules
import graft.streaming.{EmittedDedup, VersionedStreamDedup}

/** One upsert of the dedup spec: key `k`, id `id`, version `v`; `tag`
  * tells apart rows that share an id and a version. */
final case class DedupRow(k: String, id: String, v: Long, tag: String)

/** The streaming latest-per-(key, id) dedup without TTL, driven over a
  * MemoryStream trigger by trigger: per trigger each touched key emits
  * once, seq + 1, its full compacted set in id order; an untouched key
  * emits nothing; the converged view is [[JoinRules.upsertAll]]. */
class StreamDedupSpec extends SparkTestBase {
  import spark.implicits._

  private def r(k: String, id: String, v: Long, tag: String) = DedupRow(k, id, v, tag)

  // key -> expected compacted set after the trigger, in id order
  private val triggers: Seq[(Seq[DedupRow], Map[String, Seq[DedupRow]])] = Seq(
    Seq(r("a", "1", 10, "a1"), r("a", "2", 5, "a2"), r("b", "1", 7, "b1")) ->
      Map("a" -> Seq(r("a", "1", 10, "a1"), r("a", "2", 5, "a2")),
          "b" -> Seq(r("b", "1", 7, "b1"))),
    // a/1 arrives late with an older version (ignored), a/2 ties its
    // version (the earlier arrival stays), a/3 is new; b is untouched
    Seq(r("a", "1", 8, "late"), r("a", "2", 5, "tie"), r("a", "3", 4, "a3"),
        r("c", "1", 1, "c1")) ->
      Map("a" -> Seq(r("a", "1", 10, "a1"), r("a", "2", 5, "a2"),
                     r("a", "3", 4, "a3")),
          "c" -> Seq(r("c", "1", 1, "c1"))),
    Seq(r("b", "2", 9, "b2"), r("b", "1", 9, "b1'"), r("a", "2", 6, "a2'")) ->
      Map("a" -> Seq(r("a", "1", 10, "a1"), r("a", "2", 6, "a2'"),
                     r("a", "3", 4, "a3")),
          "b" -> Seq(r("b", "1", 9, "b1'"), r("b", "2", 9, "b2"))),
    // only a losing row for c: the key is still touched and re-emits
    Seq(r("c", "1", 0, "old")) ->
      Map("c" -> Seq(r("c", "1", 1, "c1"))))

  test("plain dedup: one full id-ordered emission per touched key per trigger, " +
    "converging to upsertAll") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[DedupRow]
    val dd = VersionedStreamDedup.latestPerKeyId[DedupRow](
      in.toDS(), _.k, _.id, _.v)
    val q = dd.toDF().writeStream.outputMode("update")
      .format("memory").queryName("dedup_plain").start()
    def rows() = spark.table("dedup_plain").as[EmittedDedup[DedupRow]].collect().toSeq
    val perTrigger = try triggers.map { case (batch, _) =>
      val before = rows().toSet
      in.addData(batch)
      q.processAllAvailable()
      rows().filterNot(before)
    } finally q.stop()

    var seqs = Map.empty[String, Long]
    perTrigger.zip(triggers).zipWithIndex.foreach {
      case ((emitted, (_, expected)), t) =>
        assert(emitted.map(_.key).sorted == expected.keys.toSeq.sorted,
          s"trigger $t: each touched key emits exactly once, got $emitted")
        emitted.foreach { e =>
          assert(e.seq == seqs.getOrElse(e.key, 0L) + 1,
            s"trigger $t: key ${e.key} seq ${e.seq} after ${seqs.get(e.key)}")
          assert(e.xs == expected(e.key), s"trigger $t: key ${e.key}")
        }
        seqs ++= emitted.map(e => e.key -> e.seq)
    }

    val all = rows()
    val converged = all.groupBy(_.key).map { case (k, es) => k -> es.maxBy(_.seq).xs }
    val model = triggers.flatMap(_._1).groupBy(_.k).map { case (k, rs) =>
      k -> JoinRules.byId(JoinRules.upsertAll(Map.empty[String, DedupRow],
        rs.iterator)(_.id, _.v))
    }
    assert(converged == model)
  }
}
