package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.JoinRules

/** The per-key join algebra as pure functions, without Spark. */
class JoinRulesSpec extends AnyFunSuite {
  import JoinRulesSpec._

  private def check(p: Prop, minSuccessful: Int): Unit = {
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(minSuccessful), p)
    assert(res.passed, res.status.toString)
  }

  test("fullOuterDelta emits exactly the rows fullOuter gained in a batch") {
    // several x and y ids per key, drawn from few ids and few versions so
    // batches carry new ids, newer versions, ties and stale versions; the
    // payload tells apart two records that tie on (id, ts)
    val genRec: Gen[Rec] = for {
      id <- Gen.oneOf("a", "b", "c", "d")
      ts <- Gen.choose(0L, 4L)
      payload <- Gen.choose(0, 2)
    } yield Rec(id, ts, payload)
    val genSide = Gen.choose(0, 6).flatMap(Gen.listOfN(_, genRec))
    var mixed = 0
    val prop = Prop.forAll(genSide, genSide, genSide, genSide) {
      (x0, y0, xb, yb) =>
        val before = (upserted(Map.empty, x0), upserted(Map.empty, y0))
        val (xs, ys) = (upserted(before._1, xb), upserted(before._2, yb))
        val newX = JoinRules.changedIds(before._1, xs)
        val newY = JoinRules.changedIds(before._2, ys)
        // the mixed arm: unchanged x's pair only with changed y's
        if (newY.nonEmpty && xs.keySet.exists(id => !newX(id))) mixed += 1
        val delta = JoinRules.fullOuterDelta(xs, ys, newX, newY).toList
        delta.distinct.size == delta.size &&
          delta.toSet == JoinRules.fullOuter(xs, ys).toSet --
            JoinRules.fullOuter(before._1, before._2).toSet
    }
    check(prop, minSuccessful = 500)
    assert(mixed >= 50, s"mixed newX × ys ∪ oldX × newYs arm ran $mixed times")
  }

  test("upsert keeps the strictly newest version per id, the earlier on ties") {
    val rows = Seq(Rec("a", 2L, 0), Rec("a", 2L, 1), Rec("b", 1L, 0),
      Rec("a", 1L, 2), Rec("b", 3L, 1))
    val before = Map("b" -> Rec("b", 5L, 9))
    val m = upserted(before, rows)
    assert(m == Map("a" -> Rec("a", 2L, 0), "b" -> Rec("b", 5L, 9)))
    assert(JoinRules.changedIds(before, m) == Set("a"))
  }
}

object JoinRulesSpec {
  final case class Rec(id: String, ts: Long, payload: Int)

  def upserted(m: Map[String, Rec], rows: Seq[Rec]): Map[String, Rec] =
    JoinRules.upsertAll(m, rows.iterator)(_.id, _.ts)
}
