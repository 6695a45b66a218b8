package graft.streaming {
  /** Test view of the codec's build counter: pairs built per
    * (thread id, encoded class name). */
  object RowCodecBuilds {
    def forClass(cls: Class[_]): Map[Long, Int] = {
      import scala.jdk.CollectionConverters._
      RowCodec.builds.asScala.collect {
        case ((thread, name), n) if name == cls.getName => thread -> n.intValue
      }.toMap
    }
  }
}

package graft {

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalacheck.{Gen, Prop, Test}

import graft.GenJoin.{A, B}
import graft.streaming.{Emitted, RowCodec, RowCodecBuilds, VersionedStreamJoin}

final case class PkFlat(k: Int, id: Long, ts: Long, v: String, ok: Boolean,
                        score: Double)
final case class PkOpt(id: String, score: Option[Double], note: Option[String],
                       inner: Option[PkFlat])
final case class PkSeq(id: String, tags: Seq[String], xs: Seq[Long])
final case class PkFixed(a: Long, b: Long)
final case class PkX(k: Int, id: Int, ts: Long, v: String)
final case class PkY(k: Int, id: Int, ts: Long, w: String)

object PackedRowSpec {
  /** Executor threads that ran the state function of the build-count
    * query (its id functions run there). */
  val stateThreads: java.util.Set[Long] = ConcurrentHashMap.newKeySet[Long]()
}

/** [[RowCodec]]: a `T` survives the trip through its UnsafeRow bytes,
  * encodes never share a buffer, and a query builds each codec pair
  * once per executor thread, not once per task. */
class PackedRowSpec extends SparkTestBase {
  import spark.implicits._

  private val params = Test.Parameters.default.withMinSuccessfulTests(200)

  private def check(name: String, p: Prop): Unit = {
    val r = Test.check(params, p)
    assert(r.passed, s"$name: ${r.status} after ${r.succeeded} cases")
  }

  /** Strings over all of Unicode except lone surrogates, which UTF-8
    * cannot carry: ASCII, accented, CJK and astral (emoji) code points. */
  private val text: Gen[String] = Gen.listOf(
    Gen.frequency(3 -> Gen.choose(0x20, 0x7e), 2 -> Gen.choose(0xa0, 0xd7ff),
      1 -> Gen.choose(0xe000, 0xfffd), 1 -> Gen.choose(0x10000, 0x10ffff))
  ).map(cps => cps.map(cp => new String(Character.toChars(cp))).mkString)

  private val flat: Gen[PkFlat] = for {
    k <- Gen.choose(Int.MinValue, Int.MaxValue); id <- Gen.long
    ts <- Gen.long; v <- text; ok <- Gen.oneOf(true, false)
    score <- Gen.double
  } yield PkFlat(k, id, ts, v, ok, score)

  private val opt: Gen[PkOpt] = for {
    id <- text; score <- Gen.option(Gen.double)
    note <- Gen.option(text); inner <- Gen.option(flat)
  } yield PkOpt(id, score, note, inner)

  private val seqs: Gen[PkSeq] = for {
    id <- text; tags <- Gen.listOf(text); xs <- Gen.listOf(Gen.long)
  } yield PkSeq(id, tags, xs.toVector)

  private val emitted: Gen[Emitted[A, B]] = for {
    key <- text; seq <- Gen.posNum[Long]
    a <- Gen.option(Gen.resultOf(A.apply _))
    b <- Gen.option(Gen.resultOf(B.apply _))
  } yield Emitted(key, seq, a, b)

  /** `codec` as a task gets it: serialized with the closure, then read
    * back. */
  private def shipped[T](codec: RowCodec[T]): RowCodec[T] = {
    val bytes = new java.io.ByteArrayOutputStream
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(codec)
    out.close()
    new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[RowCodec[T]]
  }

  private def roundTrips[T](name: String, g: Gen[T])(
      implicit enc: Encoder[T]): Unit = {
    val codec = shipped(RowCodec(enc))
    check(name, Prop.forAll(g)(t => codec.fromBytes(codec.toBytes(t)) == t))
    // several rows back to back in one array, read at their offsets
    check(s"$name (packed)", Prop.forAll(Gen.listOf(g)) { ts =>
      val rows = ts.map(codec.toBytes)
      val packed = rows.toArray.flatten
      val offsets = rows.scanLeft(0)(_ + _.length)
      ts.indices.forall(i =>
        codec.fromBytes(packed, offsets(i), rows(i).length) == ts(i))
    })
  }

  test("a value survives its row bytes: flat, None, non-ASCII, Seq, nested") {
    roundTrips("flat", flat)
    roundTrips("options", opt)
    roundTrips("seqs", seqs)
    roundTrips("Emitted[A, B]", emitted)
    roundTrips("non-ASCII", text)
  }

  test("back-to-back encodes keep their own bytes") {
    // all fixed-width fields: the serializer's buffer is exactly one
    // row long, the case where UnsafeRow.getBytes hands the buffer out
    val codec = RowCodec(implicitly[Encoder[PkFixed]])
    val (v1, v2) = (PkFixed(1L, 2L), PkFixed(3L, 4L))
    val b1 = codec.toBytes(v1)
    val b2 = codec.toBytes(v2)
    assert(!(b1 sameElements b2))
    assert(codec.fromBytes(b1) == v1)
    assert(codec.fromBytes(b2) == v2)
  }

  test("a multi-batch query builds one codec pair per executor thread " +
    "and encoder, not one per task") {
    val partitions = 8
    val batches = 4
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sx = MemoryStream[PkX]
    val sy = MemoryStream[PkY]
    PackedRowSpec.stateThreads.clear()
    val q = VersionedStreamJoin.fullOuter[PkX, PkY](sx.toDS(), sy.toDS(),
        _.k.toString, _.k.toString,
        x => {
          PackedRowSpec.stateThreads.add(Thread.currentThread.getId)
          x.id.toString
        },
        _.id.toString, _.ts, _.ts)
      .toDF().writeStream.outputMode("update")
      .format("memory").queryName("packed_builds").start()
    val keys = 64
    try {
      (1 to batches).foreach { b =>
        sx.addData((0 until keys).map(k => PkX(k, k, b.toLong, s"x$b")))
        sy.addData((0 until keys).map(k => PkY(k, 100 + k, b.toLong, s"y$b")))
        q.processAllAvailable()
      }
    } finally {
      q.stop()
      spark.conf.set("spark.sql.shuffle.partitions", prev)
    }

    // the state survived every batch: each key converged to its last
    // versions (a batch may carry one side's chunk without the other's)
    val rows = spark.table("packed_builds").as[Emitted[PkX, PkY]].collect()
    val last = rows.groupBy(_.key).map { case (_, g) => g.maxBy(_.seq) }
    assert(last.size == keys)
    assert(last.forall(e => e.seq >= batches &&
      e.x.exists(_.v == s"x$batches") && e.y.exists(_.w == s"y$batches")),
      last.filterNot(_.x.exists(_.v == s"x$batches")).take(3).mkString(", "))

    val stateTasks = partitions * batches
    Seq(classOf[PkX], classOf[PkY]).foreach { cls =>
      val built = RowCodecBuilds.forClass(cls)
      assert(built.nonEmpty, s"no ${cls.getSimpleName} codec was built")
      assert(built.values.forall(_ == 1),
        s"${cls.getSimpleName} pairs built per thread: $built")
      assert(built.size < stateTasks,
        s"${built.size} ${cls.getSimpleName} builds for $stateTasks state tasks")
    }
    // the state tasks' threads are among those that built a pair
    val threads = PackedRowSpec.stateThreads
    assert(!threads.isEmpty)
    val builtX = RowCodecBuilds.forClass(classOf[PkX]).keySet
    threads.forEach(t => assert(builtX(t), s"thread $t ran state without a pair"))
  }
}

}
