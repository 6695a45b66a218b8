package graft.streaming

import java.nio.ByteBuffer
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.{encoderFor, ExpressionEncoder}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.unsafe.Platform

/** A `T` as the bytes of its Tungsten `UnsafeRow` and back — the
  * format Structured Streaming stores its own state in. The stateful
  * drivers keep their per-key state and their input rows as these
  * bytes, so the generic operators only move byte arrays and the
  * caller's encoder runs here.
  *
  * Spark's stateful operators resolve an encoder and generate its
  * serializer and deserializer inside every task, a cost that
  * dominates small micro-batches. Here the pair is built once per
  * executor thread and encoder ([[RowCodec.pairFor]]) and a task only
  * looks it up. */
final class RowCodec[T] private (enc: ExpressionEncoder[T])
    extends Serializable {
  import RowCodec.Pair

  private val numFields = enc.schema.length

  /** The calling thread's pair, remembered with the thread it belongs to. */
  @transient @volatile private var local: (Thread, Pair[T]) = _

  private def pair: Pair[T] = {
    val l = local
    val me = Thread.currentThread
    if (l != null && (l._1 eq me)) l._2
    else { val p = RowCodec.pairFor(enc); local = (me, p); p }
  }

  /** `t`'s row bytes, in a fresh array: `UnsafeRow.getBytes` would hand
    * out the serializer's reused buffer whenever the row fills it
    * exactly, and the next encode would overwrite it. */
  def toBytes(t: T): Array[Byte] = {
    val row = pair.ser(t).asInstanceOf[UnsafeRow]
    val out = new Array[Byte](row.getSizeInBytes)
    row.writeToMemory(out, Platform.BYTE_ARRAY_OFFSET)
    out
  }

  /** The `T` whose row bytes are `bytes[offset, offset + length)`. */
  def fromBytes(bytes: Array[Byte], offset: Int, length: Int): T = {
    val row = new UnsafeRow(numFields)
    row.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + offset, length)
    pair.de(row)
  }

  def fromBytes(bytes: Array[Byte]): T = fromBytes(bytes, 0, bytes.length)
}

object RowCodec {
  /** Resolved here, on the driver: an unresolved encoder of a collection
    * field carries a transient function that does not survive the trip
    * to the executors. */
  def apply[T](enc: Encoder[T]): RowCodec[T] =
    new RowCodec(encoderFor(enc).resolveAndBind())

  private[streaming] final class Pair[T](
      val ser: ExpressionEncoder.Serializer[T],
      val de: ExpressionEncoder.Deserializer[T])

  /** Pairs a thread keeps; the least recently used goes beyond this. */
  private val MaxPairsPerThread = 64

  private val pairs =
    ThreadLocal.withInitial[java.util.LinkedHashMap[ExpressionEncoder[_], Pair[_]]] {
      () => new java.util.LinkedHashMap[ExpressionEncoder[_], Pair[_]](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[ExpressionEncoder[_], Pair[_]]): Boolean =
          size > MaxPairsPerThread
      }
    }

  /** Pairs built so far, per (thread id, encoded class name). */
  private[streaming] val builds = new ConcurrentHashMap[(Long, String), Integer]

  /** The calling thread's serializer/deserializer pair for `enc`,
    * generated on the thread's first use of an equal encoder. */
  private[streaming] def pairFor[T](enc: ExpressionEncoder[T]): Pair[T] = {
    val cache = pairs.get()
    var p = cache.get(enc)
    if (p == null) {
      p = new Pair(enc.createSerializer(), enc.createDeserializer())
      cache.put(enc, p)
      builds.merge((Thread.currentThread.getId, enc.clsTag.runtimeClass.getName),
        1, (a, b) => a + b)
    }
    p.asInstanceOf[Pair[T]]
  }
}

/** A key's state as one byte array: the emission seq, then each side
  * as a row count followed by length-prefixed [[RowCodec]] rows. */
private[streaming] object PackedState {

  def write(seq: Long, sides: Seq[Array[Byte]]*): Array[Byte] = {
    val buf = ByteBuffer.allocate(
      8 + sides.iterator.map(rows => 4 + rows.iterator.map(4 + _.length).sum).sum)
    buf.putLong(seq)
    sides.foreach { rows =>
      buf.putInt(rows.length)
      rows.foreach { r => buf.putInt(r.length); buf.put(r) }
    }
    buf.array
  }

  /** Reads one state back, its sides in the order they were written. */
  final class Reader(bytes: Array[Byte]) {
    private val buf = ByteBuffer.wrap(bytes)
    val seq: Long = buf.getLong

    /** The next side's rows, keyed by `id`. */
    def side[T](codec: RowCodec[T], id: T => String): Map[String, T] = {
      val b = Map.newBuilder[String, T]
      var n = buf.getInt
      while (n > 0) {
        val len = buf.getInt
        val t = codec.fromBytes(bytes, buf.position, len)
        buf.position(buf.position + len)
        b += id(t) -> t
        n -= 1
      }
      b.result()
    }
  }
}
