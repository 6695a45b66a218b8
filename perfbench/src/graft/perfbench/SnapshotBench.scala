package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.core.{VersionedDedup, VersionedJoins, VersionedTable}

/** Order-independent digest of a J1 result: row count, sum of the row
  * hashes mod 2^31-1, and their xor. A row hashes like Spark's
  * `xxhash64(xid, xts, yid, yts)`, which skips null columns. */
final case class Digest(rows: Long, sum: Long, xor: Long)

object Digest {
  private val P = 2147483647L
  def of(rows: Iterator[(Option[Rec], Option[Rec])]): Digest = {
    var n = 0L; var sum = 0L; var xor = 0L
    rows.foreach { case (x, y) =>
      var h = 42L
      (x.toSeq ++ y.toSeq).foreach { r =>
        h = XXH64.hashLong(r.id, h); h = XXH64.hashLong(r.ts, h)
      }
      n += 1; sum += Math.floorMod(h, P); xor ^= h
    }
    Digest(n, sum, xor)
  }
  def of(df: DataFrame): Digest = {
    val r = df.select(xxhash64(col("xid"), col("xts"), col("yid"), col("yts"))
        .as("h"))
      .agg(count(lit(1)), coalesce(sum(pmod(col("h"), lit(P))), lit(0L)),
        coalesce(bit_xor(col("h")), lit(0L)))
      .head()
    Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

/** Batch J1 workload (`snapshot_join`): `VersionedJoins.fullOuter`
  * over a generated upsert log written to parquet at set-up. One
  * repetition reads both sides, dedups to latest versions, joins, and
  * digests the result; every repetition is checked against the oracle's
  * digest. */
final class SnapshotBench(spark: SparkSession, work: Path, seed: Long,
                          shape: SnapshotShape, tracedReps: Int)
    extends Workload with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val setups = 3
  private val warmReps = 4

  /** Generate and write the upsert log; returns its directory. */
  private def write(round: Int): Path = {
    val dir = work.resolve(s"log-$round")
    val sh = shape; val sd = seed
    val keys = spark.range(0, shape.keys, 1, spark.sparkContext.defaultParallelism)
      .as[Long]
    keys.flatMap(k => sh.xs(sd, k)).write.parquet(dir.resolve("x").toString)
    keys.flatMap(k => sh.ys(sd, k)).write.parquet(dir.resolve("y").toString)
    dir
  }

  private def table(dir: Path, side: String): VersionedTable = {
    val df = spark.read.parquet(dir.resolve(side).toString)
      .toDF(s"${side}k", s"${side}id", s"${side}ts")
    VersionedTable(df, Seq(col(s"${side}k")), Seq(col(s"${side}id")),
      col(s"${side}ts"), col(s"${side}id"))
  }

  private def joined(dir: Path): DataFrame =
    VersionedJoins.fullOuter(table(dir, "x"), table(dir, "y"), Seq("xk"), Seq("yk"))

  /** One repetition: (latency ms, digest matches the oracle). */
  private def rep(dir: Path, want: Digest): (Double, Boolean) = {
    val t0 = System.nanoTime
    val got = Digest.of(joined(dir))
    ((System.nanoTime - t0) / 1e6, got == want)
  }

  def run(seconds: Double, trace: Option[Spans]): Outcome = {
    val out = new Outcome
    val want = Digest.of(shape.result(seed))
    val setupS = mutable.ArrayBuffer.empty[Double]
    var genS = 0.0
    var dir: Path = null
    var attempted = 0L; var failed = 0L
    def check(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }
    (0 until setups).foreach { r =>
      if (dir != null) graft.queries.StreamingHarness.deleteRecursively(dir)
      val t0 = System.nanoTime
      dir = write(r)
      genS = (System.nanoTime - t0) / 1e9
      // warm-up: JIT, codegen, file listing
      (1 to warmReps).foreach(_ => check(rep(dir, want)._2))
      setupS += (System.nanoTime - t0) / 1e9
      Log(f"set-up $r took ${setupS.last}%.2f s (log written in $genS%.2f s)")
    }
    out.endToEnd("setup_s") = (Stats.median(setupS.toSeq), "s")

    val untraced = mutable.ArrayBuffer.empty[Double]
    val deadline = System.nanoTime + (seconds * 1e9).toLong
    def more = if (trace.isEmpty) System.nanoTime < deadline
               else untraced.size < tracedReps
    while (more) {
      val (ms, ok) = rep(dir, want)
      check(ok)
      untraced += ms
    }
    record(out.endToEnd, untraced.toSeq)
    Log(s"measured ${untraced.size} repetitions, ms: " +
      untraced.map(_.round).mkString(" "))

    trace.foreach { spans =>
      val exec = new ExecTrace(spans)
      spark.sparkContext.addSparkListener(exec)
      val runStart = System.currentTimeMillis
      var dedupMs = 0.0; var joinMs = 0.0; var exchanges = 0
      val sc = spark.sparkContext
      val samples = (0 until tracedReps).map { i =>
        sc.setLocalProperty(ExecTrace.SpanProperty, s"dedup-$i")
        val d0 = System.currentTimeMillis
        val t0 = System.nanoTime
        Seq("x", "y").foreach { s =>
          val t = table(dir, s)
          VersionedDedup.latestPerKeyId(t.df, t.keys, t.ids, t.ts, t.tiebreak)
            .write.format("noop").mode("overwrite").save()
        }
        dedupMs += (System.nanoTime - t0) / 1e6
        spans.add(Span(s"dedup-$i", "dedup", d0, System.currentTimeMillis, "run"))

        sc.setLocalProperty(ExecTrace.SpanProperty, s"rep-$i")
        val r0 = System.currentTimeMillis
        val t1 = System.nanoTime
        val df = joined(dir)
        val ok = Digest.of(df) == want
        val ms = (System.nanoTime - t1) / 1e6
        joinMs += ms
        spans.add(Span(s"rep-$i", "rep", r0, r0 + ms.round, "run"))
        check(ok)
        exchanges = collect(df.queryExecution.executedPlan) {
          case e: ShuffleExchangeExec
              if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
        }.size
        ms
      }
      sc.setLocalProperty(ExecTrace.SpanProperty, null)
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(exec)
      spans.add(Span("run", "run", runStart, System.currentTimeMillis, ""))
      val traced = mutable.LinkedHashMap.empty[String, (Double, String)]
      record(traced, samples)
      val l = out.perLayer
      l("trace.overhead_pct") = (100.0 * (traced("result_latency_p50_ms")._1 /
        out.endToEnd("result_latency_p50_ms")._1 - 1), "%")
      Layers.noStreaming(l)
      l("core.dedup_ms") = (dedupMs, "ms")
      l("core.join_ms") = (joinMs, "ms")
      l("core.exchanges") = (exchanges.toDouble, "count")
      Layers.exec(l, exec, dedupMs + joinMs, spark)
    }

    out.attempted = attempted
    out.failed = failed
    out.perLayer("gen.records") = (shape.records.toDouble, "count")
    out.perLayer("gen.s") = (genS, "s")
    out.perLayer("error_rate") = (failed.toDouble / attempted, "ratio")
    out
  }

  private def record(into: mutable.Map[String, (Double, String)],
                     lat: Seq[Double]): Unit = {
    into("upserts_per_s") = (shape.records * lat.size / (lat.sum / 1000), "1/s")
    into("result_latency_p50_ms") = (Stats.quantile(lat, 0.5), "ms")
    into("result_latency_p90_ms") = (Stats.quantile(lat, 0.9), "ms")
  }
}
