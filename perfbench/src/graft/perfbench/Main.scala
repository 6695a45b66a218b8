package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Metrics of one run: end-to-end metrics (printed with `--trace 0`),
  * per-layer metrics (printed with `--trace 1`) and the operation
  * counts. */
final class Outcome {
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  def correct: Boolean = attempted > 0 && failed == 0
}

/** One benchmark workload: set up, measure, check. With `trace`,
  * it also records spans and per-layer metrics. */
trait Workload {
  def run(seconds: Double, trace: Option[Spans]): Outcome
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric value $d is not finite")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  }
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def metrics(m: Iterable[(String, (Double, String))]): String =
    obj(m.map { case (k, (v, u)) =>
      k -> obj(Seq("value" -> num(v), "unit" -> str(u))) })
}

/** Progress lines on stderr, stamped with seconds since JVM start. */
object Log {
  private val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def apply(msg: String): Unit = System.err.println(
    f"perfbench ${(System.currentTimeMillis - t0) / 1000.0}%7.1fs $msg")
}

object Stats {
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --work <dir> [--size full|tiny]`.
  * Prints host facts as one JSON line, then the result as the last
  * line of stdout; exits 1 when an output check failed. */
object Main {
  val workloads = Seq("hot_keys", "cold_keys", "snapshot_join")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val workload = opt("--workload")
    require(workloads.contains(workload), s"unknown workload '$workload'")
    val seed = opt("--seed").toLong
    val seconds = opt("--seconds").toDouble
    val traced = opt("--trace") == "1"
    val tiny = opts.get("--size").contains("tiny")
    val work = Paths.get(opt("--work")).toAbsolutePath
    Files.createDirectories(work)

    val cpus = Runtime.getRuntime.availableProcessors
    val load1 = new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .split(" ")(0).toDouble
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val host = Json.obj(Seq(
      "host" -> Json.obj(Seq(
        "nproc" -> Json.num(cpus),
        "loadavg_1m" -> Json.num(load1),
        "xmx_mb" -> Json.num(Runtime.getRuntime.maxMemory / (1 << 20)),
        "spark" -> Json.str(spark.version),
        "workload" -> Json.str(workload),
        "seed" -> Json.num(seed)))))
    println(host)
    Log("session up")

    val spans = new Spans
    val out = try {
      val bench: Workload = workload match {
        case "hot_keys" => new StreamBench(spark, work, seed,
          if (tiny) StreamShape(50, 2, 8, 300) else StreamShape(1000, 2, 64, 20000),
          tracedChunks = if (tiny) 3 else 12)
        case "cold_keys" => new StreamBench(spark, work, seed,
          if (tiny) StreamShape(500, 1, 1, 200) else StreamShape(100000, 1, 1, 5000),
          tracedChunks = if (tiny) 3 else 12)
        case "snapshot_join" => new SnapshotBench(spark, work, seed,
          if (tiny) SnapshotShape(500, 1, 4, 4) else SnapshotShape(100000, 1, 4, 4),
          tracedReps = if (tiny) 2 else 4)
      }
      bench.run(seconds, if (traced) Some(spans) else None)
    } finally spark.stop()
    Log("done")

    out.endToEnd("peak_rss_mb") = (peakRssMb(), "MB")
    if (traced) writeTrace(work.resolve("trace.json"), host, out, spans)
    val metrics = if (traced) out.perLayer else out.endToEnd
    println(Json.obj(Seq(
      "correct" -> out.correct.toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "metrics" -> Json.metrics(metrics))))
    System.out.flush()
    System.exit(if (out.correct) 0 else 1)
  }

  /** High-water resident set size of this JVM. */
  private def peakRssMb(): Double = {
    val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
      .linesIterator.find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def writeTrace(path: Path, host: String, out: Outcome,
                         spans: Spans): Unit = {
    val self = spans.selfTimes.toSeq.sortBy(_._1).map {
      case (kind, (n, dur, self)) => kind -> Json.obj(Seq(
        "spans" -> Json.num(n), "total_ms" -> Json.num(dur),
        "self_ms" -> Json.num(self)))
    }
    val spanLines = spans.all.sortBy(s => (s.start, s.id)).map { s =>
      Json.obj(Seq("id" -> Json.str(s.id), "kind" -> Json.str(s.kind),
        "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end),
        "cause" -> Json.str(s.cause)))
    }
    val json = Json.obj(Seq(
      "host" -> host,
      "end_to_end" -> Json.metrics(out.endToEnd),
      "per_layer" -> Json.metrics(out.perLayer),
      "self_time_by_kind" -> Json.obj(self),
      "spans" -> spanLines.mkString("[\n", ",\n", "\n]")))
    Files.write(path, json.getBytes("UTF-8"))
  }
}
