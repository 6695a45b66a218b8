package graft.queries

import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** The jaccard pair pipeline's stats-driven scale inversion:
  * below jaccardGroupedMinBytes the pairs come from the broadcast
  * self-join, above it from the grouped posting-list expansion with a
  * pinned filt — and BOTH branches must produce the identical pair
  * set, so the env-overridable switch can never change a result, only
  * a plan. Also pins that the small branch actually broadcasts (the
  * property that justifies keeping it at bench scale) and that the
  * auto switch picks the small branch at test scale. */
class JaccardScaleInversionSpec extends graft.SparkTestBase
    with AdaptiveSparkPlanHelper {

  private val sfDir = sys.props.getOrElse("graft.testdata.dir",
    sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001"))

  test("grouped posting-list expansion produces exactly the self-join's " +
      "pair set") {
    val small = DedupOps
      .jaccardPairsImpl(spark, sfDir, materialize = false, grouped = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val large = DedupOps
      .jaccardPairsImpl(spark, sfDir, materialize = false, grouped = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(small.nonEmpty, "test corpus must produce near-dup pairs")
    assert(large == small)
  }

  test("the switch-point knob fails fast on a malformed value") {
    assert(DedupOps.groupedMinBytes(Some("1024")) == 1024L)
    intercept[IllegalArgumentException](DedupOps.groupedMinBytes(Some("256MB")))
  }

  test("auto switch picks the join branch at bench scale and the join " +
      "actually broadcasts") {
    val srcBytes = Registry.table(spark, sfDir, "documents")
      .queryExecution.optimizedPlan.stats.sizeInBytes
    assert(srcBytes <= DedupOps.jaccardGroupedMinBytes,
      "test SF must sit below the switch point, or the bench branch " +
        "is no longer the one the driver measures")
    val pairs = DedupOps.jaccardPairs(spark, sfDir)
    pairs.collect() // execute so AQE finalizes the plan
    val hasBroadcast = collectWithSubqueries(
      pairs.queryExecution.executedPlan) {
      case b: BroadcastExchangeExec => b
    }.nonEmpty
    assert(hasBroadcast,
      "small-branch self-join no longer broadcasts — re-run the branch " +
        "A/B, the small branch's rationale may have expired")
  }
}
