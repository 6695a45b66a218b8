package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{AppendColumnsExec, AppendColumnsWithObjectExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}

import graft.streaming.{PerIdEntries, VersionedStreamDedup, VersionedStreamJoin}

/** Plan pin for the keyed state operators: the packed rows are grouped
  * by their `key` column, so the executed microbatch plan hashes them
  * once on `key` with no `AppendColumns` step (which would deserialize
  * every row to run a key function and shuffle the key a second time
  * as a `value` column). Covers both join layouts and the dedup, all of
  * which share the grouping step. */
class StreamKeyPlanSpec extends SparkTestBase {
  import spark.implicits._

  private implicit lazy val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  /** The executed plan of `out`'s first microbatch over one row. */
  private def firstBatchPlan(name: String, in: MemoryStream[DedupRow])(
      out: Dataset[_]): SparkPlan = {
    val q = out.toDF().writeStream.outputMode("update")
      .format("memory").queryName(name).start()
    try {
      in.addData(DedupRow("a", "1", 1L, "t"))
      q.processAllAvailable()
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan
    } finally q.stop()
  }

  private def assertGroupedOnKey(plan: SparkPlan): Unit = {
    val appends = plan.collect {
      case p: AppendColumnsExec           => p
      case p: AppendColumnsWithObjectExec => p
    }
    assert(appends.isEmpty, s"AppendColumns in the plan:\n$plan")
    val hashed = plan.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] =>
        e.outputPartitioning.asInstanceOf[HashPartitioning]
    }
    assert(hashed.size == 1, s"expected one hash exchange, got ${hashed.size}:\n$plan")
    assert(hashed.head.expressions.flatMap(_.references.map(_.name)) == Seq("key"),
      s"the exchange must hash the key column alone: ${hashed.head}")
  }

  test("the packed per-key join groups on its key column: one hash exchange, no AppendColumns") {
    val sx = MemoryStream[DedupRow]
    val sy = MemoryStream[DedupRow]
    assertGroupedOnKey(firstBatchPlan("plan_packed", sx)(
      VersionedStreamJoin.fullOuter[DedupRow, DedupRow](sx.toDS(), sy.toDS(),
        _.k, _.k, _.id, _.id, _.v, _.v)))
  }

  test("the per-id entries join groups on its key column: one hash exchange, no AppendColumns") {
    VersionedStreamJoin.withStateStoreProvider(spark) {
      val sx = MemoryStream[DedupRow]
      val sy = MemoryStream[DedupRow]
      assertGroupedOnKey(firstBatchPlan("plan_per_id", sx)(
        VersionedStreamJoin.fullOuter[DedupRow, DedupRow](sx.toDS(), sy.toDS(),
          _.k, _.k, _.id, _.id, _.v, _.v, layout = PerIdEntries)))
    }
  }

  test("the streaming dedup groups on its key column: one hash exchange, no AppendColumns") {
    val in = MemoryStream[DedupRow]
    assertGroupedOnKey(firstBatchPlan("plan_dedup", in)(
      VersionedStreamDedup.latestPerKeyId[DedupRow](in.toDS(), _.k, _.id, _.v)))
  }
}
