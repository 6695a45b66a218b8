package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Latest-wins dedup of versioned upsert streams/tables.
  *
  * Semantics derived from the reference's version deduplicator
  * (reference: src/main/scala/flink_perf/versionDeduplicator.scala:12-57):
  * a record is identified by a join `key`, a primary `id`, and a version
  * `ts`; a newer ts for the same identity supersedes older rows.
  *
  * The reference keeps the *first-encountered* record on ts ties (strict
  * `>` comparison, versionDeduplicator.scala:17,25,44,53), which is
  * arrival-order-dependent and hence nondeterministic under parallelism.
  * We instead require a deterministic `tiebreak` column (descending, so
  * "largest tiebreak wins" on equal ts) — documented deviation per
  * SURVEY.md §2.3.
  *
  * Scale notes: one shuffle on the partition keys; implemented as a
  * window `row_number` (whole-stage-codegen'd, spills via sort) rather
  * than `max_by(struct)` so that the full row survives without a
  * struct-reassembly and skewed groups sort-spill instead of OOM.
  */
object VersionedDedup {

  /** D2 semantics: latest version per (key, id) — both sides of a
    * full-outer versioned join dedup this way
    * (reference versionDeduplicator.scala:36-57).
    *
    * Shuffle strategy: the explicit repartition is on the *key*
    * columns only, which satisfies the window's (keys ++ ids)
    * clustering requirement AND is exactly the partitioning the
    * downstream join/groupBy on the key needs — so dedup + join cost
    * ONE exchange per side instead of two (verified via explain:
    * without this, Catalyst plans hash(keys, ids) for the window and
    * re-shuffles hash(keys) for the join). */
  def latestPerKeyId(df: DataFrame, keys: Seq[Column], ids: Seq[Column],
                     ts: Column, tiebreak: Column): DataFrame =
    keepFirst(df, keys, keys ++ ids, ts, tiebreak)

  /** D2 dedup with an explicit shuffle clustering, for arms where the
    * key columns are degenerate: the null-key arm of
    * [[VersionedJoins.fullOuterNullSplit]] has every key null, so
    * shuffling on the keys would put the WHOLE arm in one partition —
    * clustering on the ids distributes it and still satisfies the
    * window's (keys ++ ids) co-location (ids are a subset of the
    * window partition set). */
  private[core] def latestPerKeyIdClusteredBy(
      df: DataFrame, shuffleKeys: Seq[Column], keys: Seq[Column],
      ids: Seq[Column], ts: Column, tiebreak: Column): DataFrame =
    keepFirst(df, shuffleKeys, keys ++ ids, ts, tiebreak)

  /** D1 X-side quirk: latest version per *key alone* (not per id) —
    * the reference's left-outer left side keeps at most one X per key
    * (reference versionDeduplicator.scala:12-18, TODO at
    * cogroupFunctions.scala:31-32). Ported exactly. */
  def latestPerKey(df: DataFrame, keys: Seq[Column],
                   ts: Column, tiebreak: Column): DataFrame =
    keepFirst(df, keys, keys, ts, tiebreak)

  private def keepFirst(df: DataFrame, shuffleKeys: Seq[Column],
                        part: Seq[Column], ts: Column,
                        tiebreak: Column): DataFrame = {
    val w = Window.partitionBy(part: _*).orderBy(ts.desc, tiebreak.desc)
    df.repartition(shuffleKeys: _*)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** In-group latest-wins per id ([[JoinRules.upsert]]: strict `>`, so
    * the first-encountered record wins on equal ts, like the
    * reference). Values come in no particular order. */
  def latestPerId[T](rows: Iterator[T], idOf: T => String,
                     tsOf: T => Long): Seq[T] =
    JoinRules.upsertAll(Map.empty, rows)(idOf, tsOf).values.toSeq
}
