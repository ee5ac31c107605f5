package graft.transform

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Sinks

/** Incremental aggregate maintenance — the q54 O(delta) discipline
  * applied one level UP: a served rollup table (a materialized view)
  * kept in sync with a fact table that receives insert-or-replace
  * increments, WITHOUT ever recomputing the aggregate from history.
  *
  * The law: every maintained column must be an ADDITIVE partial
  * aggregate (count, sum, non-null count — anything with a commutative
  * monoid merge; avg/stddev are derived from sums at read time). An
  * increment then contributes a SIGNED delta aggregate: +1-signed rows
  * for the facts it inserts, −1-signed rows for the old versions it
  * replaces (retraction — the part naive "just add the delta" schemes
  * get wrong under upserts), aggregated per rollup key. Merging is
  * `existing ∪ delta → SUM per key`, and a key whose liveness count
  * reaches zero is DELETED from the rollup (the retraction of the last
  * fact removes the group, as a full recompute would).
  *
  * At 100 TB: the fact history is never rescanned — each increment
  * touches `O(delta)` fact rows (the replaced versions come from the
  * same bucket-pruned read the fact upsert itself performs) and the
  * merge rewrites only the rollup buckets the delta keys hash into. The
  * rollup is stored in the fact table's bucket layout, written by the
  * same writer (Sinks.writeBuckets) under the same bucket law, so a
  * bucket whose every key was retracted is removed, not left serving
  * its old rows. Rollup size is bounded by the key domain (stocks ×
  * years — thousands), so even the touched-bucket read is KB-scale
  * while the maintained table serves exact aggregates over billions of
  * facts.
  *
  * Determinism: partials are integers (counts, quarter-scaled value
  * sums) — merge order cannot perturb them, so the maintained table is
  * bit-identical to the full recompute (the oracle's law — asserted
  * per-increment in RollupSpec, end-to-end by q128's DuckDB twin).
  */
object Rollup {

  /** Merge one increment's signed delta aggregate into the rollup at
    * `path`, creating the layout on first call.
    *
    * @param deltaAgg one row per touched rollup key; every non-key
    *                 column must be an additive partial (summable,
    *                 sign already applied). Must be cheap to recompute
    *                 or already materialized — it is evaluated twice
    *                 (touched-bucket probe + merge).
    * @param keys     rollup key columns; `keys.head` must be `stock`
    *                 (the layout's bucket hash — same physical law as
    *                 the fact table it derives from).
    * @param countCol the liveness partial: a key whose merged value
    *                 reaches 0 is dropped (all its facts retracted).
    */
  def mergeDelta(spark: SparkSession, path: String, deltaAgg: DataFrame,
                 keys: Seq[String], countCol: String,
                 buckets: Int = 32): Unit = {
    require(keys.nonEmpty && deltaAgg.columns.contains(countCol),
      s"need keys and a $countCol column in ${deltaAgg.columns.mkString(",")}")
    Sinks.requireBuckets(path, buckets, "mergeDelta")
    val partials = deltaAgg.columns.filterNot(keys.contains).toSeq
    val withBucket = deltaAgg.withColumn("bucket", Sinks.factBucket(buckets))
    val touched = withBucket.select("bucket").distinct()
      .collect().map(_.getInt(0)).sorted.toIndexedSeq
    if (touched.isEmpty) return // empty increment: nothing to rewrite
    val existing = Sinks.readLayoutBuckets(path).map(_ =>
      Sinks.readLayout(spark, path).filter(col("bucket").isin(touched: _*)))
    // ONE exchange end to end: repartition on stock satisfies the
    // grouping's required distribution (stock ⊆ bucket+keys, and bucket
    // is a pure function of stock), and is the physical bucket layout —
    // the partitionBy write adds no further shuffle or sort.
    val unioned = existing.fold(withBucket)(_.unionByName(withBucket))
      .repartition(buckets, col(keys.head))
    val merged = unioned
      .groupBy(("bucket" +: keys).map(col): _*)
      .agg(sum(col(partials.head)).as(partials.head),
        partials.tail.map(c => sum(col(c)).as(c)): _*)
      .filter(col(countCol) =!= 0L)
    Sinks.writeBuckets(merged, path, buckets, keys, Some(touched))
  }
}
