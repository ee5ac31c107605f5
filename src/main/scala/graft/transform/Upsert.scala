package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Keyed last-write-wins merge — the Spark-native replacement for the
  * reference's `INSERT … ON DUPLICATE KEY UPDATE` (S6/J3:
  * Financilas.py:167–184, Summary.py:223–249).
  *
  * Scale notes: implemented with `max_by(struct(*), version)` under
  * groupBy rather than a `row_number` window. Spark 4.1 cannot
  * hash-aggregate the struct buffer, so this plans as Sort → partial
  * SortAggregate → Exchange → Sort → final SortAggregate: every row is
  * sorted on both sides of the one shuffle. The partial combine pays
  * that map-side sort back only when many versions of a key share one
  * input partition (a raw feed's re-deliveries), so it serves the raw
  * zone's latest-per-symbol and the upserts here. A source of about one
  * version per key is cheaper as a key shuffle plus a top-1 window,
  * which sorts once, after the shuffle — see `Changelog.compact` and
  * the fact PK dedup in `Financials`.
  */
object Upsert {

  /** Keep exactly one row per key: the one with the greatest `version`
    * expression (e.g. loaded_at, or struct(loaded_at, paneIdx) for
    * multi-level precedence). Ties resolved by struct comparison of the
    * version expression itself — pass a total order for determinism.
    */
  def latestByKey(df: DataFrame, keys: Seq[String], version: Column): DataFrame = {
    val others = df.columns.filterNot(keys.contains)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(struct(others.map(col): _*), version).as("_row"))
      .select(keys.map(col) ++ others.map(c => col(s"_row.$c").as(c)): _*)
  }

  /** Upsert: incoming rows win over existing rows with the same key;
    * within each side the greater `version` wins. Mirrors MySQL
    * ON-DUPLICATE-KEY semantics where the latest statement wins
    * (Financilas.py:175–182).
    */
  def upsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
             version: Column): DataFrame = {
    val tagged = existing.withColumn("_gen", lit(0))
      .unionByName(incoming.withColumn("_gen", lit(1)))
    latestByKey(tagged, keys, struct(col("_gen"), version)).drop("_gen")
  }

  /** J1 — incremental skip: rows of `incoming` whose key is not already
    * present (details.py:277–281's anti-join before the expensive fetch).
    * Catalyst broadcasts the distinct key set when small; at scale it is
    * a shuffled left-anti on the key only (column-pruned probe side).
    */
  def notYetLoaded(incoming: DataFrame, existing: DataFrame, key: String): DataFrame =
    incoming.join(existing.select(key).distinct(), Seq(key), "left_anti")
}
