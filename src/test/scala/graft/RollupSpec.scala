package graft

import java.io.File

import graft.sources.Sinks
import graft.transform.Rollup

/** Incremental aggregate maintenance laws (transform/Rollup, q128):
  * signed-delta merge must equal the full recompute after every
  * increment — including retraction-driven updates, key deletion when
  * the liveness count reaches zero, and the null-sum bookkeeping (nn)
  * that disambiguates "sums to zero" from "no non-null values".
  */
class RollupSpec extends SparkSpec {
  import spark.implicits._

  /** (stock, year, n, nn, sum_q) rows of the maintained table. */
  private def readRollup(path: String) =
    spark.read.parquet(path)
      .select("stock", "year", "n", "nn", "sum_q")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long])))
      .toSet

  test("mergeDelta: a bucket whose every key is retracted is removed, not served") {
    val path = Sinks.tmpPath("rollup_spec_emptied")
    Sinks.deleteRecursively(path)
    val buckets = 4
    val (bA, bB) = (Sinks.bucketOf("A", buckets), Sinks.bucketOf("B", buckets))
    assert(bA != bB, "A and B must hash to different buckets")
    def merge(rows: (String, Long, Long, Long, Option[Long])*): Unit =
      Rollup.mergeDelta(spark, path, rows.toDF("stock", "year", "n", "nn", "sum_q"),
        Seq("stock", "year"), "n", buckets)
    merge(("A", 2020L, 1L, 1L, Some(4L)), ("B", 2020L, 1L, 1L, Some(8L)))
    // A's only key is retracted: the merge emits no row in A's bucket
    merge(("A", 2020L, -1L, -1L, Some(-4L)))
    assert(readRollup(path) === Set(("B", 2020L, 1L, 1L, Some(8L))))
    assert(!new File(s"$path/bucket=$bA").exists())
    assert(new File(s"$path/bucket=$bB").isDirectory)
  }

  test("mergeDelta: insert, retraction-update, key deletion, null sums") {
    val path = Sinks.tmpPath("rollup_spec")
    Sinks.deleteRecursively(path)

    // increment 1 — pure inserts; B/2020's only value is null, so its
    // sum partial is the sum-of-nothing identity (null) and nn = 0
    val d1 = Seq(
      ("A", 2020L, 2L, 2L, Some(10L)),
      ("A", 2021L, 1L, 1L, Some(4L)),
      ("B", 2020L, 1L, 0L, None: Option[Long]))
      .toDF("stock", "year", "n", "nn", "sum_q")
    Rollup.mergeDelta(spark, path, d1, Seq("stock", "year"), "n")
    assert(readRollup(path) === Set(
      ("A", 2020L, 2L, 2L, Some(10L)),
      ("A", 2021L, 1L, 1L, Some(4L)),
      ("B", 2020L, 1L, 0L, None)))

    // increment 2 — an upsert's signed aggregate: one of A/2020's rows
    // changes value (+3 net, row count unchanged), A/2021 is retracted
    // entirely (the key must VANISH, as a full recompute would drop
    // it), B/2020 gains a real value, C/2022 is new
    val d2 = Seq(
      ("A", 2020L, 0L, 0L, Some(3L)),
      ("A", 2021L, -1L, -1L, Some(-4L)),
      ("B", 2020L, 1L, 1L, Some(7L)),
      ("C", 2022L, 1L, 1L, Some(5L)))
      .toDF("stock", "year", "n", "nn", "sum_q")
    Rollup.mergeDelta(spark, path, d2, Seq("stock", "year"), "n")
    assert(readRollup(path) === Set(
      ("A", 2020L, 2L, 2L, Some(13L)),
      ("B", 2020L, 2L, 1L, Some(7L)),
      ("C", 2022L, 1L, 1L, Some(5L))))

    // untouched keys live in buckets the merge never rewrites: a delta
    // touching only C leaves A's and B's files physically alone
    val d3 = Seq(("C", 2022L, 1L, 1L, Some(1L)))
      .toDF("stock", "year", "n", "nn", "sum_q")
    Rollup.mergeDelta(spark, path, d3, Seq("stock", "year"), "n")
    assert(readRollup(path) === Set(
      ("A", 2020L, 2L, 2L, Some(13L)),
      ("B", 2020L, 2L, 1L, Some(7L)),
      ("C", 2022L, 2L, 2L, Some(6L))))

    // the layout's bucket count is physical law — a mismatched merge
    // must refuse loudly rather than write under wrong directories
    intercept[IllegalArgumentException](
      Rollup.mergeDelta(spark, path, d3, Seq("stock", "year"), "n",
        buckets = 16))
  }
}
