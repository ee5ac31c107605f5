package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Sinks

/** Statistics-driven join planning (q155's law, isolated): with the
  * broadcast threshold pinned BELOW the dim table's file size, only
  * ANALYZE'd column stats + CBO filter estimation can prove the
  * filtered dim broadcastable. No hints anywhere — the flip from
  * SortMergeJoin to BroadcastHashJoin is entirely the optimizer's,
  * driven by catalog statistics. AQE is disabled inside the plan
  * checks so the assertion targets STATIC planning (the piece stats
  * drive); at runtime AQE can only improve on it.
  */
class CboStatsSpec extends SparkSpec {
  import spark.implicits._

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("column stats flip a filtered dim join from SMJ to hint-free BHJ") {
    // dim: 2000 rows, 50 groups, with an incompressible padding column
    // so the on-disk size comfortably exceeds any sane threshold
    val dim = spark.range(2000).select(
      col("id").as("k"),
      (col("id") % 50).as("grp"),
      sha2(concat_ws("-", col("id"), lit("pad")), 256).as("pad"))
    val dimT = "cbo_spec_dim"
    dim.write.mode("overwrite")
      .option("path", Sinks.tmpPath(dimT)).saveAsTable(dimT)
    val fact = spark.range(100000).select(
      (col("id") % 2000).as("k"), col("id").as("v"))
    val factT = "cbo_spec_fact"
    fact.write.mode("overwrite")
      .option("path", Sinks.tmpPath(factT)).saveAsTable(factT)

    def fileBytes(t: String): Long =
      Option(new java.io.File(Sinks.tmpPath(t)).listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val threshold = fileBytes(dimT) / 2
    assert(threshold > 1024, "fixture dim too small to make the point")

    // `pad` is carried THROUGH the join: column pruning would otherwise
    // shrink the no-stats width-ratio estimate below any threshold and
    // broadcast regardless — the flip must be attributable to stats
    // alone (filter selectivity via ndv, which only ANALYZE provides)
    def join() = spark.table(factT)
      .join(spark.table(dimT).filter(col("grp") === 7)
        .select("k", "pad"), "k")
      .groupBy().agg(count(lit(1)).as("n"), count(col("pad")).as("np"))

    withConfs(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.cbo.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> threshold.toString) {
      // no stats: the only estimate is file size (> threshold), and a
      // non-CBO Filter doesn't shrink it → sort-merge join
      val before = planOf(join())
      assert(before.contains("SortMergeJoin") &&
        !before.contains("BroadcastHashJoin"),
        s"expected SMJ without stats, got:\n$before")

      spark.sql(s"ANALYZE TABLE $dimT COMPUTE STATISTICS FOR ALL COLUMNS")

      // with rowCount + ndv(grp)=50, the filtered+projected dim
      // estimates at ~40 narrow rows — provably broadcastable
      val after = planOf(join())
      assert(after.contains("BroadcastHashJoin"),
        s"expected stats-driven BHJ, got:\n$after")
      // and the proof is live: the join result is correct
      assert(join().select("n").as[Long].head() == 100000L / 2000 * 40)
    }
  }
}
