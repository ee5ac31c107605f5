package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import graft.sources.{Changelog, Sinks}

/** Plain = ops with every row an upsert: the same seeded deltas landed
  * through `commit` (a plain log) and `commitUpsert` (an ops log with
  * no deletes) read back identically through every read and fold verb.
  * Each verb is one entry point that takes the log's shape from its
  * schema; this law is what lets that one entry point serve both.
  */
class ChangelogShapeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val Keys = Seq("k")
  private val Head = 5L

  /** Commit `c` of seed `seed`: 8–19 of the keys [0, 30), values from a
    * small domain (so some rewrites are byte-identical no-ops the feed
    * must suppress) and a sometimes-null tag (null-safe compare).
    */
  private def delta(seed: Long, c: Long): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed * 1000 + c)
    rnd.shuffle((0L until 30L).toList).take(8 + rnd.nextInt(12))
      .map(k => (k, rnd.nextInt(4).toDouble,
        if (rnd.nextBoolean()) Some(s"t${rnd.nextInt(3)}") else None))
      .toDF("k", "v", "tag")
  }

  /** The plain and the ops log of one seed, commits 0..Head. */
  private def logs(seed: Long, tag: String = ""): (String, String) = {
    val plain = Sinks.tmpPath(s"shape_spec_plain_$seed$tag")
    val ops = Sinks.tmpPath(s"shape_spec_ops_$seed$tag")
    Sinks.deleteRecursively(plain); Sinks.deleteRecursively(ops)
    (0L to Head).foreach { c =>
      Changelog.commit(delta(seed, c), plain, c)
      Changelog.commitUpsert(delta(seed, c), ops, c)
    }
    (plain, ops)
  }

  /** Column names plus the rows, order-independent. */
  private def content(df: DataFrame): (Seq[String], Seq[String]) =
    (df.columns.toSeq, df.collect().map(_.toString).sorted.toSeq)

  test("plain and ops logs of the same upserts read identically: " +
       "snapshotAt at every version, changesBetween over every window") {
    for (seed <- Seq(1L, 2L)) {
      val (plain, ops) = logs(seed)
      for (v <- 0L to Head) {
        val p = content(Changelog.snapshotAt(spark, plain, Keys, v))
        assert(p._2.nonEmpty)
        assert(p == content(Changelog.snapshotAt(spark, ops, Keys, v)),
          s"seed $seed: snapshotAt($v) differs between the shapes")
      }
      for (v1 <- 1L to Head; v0 <- 0L until v1) {
        def feed(path: String) = content(Changelog.changesBetween(
          spark, path, Keys, v0, v1, Seq("v", "tag")))
        val p = feed(plain)
        assert(p._2.nonEmpty)
        assert(p == feed(ops),
          s"seed $seed: changesBetween($v0, $v1] differs between the shapes")
      }
    }
  }

  test("plain and ops logs of the same upserts fold identically: " +
       "snapshotAt(head) after checkpoint(head - 1)") {
    for (seed <- Seq(3L, 4L)) {
      val (plain, ops) = logs(seed)
      val before = content(Changelog.snapshotAt(spark, plain, Keys, Head))
      Changelog.checkpoint(spark, plain, Keys, Head - 1)
      Changelog.checkpoint(spark, ops, Keys, Head - 1)
      val p = content(Changelog.snapshotAt(spark, plain, Keys, Head))
      assert(p == before, s"seed $seed: the plain fold changed the head")
      assert(p == content(Changelog.snapshotAt(spark, ops, Keys, Head)),
        s"seed $seed: the head after the fold differs between the shapes")
      // the plain fold stays plain: no `_op` column, no staging partition
      assert(!spark.read.parquet(plain).columns.contains(Changelog.OpCol))
    }
  }

  test("the fold plans one sort, after the shuffle: snapshotAt has " +
       "exactly one Sort and no SortAggregate on both shapes") {
    val (plain, ops) = logs(6L)
    for (path <- Seq(plain, ops)) {
      val plan =
        Changelog.snapshotAt(spark, path, Keys, Head).queryExecution.executedPlan
      val sorts = collect(plan) { case s: SortExec => s }
      assert(sorts.size == 1, s"expected one Sort:\n$plan")
      assert(collect(sorts.head) { case e: ShuffleExchangeExec => e }.nonEmpty,
        s"the Sort must sit above the Exchange:\n$plan")
      assert(collect(plan) { case a: SortAggregateExec => a }.isEmpty,
        s"expected no SortAggregate:\n$plan")
    }
  }

  test("changesBetween over a sort-merge semi-join: the fold's key " +
       "repartition is elided, no Exchange between the join and the window") {
    val (plain, ops) = logs(7L)
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      for (path <- Seq(plain, ops)) {
        val plan = Changelog.changesBetween(spark, path, Keys, 1L, Head,
          Seq("v", "tag")).queryExecution.executedPlan
        // the exchanges between a window and the semi-join it folds
        def between(p: SparkPlan): Int = p match {
          case _: SortMergeJoinExec   => 0
          case _: ShuffleExchangeExec => 1 + p.children.map(between).sum
          case _                      => p.children.map(between).sum
        }
        val windows = collect(plan) { case w: WindowExec => w }
        assert(windows.size == 2, s"expected one window per endpoint:\n$plan")
        assert(windows.forall(w => collect(w) { case j: SortMergeJoinExec => j }
          .exists(_.joinType == LeftSemi)),
          s"expected a sort-merge semi-join under each window:\n$plan")
        assert(windows.map(between).sum == 0,
          s"an Exchange sits between the semi-join and the fold:\n$plan")
      }
    }
  }

  test("the fold's reads do not depend on the shuffle: snapshotAt, " +
       "changesBetween and snapshotAt after checkpoint agree under 1 and " +
       "7 shuffle partitions and with AQE off") {
    /** Every read of one seed's logs, built afresh under the current
      * confs (the checkpoint erases history). A key is unique within a
      * commit, so no read depends on the fold's tie rule.
      */
    def reads(tag: String): Seq[(Seq[String], Seq[String])] = {
      val (plain, ops) = logs(8L, tag)
      val byLog = for (path <- Seq(plain, ops)) yield {
        val snaps = (0L to Head).map(v =>
          content(Changelog.snapshotAt(spark, path, Keys, v)))
        val feeds = for (v1 <- 1L to Head; v0 <- 0L until v1) yield
          content(Changelog.changesBetween(
            spark, path, Keys, v0, v1, Seq("v", "tag")))
        Changelog.checkpoint(spark, path, Keys, Head - 1)
        val folded = Seq(Head - 1, Head).map(v =>
          content(Changelog.snapshotAt(spark, path, Keys, v)))
        snaps ++ feeds ++ folded
      }
      byLog.flatten
    }
    val default = reads("_default")
    assert(default.forall(_._2.nonEmpty))
    for ((tag, confs) <- Seq(
           "_p1" -> Seq("spark.sql.shuffle.partitions" -> "1"),
           "_p7" -> Seq("spark.sql.shuffle.partitions" -> "7"),
           "_noaqe" -> Seq("spark.sql.adaptive.enabled" -> "false"))) {
      val got = withConfs(confs: _*)(reads(tag))
      assert(got.size == default.size)
      got.zip(default).zipWithIndex.foreach { case ((g, d), i) =>
        assert(g == d, s"$confs: read $i differs from the default session")
      }
    }
  }
}
