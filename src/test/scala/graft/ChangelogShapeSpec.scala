package graft

import org.apache.spark.sql.DataFrame
import graft.sources.{Changelog, Sinks}

/** Plain = ops with every row an upsert: the same seeded deltas landed
  * through `commit` (a plain log) and `commitUpsert` (an ops log with
  * no deletes) read back identically through every read and fold verb.
  * Each verb is one entry point that takes the log's shape from its
  * schema; this law is what lets that one entry point serve both.
  */
class ChangelogShapeSpec extends SparkSpec {

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
  private def logs(seed: Long): (String, String) = {
    val plain = Sinks.tmpPath(s"shape_spec_plain_$seed")
    val ops = Sinks.tmpPath(s"shape_spec_ops_$seed")
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
}
