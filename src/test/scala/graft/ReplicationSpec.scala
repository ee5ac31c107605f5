package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.{Changelog, Sinks}
import graft.streaming.{CdcSource, LogSink}

/** The round-14 streaming halves COMPOSED (q206/q207):
  *
  *  - q206 log-to-log replication: readStream(CdcSource) → label-to-verb
  *    projection → writeStream(LogSink). The replica must serve the
  *    upstream head state, catch up INCREMENTALLY (one downstream
  *    commit per upstream commit, O(delta) rows each), and resume from
  *    its checkpoint.
  *  - q207 declarative materialized view: feed → signed contributions →
  *    UPDATE-mode groupBy.agg → LogSink. No foreachBatch anywhere; the
  *    served view is the LWW snapshot of running totals, and group-
  *    MOVING updates retract from the old group by construction.
  */
class ReplicationSpec extends SparkSpec {
  import spark.implicits._

  private val op = Changelog.OpCol

  private def frame(rows: Seq[(Long, Option[Long], Option[Double], String)]) =
    rows.toDF("o_orderkey", "o_custkey", "o_totalprice", op)

  // b0: three inserts; b1: delete k1, update k2; b2: re-insert k1
  // (resurrection through the feed), insert k4 — the CdcSourceSpec
  // fixture, so feed-label coverage (insert/update/delete +
  // resurrection) is identical across the source and composition specs
  private def commits = Seq(
    frame(Seq((1L, Some(10L), Some(10.0), "u"),
      (2L, Some(10L), Some(20.0), "u"), (3L, Some(20L), Some(30.0), "u"))),
    frame(Seq((1L, None, None, "d"), (2L, Some(10L), Some(25.0), "u"))),
    frame(Seq((1L, Some(10L), Some(11.0), "u"),
      (4L, Some(20L), Some(40.0), "u"))))

  private def replicate(upstream: String, replica: String,
                        ckpt: String): Unit = {
    val feed = spark.readStream.format(classOf[CdcSource].getName)
      .option("path", upstream)
      .option("keys", "o_orderkey")
      .option("trackCols", "o_custkey,o_totalprice")
      .option("columns",
        "o_orderkey,new_o_custkey,new_o_totalprice,change_type")
      .load()
    val del = col("change_type") === "delete"
    val q = feed.select(
        col("o_orderkey"),
        when(del, lit(null).cast("bigint"))
          .otherwise(col("new_o_custkey")).as("o_custkey"),
        when(del, lit(null).cast("double"))
          .otherwise(col("new_o_totalprice")).as("o_totalprice"),
        when(del, lit("d")).otherwise(lit("u")).as(op))
      .writeStream.format(classOf[LogSink].getName)
      .option("path", replica)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def snapshot(path: String, key: String = "o_orderkey") =
    Changelog.snapshotAt(spark, path, Seq(key), Long.MaxValue)

  private def rowsOf(df: DataFrame): Set[(Long, Long, Double)] =
    df.select("o_orderkey", "o_custkey", "o_totalprice")
      .as[(Long, Long, Double)].collect().toSet

  private def commitIdsOf(path: String): Seq[Long] =
    spark.read.parquet(path).select(Changelog.CommitCol)
      .distinct().as[Long].collect().sorted.toSeq

  test("log-to-log replication: the replica serves the upstream head " +
       "state, one downstream commit per upstream commit (q206)") {
    val upstream = Sinks.tmpPath("repl_spec_up")
    val replica = Sinks.tmpPath("repl_spec_replica")
    val ckpt = Sinks.tmpPath("repl_spec_ckpt")
    Seq(upstream, replica, ckpt).foreach(Sinks.deleteRecursively)
    commits.zipWithIndex.foreach { case (c, i) =>
      Changelog.commit(c, upstream, i.toLong)
    }
    replicate(upstream, replica, ckpt)
    assert(commitIdsOf(replica) == Seq(0L, 1L, 2L))
    assert(rowsOf(snapshot(replica)) == rowsOf(snapshot(upstream)))
    // the delete really replicated as a TOMBSTONE mid-history: the
    // replica AS OF 1 must not serve k1, exactly like the upstream
    assert(Changelog.snapshotAt(spark, replica, Seq("o_orderkey"), 1L)
      .select("o_orderkey").as[Long].collect().toSet == Set(2L, 3L))
  }

  test("incremental catch-up: a later upstream commit replicates as " +
       "exactly one O(delta) downstream commit through the same " +
       "checkpoint") {
    val upstream = Sinks.tmpPath("repl_spec_inc_up")
    val replica = Sinks.tmpPath("repl_spec_inc_replica")
    val ckpt = Sinks.tmpPath("repl_spec_inc_ckpt")
    Seq(upstream, replica, ckpt).foreach(Sinks.deleteRecursively)
    commits.zipWithIndex.foreach { case (c, i) =>
      Changelog.commit(c, upstream, i.toLong)
    }
    replicate(upstream, replica, ckpt)
    // upstream moves on: commit 3 deletes k3
    Changelog.commitDelete(spark, Seq(3L).toDF("o_orderkey"), upstream, 3L)
    replicate(upstream, replica, ckpt)
    assert(commitIdsOf(replica) == Seq(0L, 1L, 2L, 3L))
    // O(delta): the catch-up commit carries ONLY the one changed key —
    // never a re-copy of the table
    assert(spark.read.parquet(replica)
      .filter(col(Changelog.CommitCol) === 3L).count() == 1L)
    assert(rowsOf(snapshot(replica)) == rowsOf(snapshot(upstream)))
    assert(!snapshot(replica).select("o_orderkey")
      .as[Long].collect().contains(3L))
  }

  private def materialize(upstream: String, viewLog: String,
                          ckpt: String): Unit = {
    val feed = spark.readStream.format(classOf[CdcSource].getName)
      .option("path", upstream)
      .option("keys", "o_orderkey")
      .option("trackCols", "o_custkey,o_totalprice")
      .load()
    val contrib = feed.select(explode(array(
        struct(col("old_o_custkey").as("o_custkey"),
          lit(-1L).as("sgn"),
          (-round(col("old_o_totalprice") * 100)).cast("long").as("cents"),
          col("change_type").isin("update", "delete").as("live")),
        struct(col("new_o_custkey").as("o_custkey"),
          lit(1L).as("sgn"),
          round(col("new_o_totalprice") * 100).cast("long").as("cents"),
          col("change_type").isin("update", "insert").as("live"))))
        .as("c"))
      .filter(col("c.live"))
      .select(col("c.o_custkey").as("o_custkey"), col("c.sgn").as("sgn"),
        col("c.cents").as("cents"))
    val q = contrib.groupBy("o_custkey")
      .agg(sum(col("sgn")).as("n_orders"), sum(col("cents")).as("cents"))
      .withColumn(op, lit("u"))
      .writeStream.format(classOf[LogSink].getName)
      .outputMode("update")
      .option("path", viewLog)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def servedView(viewLog: String): Set[(Long, Long, Double)] =
    snapshot(viewLog, "o_custkey")
      .filter(col("n_orders") > 0)
      .select(col("o_custkey"), col("n_orders"),
        col("cents").cast("double") / 100.0)
      .as[(Long, Long, Double)].collect().toSet

  test("declarative materialized view: update-mode agg through LogSink " +
       "converges to the recompute, and resumes from checkpoint (q207)") {
    val upstream = Sinks.tmpPath("repl_spec_mv_up")
    val viewLog = Sinks.tmpPath("repl_spec_mv_view")
    val ckpt = Sinks.tmpPath("repl_spec_mv_ckpt")
    Seq(upstream, viewLog, ckpt).foreach(Sinks.deleteRecursively)
    // first two upstream commits, then a restart with the third —
    // state (the running totals) must survive the stop
    commits.take(2).zipWithIndex.foreach { case (c, i) =>
      Changelog.commit(c, upstream, i.toLong)
    }
    materialize(upstream, viewLog, ckpt)
    // live after b1: k2 25.0/c10, k3 30.0/c20
    assert(servedView(viewLog) == Set((10L, 1L, 25.0), (20L, 1L, 30.0)))
    Changelog.commit(commits(2), upstream, 2L)
    materialize(upstream, viewLog, ckpt)
    assert(commitIdsOf(viewLog) == Seq(0L, 1L, 2L))
    // live head: k1 11.0/c10, k2 25.0/c10, k3 30.0/c20, k4 40.0/c20
    assert(servedView(viewLog) == Set((10L, 2L, 36.0), (20L, 2L, 70.0)))
    // feed-sufficiency: equals the recompute from the upstream snapshot
    val recompute = snapshot(upstream)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"),
        (sum(round(col("o_totalprice") * 100).cast("long"))
          .cast("double") / 100.0).as("s"))
      .as[(Long, Long, Double)].collect().toSet
    assert(servedView(viewLog) == recompute)
  }

  test("the replica is a first-class log: a materialized view driven " +
       "off the REPLICA's own CDC feed equals one driven off the " +
       "upstream (A→B→C chain closure)") {
    val upstream = Sinks.tmpPath("repl_spec_chain_up")
    val replica = Sinks.tmpPath("repl_spec_chain_replica")
    val replCkpt = Sinks.tmpPath("repl_spec_chain_rckpt")
    val viewLog = Sinks.tmpPath("repl_spec_chain_view")
    val viewCkpt = Sinks.tmpPath("repl_spec_chain_vckpt")
    Seq(upstream, replica, replCkpt, viewLog, viewCkpt)
      .foreach(Sinks.deleteRecursively)
    commits.zipWithIndex.foreach { case (c, i) =>
      Changelog.commit(c, upstream, i.toLong)
    }
    replicate(upstream, replica, replCkpt)
    // the view consumes the REPLICA's feed — two streaming hops from
    // the source of truth, converging on the same recompute
    materialize(replica, viewLog, viewCkpt)
    assert(servedView(viewLog) == Set((10L, 2L, 36.0), (20L, 2L, 70.0)))
    val recompute = snapshot(upstream)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"),
        (sum(round(col("o_totalprice") * 100).cast("long"))
          .cast("double") / 100.0).as("s"))
      .as[(Long, Long, Double)].collect().toSet
    assert(servedView(viewLog) == recompute)
  }

  test("TimestampType rides the full streaming round-trip: the sink " +
       "stages micros-annotated INT64, the feed spools epoch micros, " +
       "and a ts-only change labels an update (q209's substrate)") {
    val log = Sinks.tmpPath("repl_spec_ts_log")
    val ckpt = Sinks.tmpPath("repl_spec_ts_ckpt")
    val landing = Sinks.tmpPath("repl_spec_ts_landing")
    Seq(log, ckpt, landing).foreach(Sinks.deleteRecursively)
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 10:15:30.123456")
    val t1 = java.sql.Timestamp.valueOf("2024-03-01 11:15:30.123456")
    // two mtime-ordered deliveries: insert k1@t0, then shift k1 to t1
    val d0 = Seq((1L, Some(t0), "u")).toDF("k", "ts", op)
    val d1 = Seq((1L, Some(t1), "u")).toDF("k", "ts", op)
    def files() = Option(new java.io.File(landing).listFiles()).fold(
      Set.empty[java.io.File])(_.filter(_.getName.endsWith(".parquet")).toSet)
    var mtime = System.currentTimeMillis() - 8000L
    Seq(d0, d1).foreach { day =>
      val before = files()
      day.coalesce(1).write.mode("append").parquet(landing)
      (files() -- before).foreach(f => require(f.setLastModified(mtime)))
      mtime += 2000L
    }
    val q = spark.readStream.schema(d0.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(landing)
      .writeStream.format(classOf[LogSink].getName)
      .option("path", log)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the log reads back as TimestampType with MICROSECOND precision
    val snap = Changelog.snapshotAt(spark, log, Seq("k"), Long.MaxValue)
    assert(snap.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(snap.select("ts").as[java.sql.Timestamp].head() == t1)
    // the feed over the ts trackCol labels the micros-exact shift as
    // an update, old/new both timestamps — through the micros spool
    val feedCkpt = Sinks.tmpPath("repl_spec_ts_feed_ckpt")
    val out = Sinks.tmpPath("repl_spec_ts_feed_out")
    Seq(feedCkpt, out).foreach(Sinks.deleteRecursively)
    val fq = spark.readStream.format(classOf[CdcSource].getName)
      .option("path", log)
      .option("keys", "k")
      .option("trackCols", "ts")
      .load()
      .writeStream
      .option("checkpointLocation", feedCkpt)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         batchId: Long) =>
          batch.write.mode("append").parquet(out)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    fq.awaitTermination()
    val rows = spark.read.parquet(out)
      .select("k", "change_type", "old_ts", "new_ts")
      .as[(Long, String, Option[java.sql.Timestamp],
        Option[java.sql.Timestamp])].collect().toSet
    assert(rows == Set(
      (1L, "insert", None, Some(t0)),
      (1L, "update", Some(t0), Some(t1))),
      s"expected the insert@t0 then the micros-exact ts-only update; " +
        s"got $rows")
  }

  test("a group-MOVING update retracts from the old group and lands in " +
       "the new one — exact by construction in the signed explode") {
    val upstream = Sinks.tmpPath("repl_spec_mv_move_up")
    val viewLog = Sinks.tmpPath("repl_spec_mv_move_view")
    val ckpt = Sinks.tmpPath("repl_spec_mv_move_ckpt")
    Seq(upstream, viewLog, ckpt).foreach(Sinks.deleteRecursively)
    commits.zipWithIndex.foreach { case (c, i) =>
      Changelog.commit(c, upstream, i.toLong)
    }
    // commit 3 MOVES k4 from c20 to c30 (price 40.0 → 45.0): c20 must
    // retract (−1, −40.0), c30 must appear (+1, +45.0)
    Changelog.commit(
      frame(Seq((4L, Some(30L), Some(45.0), "u"))), upstream, 3L)
    materialize(upstream, viewLog, ckpt)
    assert(servedView(viewLog) ==
      Set((10L, 2L, 36.0), (20L, 1L, 30.0), (30L, 1L, 45.0)))
    // a group whose live count hits zero is filtered on read: move k3
    // away too — c20 drains to n=0 and disappears from the view
    Changelog.commit(
      frame(Seq((3L, Some(30L), Some(30.0), "u"))), upstream, 4L)
    materialize(upstream, viewLog, ckpt)
    assert(servedView(viewLog) ==
      Set((10L, 2L, 36.0), (30L, 2L, 75.0)))
    assert(snapshot(viewLog, "o_custkey")
      .filter(col("o_custkey") === 20L && col("n_orders") === 0L)
      .count() == 1L,
      "the drained group should persist in the log at n=0 (filtered " +
        "on read), proving the retraction landed rather than the row " +
        "being dropped")
  }
}
