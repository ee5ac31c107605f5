package graft

import org.apache.spark.sql.functions._
import graft.ingest.RawZoneGen
import graft.streaming.StreamIvm
import graft.transform.Financials

/** Streaming materialized-view maintenance (streaming/StreamIvm, q131):
  * consuming the raw zone's days one micro-batch at a time and running
  * the q128 exact-IVM step per batch must converge to the SAME rollup
  * as a full recompute from the whole raw zone — the retraction math
  * has to survive the foreachBatch delivery path (nested executions,
  * lazy plans over files the upsert is about to rewrite) exactly as it
  * does under the batch scheduler.
  */
class StreamIvmSpec extends SparkSpec {

  test("streamed day-by-day maintenance equals the full recompute") {
    val syms = 10 // smallest universe; still has stale 10th-symbol rows
    val rawPath = RawZoneGen.stagedPath(spark, syms)

    val maintained = StreamIvm.maintainedRollup(spark, rawPath, "spec")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toSet

    // full recompute: normalize the ENTIRE raw zone in one shot (the
    // q38 path — its within-universe precedence law yields the same
    // final fact state the day-by-day upserts converge to), then
    // aggregate with the identical integer partials
    val valueQ = (col("value") * 4).cast("long")
    val recomputed = Financials.normalize(spark.read.parquet(rawPath))
      .groupBy("stock", "calendar_year")
      .agg(count(lit(1)).as("n_facts"),
        sum(when(col("value").isNotNull, 1L).otherwise(0L)).as("nn"),
        sum(valueQ).as("sum_q"))
      .select(col("stock"), col("calendar_year"), col("n_facts"),
        when(col("nn") === 0L, lit(null).cast("double"))
          .otherwise(col("sum_q").cast("double") / 4.0).as("sum_value"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Double]))).toSet

    assert(maintained.nonEmpty)
    assert(maintained === recomputed)
  }

  test("MVCC variant converges identically and absorbs batch re-delivery") {
    val syms = 10
    val rawPath = RawZoneGen.stagedPath(spark, syms)
    val raw = spark.read.parquet(rawPath)
      .select(col("symbol"), col("payload"), col("loaded_at"),
        col("load_date").cast("date"))

    def served = StreamIvm.maintainedRollupMvcc(spark, rawPath, "mvccspec")
    val first = served.collect().map(_.toSeq).toSet
    val inPlace = StreamIvm.maintainedRollup(spark, rawPath, "mvccspec")
      .collect().map(_.toSeq).toSet
    assert(first.nonEmpty)
    assert(first === inPlace) // both streaming paths, identical table

    // at-least-once re-delivery: re-apply a MIDDLE batch and the LAST
    // batch with their original commit ids (the foreachBatch retry
    // contract). Every re-application must land byte-identically —
    // retraction inputs are the immutable commits < b, and the writes
    // overwrite only the batch's own commit directories.
    val factLog = graft.sources.Sinks.tmpPath("stream_ivm_mvcc_fact_mvccspec")
    val rollLog = graft.sources.Sinks.tmpPath("stream_ivm_mvcc_roll_mvccspec")
    val days = raw.select(col("load_date")).distinct()
      .collect().map(_.getDate(0).toString).sorted
    Seq(1, days.length - 1).distinct.foreach { i =>
      StreamIvm.applyBatchMvcc(spark,
        raw.filter(col("load_date") === lit(days(i))), i.toLong,
        factLog, rollLog)
      val after = spark.read.parquet(rollLog)
        .groupBy(col("stock"), col("calendar_year"))
        .agg(sum(col("n_facts")).as("n_facts"), sum(col("nn")).as("nn"),
          sum(col("sum_q")).as("sum_q"))
        .filter(col("n_facts") =!= 0L)
        .select(col("stock"), col("calendar_year"), col("n_facts"),
          when(col("nn") === 0L, lit(null).cast("double"))
            .otherwise(col("sum_q").cast("double") / 4.0).as("sum_value"))
        .collect().map(_.toSeq).toSet
      assert(after === first, s"re-delivery of batch $i changed the rollup")
    }
  }

  test("MVCC maintenance stream resumes from its checkpoint across a restart") {
    // The round-10 verdict's restart leg for the q131 shape: apply the
    // first two day-increments, let AvailableNow terminate, land the
    // remaining days, then START A NEW QUERY on the same checkpoint.
    // The file source's committed offsets must skip the applied days
    // and the batch counter must CONTINUE (commit ids 2, 3, … — a
    // reset-to-0 restart would overwrite the landed commits), so the
    // served rollup equals the uninterrupted run's bit for bit.
    val syms = 10
    val rawPath = RawZoneGen.stagedPath(spark, syms)
    val raw = spark.read.parquet(rawPath)
      .select(col("symbol"), col("payload"), col("loaded_at"),
        col("load_date").cast("date"))
    val days = raw.select(col("load_date")).distinct()
      .collect().map(_.getDate(0).toString).sorted
    assert(days.length >= 3, "fixture must span ≥3 days to restart mid-run")

    val landing = graft.sources.Sinks.tmpPath("stream_ivm_restart_in")
    val factLog = graft.sources.Sinks.tmpPath("stream_ivm_restart_fact")
    val rollLog = graft.sources.Sinks.tmpPath("stream_ivm_restart_roll")
    val ckptDir = graft.sources.Sinks.tmpPath("stream_ivm_restart_ckpt")
    Seq(landing, factLog, rollLog, ckptDir)
      .foreach(graft.sources.Sinks.deleteRecursively)

    def parts(): Set[java.io.File] =
      Option(new java.io.File(landing).listFiles()).fold(
        Set.empty[java.io.File])(
        _.filter(_.getName.startsWith("part-")).toSet)
    var mtime = System.currentTimeMillis()
    def landDay(day: String): Unit = {
      val before = parts()
      raw.filter(col("load_date") === lit(day))
        .coalesce(1).write.mode("append").parquet(landing)
      mtime = math.max(mtime + 2000L, System.currentTimeMillis())
      (parts() -- before).foreach(_.setLastModified(mtime))
    }
    def commitIds(log: String): Set[String] =
      Option(new java.io.File(log).listFiles()).fold(Set.empty[String])(
        _.filter(f => f.isDirectory &&
          f.getName.startsWith(graft.sources.Changelog.CommitCol + "="))
          .map(_.getName).toSet)

    days.take(2).foreach(landDay)
    StreamIvm.runMvccStreamAt(spark, landing, factLog, rollLog, ckptDir)
    val afterStop = commitIds(factLog)
    assert(afterStop === Set("_commit=0", "_commit=1"))

    days.drop(2).foreach(landDay)
    StreamIvm.runMvccStreamAt(spark, landing, factLog, rollLog, ckptDir)
    // batch counter continued: one commit per day, ids 0..n−1
    assert(commitIds(factLog) ===
      days.indices.map(i => s"_commit=$i").toSet)

    val resumed = StreamIvm.servedRollup(spark, rollLog)
      .collect().map(_.toSeq).toSet
    val control = StreamIvm.maintainedRollupMvcc(spark, rawPath, "restartctl")
      .collect().map(_.toSeq).toSet
    assert(resumed.nonEmpty)
    assert(resumed === control)
  }

  test("CDC-consumer maintenance (q186 kernel): converges to the live " +
       "rollup across deletes, absorbs redelivery, and a window below " +
       "the checkpoint horizon fails loudly instead of double-counting") {
    import spark.implicits._
    val opsLog = graft.sources.Sinks.tmpPath("stream_cdc_spec_ops")
    val rollLog = graft.sources.Sinks.tmpPath("stream_cdc_spec_roll")
    Seq(opsLog, rollLog).foreach(graft.sources.Sinks.deleteRecursively)
    val op = graft.sources.Changelog.OpCol
    def frame(rows: Seq[(Long, Option[Long], Option[Double], String)]) =
      rows.toDF("o_orderkey", "o_custkey", "o_totalprice", op)
    // b0: three inserts; b1: delete k1, update k2; b2: re-insert k1
    // (resurrection through the feed), insert k4
    val batches = Seq(
      frame(Seq((1L, Some(10L), Some(10.0), "u"),
        (2L, Some(10L), Some(20.0), "u"), (3L, Some(20L), Some(30.0), "u"))),
      frame(Seq((1L, None, None, "d"), (2L, Some(10L), Some(25.0), "u"))),
      frame(Seq((1L, Some(10L), Some(11.0), "u"),
        (4L, Some(20L), Some(40.0), "u"))))
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamIvm.applyBatchCdc(spark, b, i.toLong, opsLog, rollLog,
        key = "o_orderkey", groupCol = "o_custkey",
        measure = "o_totalprice")
    }
    def served = StreamIvm.servedCdcRollup(spark, rollLog, "o_custkey")
      .as[(Long, Long, Double)].collect().sorted.toSeq
    // live state: k1 11.0/c10, k2 25.0/c10, k3 30.0/c20, k4 40.0/c20
    val expected = Seq((10L, 2L, 36.0), (20L, 2L, 70.0))
    assert(served == expected)
    // the consumer's rollup equals the recompute from the log's own
    // final snapshot — the feed-sufficiency contract
    val recompute = graft.sources.Changelog
      .snapshotAt(spark, opsLog, Seq("o_orderkey"), 2L)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"),
        (sum((round(col("o_totalprice") * 100)).cast("long"))
          .cast("double") / 100.0).as("s"))
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(recompute == expected)
    // at-least-once redelivery of a middle and the last batch: both
    // re-land byte-identically (ops commit overwritten, feed window
    // re-read over identical endpoint states, delta overwritten)
    Seq(1, 2).foreach { i =>
      StreamIvm.applyBatchCdc(spark, batches(i), i.toLong, opsLog, rollLog,
        key = "o_orderkey", groupCol = "o_custkey",
        measure = "o_totalprice")
      assert(served == expected, s"redelivery of batch $i changed the rollup")
    }
    // checkpoint the ops log at the head, then redeliver the last
    // batch: its feed window (1, 2] now starts BELOW the horizon — the
    // guard must refuse (a silent empty stateAt(1) would relabel the
    // batch's updates as inserts and double-count downstream)
    graft.sources.Changelog.checkpoint(spark, opsLog,
      Seq("o_orderkey"), 2L)
    val e = intercept[IllegalArgumentException] {
      StreamIvm.applyBatchCdc(spark, batches(2), 2L, opsLog, rollLog,
        key = "o_orderkey", groupCol = "o_custkey",
        measure = "o_totalprice")
    }
    assert(e.getMessage.contains("horizon"))
    assert(served == expected) // the refused redelivery changed nothing
    // and it was refused BEFORE landing: the folded base commit is
    // intact (a commit-first ordering would have overwritten it with
    // just the batch's two rows)
    assert(graft.sources.Changelog
      .snapshotAt(spark, opsLog, Seq("o_orderkey"), 2L).count() == 4L)
  }

  test("CDC consumer: an update that MOVES a key between groups " +
       "retracts from the old group and contributes to the new one") {
    import spark.implicits._
    val opsLog = graft.sources.Sinks.tmpPath("stream_cdc_spec_move_ops")
    val rollLog = graft.sources.Sinks.tmpPath("stream_cdc_spec_move_roll")
    Seq(opsLog, rollLog).foreach(graft.sources.Sinks.deleteRecursively)
    val op = graft.sources.Changelog.OpCol
    def frame(rows: Seq[(Long, Option[Long], Option[Double], String)]) =
      rows.toDF("o_orderkey", "o_custkey", "o_totalprice", op)
    // b0: k1/k2 in group 10, k3 in group 20;
    // b1: k1 MOVES 10 → 20 (price also changes), k2 stays in 10
    val batches = Seq(
      frame(Seq((1L, Some(10L), Some(10.0), "u"),
        (2L, Some(10L), Some(20.0), "u"), (3L, Some(20L), Some(30.0), "u"))),
      frame(Seq((1L, Some(20L), Some(15.0), "u"),
        (2L, Some(10L), Some(22.0), "u"))))
    batches.zipWithIndex.foreach { case (b, i) =>
      StreamIvm.applyBatchCdc(spark, b, i.toLong, opsLog, rollLog,
        key = "o_orderkey", groupCol = "o_custkey",
        measure = "o_totalprice")
    }
    val served = StreamIvm.servedCdcRollup(spark, rollLog, "o_custkey")
      .as[(Long, Long, Double)].collect().sorted.toSeq
    // live: k2 22.0 in group 10; k1 15.0 + k3 30.0 in group 20 — the
    // one-sided (coalesce'd) form would have served group 10 with
    // count 2 and k1's stale 10.0 never retracted
    assert(served == Seq((10L, 1L, 22.0), (20L, 2L, 45.0)))
    // feed-sufficiency: equals the recompute from the final snapshot
    val recompute = graft.sources.Changelog
      .snapshotAt(spark, opsLog, Seq("o_orderkey"), 1L)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"),
        (sum((round(col("o_totalprice") * 100)).cast("long"))
          .cast("double") / 100.0).as("s"))
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(recompute == served)
    // a group emptied BY a move vanishes: b2 moves k2 to 20 as well
    StreamIvm.applyBatchCdc(spark,
      frame(Seq((2L, Some(20L), Some(22.0), "u"))), 2L, opsLog, rollLog,
      key = "o_orderkey", groupCol = "o_custkey", measure = "o_totalprice")
    assert(StreamIvm.servedCdcRollup(spark, rollLog, "o_custkey")
      .as[(Long, Long, Double)].collect().sorted.toSeq ==
      Seq((20L, 3L, 67.0)))
  }
}
