package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.{Changelog, Sinks}
import graft.streaming.{CdcSource, StreamIvm}

/** The CDC feed as a DSv2 streaming source (q200): offsets are commit
  * ids, each micro-batch is the engine's own full-label feed for
  * exactly one commit window, restart resumes from the offset log, and
  * a below-horizon window fails loudly.
  */
class CdcSourceSpec extends SparkSpec {
  import spark.implicits._

  private val op = Changelog.OpCol

  private def frame(rows: Seq[(Long, Option[Long], Option[Double], String)]) =
    rows.toDF("o_orderkey", "o_custkey", "o_totalprice", op)

  // b0: three inserts; b1: delete k1, update k2; b2: re-insert k1
  // (resurrection through the feed), insert k4 — the StreamIvmSpec
  // CDC fixture, delivered here through readStream
  private def commits = Seq(
    frame(Seq((1L, Some(10L), Some(10.0), "u"),
      (2L, Some(10L), Some(20.0), "u"), (3L, Some(20L), Some(30.0), "u"))),
    frame(Seq((1L, None, None, "d"), (2L, Some(10L), Some(25.0), "u"))),
    frame(Seq((1L, Some(10L), Some(11.0), "u"),
      (4L, Some(20L), Some(40.0), "u"))))

  private def runConsumer(opsLog: String, rollLog: String,
                          ckpt: String): Unit = {
    val q = spark.readStream.format(classOf[CdcSource].getName)
      .option("path", opsLog)
      .option("keys", "o_orderkey")
      .option("trackCols", "o_totalprice,o_custkey")
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         batchId: Long) =>
          Changelog.commitIdempotent(
            StreamIvm.cdcDelta(batch, groupCol = "o_custkey",
              measure = "o_totalprice"),
            rollLog, batchId)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def served(rollLog: String) =
    StreamIvm.servedCdcRollup(spark, rollLog, "o_custkey")
      .as[(Long, Long, Double)].collect().sorted.toSeq

  test("readStream over the ops log: one commit per micro-batch, the " +
       "consumer's rollup converges to the recompute (q200)") {
    val opsLog = Sinks.tmpPath("cdc_source_spec_ops")
    val rollLog = Sinks.tmpPath("cdc_source_spec_roll")
    val ckpt = Sinks.tmpPath("cdc_source_spec_ckpt")
    Seq(opsLog, rollLog, ckpt).foreach(Sinks.deleteRecursively)
    commits.zipWithIndex.foreach { case (c, i) =>
      Changelog.commit(c, opsLog, i.toLong)
    }
    runConsumer(opsLog, rollLog, ckpt)
    // admission control: one ops commit per micro-batch → exactly
    // three rollup commits landed under batch ids 0..2
    assert(spark.read.parquet(rollLog)
      .select(Changelog.CommitCol).distinct()
      .as[Long].collect().sorted.toSeq == Seq(0L, 1L, 2L))
    // live: k1 11.0/c10, k2 25.0/c10, k3 30.0/c20, k4 40.0/c20
    assert(served(rollLog) == Seq((10L, 2L, 36.0), (20L, 2L, 70.0)))
    // feed-sufficiency: equals the recompute from the log's snapshot
    val recompute = Changelog
      .snapshotAt(spark, opsLog, Seq("o_orderkey"), 2L)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"),
        (sum((round(col("o_totalprice") * 100)).cast("long"))
          .cast("double") / 100.0).as("s"))
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(recompute == served(rollLog))
    // committed spools are swept — the checkpoint dir does not
    // accumulate one spool per batch forever
    val spoolRoot = new java.io.File(ckpt, "graft_cdc_spool")
    assert(Option(spoolRoot.listFiles()).toSeq.flatten.isEmpty,
      "committed spool batches were not swept")
  }

  test("the 'columns' projection reaches the SPOOL: a consumer " +
       "declaring keys + change_type never spools the old_*/new_* " +
       "sides; an undeclared consumer spools the full feed") {
    val opsLog = Sinks.tmpPath("cdc_source_spec_prune_ops")
    val out = Sinks.tmpPath("cdc_source_spec_prune_out")
    val ckpt = Sinks.tmpPath("cdc_source_spec_prune_ckpt")
    Seq(opsLog, out, ckpt).foreach(Sinks.deleteRecursively)
    commits.zipWithIndex.foreach { case (c, i) =>
      Changelog.commit(c, opsLog, i.toLong)
    }
    val q = spark.readStream.format(classOf[CdcSource].getName)
      .option("path", opsLog)
      .option("keys", "o_orderkey")
      .option("trackCols", "o_totalprice,o_custkey")
      .option("columns", "o_orderkey,change_type")
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         batchId: Long) =>
          batch.write.mode("append").parquet(out)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(CdcSource.lastSpooledColumns.get().toSet ==
      Set("o_orderkey", "change_type"),
      s"spool not pruned: ${CdcSource.lastSpooledColumns.get()}")
    // labels across the three windows: 3 inserts, then 1 delete +
    // 1 update, then 2 inserts (the resurrection reads as insert in
    // its own window)
    assert(spark.read.parquet(out).groupBy("change_type").count()
      .as[(String, Long)].collect().toMap ==
      Map("insert" -> 5L, "delete" -> 1L, "update" -> 1L))
    // the undeclared consumer (cdcDelta reads both sides) spools the
    // full feed — the projection is opt-in, never a silent narrowing
    val rollLog = Sinks.tmpPath("cdc_source_spec_prune_roll")
    val ckpt2 = Sinks.tmpPath("cdc_source_spec_prune_ckpt2")
    Seq(rollLog, ckpt2).foreach(Sinks.deleteRecursively)
    runConsumer(opsLog, rollLog, ckpt2)
    assert(CdcSource.lastSpooledColumns.get().toSet ==
      Set("o_orderkey", "new_o_totalprice", "new_o_custkey",
        "old_o_totalprice", "old_o_custkey", "change_type"))
    assert(served(rollLog) == Seq((10L, 2L, 36.0), (20L, 2L, 70.0)))
  }

  test("keyFilter serves the SLICE: the filtered feed equals the full " +
       "feed filtered, and a non-key column in the predicate fails " +
       "loudly (q210's substrate)") {
    val opsLog = Sinks.tmpPath("cdc_source_spec_slice_ops")
    Sinks.deleteRecursively(opsLog)
    commits.zipWithIndex.foreach { case (c, i) =>
      Changelog.commit(c, opsLog, i.toLong)
    }
    // batch-API equivalence over the full window (the streaming path
    // feeds through the identical call)
    val full = Changelog.changesBetween(spark, opsLog,
        Seq("o_orderkey"), -1L, 2L, Seq("o_totalprice"))
      .filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "change_type", "old_o_totalprice",
        "new_o_totalprice")
      .as[(Long, String, Option[Double], Option[Double])].collect().toSet
    val sliced = Changelog.changesBetween(spark, opsLog,
        Seq("o_orderkey"), -1L, 2L, Seq("o_totalprice"),
        keyFilter = Some("o_orderkey % 2 = 0"))
      .select("o_orderkey", "change_type", "old_o_totalprice",
        "new_o_totalprice")
      .as[(Long, String, Option[Double], Option[Double])].collect().toSet
    assert(sliced == full && sliced.nonEmpty)
    // a predicate over a non-key column cannot be pruned soundly: the
    // reference check fails LOUDLY (trusting analysis would let
    // ResolveMissingReferences resolve it through the projection and
    // filter by pre-compaction row values — silently wrong)
    val e = intercept[IllegalArgumentException] {
      Changelog.changesBetween(spark, opsLog, Seq("o_orderkey"),
        -1L, 2L, Seq("o_totalprice"),
        keyFilter = Some("o_totalprice > 0"))
    }
    assert(e.getMessage.contains("only the key columns"), e.getMessage)
  }

  test("maxCommitsPerTrigger > 1: a multi-commit window serves the NET " +
       "feed (intermediate states collapse) and the consumer still " +
       "converges") {
    val opsLog = Sinks.tmpPath("cdc_source_spec_net_ops")
    val rollLog = Sinks.tmpPath("cdc_source_spec_net_roll")
    val ckpt = Sinks.tmpPath("cdc_source_spec_net_ckpt")
    Seq(opsLog, rollLog, ckpt).foreach(Sinks.deleteRecursively)
    commits.zipWithIndex.foreach { case (c, i) =>
      Changelog.commit(c, opsLog, i.toLong)
    }
    val q = spark.readStream.format(classOf[CdcSource].getName)
      .option("path", opsLog)
      .option("keys", "o_orderkey")
      .option("trackCols", "o_totalprice,o_custkey")
      .option("maxCommitsPerTrigger", 3)
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         batchId: Long) =>
          Changelog.commitIdempotent(
            StreamIvm.cdcDelta(batch, groupCol = "o_custkey",
              measure = "o_totalprice"),
            rollLog, batchId)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // ONE batch covered (−1, 2]: k1's insert→delete→re-insert collapses
    // to a single net insert at 11.0 — exactly one rollup commit landed
    assert(spark.read.parquet(rollLog)
      .select(Changelog.CommitCol).distinct()
      .as[Long].collect().sorted.toSeq == Seq(0L))
    assert(served(rollLog) == Seq((10L, 2L, 36.0), (20L, 2L, 70.0)))
  }

  test("maxRowsPerTrigger splits a giant commit at KEY boundaries: a " +
       "3-commit burst lands in MORE than 3 batches, every key's feed " +
       "row in exactly one batch, final state identical") {
    val opsLog = Sinks.tmpPath("cdc_source_spec_rows_ops")
    val out = Sinks.tmpPath("cdc_source_spec_rows_out")
    val ckpt = Sinks.tmpPath("cdc_source_spec_rows_ckpt")
    Seq(opsLog, out, ckpt).foreach(Sinks.deleteRecursively)
    // commit 0 is the GIANT (300 rows, budget 100 → 3 slices);
    // commits 1 and 2 are small (10 rows each, 20 cumulative ≤ 100)
    // so the multi-commit admission batches them into ONE trigger →
    // 4 batches total (3 slices + 1), never one-commit-per-trigger
    Changelog.commitUpsert(
      spark.range(300).select(col("id").as("o_orderkey"),
        (col("id") % 7).as("o_custkey"),
        (col("id") * 1.5).as("o_totalprice")), opsLog, 0L)
    Changelog.commitUpsert(
      spark.range(10).select(col("id").as("o_orderkey"),
        (col("id") % 7).as("o_custkey"),
        lit(9999.0).as("o_totalprice")), opsLog, 1L)
    Changelog.commitDelete(spark,
      spark.range(290, 300).select(col("id").as("o_orderkey")), opsLog, 2L)
    val q = spark.readStream.format(classOf[CdcSource].getName)
      .option("path", opsLog)
      .option("keys", "o_orderkey")
      .option("trackCols", "o_totalprice")
      .option("maxRowsPerTrigger", 100)
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         batchId: Long) =>
          batch.withColumn("_batch", lit(batchId))
            .write.mode("append").parquet(out)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(out)
    // the burst landed in 4 batches: 3 slices of the giant, then the
    // two small commits BATCHED into one trigger (cumulative 20 ≤ 100)
    val batches = got.select("_batch").distinct().as[Long]
      .collect().sorted.toSeq
    assert(batches == Seq(0L, 1L, 2L, 3L),
      s"expected 4 batches (3 slices + 1 batched window), got $batches")
    // each of the giant commit's batches respects the row budget
    val sliceSizes = got.filter(col("_batch") < 3)
      .groupBy("_batch").count().as[(Long, Long)].collect().toMap
    assert(sliceSizes.values.sum == 300L)
    sliceSizes.foreach { case (b, n) =>
      assert(n <= 100L + 60L, // hash-uniform ±tolerance, never ~300
        s"batch $b holds $n rows — the budget did not split")
    }
    // key boundaries: every (key, change) appears in EXACTLY one batch
    val dup = got.groupBy("o_orderkey", "change_type").count()
      .filter(col("count") > 1).count()
    assert(dup == 0L, "a key's feed row landed in more than one batch")
    // the union of all batches IS the per-commit feed (same final
    // state as the unsplit consumer)
    val want =
      Changelog.changesBetween(spark, opsLog, Seq("o_orderkey"),
          -1L, 0L, Seq("o_totalprice"))
        .unionByName(Changelog.changesBetween(spark, opsLog,
          Seq("o_orderkey"), 0L, 1L, Seq("o_totalprice")))
        .unionByName(Changelog.changesBetween(spark, opsLog,
          Seq("o_orderkey"), 1L, 2L, Seq("o_totalprice")))
        .select("o_orderkey", "change_type", "old_o_totalprice",
          "new_o_totalprice")
        .as[(Long, String, Option[Double], Option[Double])]
        .collect().sorted.toSeq
    val gotAll = got
      .select("o_orderkey", "change_type", "old_o_totalprice",
        "new_o_totalprice")
      .as[(Long, String, Option[Double], Option[Double])]
      .collect().sorted.toSeq
    assert(gotAll == want)
  }

  test("maxBytesPerTrigger splits a WIDE-row commit by its footer byte " +
       "size: more batches than commits, same converged feed") {
    val opsLog = Sinks.tmpPath("cdc_source_spec_bytes_ops")
    val out = Sinks.tmpPath("cdc_source_spec_bytes_out")
    val ckpt = Sinks.tmpPath("cdc_source_spec_bytes_ckpt")
    Seq(opsLog, out, ckpt).foreach(Sinks.deleteRecursively)
    // 60 rows × ~10 KB payload ≈ 600 KB uncompressed (row-unique md5
    // repeated, so the footer's total_byte_size stays honest);
    // budget 150 KB → at least 3 slices even though only 60 ROWS
    Changelog.commitUpsert(
      spark.range(60).select(col("id").as("o_orderkey"),
        repeat(md5(concat(col("id"), lit("x"))), 320).as("payload")),
      opsLog, 0L)
    val q = spark.readStream.format(classOf[CdcSource].getName)
      .option("path", opsLog)
      .option("keys", "o_orderkey")
      .option("trackCols", "payload")
      .option("maxBytesPerTrigger", 150L * 1024)
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         batchId: Long) =>
          batch.withColumn("_batch", lit(batchId))
            .write.mode("append").parquet(out)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(out)
    val nBatches = got.select("_batch").distinct().count()
    assert(nBatches >= 3,
      s"a ~600KB commit under a 150KB byte budget must split into >= 3 " +
        s"slices, got $nBatches batches")
    // the union of the slices is the whole commit's feed, once each
    assert(got.count() == 60L)
    assert(got.groupBy("o_orderkey").count()
      .filter(col("count") > 1).count() == 0L)
  }

  test("maxCommitsPerTrigger still CAPS multi-commit admission when " +
       "set alongside a row budget") {
    val opsLog = Sinks.tmpPath("cdc_source_spec_cap_ops")
    val out = Sinks.tmpPath("cdc_source_spec_cap_out")
    val ckpt = Sinks.tmpPath("cdc_source_spec_cap_ckpt")
    Seq(opsLog, out, ckpt).foreach(Sinks.deleteRecursively)
    // three tiny commits, all far below the row budget: without the
    // cap they would batch into one trigger; with cap 1 each commit
    // is its own batch
    for (i <- 0L to 2L)
      Changelog.commitUpsert(
        spark.range(i * 10, i * 10 + 10).select(
          col("id").as("o_orderkey"), (col("id") * 2.0).as("o_totalprice")),
        opsLog, i)
    val q = spark.readStream.format(classOf[CdcSource].getName)
      .option("path", opsLog)
      .option("keys", "o_orderkey")
      .option("trackCols", "o_totalprice")
      .option("maxRowsPerTrigger", 1000)
      .option("maxCommitsPerTrigger", 1)
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         batchId: Long) =>
          batch.withColumn("_batch", lit(batchId))
            .write.mode("append").parquet(out)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batches = spark.read.parquet(out).select("_batch").distinct()
      .as[Long].collect().sorted.toSeq
    assert(batches == Seq(0L, 1L, 2L),
      s"cap 1 must serve one commit per trigger, got $batches")
  }

  test("restart from checkpoint: only commits landed since the stop " +
       "are processed; the resumed rollup equals the uninterrupted one") {
    val opsLog = Sinks.tmpPath("cdc_source_spec_restart_ops")
    val rollLog = Sinks.tmpPath("cdc_source_spec_restart_roll")
    val ckpt = Sinks.tmpPath("cdc_source_spec_restart_ckpt")
    Seq(opsLog, rollLog, ckpt).foreach(Sinks.deleteRecursively)
    // land only the first two commits, consume them
    commits.take(2).zipWithIndex.foreach { case (c, i) =>
      Changelog.commit(c, opsLog, i.toLong)
    }
    runConsumer(opsLog, rollLog, ckpt)
    assert(spark.read.parquet(rollLog)
      .select(Changelog.CommitCol).distinct()
      .as[Long].collect().sorted.toSeq == Seq(0L, 1L))
    // the third commit arrives; the SAME checkpoint resumes — exactly
    // one more batch (the new commit's window), batch ids continue
    Changelog.commit(commits(2), opsLog, 2L)
    runConsumer(opsLog, rollLog, ckpt)
    assert(spark.read.parquet(rollLog)
      .select(Changelog.CommitCol).distinct()
      .as[Long].collect().sorted.toSeq == Seq(0L, 1L, 2L))
    assert(served(rollLog) == Seq((10L, 2L, 36.0), (20L, 2L, 70.0)))
  }

  test("a feed window below the log's checkpoint horizon fails LOUDLY " +
       "on restart — never a silent empty old-state") {
    val opsLog = Sinks.tmpPath("cdc_source_spec_horizon_ops")
    val rollLog = Sinks.tmpPath("cdc_source_spec_horizon_roll")
    val ckpt = Sinks.tmpPath("cdc_source_spec_horizon_ckpt")
    Seq(opsLog, rollLog, ckpt).foreach(Sinks.deleteRecursively)
    commits.take(2).zipWithIndex.foreach { case (c, i) =>
      Changelog.commit(c, opsLog, i.toLong)
    }
    runConsumer(opsLog, rollLog, ckpt)
    // the log checkpoints PAST the consumer's committed offset (1):
    // land one more commit and fold everything — the consumer's next
    // window (1, 2] now starts below horizon 2
    Changelog.commit(commits(2), opsLog, 2L)
    Changelog.checkpoint(spark, opsLog, Seq("o_orderkey"), 2L)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runConsumer(opsLog, rollLog, ckpt)
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c =>
      Option(c.getMessage).exists(_.contains("horizon"))),
      s"expected the loud horizon guard, got: ${e.getMessage}")
    // nothing landed for the refused window
    assert(spark.read.parquet(rollLog)
      .select(Changelog.CommitCol).distinct()
      .as[Long].collect().sorted.toSeq == Seq(0L, 1L))
  }

  test("a fresh consumer on a checkpointed log starts AT the horizon " +
       "(never below), and startVersion overrides explicitly") {
    val opsLog = Sinks.tmpPath("cdc_source_spec_fresh_ops")
    val rollLog = Sinks.tmpPath("cdc_source_spec_fresh_roll")
    val ckpt = Sinks.tmpPath("cdc_source_spec_fresh_ckpt")
    Seq(opsLog, rollLog, ckpt).foreach(Sinks.deleteRecursively)
    commits.zipWithIndex.foreach { case (c, i) =>
      Changelog.commit(c, opsLog, i.toLong)
    }
    Changelog.checkpoint(spark, opsLog, Seq("o_orderkey"), 1L)
    // horizon is 1: a fresh consumer's first window is (1, 2] — only
    // commit 2's changes flow; the folded history is not replayed
    runConsumer(opsLog, rollLog, ckpt)
    assert(spark.read.parquet(rollLog)
      .select(Changelog.CommitCol).distinct()
      .as[Long].collect().sorted.toSeq == Seq(0L))
    // commit 2 inserts k1(11.0, c10) and k4(40.0, c20) vs state at 1
    assert(served(rollLog) == Seq((10L, 1L, 11.0), (20L, 1L, 40.0)))
  }

  test("startingTimestamp starts the stream at the first commit " +
       "stamped at/after the instant (Delta's semantics); refusals " +
       "for unstamped logs and mixed start options") {
    val opsLog = Sinks.tmpPath("cdc_ts_ops")
    val out = Sinks.tmpPath("cdc_ts_out")
    val ckpt = Sinks.tmpPath("cdc_ts_ckpt")
    Seq(opsLog, out, ckpt).foreach(Sinks.deleteRecursively)
    commits.zipWithIndex.foreach { case (c, i) =>
      Changelog.commitStamped(c, opsLog, i.toLong, 1000L * (i + 1)) }
    def run(options: Map[String, String], outDir: String,
            ckptDir: String): Unit = {
      val r = spark.readStream.format(classOf[CdcSource].getName)
        .option("path", opsLog).option("keys", "o_orderkey")
        .option("trackCols", "o_totalprice")
        .options(options)
        .load()
        .writeStream.option("checkpointLocation", ckptDir)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           id: Long) => b.write.mode("append").parquet(outDir)
        }
        .trigger(Trigger.AvailableNow()).start()
      r.awaitTermination()
    }
    // ts 1500: the first served commit is #1 (stamped 2000) — exactly
    // the windows (0,1] and (1,2]
    run(Map("startingTimestamp" -> "1500"), out, ckpt)
    val got = spark.read.parquet(out)
      .select("o_orderkey", "change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val want = (Changelog.changesBetween(spark, opsLog,
        Seq("o_orderkey"), 0L, 1L, Seq("o_totalprice"))
      .unionByName(Changelog.changesBetween(spark, opsLog,
        Seq("o_orderkey"), 1L, 2L, Seq("o_totalprice"))))
      .select("o_orderkey", "change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == want)
    // ts exactly on a stamp (2000): commit #1 itself is served
    val out2 = Sinks.tmpPath("cdc_ts_out2")
    val ckpt2 = Sinks.tmpPath("cdc_ts_ckpt2")
    Seq(out2, ckpt2).foreach(Sinks.deleteRecursively)
    run(Map("startingTimestamp" -> "2000"), out2, ckpt2)
    assert(spark.read.parquet(out2).select("o_orderkey", "change_type")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet == want)
    // mixed start options refuse loudly
    intercept[IllegalArgumentException] {
      spark.readStream.format(classOf[CdcSource].getName)
        .option("path", opsLog).option("keys", "o_orderkey")
        .option("trackCols", "o_totalprice")
        .option("startVersion", "0").option("startingTimestamp", "1500")
        .load()
    }
    // an unstamped log cannot be clock-addressed
    val raw = Sinks.tmpPath("cdc_ts_raw")
    Sinks.deleteRecursively(raw)
    commits.zipWithIndex.foreach { case (c, i) =>
      Changelog.commit(c, raw, i.toLong) }
    intercept[IllegalArgumentException] {
      spark.readStream.format(classOf[CdcSource].getName)
        .option("path", raw).option("keys", "o_orderkey")
        .option("trackCols", "o_totalprice")
        .option("startingTimestamp", "1500")
        .load()
    }
  }
}
