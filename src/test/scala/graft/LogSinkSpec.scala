package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.sources.{Changelog, Sinks}
import graft.streaming.LogSink

/** The ops log as a DSv2 streaming SINK (q204): epochs land as commits
  * under the claim arbitration, restart continues the epoch sequence,
  * shape and foreign-writer conflicts are loud at the right times.
  */
class LogSinkSpec extends SparkSpec {
  import spark.implicits._

  private val op = Changelog.OpCol

  private val landingSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_totalprice", DoubleType),
    StructField(op, StringType)))

  private def frame(rows: Seq[(Long, Option[Long], Option[Double], String)]) =
    rows.toDF("o_orderkey", "o_custkey", "o_totalprice", op)

  private def commits = Seq(
    frame(Seq((1L, Some(10L), Some(10.0), "u"),
      (2L, Some(10L), Some(20.0), "u"), (3L, Some(20L), Some(30.0), "u"))),
    frame(Seq((1L, None, None, "d"), (2L, Some(10L), Some(25.0), "u"))),
    frame(Seq((1L, Some(10L), Some(11.0), "u"),
      (4L, Some(20L), Some(40.0), "u"))))

  /** Land `dfs` as mtime-ordered files (one micro-batch each). */
  private def stage(landing: String,
                    dfs: Seq[org.apache.spark.sql.DataFrame]): Unit = {
    def files() = Option(new java.io.File(landing).listFiles()).fold(
      Set.empty[java.io.File])(_.filter(_.getName.endsWith(".parquet")).toSet)
    var mtime = System.currentTimeMillis() - (dfs.length + 2) * 2000L
    dfs.foreach { df =>
      val before = files()
      df.coalesce(1).write.mode("append").parquet(landing)
      (files() -- before).foreach(f =>
        require(f.setLastModified(mtime), s"setLastModified failed on $f"))
      mtime += 2000L
    }
  }

  private def runSink(landing: String, log: String, ckpt: String): Unit = {
    val q = spark.readStream.schema(landingSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(landing)
      .writeStream.format(classOf[LogSink].getName)
      .option("path", log)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("writeStream into the ops log: epochs land as claimed commits " +
       "and the snapshot equals the batch-committed log (q204)") {
    val landing = Sinks.tmpPath("log_sink_spec_landing")
    val log = Sinks.tmpPath("log_sink_spec_log")
    val ckpt = Sinks.tmpPath("log_sink_spec_ckpt")
    Seq(landing, log, ckpt).foreach(Sinks.deleteRecursively)
    stage(landing, commits)
    runSink(landing, log, ckpt)
    // three epochs = three commits, each claimed for the default writer
    for (c <- 0L to 2L)
      assert(Changelog.claimHolder(log, c).contains(Changelog.SoloWriter))
    val got = Changelog.snapshotAt(spark, log, Seq("o_orderkey"),
        Long.MaxValue)
      .select("o_orderkey", "o_totalprice")
      .as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 11.0, 2L -> 25.0, 3L -> 30.0, 4L -> 40.0))
    // the control: the same frames batch-committed read identically
    val ctl = Sinks.tmpPath("log_sink_spec_ctl")
    Sinks.deleteRecursively(ctl)
    commits.zipWithIndex.foreach { case (c, i) =>
      Changelog.commit(c, ctl, i.toLong)
    }
    assert(Changelog.snapshotAt(spark, ctl, Seq("o_orderkey"),
        Long.MaxValue)
      .select("o_orderkey", "o_totalprice")
      .as[(Long, Double)].collect().toMap == got)
    // no staging debris survives the committed epochs
    assert(Option(new java.io.File(log, "__stream_staging").listFiles())
      .toSeq.flatten.isEmpty)
    // the feed over the sunk log serves the usual labels — the sink
    // and CdcSource compose into stream-in/stream-out
    assert(Changelog.changesBetween(spark, log, Seq("o_orderkey"),
        0L, 2L, trackCols = Seq("o_totalprice"))
      .filter(col("change_type") === "update").count() == 2L)
  }

  test("restart continues the epoch sequence: a new landing file lands " +
       "as the NEXT commit; earlier commits untouched") {
    val landing = Sinks.tmpPath("log_sink_spec_restart_landing")
    val log = Sinks.tmpPath("log_sink_spec_restart_log")
    val ckpt = Sinks.tmpPath("log_sink_spec_restart_ckpt")
    Seq(landing, log, ckpt).foreach(Sinks.deleteRecursively)
    stage(landing, commits.take(2))
    runSink(landing, log, ckpt)
    assert(Changelog.snapshotAt(spark, log, Seq("o_orderkey"), 1L)
      .count() == 2L) // k1 deleted, k2+k3 live
    val before = Option(new java.io.File(log,
      s"${Changelog.CommitCol}=0").listFiles()).toSeq.flatten
      .map(f => f.getName -> f.lastModified()).toMap
    stage(landing, Seq(commits(2)))
    runSink(landing, log, ckpt)
    // epoch 2 landed; commit 0's files untouched byte-for-byte
    assert(Changelog.snapshotAt(spark, log, Seq("o_orderkey"), 2L)
      .count() == 4L)
    val after = Option(new java.io.File(log,
      s"${Changelog.CommitCol}=0").listFiles()).toSeq.flatten
      .map(f => f.getName -> f.lastModified()).toMap
    assert(after == before, "restart rewrote an already-landed commit")
  }

  test("a FRESH query (new checkpoint, epochs restarting at 0) on an " +
       "EXISTING log APPENDS after the head — never overwrites " +
       "commit 0 (the per-query base marker)") {
    val landing = Sinks.tmpPath("log_sink_spec_fresh_landing")
    val log = Sinks.tmpPath("log_sink_spec_fresh_log")
    Seq(landing, log).foreach(Sinks.deleteRecursively)
    // an existing log with two landed commits
    commits.take(2).zipWithIndex.foreach { case (c, i) =>
      Changelog.commit(c, log, i.toLong)
    }
    val snap1 = Changelog.snapshotAt(spark, log, Seq("o_orderkey"), 1L)
      .select("o_orderkey", "o_totalprice")
      .as[(Long, Double)].collect().toMap
    // a brand-new sink query delivers one batch — its epoch 0 must
    // land as commit 2, not clobber commit 0
    stage(landing, Seq(commits(2)))
    runSink(landing, log, Sinks.tmpPath("log_sink_spec_fresh_ckpt1"))
    assert(Changelog.snapshotAt(spark, log, Seq("o_orderkey"), 1L)
      .select("o_orderkey", "o_totalprice")
      .as[(Long, Double)].collect().toMap == snap1,
      "a fresh sink query rewrote existing history")
    assert(Changelog.snapshotAt(spark, log, Seq("o_orderkey"), 2L)
      .count() == 4L)
    // a SECOND fresh query appends again — at commit 3
    val landing2 = Sinks.tmpPath("log_sink_spec_fresh_landing2")
    Sinks.deleteRecursively(landing2)
    stage(landing2, Seq(frame(Seq((9L, Some(30L), Some(90.0), "u")))))
    runSink(landing2, log, Sinks.tmpPath("log_sink_spec_fresh_ckpt2"))
    assert(new java.io.File(log, s"${Changelog.CommitCol}=3").isDirectory)
    assert(Changelog.snapshotAt(spark, log, Seq("o_orderkey"), 3L)
      .count() == 5L)
  }

  test("multiWriter: two CONCURRENT producers interleave into one log " +
       "— disjoint keys compose deterministically (q208; 3 trials)") {
    for (trial <- 1 to 3) {
      val landingA = Sinks.tmpPath(s"log_sink_spec_mw_la_$trial")
      val landingB = Sinks.tmpPath(s"log_sink_spec_mw_lb_$trial")
      val log = Sinks.tmpPath(s"log_sink_spec_mw_log_$trial")
      val ckptA = Sinks.tmpPath(s"log_sink_spec_mw_ca_$trial")
      val ckptB = Sinks.tmpPath(s"log_sink_spec_mw_cb_$trial")
      Seq(landingA, landingB, log, ckptA, ckptB)
        .foreach(Sinks.deleteRecursively)
      def half(df: org.apache.spark.sql.DataFrame, parity: Int) =
        df.filter(col("o_orderkey") % 2 === parity)
      stage(landingA, commits.map(half(_, 1))) // k1, k3
      stage(landingB, commits.map(half(_, 0))) // k2, k4
      def sink(landing: String, ckpt: String) =
        spark.readStream.schema(landingSchema)
          .option("maxFilesPerTrigger", 1)
          .parquet(landing)
          .writeStream.format(classOf[LogSink].getName)
          .option("path", log)
          .option("multiWriter", "true")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
      val qa = sink(landingA, ckptA)
      val qb = sink(landingB, ckptB)
      qa.awaitTermination()
      qb.awaitTermination()
      // six epochs claimed six CONTIGUOUS ids in some interleave
      assert(spark.read.parquet(log).select(Changelog.CommitCol)
        .distinct().as[Long].collect().sorted.toSeq ==
        (0L to 5L), s"trial $trial")
      // one epoch→commit map marker per epoch
      assert(Option(new java.io.File(log).listFiles()).toSeq.flatten
        .count(_.getName.startsWith("_graft_sinkmap_")) == 6,
        s"trial $trial")
      // the final state is interleave-independent (keys disjoint,
      // per-producer epoch order monotone in commit id)
      assert(Changelog.snapshotAt(spark, log, Seq("o_orderkey"),
          Long.MaxValue)
        .select("o_orderkey", "o_totalprice")
        .as[(Long, Double)].collect().toMap ==
        Map(1L -> 11.0, 2L -> 25.0, 3L -> 30.0, 4L -> 40.0),
        s"trial $trial")
    }
  }

  test("multiWriter is WHY: under the static base mapping a resumed " +
       "producer collides with a second producer's commit (loud " +
       "foreign claim); with multiWriter the continuation claims past " +
       "it, and a checkpoint sweeps the stale map markers") {
    // --- the failure the mode exists for (default static mapping) ---
    val landingA = Sinks.tmpPath("log_sink_spec_mwwhy_la")
    val landingB = Sinks.tmpPath("log_sink_spec_mwwhy_lb")
    val log = Sinks.tmpPath("log_sink_spec_mwwhy_log")
    val ckptA = Sinks.tmpPath("log_sink_spec_mwwhy_ca")
    Seq(landingA, landingB, log, ckptA).foreach(Sinks.deleteRecursively)
    def sinkOpts(landing: String, ckpt: String, opts: Map[String, String]) = {
      val w = spark.readStream.schema(landingSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .writeStream.format(classOf[LogSink].getName)
        .option("path", log)
        .option("checkpointLocation", ckpt)
      val q = opts.foldLeft(w) { case (b, (k, v)) => b.option(k, v) }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    stage(landingA, commits.take(2))
    sinkOpts(landingA, ckptA, Map("writer" -> "wA")) // commits 0, 1
    stage(landingB, Seq(frame(Seq((8L, Some(30L), Some(80.0), "u")))))
    sinkOpts(landingB, Sinks.tmpPath("log_sink_spec_mwwhy_cb"),
      Map("writer" -> "wB")) // fresh query: base marker → commit 2
    stage(landingA, Seq(commits(2)))
    val e = intercept[Exception] {
      sinkOpts(landingA, ckptA, Map("writer" -> "wA")) // epoch 2 → id 2
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => Option(c.getMessage)
      .exists(_.contains("claimed by writer 'wB'"))), e.getMessage)

    // --- the same sequence under multiWriter lands cleanly ---
    val landingC = Sinks.tmpPath("log_sink_spec_mwok_lc")
    val landingD = Sinks.tmpPath("log_sink_spec_mwok_ld")
    val log2 = Sinks.tmpPath("log_sink_spec_mwok_log")
    val ckptC = Sinks.tmpPath("log_sink_spec_mwok_cc")
    Seq(landingC, landingD, log2, ckptC).foreach(Sinks.deleteRecursively)
    def sink2(landing: String, ckpt: String): Unit = {
      val q = spark.readStream.schema(landingSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .writeStream.format(classOf[LogSink].getName)
        .option("path", log2)
        .option("multiWriter", "true")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    stage(landingC, commits.take(2))
    sink2(landingC, ckptC) // commits 0, 1
    stage(landingD, Seq(frame(Seq((8L, Some(30L), Some(80.0), "u")))))
    sink2(landingD, Sinks.tmpPath("log_sink_spec_mwok_cd")) // commit 2
    stage(landingC, Seq(commits(2)))
    sink2(landingC, ckptC) // epoch 2 claims PAST the foreign id → 3
    assert(new java.io.File(log2, s"${Changelog.CommitCol}=3").isDirectory)
    assert(Changelog.snapshotAt(spark, log2, Seq("o_orderkey"),
        Long.MaxValue)
      .select("o_orderkey", "o_totalprice")
      .as[(Long, Double)].collect().toMap ==
      Map(1L -> 11.0, 2L -> 25.0, 3L -> 30.0, 4L -> 40.0, 8L -> 80.0))
    // the checkpoint sweeps map markers whose commit folded below the
    // horizon; the at-horizon marker survives
    Changelog.checkpoint(spark, log2, Seq("o_orderkey"), 3L)
    val left = Option(new java.io.File(log2).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("_graft_sinkmap_"))
    assert(left.length == 1 &&
      scala.io.Source.fromFile(left.head).mkString.trim == "3",
      s"expected only the at-horizon map marker, got " +
        left.map(_.getName).mkString(", "))
  }

  test("planning-time guards: a plain stream into an ops log is " +
       "refused before any epoch runs; a foreign writer's claim on " +
       "the epoch id fails the stream loudly") {
    val landing = Sinks.tmpPath("log_sink_spec_guard_landing")
    val log = Sinks.tmpPath("log_sink_spec_guard_log")
    Seq(landing, log).foreach(Sinks.deleteRecursively)
    Changelog.commitUpsert(Seq((9L, 1.0)).toDF("o_orderkey", "p"), log, 0L)
    stage(landing, Seq(frame(Seq((1L, Some(1L), Some(1.0), "u")))
      .drop(op))) // plain-shaped landing
    val plainSchema = StructType(landingSchema.filterNot(_.name == op))
    val e = intercept[Exception] {
      val q = spark.readStream.schema(plainSchema)
        .parquet(landing)
        .writeStream.format(classOf[LogSink].getName)
        .option("path", log)
        .option("checkpointLocation",
          Sinks.tmpPath("log_sink_spec_guard_ckpt"))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => Option(c.getMessage)
      .exists(_.contains("OPS log"))), e.getMessage)
    // nothing landed
    assert(Changelog.snapshotAt(spark, log, Seq("o_orderkey"),
      Long.MaxValue).count() == 1L)
    // foreign claim: epoch 0 of a FRESH log pre-claimed by another
    // writer — the stream's first commit must fail loudly
    val log2 = Sinks.tmpPath("log_sink_spec_guard_log2")
    val landing2 = Sinks.tmpPath("log_sink_spec_guard_landing2")
    Seq(log2, landing2).foreach(Sinks.deleteRecursively)
    stage(landing2, Seq(commits(0)))
    new java.io.File(log2).mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(log2, "_graft_claim_0"),
      "someoneElse".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val e2 = intercept[Exception] {
      runSink(landing2, log2,
        Sinks.tmpPath("log_sink_spec_guard_ckpt2"))
    }
    assert(causes(e2).exists(c => Option(c.getMessage)
      .exists(_.contains("claimed by writer 'someoneElse'"))),
      e2.getMessage)
  }
}
