package graft

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.connector.catalog.SupportsWrite
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, RowLevelOperation, RowLevelOperationInfo, SupportsDelta}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType, TimestampNTZType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{Changelog, GraftLog, GraftLogCatalog, GraftRowLevel, Sinks}
import graft.streaming.LogSink

/** The staged commit: the streaming sink, SQL INSERT and row-level DML
  * stage parquet files through one writer, refuse a bad write schema
  * through one guard and land the files through one landing.
  */
class StagedCommitSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(name: String): String = {
    val p = Sinks.tmpPath(s"staged_commit_spec_$name")
    Sinks.deleteRecursively(p)
    p
  }

  private def opsLog(name: String): String = {
    val log = freshDir(name)
    Changelog.commitUpsert((0L until 10L).map(k => (k, k * 1.0))
      .toDF("k", "v"), log, 0L)
    log
  }

  test("a stream epoch, an INSERT and an UPDATE each land as part files " +
       "with an info marker naming the verb and row count") {
    val log = opsLog("landing")
    val landing = freshDir("landing_in")
    (100L until 105L).map(k => (k, k * 1.0, "u"))
      .toDF("k", "v", Changelog.OpCol).coalesce(1)
      .write.parquet(landing)
    spark.readStream
      .schema(StructType(Seq(StructField("k", LongType),
        StructField("v", DoubleType),
        StructField(Changelog.OpCol, StringType))))
      .parquet(landing)
      .writeStream.format(classOf[LogSink].getName)
      .option("path", log)
      .option("checkpointLocation", freshDir("landing_ckpt"))
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    GraftLogCatalog.register(spark, "stagedspec1", "t", log, Seq("k"))
    spark.sql("INSERT INTO stagedspec1.t VALUES (200, 2.0), (201, 2.1)")
    spark.sql("UPDATE stagedspec1.t SET v = v + 1.0 WHERE k < 3")
    val infos = Changelog.commitInfos(log)
    for ((id, verb, rows) <- Seq((1L, "stream-epoch", 5L),
                                 (2L, "upsert", 2L), (3L, "update", 3L))) {
      val data = new File(log, s"${Changelog.CommitCol}=$id").list()
        .filterNot(n => n.startsWith(".") || n.startsWith("_")).sorted
      assert(data.nonEmpty && data.toSeq ==
        data.indices.map(i => f"part-$i%05d.parquet"),
        s"commit $id holds ${data.mkString(", ")}")
      assert(infos(id) == ((verb, Changelog.SoloWriter, rows)))
    }
    assert(Option(new File(log, "__stream_staging").list())
      .forall(_.isEmpty), "staging debris after the three commits")
    assert(Changelog.snapshotAt(spark, log, Seq("k"), 3L)
      .as[(Long, Double)].collect().toMap ==
      (0L until 10L).map(k => k -> (if (k < 3) k + 1.0 else k * 1.0)).toMap ++
        (100L until 105L).map(k => k -> k * 1.0) ++
        Map(200L -> 2.0, 201L -> 2.1))
  }

  test("one write guard refuses a reserved column and an unsupported " +
       "type on all four staged surfaces") {
    val log = opsLog("guard")
    val base = StructType(Seq(StructField("k", LongType),
      StructField("v", DoubleType)))
    def info(s: StructType): LogicalWriteInfo = new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap =
        new CaseInsensitiveStringMap(Map("path" -> log).asJava)
      override def queryId(): String = "staged_guard"
      override def schema(): StructType = s
    }
    def table = new GraftLog.LogTable(GraftLog.Opts(
      new CaseInsensitiveStringMap(Map("path" -> log, "keys" -> "k").asJava)))
    def update: RowLevelOperation = table.newRowLevelOperationBuilder(
      new RowLevelOperationInfo {
        override def options(): CaseInsensitiveStringMap =
          CaseInsensitiveStringMap.empty()
        override def command(): RowLevelOperation.Command =
          RowLevelOperation.Command.UPDATE
      }).build()
    // (surface, its reserved column, planning its write)
    val surfaces: Seq[(String, String, StructType => Any)] = Seq(
      // the sink's input is log-shaped: an ops feed carries its own _op
      ("LogSink", Changelog.CommitCol, s =>
        new LogSink().getTable(s, Array.empty, Map("path" -> log).asJava)
          .asInstanceOf[SupportsWrite].newWriteBuilder(info(s))),
      ("streamed", Changelog.OpCol,
        s => table.newWriteBuilder(info(s)).build().toStreaming),
      ("INSERT", Changelog.OpCol,
        s => table.newWriteBuilder(info(s)).build().toBatch),
      ("row-level write", Changelog.OpCol, s =>
        update.asInstanceOf[SupportsDelta].newWriteBuilder(info(s))
          .build().toBatch))
    for ((surface, reserved, plan) <- surfaces;
         (bad, column) <- Seq(base.add(reserved, StringType) -> reserved,
           base.add("t", TimestampNTZType) -> "t")) {
      val e = intercept[IllegalArgumentException](plan(bad))
      assert(e.getMessage.contains(s"$surface ") &&
        e.getMessage.contains(s"column $column"),
        s"$surface/$column: ${e.getMessage}")
    }
    assert(Changelog.headVersion(log).contains(0L))
  }

  test("an UPDATE's driver commit and a constrained epoch's validation " +
       "read staged files on their schema, without an inference job") {
    // the UPDATE: the jobs its driver commit starts, marked by a local
    // property the commit's own hook sets on the statement's thread
    val log = opsLog("jobs_update")
    GraftLogCatalog.register(spark, "stagedspec2", "t", log, Seq("k"))
    val phase = "graft.spec.phase"
    val commitJobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(phase) == "commit")
          commitJobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      GraftRowLevel.testInterleave.set(() =>
        spark.sparkContext.setLocalProperty(phase, "commit"))
      observe {
        try spark.sql("UPDATE stagedspec2.t SET v = v + 1.0 WHERE k < 3")
        finally spark.sparkContext.setLocalProperty(phase, null)
      }
    } finally {
      GraftRowLevel.testInterleave.set(() => ())
      spark.sparkContext.removeSparkListener(listener)
    }
    // reading the staged keys with schema inference made it 1
    assert(commitJobs.get == 0)
    assert(Changelog.headVersion(log).contains(1L))
    // the constrained epoch: validation is the guard's count alone
    val clog = opsLog("jobs_validate")
    Changelog.addCheckConstraint(spark, clog, Seq("k"), "pos", "v >= 0")
    val staged = freshDir("jobs_validate_staged")
    val rows = Seq((100L, 1.0, "u"), (101L, 2.0, "u"))
      .toDF("k", "v", Changelog.OpCol)
    rows.coalesce(1).write.parquet(staged)
    val files = new File(staged).listFiles().map(_.getPath)
      .filter(new File(_).getName.startsWith("part-")).toSeq
    val (jobs, _) = observe(Changelog.validateStagedConstraints(spark,
      clog, files, rows.schema))
    assert(jobs == 2) // with an inferring read of the staged files: 3
  }
}
