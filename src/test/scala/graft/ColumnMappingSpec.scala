package graft

import org.apache.spark.sql.functions._
import graft.sources.{Changelog, GraftLog, GraftLogCatalog, LogFs, Sinks}

/** Column mapping (RENAME/DROP COLUMN as metadata — the Delta
  * columnMapping discipline on the changelog's marker primitive) and
  * the evolved-read normalization: a log whose history proves
  * evolution reads through the union path regardless of what the
  * registration remembered to say. Plus the claim primitive's
  * IO-honesty contract (a disk fault must never read as contention).
  */
class ColumnMappingSpec extends SparkSpec {

  private def fmt = classOf[GraftLog].getName

  private def freshDir(name: String): String = {
    val p = Sinks.tmpPath(s"colmap_spec_$name")
    Sinks.deleteRecursively(p)
    p
  }

  /** Two-commit log (k BIGINT, v DOUBLE, note STRING) — ops-shaped
    * unless `ops = false`.
    */
  private def fixture(name: String, ops: Boolean = true): String = {
    import spark.implicits._
    val path = freshDir(name)
    val land: (org.apache.spark.sql.DataFrame, String, Long) => Unit =
      if (ops) Changelog.commitUpsert(_, _, _) else Changelog.commit(_, _, _)
    land((0L until 20L).map(k => (k, k * 10.0, s"n$k"))
      .toDF("k", "v", "note"), path, 0L)
    land(Seq((3L, 333.0, "upd")).toDF("k", "v", "note"), path, 1L)
    path
  }

  test("RENAME COLUMN is one empty commit + a mapping marker: reads " +
       "serve the new name, footers and time travel keep the old") {
    val path = fixture("rename")
    GraftLogCatalog.register(spark, "cmspec1", "t", path, Seq("k"))
    spark.sql("ALTER TABLE cmspec1.t RENAME COLUMN v TO price")
    // ONE commit, verb rename_column, zero rows
    assert(Changelog.commitInfos(path)(2L)._1 == "rename_column")
    assert(Changelog.commitDirStats(path, 2L)._1 == 0L)
    // head serves the LOGICAL name with untouched values
    val head = spark.table("cmspec1.t")
    assert(head.schema.fieldNames.toSeq == Seq("k", "price", "note"))
    assert(head.filter(col("k") === 3L).select("price")
      .head().getDouble(0) == 333.0)
    // time travel below the rename serves the OLD name
    assert(spark.sql("SELECT * FROM cmspec1.t VERSION AS OF 1")
      .schema.fieldNames.toSeq == Seq("k", "v", "note"))
    // the pinned footers never changed (metadata-only on disk)
    assert(spark.read.parquet(s"$path/${Changelog.CommitCol}=0")
      .columns.contains("v"))
    // the LIBRARY read stays physical (mapping is a TABLE-surface law)
    assert(Changelog.snapshotAt(spark, path, Seq("k"), 2L)
      .columns.toSeq == Seq("k", "v", "note"))
  }

  test("writes through a mapped table land PHYSICAL names: INSERT, " +
       "UPDATE, MERGE, DELETE all resolve the logical schema") {
    import spark.implicits._
    val path = fixture("dml")
    GraftLogCatalog.register(spark, "cmspec2", "t", path, Seq("k"))
    spark.sql("ALTER TABLE cmspec2.t RENAME COLUMN v TO price")
    // INSERT through the new name
    spark.sql("INSERT INTO cmspec2.t VALUES (100, 1.5, 'ins')")
    val insCommit = Changelog.commitInfos(path).keys.max
    assert(spark.read.parquet(s"$path/${Changelog.CommitCol}=$insCommit")
      .columns.contains("v"), "staged insert must carry the physical name")
    assert(spark.sql("SELECT price FROM cmspec2.t WHERE k = 100")
      .head().getDouble(0) == 1.5)
    // UPDATE references the logical name in SET and WHERE
    spark.sql("UPDATE cmspec2.t SET price = price + 1.0 WHERE k = 100")
    assert(spark.sql("SELECT price FROM cmspec2.t WHERE k = 100")
      .head().getDouble(0) == 2.5)
    // MERGE through the logical name
    Seq((100L, 9.0, "m"), (200L, 8.0, "m")).toDF("k", "price", "note")
      .createOrReplaceTempView("cm_src")
    spark.sql("""MERGE INTO cmspec2.t t USING cm_src s ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT price FROM cmspec2.t WHERE k IN (100, 200)")
      .collect().map(_.getDouble(0)).sorted.toSeq == Seq(8.0, 9.0))
    // DELETE with the condition on the RENAMED column
    spark.sql("DELETE FROM cmspec2.t WHERE price >= 8.0")
    assert(spark.sql("SELECT * FROM cmspec2.t WHERE k IN (100, 200)")
      .isEmpty)
    // the delta commits all landed physical (mergeSchema union has no
    // logical name anywhere on disk)
    assert(!spark.read.option("mergeSchema", "true").parquet(path)
      .columns.contains("price"))
  }

  test("DROP COLUMN is metadata: gone at head, alive below, physical " +
       "name retired, post-drop commits omit it") {
    val path = fixture("drop")
    GraftLogCatalog.register(spark, "cmspec3", "t", path, Seq("k"))
    spark.sql("ALTER TABLE cmspec3.t DROP COLUMN note")
    assert(Changelog.commitInfos(path)(2L)._1 == "drop_column")
    assert(spark.table("cmspec3.t").schema.fieldNames.toSeq ==
      Seq("k", "v"))
    // below the drop the column is alive with its values
    assert(spark.sql("SELECT note FROM cmspec3.t VERSION AS OF 1 " +
      "WHERE k = 3").head().getString(0) == "upd")
    // post-drop INSERT omits the column physically
    spark.sql("INSERT INTO cmspec3.t VALUES (500, 5.0)")
    val ins = Changelog.commitInfos(path).keys.max
    assert(!spark.read.parquet(s"$path/${Changelog.CommitCol}=$ins")
      .columns.contains("note"))
    // the retired physical name can never come back
    assert(scala.util.Try(spark.sql(
      "ALTER TABLE cmspec3.t ADD COLUMNS (note STRING)")).isFailure)
    // DROP COLUMN IF EXISTS on a missing column is a clean no-op...
    val head0 = Changelog.commitInfos(path).keys.max
    spark.sql("ALTER TABLE cmspec3.t DROP COLUMN IF EXISTS ghost")
    assert(Changelog.commitInfos(path).keys.max == head0)
    // ...but IF EXISTS never softens the KEY refusal
    assert(scala.util.Try(spark.sql(
      "ALTER TABLE cmspec3.t DROP COLUMN IF EXISTS k")).isFailure)
  }

  test("mapping refusals (keys, reserved, collisions, retype, feed) " +
       "and the streaming write mapping") {
    import spark.implicits._
    val path = fixture("refuse")
    GraftLogCatalog.register(spark, "cmspec4", "t", path, Seq("k"))
    // key columns never rename/drop
    assert(scala.util.Try(spark.sql(
      "ALTER TABLE cmspec4.t RENAME COLUMN k TO kk")).isFailure)
    assert(scala.util.Try(spark.sql(
      "ALTER TABLE cmspec4.t DROP COLUMN k")).isFailure)
    // rename onto an existing logical name refuses
    assert(scala.util.Try(spark.sql(
      "ALTER TABLE cmspec4.t RENAME COLUMN v TO note")).isFailure)
    // reserved names refuse in both directions
    assert(scala.util.Try(spark.sql(
      "ALTER TABLE cmspec4.t RENAME COLUMN v TO _commit")).isFailure)
    assert(scala.util.Try(Changelog.commitRenameColumn(spark, path,
      Seq("k"), Changelog.OpCol, "x")).isFailure)
    // retype stays refused
    assert(scala.util.Try(spark.sql(
      "ALTER TABLE cmspec4.t ALTER COLUMN v TYPE INT")).isFailure)
    spark.sql("ALTER TABLE cmspec4.t RENAME COLUMN v TO price")
    // ADD COLUMNS colliding with the LOGICAL (renamed) name refuses —
    // the physical footer check alone would admit it
    assert(scala.util.Try(spark.sql(
      "ALTER TABLE cmspec4.t ADD COLUMNS (price DOUBLE)")).isFailure)
    // ...and the physical (birth) name stays blocked by the footers
    assert(scala.util.Try(spark.sql(
      "ALTER TABLE cmspec4.t ADD COLUMNS (v DOUBLE)")).isFailure)
    // a change-feed window SPANNING the rename commit refuses (the
    // window-stability law; windows clear of it serve logical names)
    assert(scala.util.Try(
      spark.read.format(fmt).option("path", path).option("keys", "k")
        .option("readChangeFeed", "true").option("startingVersion", 0)
        .option("trackCols", "v").load()).isFailure)
    // streaming WRITES map like batch writes: the epoch lands under
    // PHYSICAL names and the table read serves the logical shape
    val landing = freshDir("stream_landing")
    Seq((700L, 7.0, "s")).toDF("k", "price", "note")
      .write.parquet(landing)
    val q = spark.readStream
      .schema("k BIGINT, price DOUBLE, note STRING").parquet(landing)
      .writeStream.format(fmt)
      .option("path", path).option("keys", "k")
      .option("checkpointLocation", freshDir("stream_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val epoch = Changelog.commitInfos(path).keys.max
    assert(spark.read.parquet(s"$path/${Changelog.CommitCol}=$epoch")
      .columns.contains("v"),
      "a streamed epoch into a mapped log must land the physical name")
    assert(spark.sql("SELECT price FROM cmspec4.t WHERE k = 700")
      .head().getDouble(0) == 7.0)
  }

  test("rename chains resolve through ONE marker state: a->b->c, " +
       "swap, and rename-back to the birth name") {
    val path = fixture("chain")
    GraftLogCatalog.register(spark, "cmspec5", "t", path, Seq("k"))
    spark.sql("ALTER TABLE cmspec5.t RENAME COLUMN v TO tmp")
    spark.sql("ALTER TABLE cmspec5.t RENAME COLUMN note TO v")
    spark.sql("ALTER TABLE cmspec5.t RENAME COLUMN tmp TO note")
    // full swap: logical v is the old note (string), logical note the
    // old v (double)
    val head = spark.table("cmspec5.t")
    assert(head.schema("v").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(head.schema("note").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(head.filter(col("k") === 3L).select("v", "note").head()
      .toSeq == Seq("upd", 333.0))
    // rename BACK to the birth name drops the identity entry
    spark.sql("ALTER TABLE cmspec5.t RENAME COLUMN note TO v2")
    spark.sql("ALTER TABLE cmspec5.t RENAME COLUMN v TO note")
    spark.sql("ALTER TABLE cmspec5.t RENAME COLUMN v2 TO v")
    val m = Changelog.currentMapping(path).get
    assert(!m.renames.contains("v") && !m.renames.contains("note"),
      s"identity entries must not be stored, got ${m.renames}")
  }

  test("stats-skipping point lookup still prunes on a mapped log " +
       "(keys never map) and serves logical names") {
    import spark.implicits._
    val path = fixture("skip")
    // a key-DISJOINT commit the k=3 lookup must never open
    Changelog.commitUpsert(
      (1000L until 1020L).map(k => (k, k * 1.0, "hi"))
        .toDF("k", "v", "note"), path, 2L)
    Seq(0L, 1L, 2L).foreach(id =>
      Changelog.writeCommitStats(spark, path, id, "k"))
    GraftLogCatalog.register(spark, "cmspec6", "t", path, Seq("k"))
    spark.sql("ALTER TABLE cmspec6.t RENAME COLUMN v TO price")
    val out = spark.sql(
      "SELECT price FROM cmspec6.t WHERE k = 3")
    assert(out.head().getDouble(0) == 333.0)
    // structural pruning proof: the disjoint commit is never opened
    // (the empty rename commit has no stats and admits conservatively)
    val dirs = out.inputFiles.flatMap(_.split("/")
      .find(_.startsWith(s"${Changelog.CommitCol}="))).distinct
    assert(dirs.nonEmpty &&
      !dirs.contains(s"${Changelog.CommitCol}=2"),
      s"the lookup must prune the disjoint commit, read ${dirs.toSeq}")
    // the RECORDING surface speaks the logical namespace: stats for
    // a renamed audit column by its LOGICAL spelling land under the
    // PHYSICAL name (the namespace the marker format records); an
    // unknown name still refuses
    spark.sql("ALTER TABLE cmspec6.t RENAME COLUMN note TO label")
    Changelog.writeCommitStatsMulti(spark, path, 0L, Seq("k", "label"))
    val st = Changelog.commitColumnStats(path)(0L)
    assert(st.contains("note") && !st.contains("label"),
      s"logical stats spellings must record physically, got ${st.keys}")
    assert(st("note").isInstanceOf[Changelog.StringColStats])
    assert(scala.util.Try(Changelog.writeCommitStatsMulti(
      spark, path, 0L, Seq("nope"))).isFailure)
  }

  test("evolved logs read the union WITHOUT a mergeSchema flag — the " +
       "history itself forces it (fresh-registration safety)") {
    import spark.implicits._
    val path = freshDir("evoread")
    Changelog.commitUpsert((0L until 5L).map(k => (k, k * 1.0))
      .toDF("k", "v"), path, 0L)
    Changelog.commitAddColumns(spark, path,
      Seq(org.apache.spark.sql.types.StructField("src",
        org.apache.spark.sql.types.StringType)))
    Changelog.commitUpsert(Seq((9L, 9.0, "late")).toDF("k", "v", "src"),
      path, 2L)
    // format read with NO mergeSchema option — the added column must
    // survive a registration that forgot the flag
    val df = spark.read.format(fmt)
      .option("path", path).option("keys", "k").load()
    assert(df.schema.fieldNames.contains("src"),
      "an evolved log must force the union read from its own history")
    assert(df.filter(col("k") === 9L).select("src").head()
      .getString(0) == "late")
    // case-variant reserved names refuse at the evolution commit
    assert(scala.util.Try(Changelog.commitAddColumns(spark, path,
      Seq(org.apache.spark.sql.types.StructField("_COMMIT",
        org.apache.spark.sql.types.StringType)))).isFailure)
  }

  test("the evolution probe is O(1): one singleton-marker stat, zero " +
       "per-commit content reads, surviving clones and folds") {
    import spark.implicits._
    val path = freshDir("evoprobe")
    Changelog.commitUpsert((0L until 5L).map(k => (k, k * 1.0))
      .toDF("k", "v"), path, 0L)
    // a NON-evolved log: probe false, zero marker contents opened
    val before = LogFs.contentReads.get()
    assert(!Changelog.isEvolvedLog(path))
    assert(LogFs.contentReads.get() == before,
      "the probe of a plain log must open no marker contents")
    Changelog.commitAddColumns(spark, path,
      Seq(org.apache.spark.sql.types.StructField("src",
        org.apache.spark.sql.types.StringType)))
    // the evolved log: probe true from ONE stat — still zero content
    // reads (the pre-marker implementation opened every _graft_info_*
    // content here, a per-load GET storm at long histories)
    val b2 = LogFs.contentReads.get()
    assert(Changelog.isEvolvedLog(path))
    assert(LogFs.contentReads.get() == b2,
      "the probe of an evolved log must be one stat, not content reads")
    // the marker travels with clones (a clone cut ABOVE the evolution
    // must keep forcing the union read)
    val dest = freshDir("evoprobe_clone")
    Changelog.cloneAt(spark, path, dest, 1L)
    assert(Changelog.isEvolvedLog(dest),
      "a clone of an evolved log must stay evolved")
    // ...and survives a fold past the evolution (monotone — the union
    // read of the folded log is still correct, merely conservative)
    Changelog.commitUpsert(Seq((9L, 9.0, "late")).toDF("k", "v", "src"),
      path, 2L)
    Changelog.checkpoint(spark, path, Seq("k"), 2L)
    assert(Changelog.isEvolvedLog(path),
      "the evolution marker must survive maintenance")
    assert(spark.read.format(fmt).option("path", path).option("keys", "k")
      .load().schema.fieldNames.contains("src"))
  }

  test("checkpoint PHYSICALLY reclaims dropped columns at the fold — " +
       "the DROP half of right-to-be-forgotten") {
    // both log shapes: one fold serves plain and ops logs alike
    for ((ops, ns) <- Seq(true -> "cmspec7", false -> "cmspec7p")) {
      val path = fixture(s"reclaim_$ns", ops)
      GraftLogCatalog.register(spark, ns, "t", path, Seq("k"))
      spark.sql(s"ALTER TABLE $ns.t DROP COLUMN note") // commit 2
      Changelog.checkpoint(spark, path, Seq("k"), 2L)
      // no surviving footer carries the dropped column's bytes
      assert(!spark.read.option("mergeSchema", "true").parquet(path)
        .columns.contains("note"),
        "the fold must project the dropped column out of the base")
      // head reads unchanged, values intact
      val head = spark.table(s"$ns.t")
      assert(head.schema.fieldNames.toSeq == Seq("k", "v"))
      assert(head.filter(col("k") === 3L).select("v").head()
        .getDouble(0) == 333.0)
      // the retired name still refuses re-addition AFTER the physical
      // reclaim (the footer-union check no longer holds it — the
      // mapping's retirement does)
      assert(scala.util.Try(spark.sql(
        s"ALTER TABLE $ns.t ADD COLUMNS (note STRING)")).isFailure,
        "a physically-reclaimed dropped name must stay retired")
      // a fresh name still evolves fine
      spark.sql(s"ALTER TABLE $ns.t ADD COLUMNS (note2 STRING)")
      assert(spark.table(s"$ns.t").schema.fieldNames.toSeq ==
        Seq("k", "v", "note2"))
    }
    // the OPTIMIZE base reclaims too — while the commits below it
    // keep the bytes for time travel below the drop
    val path2 = fixture("reclaim_opt")
    GraftLogCatalog.register(spark, "cmspec10", "t", path2, Seq("k"))
    spark.sql("ALTER TABLE cmspec10.t DROP COLUMN note") // commit 2
    Changelog.optimizeOps(spark, path2, Seq("k"), 3L, "k", 1000L, 4)
    assert(!spark.read.parquet(s"$path2/${Changelog.CommitCol}=3")
      .columns.contains("note"),
      "the optimize base must project the dropped column out")
    assert(spark.sql("SELECT note FROM cmspec10.t VERSION AS OF 1 " +
      "WHERE k = 3").head().getString(0) == "upd",
      "time travel below the drop must still serve the column from " +
        "the pre-base commits")
    assert(spark.table("cmspec10.t").schema.fieldNames.toSeq ==
      Seq("k", "v"))
  }

  test("the change feed maps when the mapping is stable across its " +
       "window; a mid-window mapping change refuses") {
    import spark.implicits._
    val path = fixture("feed") // commits 0,1: (k, v, note)
    GraftLogCatalog.register(spark, "cmspec9", "t", path, Seq("k"))
    spark.sql("ALTER TABLE cmspec9.t RENAME COLUMN v TO price") // c2
    spark.sql(
      "INSERT INTO cmspec9.t VALUES (3, 999.0, 'x'), (800, 8.0, 'i')")
    // window (2, 3]: the mapping commit is NOT inside — the feed
    // serves LOGICAL old_/new_ names over the physical diff
    val feed = spark.read.format(fmt)
      .option("path", path).option("keys", "k")
      .option("readChangeFeed", "true")
      .option("startingVersion", 2).option("trackCols", "price")
      .load()
    assert(feed.columns.toSeq ==
      Seq("k", "new_price", "old_price", "change_type"))
    val upd = feed.filter(col("k") === 3L)
      .select("change_type", "old_price", "new_price").head()
    assert(upd.getString(0) == "update" && upd.getDouble(1) == 333.0 &&
      upd.getDouble(2) == 999.0)
    assert(feed.filter(col("k") === 800L).select("change_type")
      .head().getString(0) == "insert")
    // window (1, 3] SPANS the mapping commit — ambiguous, refuses
    assert(scala.util.Try(
      spark.read.format(fmt)
        .option("path", path).option("keys", "k")
        .option("readChangeFeed", "true")
        .option("startingVersion", 1).option("trackCols", "price")
        .load()).isFailure,
      "a feed window spanning a mapping commit must refuse loudly")
  }

  test("the mapped table's own stream serves LOGICAL names; a restart " +
       "after a further rename re-pins") {
    val path = fixture("stream_read")
    GraftLogCatalog.register(spark, "cmspec11", "t", path, Seq("k"))
    spark.sql("ALTER TABLE cmspec11.t RENAME COLUMN v TO price") // c2
    def runOnce(sink: String): Unit = {
      // fresh checkpoint per run (the memory sink cannot recover one);
      // the property under test is the RE-PIN, not offset resume
      val q = spark.readStream.table("cmspec11.t")
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", freshDir(s"ckpt_$sink"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    runOnce("cm_stream1")
    val got = spark.table("cm_stream1")
    assert(got.columns.toSeq == Seq("k", "price", "note"),
      s"the stream must serve logical names, got ${got.columns.toSeq}")
    assert(got.filter(col("k") === 3L).select("price")
      .orderBy(col("price").desc).head().getDouble(0) == 333.0)
    // the mapping moves; a fresh run RE-PINS against the new logical
    // names and serves them
    spark.sql("ALTER TABLE cmspec11.t RENAME COLUMN price TO cost")
    spark.sql("INSERT INTO cmspec11.t VALUES (900, 9.0, 's')")
    runOnce("cm_stream2")
    val got2 = spark.table("cm_stream2")
    assert(got2.columns.toSeq == Seq("k", "cost", "note"))
    assert(got2.filter(col("k") === 900L).select("cost")
      .head().getDouble(0) == 9.0)
    // a feed stream whose startingVersion sits BELOW a mapping commit
    // still refuses at load (the window-spanning law — re-pin by
    // starting at/after the mapping commit)
    assert(scala.util.Try {
      spark.readStream.format(fmt)
        .option("path", path).option("keys", "k")
        .option("readChangeFeed", "true").option("startingVersion", 0)
        .option("trackCols", "v")
        .load()
    }.isFailure,
      "a feed stream starting below a mapping commit must refuse")
  }

  test("the mapped FEED stream serves LOGICAL old_/new_ names; " +
       "mid-run mapping drift fails the batch loudly") {
    import spark.implicits._
    val path = fixture("feed_stream") // commits 0,1: (k, v, note)
    GraftLogCatalog.register(spark, "cmspec12", "t", path, Seq("k"))
    spark.sql("ALTER TABLE cmspec12.t RENAME COLUMN v TO price") // c2
    spark.sql("INSERT INTO cmspec12.t VALUES (3, 999.0, 'x')")   // c3
    spark.sql("INSERT INTO cmspec12.t VALUES (800, 8.0, 'i')")   // c4
    def feedStream = spark.readStream.format(fmt)
      .option("path", path).option("keys", "k")
      .option("readChangeFeed", "true").option("startingVersion", 2)
      .option("trackCols", "price").load()
    val q = feedStream
      .writeStream.format("memory").queryName("cm_feed1")
      .option("checkpointLocation", freshDir("feed_stream_ckpt1"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    val got = spark.table("cm_feed1")
    assert(got.columns.toSeq ==
      Seq("k", "new_price", "old_price", "change_type"),
      s"the feed stream must serve logical names, got ${got.columns.toSeq}")
    val upd = got.filter(col("k") === 3L)
      .select("change_type", "old_price", "new_price").head()
    assert(upd.getString(0) == "update" && upd.getDouble(1) == 333.0 &&
      upd.getDouble(2) == 999.0)
    assert(got.filter(col("k") === 800L).select("change_type")
      .head().getString(0) == "insert")
    // DRIFT: a rename landing between two micro-batches fails the
    // NEXT planned batch loudly (the fingerprint pin) — the batch
    // that already ran keeps its output
    spark.sql("INSERT INTO cmspec12.t VALUES (5, 55.0, 'y')")  // c5
    spark.sql("INSERT INTO cmspec12.t VALUES (6, 66.0, 'z')")  // c6
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val failed = scala.util.Try {
      val q2 = feedStream
        .writeStream
        .option("checkpointLocation", freshDir("feed_stream_ckpt2"))
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           batchId: Long) =>
            seen += batchId
            batch.count()
            if (batchId == 0L)
              // the mapping moves while the stream is running
              Changelog.commitRenameColumn(spark, path, Seq("k"),
                "price", "cost")
            ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q2.awaitTermination() finally q2.stop()
    }
    assert(failed.isFailure,
      "a mapped feed stream must fail the batch planned after drift")
    assert(seen.nonEmpty && seen.max < 3,
      s"drift must stop the stream before it drains all commits, ran $seen")
  }

  test("a mapped table stream's multi-commit windows break at " +
       "mapping-commit boundaries (no window mixes name-epochs)") {
    import spark.implicits._
    val path = fixture("boundary") // commits 0,1
    GraftLogCatalog.register(spark, "cmspec13", "t", path, Seq("k"))
    spark.sql("ALTER TABLE cmspec13.t RENAME COLUMN v TO price") // c2
    spark.sql("INSERT INTO cmspec13.t VALUES (901, 1.0, 'a')")   // c3
    spark.sql("INSERT INTO cmspec13.t VALUES (902, 2.0, 'b')")   // c4
    val batches =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = spark.readStream
      .option("maxCommitsPerTrigger", 10)
      .table("cmspec13.t")
      .writeStream
      .option("checkpointLocation", freshDir("boundary_ckpt"))
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         batchId: Long) =>
          batches += ((batchId, batch.count()))
          ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    // one 10-commit budget over commits 0..4 with the rename at 2:
    // windows (−1,1] (0,1] wait — floor is 0, start = −1: (−1,1],
    // then (1,2] (the mapping commit alone, zero rows), then (2,4] —
    // THREE batches, never one spanning the rename
    assert(batches.length == 3,
      s"a 10-commit budget must split at the mapping commit, got $batches")
    assert(batches(1)._2 == 0L,
      "the mapping-commit-alone window must serve zero rows")
    assert(batches.map(_._2).sum == 22L,
      s"20 base rows + 2 inserts must drain across the batches, got $batches")
  }

  test("restore below a DROP does not re-materialize the dropped " +
       "column; a dropped column cannot be a tracked feed column") {
    import spark.implicits._
    val path = fixture("restore_drop") // c0: 20 rows, c1: upd k=3
    Changelog.commitDropColumn(spark, path, Seq("k"), "note") // c2
    // k=3's v moves at head vs v0 → restore writes an upsert for it
    Changelog.restoreOps(spark, path, Seq("k"), 0L, 3L)
    // the restore commit omits the retired column entirely
    assert(!spark.read.parquet(s"$path/${Changelog.CommitCol}=3")
      .columns.contains("note"),
      "a restore commit must omit columns dropped as of the head")
    // and restores the surviving columns to their v0 state
    val head = Changelog.applyMapping(
      Changelog.snapshotAt(spark, path, Seq("k"), 3L,
      mergeSchema = true),
      Changelog.currentMapping(path))
    assert(head.columns.toSeq == Seq("k", "v"))
    assert(head.filter(col("k") === 3L).select("v")
      .head().getDouble(0) == 30.0)
    // tracking a dropped column in a feed refuses loudly
    assert(scala.util.Try(
      spark.read.format(fmt)
        .option("path", path).option("keys", "k")
        .option("readChangeFeed", "true")
        .option("startingVersion", 2).option("trackCols", "note")
        .load()).isFailure,
      "a dropped column must refuse as a tracked feed column")
  }

  test("rename-and-back inside a feed window still refuses (the " +
       "names changed mid-window even though the end mapping is empty)") {
    import spark.implicits._
    val path = fixture("rename_back")
    Changelog.commitRenameColumn(spark, path, Seq("k"), "v", "price") // c2
    Changelog.commitRenameColumn(spark, path, Seq("k"), "price", "v") // c3
    assert(Changelog.currentMapping(path).forall(_.isEmpty),
      "rename-back-to-birth-name must leave an empty mapping state")
    // window (1, 3] holds both mapping commits — refuses even though
    // the end-of-window mapping is empty
    assert(scala.util.Try(
      spark.read.format(fmt)
        .option("path", path).option("keys", "k")
        .option("readChangeFeed", "true")
        .option("startingVersion", 1).option("trackCols", "v")
        .load()).isFailure,
      "a window spanning rename-and-back must refuse loudly")
    // a window clear of the mapping commits serves plain names
    Changelog.commitUpsert(Seq((3L, 444.0, "u2")).toDF("k", "v", "note"),
      path, 4L)
    val feed = spark.read.format(fmt)
      .option("path", path).option("keys", "k")
      .option("readChangeFeed", "true")
      .option("startingVersion", 3).option("trackCols", "v").load()
    assert(feed.columns.toSeq ==
      Seq("k", "new_v", "old_v", "change_type"))
    assert(feed.filter(col("k") === 3L).select("new_v")
      .head().getDouble(0) == 444.0)
  }

  test("cat.t.detail serves one row of table facts including the " +
       "mapping state (DESCRIBE DETAIL ergonomics)") {
    val path = fixture("detail")
    GraftLogCatalog.register(spark, "cmspec8", "t", path, Seq("k"))
    spark.sql("ALTER TABLE cmspec8.t RENAME COLUMN v TO price")
    spark.sql("ALTER TABLE cmspec8.t DROP COLUMN note")
    val r = spark.sql("SELECT * FROM cmspec8.t.detail").collect().head
    assert(r.getAs[String]("shape") == "ops")
    assert(r.getAs[Long]("head_version") == 3L)
    assert(r.isNullAt(r.fieldIndex("horizon")),
      "nothing folded yet — horizon must read null")
    assert(r.getAs[Long]("num_commits") == 4L)
    assert(r.getAs[String]("keys") == "k")
    assert(r.getAs[Boolean]("evolved"))
    assert(r.getAs[String]("renamed_columns") == "price<-v")
    assert(r.getAs[String]("dropped_columns") == "note")
    assert(r.getAs[Long]("num_data_files") > 0L &&
      r.getAs[Long]("size_bytes") > 0L)
    // after a checkpoint the horizon surfaces
    Changelog.checkpoint(spark, path, Seq("k"), 3L)
    val r2 = spark.sql("SELECT * FROM cmspec8.t.detail").collect().head
    assert(r2.getAs[Long]("horizon") == 3L)
    assert(r2.getAs[Long]("num_commits") == 1L)
  }

  test("claimExclusive: an IO fault surfaces as the fault, never as " +
       "a phantom claimant") {
    val dir = freshDir("claim_io")
    LogFs.mkdirs(dir)
    // a lost race still reads as false
    assert(LogFs.claimExclusive(LogFs.child(dir, "m1"), "a"))
    assert(!LogFs.claimExclusive(LogFs.child(dir, "m1"), "b"))
    // an unwritable parent (a FILE where the directory should be —
    // root ignores permission bits, ENOTDIR it cannot) is an IO
    // FAULT: thrown, never returned as a false "another claimant
    // holds"
    val fileParent = new java.io.File(dir, "notadir")
    assert(fileParent.createNewFile())
    intercept[java.io.IOException] {
      LogFs.claimExclusive(s"${fileParent.getAbsolutePath}/m2", "c")
    }
  }
}
