package graft

import org.apache.spark.sql.functions._
import graft.ext.TopK
import graft.sources.{Changelog, Sinks}
import graft.sources.Changelog.KeyRange.{LongRange, StringRange}

/** Unit tests for the round-10 lakehouse additions: skew-resistant
  * two-phase grouped top-k (ext/TopK) and the commit-partitioned
  * time-travel changelog (sources/Changelog).
  */
class TopKChangelogSpec extends SparkSpec {
  import spark.implicits._

  // ---- TopK ---------------------------------------------------------

  // deterministic, collision-rich: 3 groups × 400 rows, values repeat
  // every 37 rows so the (value desc, id) tie-break is exercised
  private def rows = spark.range(1200).select(
    (col("id") % 3).cast("string").as("g"),
    col("id").as("rid"),
    (col("id") * 31 % 37).cast("double").as("v"))

  private def plainTopK(k: Int) = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("v").desc, col("rid").asc)
    rows.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  test("groupedTopK equals the single-window form for any salts/k") {
    for (salts <- Seq(1, 3, 8); k <- Seq(1, 5, 50, 1000)) {
      val got = TopK.groupedTopK(rows, Seq("g"),
          Seq(col("v").desc, col("rid").asc), k, "rid", salts)
        .select("g", "rid", "v", "rank")
        .as[(String, Long, Double, Int)].collect().sorted.toSeq
      val want = plainTopK(k).select("g", "rid", "v", "rank")
        .as[(String, Long, Double, Int)].collect().sorted.toSeq
      assert(got == want, s"salts=$salts k=$k")
      // k=1000 > group size 400: every row survives, ranks still exact
      if (k == 1000) assert(got.size == 1200)
    }
  }

  test("groupedTopK reserves its working column names loudly") {
    val bad = rows.withColumnRenamed("v", "_tk_salt")
    val e = intercept[IllegalArgumentException] {
      TopK.groupedTopK(bad, Seq("g"), Seq(col("rid")), 1, "rid", 2)
    }
    assert(e.getMessage.contains("_tk_salt"))
  }

  // ---- Changelog ----------------------------------------------------

  test("snapshotAt reads exactly the state as of each commit") {
    val path = Sinks.tmpPath("changelog_spec")
    Sinks.deleteRecursively(path)
    // commit 0: k1→a, k2→b; commit 1: k2→c (replace), k3→d (new);
    // commit 2: k1 replaced again
    Changelog.commit(Seq(("k1", "a"), ("k2", "b")).toDF("k", "v"), path, 0L)
    Changelog.commit(Seq(("k2", "c"), ("k3", "d")).toDF("k", "v"), path, 1L)
    Changelog.commit(Seq(("k1", "e")).toDF("k", "v"), path, 2L)
    def snap(v: Long) = Changelog.snapshotAt(spark, path, Seq("k"), v)
      .as[(String, String)].collect().toMap
    assert(snap(0L) == Map("k1" -> "a", "k2" -> "b"))
    assert(snap(1L) == Map("k1" -> "a", "k2" -> "c", "k3" -> "d"))
    assert(snap(2L) == Map("k1" -> "e", "k2" -> "c", "k3" -> "d"))
    assert(Changelog.snapshotAt(spark, path, Seq("k"), Long.MaxValue)
      .as[(String, String)].collect().toMap == snap(2L))
    // the snapshot never exposes the log coordinate
    assert(!snap(1L).contains(Changelog.CommitCol))
    assert(Changelog.snapshotAt(spark, path, Seq("k"), 1L)
      .columns.toSeq == Seq("k", "v"))
  }

  test("snapshotAt partition-prunes later commits out of the scan") {
    val path = Sinks.tmpPath("changelog_spec_prune")
    Sinks.deleteRecursively(path)
    Changelog.commit(Seq(("k1", "a")).toDF("k", "v"), path, 0L)
    Changelog.commit(Seq(("k1", "b")).toDF("k", "v"), path, 1L)
    val plan = Changelog.snapshotAt(spark, path, Seq("k"), 0L)
      .queryExecution.executedPlan.toString
    // the _commit <= 0 predicate must reach the scan as a PARTITION
    // filter (pruned directories), not a post-scan row filter
    assert(plan.contains("PartitionFilters") && plan.contains("_commit"),
      plan.take(2000))
  }

  test("commit refuses a delta that carries the reserved column") {
    val path = Sinks.tmpPath("changelog_spec_guard")
    Sinks.deleteRecursively(path)
    val e = intercept[IllegalArgumentException] {
      Changelog.commit(Seq(("k1", 0L)).toDF("k", Changelog.CommitCol), path, 0L)
    }
    assert(e.getMessage.contains(Changelog.CommitCol))
  }

  test("snapshotAtEvolved: added column null-fills pre-evolution rows (q143)") {
    val path = Sinks.tmpPath("changelog_spec_evo")
    Sinks.deleteRecursively(path)
    Changelog.commit(Seq(("k1", "a"), ("k2", "b")).toDF("k", "v"), path, 0L)
    // commit 1 adds column `tag` and replaces k2 only
    Changelog.commit(Seq(("k2", "c", "t1")).toDF("k", "v", "tag"), path, 1L)
    val snap = Changelog.snapshotAt(spark, path, Seq("k"), 1L,
      mergeSchema = true)
    assert(snap.columns.sorted.toSeq == Seq("k", "tag", "v"))
    val got = snap.select("k", "v", "tag")
      .as[(String, String, Option[String])].collect().toSet
    // k1's latest version predates the evolution → null tag; k2's
    // latest carries it
    assert(got == Set(("k1", "a", None), ("k2", "c", Some("t1"))))
    // the fixed-schema read path is unaffected by the opt-in
    assert(Changelog.snapshotAt(spark, path, Seq("k"), 0L)
      .columns.toSeq == Seq("k", "v"))
  }

  test("checkpoint folds history below the horizon and vacuums it (q137)") {
    val path = Sinks.tmpPath("changelog_spec_ckpt")
    Sinks.deleteRecursively(path)
    Changelog.commit(Seq(("k1", "a"), ("k2", "b")).toDF("k", "v"), path, 0L)
    Changelog.commit(Seq(("k2", "c"), ("k3", "d")).toDF("k", "v"), path, 1L)
    Changelog.commit(Seq(("k1", "e")).toDF("k", "v"), path, 2L)
    def snap(v: Long) = Changelog.snapshotAt(spark, path, Seq("k"), v)
      .as[(String, String)].collect().toMap
    val before1 = snap(1L)
    val before2 = snap(2L)

    Changelog.checkpoint(spark, path, Seq("k"), 1L)

    def commitDirs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith(s"${Changelog.CommitCol}="))
      .map(_.getName).sorted.toSeq
    // commit 0 vacuumed; the base now lives AS commit 1; commit 2
    // untouched; no staging residue
    assert(commitDirs == Seq(s"${Changelog.CommitCol}=1",
      s"${Changelog.CommitCol}=2"))
    assert(!new java.io.File(path).listFiles()
      .exists(_.getName.startsWith("_ckpt_staging")))
    // reads at and above the horizon are value-identical
    assert(snap(1L) == before1)
    assert(snap(2L) == before2)
    assert(Changelog.snapshotAt(spark, path, Seq("k"), Long.MaxValue)
      .as[(String, String)].collect().toMap == before2)
    // below the horizon the log no longer distinguishes states — a
    // silent empty read would be wrong, so the guard fails LOUDLY
    val below = intercept[IllegalArgumentException](snap(0L))
    assert(below.getMessage.contains("horizon"))
    // the feed guard too: v0 below the horizon would mislabel every
    // surviving key `insert` (null olds) and double-count downstream
    val feedBelow = intercept[IllegalArgumentException](
      Changelog.changesBetween(spark, path, Seq("k"), 0L, 2L, Seq("v")))
    assert(feedBelow.getMessage.contains("horizon"))
    // at v0 = horizon the feed is still exact: only commit 2's k1
    // changed in (1, 2]
    val atHorizon = Changelog.changesBetween(spark, path, Seq("k"),
        1L, 2L, Seq("v"))
      .select("k", "change_type", "old_v", "new_v")
      .as[(String, String, String, String)].collect().toSeq
    assert(atHorizon == Seq(("k1", "update", "a", "e")))
    // idempotent: re-checkpointing the same horizon is a no-op fold
    Changelog.checkpoint(spark, path, Seq("k"), 1L)
    assert(snap(2L) == before2)
    // a checkpoint BELOW the recorded horizon is refused (its fold
    // would read erased history)
    val ckptBelow = intercept[IllegalArgumentException](
      Changelog.checkpoint(spark, path, Seq("k"), 0L))
    assert(ckptBelow.getMessage.contains("horizon"))
  }

  test("checkpoint folds evolved schemas losslessly and lands the base " +
    "before vacuuming") {
    val path = Sinks.tmpPath("changelog_spec_ckpt_evo")
    Sinks.deleteRecursively(path)
    Changelog.commit(Seq(("k1", "a"), ("k2", "b")).toDF("k", "v"), path, 0L)
    // commit 1 ADDS column `tag` — the fold must read with mergeSchema
    // or this column (and k2's only surviving value for it) would be
    // silently dropped, then vacuumed out of existence
    Changelog.commit(Seq(("k2", "c", "t1")).toDF("k", "v", "tag"), path, 1L)
    Changelog.checkpoint(spark, path, Seq("k"), 1L)
    val base = Changelog.snapshotAt(spark, path, Seq("k"), 1L,
      mergeSchema = true)
    assert(base.columns.sorted.toSeq == Seq("k", "tag", "v"))
    assert(base.select("k", "v", "tag")
      .as[(String, String, Option[String])].collect().toSet ==
      Set(("k1", "a", None), ("k2", "c", Some("t1"))))
    // only the base commit remains; no staging residue beside the log
    val dirs = new java.io.File(path).listFiles().map(_.getName).toSeq
    assert(dirs.filter(_.startsWith(s"${Changelog.CommitCol}=")) ==
      Seq(s"${Changelog.CommitCol}=1"))
    assert(!new java.io.File(path).getParentFile.listFiles()
      .exists(_.getName.contains("changelog_spec_ckpt_evo__ckpt_staging")))
  }

  test("changesBetween: insert/update labels, no-op suppression, tracked scoping") {
    val path = Sinks.tmpPath("changelog_spec_cdf")
    Sinks.deleteRecursively(path)
    // c0: k1..k4; c1: k2 value changed, k3 rewritten IDENTICALLY,
    // k4 only the untracked note changed, k5 new
    Changelog.commit(Seq(
      ("k1", 10.0, "a"), ("k2", 20.0, "a"), ("k3", 30.0, "a"),
      ("k4", 40.0, "a")).toDF("k", "v", "note"), path, 0L)
    Changelog.commit(Seq(
      ("k2", 21.0, "a"), ("k3", 30.0, "a"), ("k4", 40.0, "b"),
      ("k5", 50.0, "a")).toDF("k", "v", "note"), path, 1L)
    val feed = Changelog.changesBetween(spark, path, Seq("k"), 0L, 1L,
        trackCols = Seq("v"))
      .collect().map(r => r.getAs[String]("k") ->
        ((r.getAs[String]("change_type"), r.getAs[Any]("old_v"),
          r.getAs[Any]("new_v")))).toMap
    // k1 untouched (not a candidate), k3 identical + k4 untracked-only
    // change both suppressed; k2 update, k5 insert
    assert(feed == Map(
      "k2" -> (("update", 20.0, 21.0)),
      "k5" -> (("insert", null, 50.0))))
    // whole-row tracking surfaces k4's note flip too
    val full = Changelog.changesBetween(spark, path, Seq("k"), 0L, 1L,
        trackCols = Seq("v", "note"))
      .collect().map(r => r.getAs[String]("k") ->
        r.getAs[String]("change_type")).toMap
    assert(full == Map("k2" -> "update", "k4" -> "update",
      "k5" -> "insert"))
    intercept[IllegalArgumentException](
      Changelog.changesBetween(spark, path, Seq("k"), 1L, 1L, Seq("v")))
  }

  // ---- Ops log (round-12: the DELETE path) --------------------------

  test("ops log: tombstones delete, re-inserts resurrect by commit " +
       "order, and checkpointOps PHYSICALLY erases deleted history") {
    val path = Sinks.tmpPath("changelog_spec_ops")
    Sinks.deleteRecursively(path)
    Changelog.commitUpsert(
      Seq(("k1", "secret1"), ("k2", "b"), ("k3", "c")).toDF("k", "v"),
      path, 0L)
    Changelog.commitDelete(spark, Seq("k1", "k3").toDF("k"), path, 1L)
    Changelog.commitUpsert(Seq(("k3", "c2"), ("k4", "d")).toDF("k", "v"),
      path, 2L)
    def snap(v: Long) =
      Changelog.snapshotAt(spark, path, Seq("k"), v)
        .as[(String, String)].collect().sorted.toSeq
    assert(snap(0L) == Seq(("k1", "secret1"), ("k2", "b"), ("k3", "c")))
    assert(snap(1L) == Seq(("k2", "b")))
    // k3 resurrects (delete then re-insert resolves by commit order);
    // k1 stays dead
    assert(snap(2L) == Seq(("k2", "b"), ("k3", "c2"), ("k4", "d")))
    // full-label feed: k1 delete (olds carried), k3 NET update
    // (delete+re-insert collapses), k4 insert, k2 untouched → absent
    val feed = Changelog.changesBetween(spark, path, Seq("k"), 0L, 2L,
        trackCols = Seq("v"))
      .collect().map(r => r.getAs[String]("k") ->
        ((r.getAs[String]("change_type"), r.getAs[Any]("old_v"),
          r.getAs[Any]("new_v")))).toMap
    assert(feed == Map(
      "k1" -> (("delete", "secret1", null)),
      "k3" -> (("update", "c", "c2")),
      "k4" -> (("insert", null, "d"))))
    // checkpoint at the head: snapshots ≥ v unchanged, and NO
    // surviving parquet file holds the deleted row's data — the
    // physical-erasure guarantee a logical tombstone never gives
    Changelog.checkpoint(spark, path, Seq("k"), 2L)
    assert(snap(2L) == Seq(("k2", "b"), ("k3", "c2"), ("k4", "d")))
    val survivors = spark.read.parquet(path)
    assert(survivors.filter(col("k") === "k1" || col("v") === "secret1")
      .isEmpty)
    // byte-level: the secret is in no surviving file
    def bytesUnder(dir: java.io.File): Iterator[Byte] =
      Option(dir.listFiles()).toSeq.flatten.iterator.flatMap(f =>
        if (f.isDirectory) bytesUnder(f)
        else java.nio.file.Files.readAllBytes(f.toPath).iterator)
    val hay = new String(
      bytesUnder(new java.io.File(path)).toArray,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(!hay.contains("secret1"))
  }

  test("ops log: commitDelete derives the tombstone shape from the log " +
       "schema and refuses a non-ops log or unknown key columns") {
    val path = Sinks.tmpPath("changelog_spec_ops_guard")
    Sinks.deleteRecursively(path)
    // plain (non-ops) log: deletes must be refused
    Changelog.commit(Seq(("k1", "a")).toDF("k", "v"), path, 0L)
    val e = intercept[IllegalArgumentException](
      Changelog.commitDelete(spark, Seq("k1").toDF("k"), path, 1L))
    assert(e.getMessage.contains("_op"))
    // ops log with an unknown key column name
    val ops = Sinks.tmpPath("changelog_spec_ops_guard2")
    Sinks.deleteRecursively(ops)
    Changelog.commitUpsert(Seq(("k1", "a")).toDF("k", "v"), ops, 0L)
    intercept[IllegalArgumentException](
      Changelog.commitDelete(spark, Seq("k1").toDF("nope"), ops, 1L))
    // reserved-column guard on upsert input
    intercept[IllegalArgumentException](
      Changelog.commitUpsert(
        Seq(("k1", "a", "u")).toDF("k", "v", Changelog.OpCol), ops, 1L))
  }

  test("ops log under schema evolution: snapshotAtOpsEvolved null-fills " +
       "pre-evolution rows, tombstones placed after evolution still " +
       "delete, and checkpointOps preserves the union schema") {
    val path = Sinks.tmpPath("changelog_spec_ops_evo")
    Sinks.deleteRecursively(path)
    Changelog.commitUpsert(
      Seq(("k1", "a"), ("k2", "b")).toDF("k", "v"), path, 0L)
    // commit 1 EVOLVES: adds a tag column
    Changelog.commitUpsert(
      Seq(("k3", "c", "t1")).toDF("k", "v", "tag"), path, 1L)
    // commit 2 deletes k1 AFTER evolution — the tombstone shape must
    // come from the union schema, or the added column strands
    Changelog.commitDelete(spark, Seq("k1").toDF("k"), path, 2L)
    val got = Changelog.snapshotAt(spark, path, Seq("k"), 2L,
      mergeSchema = true)
      .select("k", "v", "tag")
      .as[(String, String, Option[String])].collect().sorted.toSeq
    assert(got == Seq(("k2", "b", None), ("k3", "c", Some("t1"))))
    // checkpoint folds the union schema and erases the dead key
    Changelog.checkpoint(spark, path, Seq("k"), 2L)
    val after = Changelog.snapshotAt(spark, path, Seq("k"), 2L,
      mergeSchema = true)
      .select("k", "v", "tag")
      .as[(String, String, Option[String])].collect().sorted.toSeq
    assert(after == got)
    assert(spark.read.parquet(path).filter(col("k") === "k1").isEmpty)
  }

  // ---- Concurrency (round-12: pin the MVCC claims under racing
  // writers/readers, not just sequential crash-retry) ----------------

  /** Run `body` on two threads at once; each writer retries once on a
    * transient failure — the at-least-once discipline the streaming
    * framework supplies around foreachBatch (a failed publish attempt
    * is redelivered; what the changelog must guarantee is that the
    * SURVIVING state is correct once all deliveries complete).
    */
  private def raceTwo(body: => Unit): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = (1 to 2).map(_ => Future {
        try body catch { case _: Throwable => body }
      })
      Await.result(Future.sequence(fs), 3.minutes): Unit
    } finally pool.shutdown()
  }

  test("two concurrent idempotent commits of the same (id, delta) — the " +
       "zombie-publisher race — leave the keyed read correct") {
    val path = Sinks.tmpPath("changelog_race_sameid")
    // Structured Streaming can only produce this race as a zombie
    // driver redelivering the SAME deterministic batch under the same
    // id. File-level outcomes may differ (either writer's files, or
    // both writers' byte-identical row sets side by side — dynamic
    // overwrite serializes per job commit, not across jobs), but the
    // changelog's read contract is KEYED last-write-wins, which
    // collapses every such outcome to the one delta state. 5 trials
    // to give the race room to interleave differently.
    for (_ <- 1 to 5) {
      Sinks.deleteRecursively(path)
      Changelog.commit(Seq(("k1", "a"), ("k2", "a")).toDF("k", "v"), path, 0L)
      val delta = Seq(("k1", "b"), ("k3", "b")).toDF("k", "v")
      raceTwo(Changelog.commitIdempotent(delta, path, 1L))
      val got = Changelog.snapshotAt(spark, path, Seq("k"), Long.MaxValue)
        .as[(String, String)].collect().sorted.toSeq
      assert(got == Seq(("k1", "b"), ("k2", "a"), ("k3", "b")))
    }
  }

  test("two concurrent idempotent commits under DIFFERENT ids both land, " +
       "LWW order decided by commit id — never arrival order") {
    val path = Sinks.tmpPath("changelog_race_diffid")
    for (_ <- 1 to 5) {
      Sinks.deleteRecursively(path)
      Changelog.commit(Seq(("k1", "a"), ("k2", "a")).toDF("k", "v"), path, 0L)
      val d1 = Seq(("k1", "c1"), ("k3", "c1")).toDF("k", "v")
      val d2 = Seq(("k1", "c2"), ("k4", "c2")).toDF("k", "v")
      // each writer owns its own _commit=<v> directory — the dynamic
      // overwrite touches only that partition, so the two jobs are
      // physically disjoint and BOTH must land whatever the interleave
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try Await.result(Future.sequence(Seq(
        Future(Changelog.commitIdempotent(d1, path, 1L)),
        Future(Changelog.commitIdempotent(d2, path, 2L)))), 3.minutes): Unit
      finally pool.shutdown()
      val got = Changelog.snapshotAt(spark, path, Seq("k"), Long.MaxValue)
        .as[(String, String)].collect().sorted.toSeq
      // k1: commit 2 wins by ID even if commit 1's job finished later
      assert(got == Seq(("k1", "c2"), ("k2", "a"), ("k3", "c1"),
        ("k4", "c2")))
    }
  }

  test("checkpoint(v) racing snapshotAt(w >= v) readers: completed reads " +
       "are correct; a reader holding a PRE-checkpoint plan fails loudly, " +
       "never returns truncated data") {
    val path = Sinks.tmpPath("changelog_race_ckpt")
    Sinks.deleteRecursively(path)
    // 6 commits over 60 keys; commits 4-5 rewrite a strict subset, so
    // pre-horizon commits still carry live rows (the meaningful case)
    for (c <- 0L to 5L)
      Changelog.commit(
        spark.range(c * 10, c * 10 + 20).select(
          concat(lit("k"), col("id")).as("k"),
          concat(lit("v"), lit(c)).as("v")),
        path, c)
    val expected = Changelog.snapshotAt(spark, path, Seq("k"), 5L)
      .as[(String, String)].collect().sorted.toSeq
    // the deterministic interleaving: a reader PLANS before the
    // checkpoint (file listing done), COLLECTS after the vacuum — the
    // files it planned over are gone, and with the default
    // ignoreMissingFiles=false the read must fail LOUDLY (the
    // snapshot-isolation trade a file-only log makes; a tx-log format
    // buys live readers, not different correctness)
    val stalePlan = Changelog.snapshotAt(spark, path, Seq("k"), 5L)
    stalePlan.count() // force listing + a materialization pre-race
    // live race: readers re-planning concurrently with the checkpoint
    // either see a correct state (base lands BEFORE the vacuum, and
    // base-plus-leftover-pre-horizon-commits still LWW-compact to the
    // same state) or fail loudly mid-vacuum — never a wrong answer
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    @volatile var stop = false
    val reader = Future {
      var completed = 0
      var failed = 0
      val wrong = Seq.newBuilder[Seq[(String, String)]]
      while (!stop) {
        try {
          val got = Changelog.snapshotAt(spark, path, Seq("k"), 5L)
            .as[(String, String)].collect().sorted.toSeq
          completed += 1
          if (got != expected) wrong += got
        } catch { case _: Throwable => failed += 1 }
      }
      (completed, failed, wrong.result())
    }
    try {
      Changelog.checkpoint(spark, path, Seq("k"), 3L)
    } finally stop = true
    val (completed, failed, wrong) = Await.result(reader, 3.minutes)
    assert(wrong.isEmpty,
      s"concurrent reader saw a WRONG state ($completed completed, " +
        s"$failed loud failures): ${wrong.take(1)}")
    // post-checkpoint: w >= v snapshots byte-identical, stale plan loud
    val after = Changelog.snapshotAt(spark, path, Seq("k"), 5L)
      .as[(String, String)].collect().sorted.toSeq
    assert(after == expected)
    intercept[Throwable](stalePlan.as[(String, String)].collect())
  }

  // ---- Round-13 hardening: the ops log's own races + loud guards ----

  test("checkpointOps(v) racing snapshotAtOps(w >= v): completed reads " +
       "correct, stale plans fail loudly, and post-race NO surviving " +
       "file holds a deleted row's bytes") {
    val path = Sinks.tmpPath("changelog_race_ckpt_ops")
    Sinks.deleteRecursively(path)
    // 4 upsert commits over 40 keys, then a tombstone commit deleting
    // a subset whose values carry a recognizable secret — the erasure
    // claim must hold even while readers race the checkpoint
    for (c <- 0L to 3L)
      Changelog.commitUpsert(
        spark.range(c * 10, c * 10 + 20).select(
          concat(lit("k"), col("id")).as("k"),
          concat(lit("opssecret"), col("id"), lit("_c"), lit(c)).as("v")),
        path, c)
    Changelog.commitDelete(spark,
      spark.range(0, 5).select(concat(lit("k"), col("id")).as("k")),
      path, 4L)
    val expected = Changelog.snapshotAt(spark, path, Seq("k"), 4L)
      .as[(String, String)].collect().sorted.toSeq
    val stalePlan = Changelog.snapshotAt(spark, path, Seq("k"), 4L)
    stalePlan.count() // plan + list pre-race
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    @volatile var stop = false
    val reader = Future {
      var completed = 0
      var failed = 0
      val wrong = Seq.newBuilder[Seq[(String, String)]]
      while (!stop) {
        try {
          val got = Changelog.snapshotAt(spark, path, Seq("k"), 4L)
            .as[(String, String)].collect().sorted.toSeq
          completed += 1
          if (got != expected) wrong += got
        } catch { case _: Throwable => failed += 1 }
      }
      (completed, failed, wrong.result())
    }
    try {
      Changelog.checkpoint(spark, path, Seq("k"), 4L)
    } finally stop = true
    val (completed, failed, wrong) = Await.result(reader, 3.minutes)
    assert(wrong.isEmpty,
      s"concurrent ops reader saw a WRONG state ($completed completed, " +
        s"$failed loud failures): ${wrong.take(1)}")
    assert(Changelog.snapshotAt(spark, path, Seq("k"), 4L)
      .as[(String, String)].collect().sorted.toSeq == expected)
    intercept[Throwable](stalePlan.as[(String, String)].collect())
    // physical erasure survived the race: deleted keys' values (ids
    // 0..4 in every pre-delete commit) are in no surviving file's bytes
    def bytesUnder(dir: java.io.File): Iterator[Byte] =
      Option(dir.listFiles()).toSeq.flatten.iterator.flatMap(f =>
        if (f.isDirectory) bytesUnder(f)
        else java.nio.file.Files.readAllBytes(f.toPath).iterator)
    val hay = new String(bytesUnder(new java.io.File(path)).toArray,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    for (id <- 0 to 4; c <- 0 to 3)
      assert(!hay.contains(s"opssecret${id}_c$c"), s"id=$id c=$c survived")
    // and the horizon guard is now active below v
    intercept[IllegalArgumentException](
      Changelog.snapshotAt(spark, path, Seq("k"), 3L))
  }

  test("the mid-checkpoint listing is DETERMINISTICALLY correct: a " +
       "snapshot planned while the fold and the pre-vacuum commits " +
       "coexist must not resurrect deleted keys (the phase-1 fold " +
       "carries the window's tombstones)") {
    val path = Sinks.tmpPath("changelog_midckpt")
    Sinks.deleteRecursively(path)
    for (c <- 0L to 3L)
      Changelog.commitUpsert(
        spark.range(c * 10, c * 10 + 20).select(
          concat(lit("k"), col("id")).as("k"),
          concat(lit("v"), col("id"), lit("_c"), lit(c)).as("v")),
        path, c)
    Changelog.commitDelete(spark,
      spark.range(0, 5).select(concat(lit("k"), col("id")).as("k")),
      path, 4L)
    val expected = Changelog.snapshotAt(spark, path, Seq("k"), 4L)
      .as[(String, String)].collect().sorted.toSeq
    // read EXACTLY in the window the old single-phase fold left wrong:
    // fold landed at _commit=4, commits 0..3 still listed
    @volatile var midState: Seq[(String, String)] = null
    Changelog.testAfterFold.set { () =>
      midState = Changelog.snapshotAt(spark, path, Seq("k"), 4L)
        .as[(String, String)].collect().sorted.toSeq
    }
    try Changelog.checkpoint(spark, path, Seq("k"), 4L)
    finally Changelog.testAfterFold.set(() => ())
    assert(midState == expected,
      s"the mid-checkpoint mixed listing resurrected deleted keys: " +
        s"${midState.filterNot(expected.contains).take(3)}")
    // post-checkpoint: the erasure pass ran — no tombstone rows (or
    // deleted keys) survive in the base, and the snapshot is intact
    assert(Changelog.snapshotAt(spark, path, Seq("k"), 4L)
      .as[(String, String)].collect().sorted.toSeq == expected)
    val base = spark.read.parquet(path)
    assert(base.filter(col(Changelog.OpCol) === "d").isEmpty,
      "phase 2 must erase the fold's tombstones once history is gone")
    assert(base.filter(col("k").isin((0 to 4).map(i => s"k$i"): _*))
      .isEmpty, "deleted keys must not survive the checkpoint")
  }

  test("a crash between the vacuum and the erasure pass leaves a " +
       "value-clean, CORRECT base; the re-run checkpoint finishes " +
       "the key-level erasure") {
    val path = Sinks.tmpPath("changelog_ckpt_crash")
    Sinks.deleteRecursively(path)
    Changelog.commitUpsert(
      spark.range(0, 10).select(concat(lit("k"), col("id")).as("k"),
        concat(lit("crashsecret"), col("id")).as("v")), path, 0L)
    Changelog.commitDelete(spark,
      spark.range(0, 3).select(concat(lit("k"), col("id")).as("k")),
      path, 1L)
    val expected = Changelog.snapshotAt(spark, path, Seq("k"), 1L)
      .as[(String, String)].collect().sorted.toSeq
    Changelog.testAfterVacuum.set(() =>
      throw new RuntimeException("simulated crash before phase 2"))
    try intercept[RuntimeException](
      Changelog.checkpoint(spark, path, Seq("k"), 1L))
    finally Changelog.testAfterVacuum.set(() => ())
    // post-crash: the base carries tombstones (history already
    // vacuumed) — reads stay CORRECT and the deleted VALUES are
    // already gone (a tombstone holds the key and nulls, never data)
    assert(Changelog.snapshotAt(spark, path, Seq("k"), 1L)
      .as[(String, String)].collect().sorted.toSeq == expected)
    val mid = spark.read.parquet(path)
    assert(mid.filter(col(Changelog.OpCol) === "d").count() == 3,
      "the crash leg keeps the fold's tombstones")
    def bytesOf(dir: java.io.File): String = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(dir).map(f => new String(
        java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.ISO_8859_1)).mkString
    }
    for (i <- 0 to 2)
      assert(!bytesOf(new java.io.File(path)).contains(s"crashsecret$i"),
        s"deleted VALUE $i must be gone even on the crash leg")
    // the RE-RUN checkpoint (v == horizon passes the guard) finishes
    // phase 2: no tombstone rows, no deleted keys, snapshot intact
    Changelog.checkpoint(spark, path, Seq("k"), 1L)
    val base = spark.read.parquet(path)
    assert(base.filter(col(Changelog.OpCol) === "d").isEmpty)
    assert(base.filter(col("k").isin("k0", "k1", "k2")).isEmpty,
      "the re-run must finish the key-level erasure")
    assert(Changelog.snapshotAt(spark, path, Seq("k"), 1L)
      .as[(String, String)].collect().sorted.toSeq == expected)
  }

  test("commitDelete racing commitUpsert under ONE commit id (the q184 " +
       "redelivery interleave): the key resolves DETERMINISTICALLY — " +
       "tombstone wins at equal commit id") {
    val path = Sinks.tmpPath("changelog_race_mixedop")
    for (_ <- 1 to 5) {
      Sinks.deleteRecursively(path)
      Changelog.commitUpsert(
        Seq(("k1", "a"), ("k2", "a")).toDF("k", "v"), path, 0L)
      // one delivery upserts k1+k3, the other tombstones k1 — both
      // under commit id 1 (a micro-batch's two halves redelivered)
      raceTwo {
        Changelog.commitUpsert(Seq(("k1", "b"), ("k3", "b")).toDF("k", "v"),
          path, 1L)
        Changelog.commitDelete(spark, Seq("k1").toDF("k"), path, 1L)
      }
      val got = Changelog.snapshotAt(spark, path, Seq("k"), 1L)
        .as[(String, String)].collect().sorted.toSeq
      // delete wins the intra-commit tie EVERY trial: k1 dead, k2
      // untouched, k3 inserted — never an arrival-order-dependent k1
      assert(got == Seq(("k2", "a"), ("k3", "b")))
    }
  }

  test("ops feed below a checkpointOps horizon fails loudly; at the " +
       "horizon it is still exact") {
    val path = Sinks.tmpPath("changelog_spec_ops_horizon")
    Sinks.deleteRecursively(path)
    Changelog.commitUpsert(
      Seq(("k1", "a"), ("k2", "a")).toDF("k", "v"), path, 0L)
    Changelog.commitUpsert(Seq(("k2", "b")).toDF("k", "v"), path, 1L)
    Changelog.commitDelete(spark, Seq("k1").toDF("k"), path, 2L)
    Changelog.checkpoint(spark, path, Seq("k"), 1L)
    // below the horizon: snapshot and feed both refuse — a silent feed
    // would label every surviving key `insert` with null olds and a
    // q183-style maintenance consumer would double-count
    intercept[IllegalArgumentException](
      Changelog.snapshotAt(spark, path, Seq("k"), 0L))
    val e = intercept[IllegalArgumentException](
      Changelog.changesBetween(spark, path, Seq("k"), 0L, 2L, Seq("v")))
    assert(e.getMessage.contains("horizon"))
    // at v0 = horizon the feed is exact: only k1's delete sits in (1, 2]
    val feed = Changelog.changesBetween(spark, path, Seq("k"), 1L, 2L,
        Seq("v"))
      .select("k", "change_type", "old_v", "new_v")
      .as[(String, String, Option[String], Option[String])]
      .collect().sorted.toSeq
    assert(feed == Seq(("k1", "delete", Some("a"), None)))
  }

  test("write-path shape guard: a plain delta cannot land in an ops log " +
       "(it would compact as DEAD), nor an ops delta in a plain log") {
    val ops = Sinks.tmpPath("changelog_spec_shape_ops")
    val plain = Sinks.tmpPath("changelog_spec_shape_plain")
    Sinks.deleteRecursively(ops); Sinks.deleteRecursively(plain)
    Changelog.commitUpsert(Seq(("k1", "a")).toDF("k", "v"), ops, 0L)
    Changelog.commit(Seq(("k1", "a")).toDF("k", "v"), plain, 0L)
    // mis-routed plain upsert into the ops log: before this guard the
    // row landed with _op null and silently vanished from snapshots
    val e = intercept[IllegalArgumentException](
      Changelog.commit(Seq(("k2", "b")).toDF("k", "v"), ops, 1L))
    assert(e.getMessage.contains("OPS log"))
    intercept[IllegalArgumentException](
      Changelog.commitIdempotent(Seq(("k2", "b")).toDF("k", "v"), ops, 1L))
    // ops rows into a plain log: tombstones would read as data rows
    intercept[IllegalArgumentException](
      Changelog.commit(
        Seq(("k2", "b", "u")).toDF("k", "v", Changelog.OpCol), plain, 1L))
    // neither refused write landed
    assert(Changelog.snapshotAt(spark, ops, Seq("k"), 99L).count() == 1L)
    assert(Changelog.snapshotAt(spark, plain, Seq("k"), 99L).count() == 1L)
  }

  test("commitDelete refuses a keys frame whose key TYPE diverges from " +
       "the log schema — a silent parquet-type fork otherwise") {
    val path = Sinks.tmpPath("changelog_spec_keytype")
    Sinks.deleteRecursively(path)
    Changelog.commitUpsert(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path, 0L)
    val e = intercept[IllegalArgumentException](
      Changelog.commitDelete(spark, Seq(1).toDF("k"), path, 1L))
    assert(e.getMessage.contains("type"))
    // the correctly-typed delete still works
    Changelog.commitDelete(spark, Seq(1L).toDF("k"), path, 1L)
    assert(Changelog.snapshotAt(spark, path, Seq("k"), 1L)
      .as[(Long, String)].collect().toSeq == Seq((2L, "b")))
  }

  test("AS OF TIMESTAMP resolves to the latest stamp <= t (boundary " +
       "inclusive); stamp guards are loud (q190)") {
    val path = Sinks.tmpPath("changelog_spec_asof")
    Sinks.deleteRecursively(path)
    Changelog.commitStamped(
      Seq(("k1", "a"), ("k2", "a")).toDF("k", "v"), path, 0L, 1000L)
    Changelog.commitStamped(Seq(("k2", "b")).toDF("k", "v"), path, 1L, 2000L)
    Changelog.commitStamped(Seq(("k3", "c")).toDF("k", "v"), path, 2L, 3000L)
    def asOf(t: Long) = Changelog.snapshotAsOf(spark, path, Seq("k"), t)
      .as[(String, String)].collect().toMap
    assert(asOf(1000L) == Map("k1" -> "a", "k2" -> "a")) // boundary = commit 0
    assert(asOf(2500L) == Map("k1" -> "a", "k2" -> "b")) // commit 2 in the
    assert(asOf(3000L) == asOf(999999L))                 // log, not leaking
    assert(asOf(3000L) == Map("k1" -> "a", "k2" -> "b", "k3" -> "c"))
    // before the first commit: nothing existed — loud, never empty
    val early = intercept[IllegalArgumentException](asOf(999L))
    assert(early.getMessage.contains("predates"))
    // a stamp needs its commit (data first, then the clock entry)
    intercept[IllegalArgumentException](
      Changelog.stampCommit(path, 9L, 5000L))
    // stamps are immutable: equal re-stamp is the idempotent no-op,
    // a different value is refused
    Changelog.stampCommit(path, 1L, 2000L)
    val mut = intercept[IllegalArgumentException](
      Changelog.stampCommit(path, 1L, 2500L))
    assert(mut.getMessage.contains("immutable"))
    // a stamp breaking monotonicity with commit order is refused
    Changelog.commit(Seq(("k4", "d")).toDF("k", "v"), path, 3L)
    val mono = intercept[IllegalArgumentException](
      Changelog.stampCommit(path, 3L, 2500L))
    assert(mono.getMessage.contains("non-monotone"))
    // an UNSTAMPED live commit makes clock resolution refuse — it
    // would otherwise silently skip commit 3's data
    val un = intercept[IllegalArgumentException](asOf(2500L))
    assert(un.getMessage.contains("unstamped"))
    Changelog.stampCommit(path, 3L, 4000L)
    assert(asOf(4000L)("k4") == "d")
  }

  test("AS OF TIMESTAMP composes with checkpoint: stamps survive the " +
       "fold, instants below the horizon fail loudly") {
    val path = Sinks.tmpPath("changelog_spec_asof_ckpt")
    Sinks.deleteRecursively(path)
    Changelog.commitUpsert(
      Seq(("k1", "a"), ("k2", "a")).toDF("k", "v"), path, 0L)
    Changelog.stampCommit(path, 0L, 1000L)
    Changelog.commitUpsert(Seq(("k2", "b")).toDF("k", "v"), path, 1L)
    Changelog.stampCommit(path, 1L, 2000L)
    Changelog.commitDelete(spark, Seq("k1").toDF("k"), path, 2L)
    Changelog.stampCommit(path, 2L, 3000L)
    Changelog.checkpoint(spark, path, Seq("k"), 1L)
    // instants at/after the horizon commit still resolve and read
    assert(Changelog.snapshotAsOf(spark, path, Seq("k"), 2500L)
      .as[(String, String)].collect().toMap == Map("k1" -> "a", "k2" -> "b"))
    assert(Changelog.snapshotAsOf(spark, path, Seq("k"), 3000L)
      .as[(String, String)].collect().toMap == Map("k2" -> "b"))
    // an instant that RESOLVES below the horizon hits the same loud
    // guard as a versioned read — retention applies to the clock too
    val e = intercept[IllegalArgumentException](
      Changelog.snapshotAsOf(spark, path, Seq("k"), 1500L))
    assert(e.getMessage.contains("horizon"))
    // the feed addressed by clock: (2000, 3000] resolves to (v1, v2]
    // — exactly k1's delete with its old value carried
    val feed = Changelog.changesBetweenTimestamps(spark, path,
        Seq("k"), 2000L, 3000L, Seq("v"))
      .select("k", "change_type", "old_v", "new_v")
      .as[(String, String, Option[String], Option[String])]
      .collect().toSeq
    assert(feed == Seq(("k1", "delete", Some("a"), None)))
    // both instants resolving to ONE commit is an empty window — loud
    // (a consumer polling faster than commits land should skip the
    // cycle, not process a silently-empty feed)
    intercept[IllegalArgumentException](
      Changelog.changesBetweenTimestamps(spark, path, Seq("k"),
        2000L, 2500L, Seq("v")))
  }

  test("clustered ops checkpoint (OPTIMIZE): content identical, key " +
       "ranges prune to EXACT file counts, horizon guard active (q191)") {
    val path = Sinks.tmpPath("changelog_spec_optimize")
    Sinks.deleteRecursively(path)
    val base = spark.range(1000).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v"))
    Changelog.commitUpsert(base, path, 0L)
    Changelog.commitDelete(spark,
      spark.range(100).select((col("id") * 10).as("k")), path, 1L)
    Changelog.commitUpsert(
      spark.range(50).select((col("id") * 20).as("k"),
        concat(lit("r"), col("id") * 20).as("v")), path, 2L)
    Changelog.checkpoint(spark, path, Seq("k"), 1L,
      Some(Changelog.RangeCluster("k", 1000L, 8)))
    // content: live-at-1 (k not a multiple of 10) ∪ commit-2
    // resurrections/rewrites under LWW — exactly the Scala model
    val expected = (0L until 1000L).flatMap { k =>
      if (k % 20 == 0) Some(k -> s"r$k")
      else if (k % 10 == 0) None
      else Some(k -> s"v$k")
    }.toMap
    val got = Changelog.snapshotAt(spark, path, Seq("k"), 2L)
      .as[(Long, String)].collect().toMap
    assert(got == expected)
    // layout: the folded base is exactly 8 arithmetic range files
    // (width 125), so touched-file counts are EXACT, not margins
    val baseDir = s"$path/${Changelog.CommitCol}=1"
    val baseFiles = Option(new java.io.File(baseDir).listFiles()).toSeq
      .flatten.filter(_.getName.endsWith(".parquet"))
    assert(baseFiles.length == 8, s"base files: ${baseFiles.length}")
    def touched(lo: Long, hi: Long): Long =
      spark.read.parquet(baseDir).filter(col("k").between(lo, hi))
        .select(input_file_name()).distinct().count()
    assert(touched(0L, 124L) == 1L)   // one full range -> one file
    assert(touched(100L, 374L) == 3L) // spans ranges 0,1,2 -> three files
    // below the horizon the clustered checkpoint guards like the rest
    intercept[IllegalArgumentException](
      Changelog.snapshotAt(spark, path, Seq("k"), 0L))
  }

  test("shallow clone at v: branch diverges, origin untouched, and a " +
       "checkpoint's vacuum on the ORIGIN cannot destroy the clone's " +
       "bytes (q193)") {
    val origin = Sinks.tmpPath("changelog_spec_clone_src")
    val dest = Sinks.tmpPath("changelog_spec_clone_dst")
    Sinks.deleteRecursively(origin); Sinks.deleteRecursively(dest)
    Changelog.commitUpsert(
      Seq(("k1", "a"), ("k2", "a"), ("k3", "a")).toDF("k", "v"), origin, 0L)
    Changelog.commitUpsert(Seq(("k2", "b")).toDF("k", "v"), origin, 1L)
    Changelog.commitDelete(spark, Seq("k1").toDF("k"), origin, 2L)
    Changelog.cloneAt(spark, origin, dest, 1L)
    // the clone is the v=1 state — commit 2 (the delete) not taken
    def snap(p: String) = Changelog
      .snapshotAt(spark, p, Seq("k"), Long.MaxValue)
      .as[(String, String)].collect().toMap
    assert(snap(dest) == Map("k1" -> "a", "k2" -> "b", "k3" -> "a"))
    // branch commit on the clone; the origin never sees it
    Changelog.commitUpsert(Seq(("k5", "z")).toDF("k", "v"), dest, 2L)
    assert(snap(dest) ==
      Map("k1" -> "a", "k2" -> "b", "k3" -> "a", "k5" -> "z"))
    assert(snap(origin) == Map("k2" -> "b", "k3" -> "a"))
    // cloning over an existing path is loud
    val e = intercept[IllegalArgumentException](
      Changelog.cloneAt(spark, origin, dest, 1L))
    assert(e.getMessage.contains("exists"))
    // the physical-independence law: checkpoint the ORIGIN (vacuums
    // commits 0 and 1 — the very directories the clone hardlinked);
    // the clone must still read every byte (inode refcounting)
    Changelog.checkpoint(spark, origin, Seq("k"), 2L)
    assert(snap(origin) == Map("k2" -> "b", "k3" -> "a"))
    assert(snap(dest) ==
      Map("k1" -> "a", "k2" -> "b", "k3" -> "a", "k5" -> "z"))
    // a clone of a CHECKPOINTED log inherits the horizon: pre-fold
    // versions are as unreadable through the clone as the origin
    val dest2 = Sinks.tmpPath("changelog_spec_clone_dst2")
    Sinks.deleteRecursively(dest2)
    Changelog.cloneAt(spark, origin, dest2, 2L)
    assert(snap(dest2) == Map("k2" -> "b", "k3" -> "a"))
    val h = intercept[IllegalArgumentException](
      Changelog.snapshotAt(spark, dest2, Seq("k"), 1L))
    assert(h.getMessage.contains("horizon"))
  }

  test("cloneAt of a stamped, checkpointed log: the stamps a checkpoint " +
       "keeps below its horizon travel, and the clone reads at v") {
    val origin = Sinks.tmpPath("changelog_spec_clone_stamped_src")
    val dest = Sinks.tmpPath("changelog_spec_clone_stamped_dst")
    Sinks.deleteRecursively(origin); Sinks.deleteRecursively(dest)
    for (c <- 0L to 3L)
      Changelog.commitStamped(Seq(("k", s"v$c"), (s"k$c", "x")).toDF("k", "v"),
        origin, c, 1000L * (c + 1))
    Changelog.checkpoint(spark, origin, Seq("k"), 2L)
    Changelog.cloneAt(spark, origin, dest, 3L)
    def snap(p: String) = Changelog.snapshotAt(spark, p, Seq("k"), 3L)
      .as[(String, String)].collect().toMap
    assert(snap(dest) == snap(origin))
    assert(Changelog.commitTimestamps(dest) ==
      Changelog.commitTimestamps(origin).filter(_._1 <= 3L))
    assert(Changelog.versionAtTimestamp(dest, 3500L) == 2L)
  }

  test("restoreOps lands the MINIMAL diff as a new commit: head serves " +
       "the target state, history stays readable, untouched keys " +
       "contribute nothing (q194)") {
    val path = Sinks.tmpPath("changelog_spec_restore")
    Sinks.deleteRecursively(path)
    Changelog.commitUpsert(
      Seq(("k1", "a"), ("k2", "a"), ("k3", "a")).toDF("k", "v"), path, 0L)
    Changelog.commitUpsert(Seq(("k2", "b")).toDF("k", "v"), path, 1L)
    Changelog.commitDelete(spark, Seq("k1").toDF("k"), path, 2L)
    Changelog.commitUpsert(
      Seq(("k3", "c"), ("k4", "c")).toDF("k", "v"), path, 3L)
    // restore to v=1: {k1→a, k2→b, k3→a}; current head (3) is
    // {k2→b, k3→c, k4→c} — diff = re-insert k1, roll back k3,
    // tombstone k4; k2 is untouched and must NOT appear
    Changelog.restoreOps(spark, path, Seq("k"), 1L, 4L)
    def snap(v: Long) = Changelog.snapshotAt(spark, path, Seq("k"), v)
      .as[(String, String)].collect().toMap
    assert(snap(4L) == Map("k1" -> "a", "k2" -> "b", "k3" -> "a"))
    // history intact: the pre-restore head still reads exactly
    assert(snap(3L) == Map("k2" -> "b", "k3" -> "c", "k4" -> "c"))
    // minimal diff: the restore commit holds exactly 3 rows
    assert(spark.read
      .parquet(s"$path/${Changelog.CommitCol}=4").count() == 3L)
    // guards: restore must land ABOVE the head, target must exist
    intercept[IllegalArgumentException](
      Changelog.restoreOps(spark, path, Seq("k"), 1L, 3L))
    intercept[IllegalArgumentException](
      Changelog.restoreOps(spark, path, Seq("k"), 99L, 5L))
  }

  test("mergeIntoOps: three-clause merge in one MINIMAL commit — " +
       "identical source rows suppressed, absent-key deletes ignored " +
       "(q196)") {
    val path = Sinks.tmpPath("changelog_spec_merge")
    Sinks.deleteRecursively(path)
    Changelog.commitUpsert(
      Seq(("k1", "a"), ("k2", "b"), ("k3", "c")).toDF("k", "v"), path, 0L)
    // source: k1 identical (suppress), k2 changed (update), k3 marked
    // (delete), k4 new (insert), k5 new but marked (ignore)
    val src = Seq(("k1", "a"), ("k2", "B"), ("k3", "DEL"),
      ("k4", "d"), ("k5", "DEL")).toDF("k", "v")
    Changelog.mergeIntoOps(spark, path, Seq("k"), src, 1L,
      deleteWhen = Some(col("v") === "DEL"))
    assert(Changelog.snapshotAt(spark, path, Seq("k"), 1L)
      .as[(String, String)].collect().toMap ==
      Map("k1" -> "a", "k2" -> "B", "k4" -> "d"))
    // minimal commit: exactly update + tombstone + insert = 3 rows
    assert(spark.read
      .parquet(s"$path/${Changelog.CommitCol}=1").count() == 3L)
    // guards: column-set mismatch and not-above-head are loud
    val e = intercept[IllegalArgumentException](
      Changelog.mergeIntoOps(spark, path, Seq("k"),
        Seq(("k9", "x", 1)).toDF("k", "v", "extra"), 2L))
    assert(e.getMessage.contains("columns"))
    intercept[IllegalArgumentException](
      Changelog.mergeIntoOps(spark, path, Seq("k"), src, 1L))
  }

  test("cloneAt racing checkpointOps on the origin: a returned clone " +
       "is EXACT, a raced clone fails loudly and removes its partial " +
       "destination") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val origin = Sinks.tmpPath("changelog_race_clone_src")
    var cloneWins = 0
    var cloneLoses = 0
    for (trial <- 1 to 5) {
      Sinks.deleteRecursively(origin)
      for (c <- 0L to 3L)
        Changelog.commitUpsert(
          spark.range(c * 10, c * 10 + 20).select(
            concat(lit("k"), col("id")).as("k"),
            concat(lit("v"), col("id"), lit("_"), lit(c)).as("v")),
          origin, c)
      val expected = Changelog.snapshotAt(spark, origin, Seq("k"), 2L)
        .as[(String, String)].collect().toMap
      val dest = Sinks.tmpPath(s"changelog_race_clone_dst$trial")
      Sinks.deleteRecursively(dest)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val cloneF = Future {
        try { Changelog.cloneAt(spark, origin, dest, 2L); true }
        catch { case _: Throwable => false }
      }
      // the checkpoint's vacuum destroys the very directories the
      // clone is linking (fold at 3 vacuums commits 0–2)
      val ckptF = Future {
        Changelog.checkpoint(spark, origin, Seq("k"), 3L)
      }
      val cloned = Await.result(cloneF, 3.minutes)
      Await.result(ckptF, 3.minutes)
      pool.shutdown()
      if (cloned) {
        cloneWins += 1
        // a clone that RETURNED must be exact — the vacuum only
        // unlinked the origin's references, never the clone's bytes
        assert(Changelog
          .snapshotAt(spark, dest, Seq("k"), Long.MaxValue)
          .as[(String, String)].collect().toMap == expected,
          s"trial $trial: raced clone returned a WRONG state")
      } else {
        cloneLoses += 1
        // a clone that failed must have failed LOUDLY and cleaned up
        // (the retry contract: nothing blocks the re-run but the
        // now-correct horizon guard)
        assert(!new java.io.File(dest).exists(),
          s"trial $trial: failed clone left a partial destination")
      }
    }
    info(s"clone completed first in $cloneWins/5 trials, " +
      s"refused/failed loudly in $cloneLoses/5")
    // the deterministic losing path: after the last trial's checkpoint
    // (horizon 3) a clone at v=2 refuses loudly up front
    val eh = intercept[IllegalArgumentException](
      Changelog.cloneAt(spark, origin,
        Sinks.tmpPath("changelog_race_clone_dstx"), 2L))
    assert(eh.getMessage.contains("horizon"))
  }

  test("commit stats prune point lookups to the admitting commits; " +
       "unstamped commits are conservatively included; a checkpoint " +
       "sweeps the markers its fold invalidates (q197)") {
    val path = Sinks.tmpPath("changelog_spec_stats")
    Sinks.deleteRecursively(path)
    // disjoint key ranges per commit: 0 → keys 0–99, 1 → keys 100–199,
    // 2 → rewrites keys 0–99, 3 → tombstones 150–159
    Changelog.commitUpsert(spark.range(0, 100).select(col("id").as("k"),
      concat(lit("a"), col("id")).as("v")), path, 0L)
    Changelog.commitUpsert(spark.range(100, 200).select(col("id").as("k"),
      concat(lit("b"), col("id")).as("v")), path, 1L)
    Changelog.commitUpsert(spark.range(0, 100).select(col("id").as("k"),
      concat(lit("c"), col("id")).as("v")), path, 2L)
    Changelog.commitDelete(spark,
      spark.range(150, 160).select(col("id").as("k")), path, 3L)
    for (c <- 0L to 3L) Changelog.writeCommitStats(spark, path, c, "k")
    def lookup(k: Long) =
      Changelog.lookup(spark, path, Seq("k"), 3L, Seq(LongRange("k", k, k)))
    // a key ONLY commit 1 admits (commit 3's range is 150–159): the
    // scan's file index holds commit 1's directory and no other — the
    // skipping happened at PLANNING time, before any footer opened
    val plan149 = Changelog.lookup(spark, path, Seq("k"), 3L,
        Seq(LongRange("k", 149L, 149L)))
      .queryExecution.executedPlan.toString
    assert(plan149.contains("_commit=1") &&
      !plan149.contains("_commit=0") && !plan149.contains("_commit=2") &&
      !plan149.contains("_commit=3"),
      s"lookup planned outside the admitting commits:\n${plan149.take(2000)}")
    assert(lookup(149L).as[(Long, String)].collect().toSeq ==
      Seq((149L, "b149")))
    // LWW through the pruned read: commit 2 beats commit 0
    assert(lookup(50L).as[(Long, String)].collect().toSeq ==
      Seq((50L, "c50")))
    // tombstone through the pruned read: deleted key is empty
    assert(lookup(155L).isEmpty)
    // out-of-universe key: every commit skipped, still exact (empty)
    assert(lookup(5000L).isEmpty)
    // pruned == unpruned on every class (the correctness law)
    for (k <- Seq(0L, 50L, 99L, 100L, 149L, 155L, 199L))
      assert(lookup(k).as[(Long, String)].collect().toSeq ==
        Changelog.snapshotAt(spark, path, Seq("k"), 3L)
          .filter(col("k") === k).as[(Long, String)].collect().toSeq, s"k=$k")
    // the RANGE form (q198): [100, 149] intersects only commit 1's
    // range; the window compacts exactly the unpruned slice
    val planR = Changelog.lookup(spark, path, Seq("k"), 3L,
        Seq(LongRange("k", 100L, 149L)))
      .queryExecution.executedPlan.toString
    assert(planR.contains("_commit=1") && !planR.contains("_commit=0") &&
      !planR.contains("_commit=2") && !planR.contains("_commit=3"),
      s"range lookup planned outside the admitting commits:\n" +
        planR.take(2000))
    assert(Changelog.lookup(spark, path, Seq("k"), 3L,
        Seq(LongRange("k", 90L, 160L)))
      .as[(Long, String)].collect().toMap ==
      Changelog.snapshotAt(spark, path, Seq("k"), 3L)
        .filter(col("k").between(90L, 160L))
        .as[(Long, String)].collect().toMap)
    intercept[IllegalArgumentException](
      Changelog.lookup(spark, path, Seq("k"), 3L, Seq(LongRange("k", 5L, 1L))))
    // a commit WITHOUT stats is conservatively included: drop commit
    // 1's marker, the lookup still answers exactly
    assert(new java.io.File(path, "_graft_stats_1").delete())
    assert(lookup(149L).as[(Long, String)].collect().toSeq ==
      Seq((149L, "b149")))
    // the fold invalidates markers: checkpoint at 2 rewrites
    // _commit=2 with ALL live keys — its pre-fold marker (range
    // 0–99) must be swept, or a lookup for key 160 (live, held only
    // by the folded base) would wrong-skip it. Stats below the
    // horizon go with their commits.
    Changelog.checkpoint(spark, path, Seq("k"), 2L)
    val left = Changelog.commitColumnStats(path).keySet
    assert(!left.contains(2L) && !left.contains(0L),
      s"stale markers survived the fold: $left")
    assert(Changelog.lookup(spark, path, Seq("k"), 3L,
        Seq(LongRange("k", 160L, 160L)))
      .as[(Long, String)].collect().toSeq == Seq((160L, "b160")))
    // statsCol must be a KEY column: a non-key column changes across a
    // key's versions, making pre-compaction filtering silently wrong
    val ek = intercept[IllegalArgumentException](
      Changelog.lookup(spark, path, Seq("k"), 3L, Seq(LongRange("v2", 0L, 1L))))
    assert(ek.getMessage.contains("key column"))
  }

  test("generalized commit stats: STRING key min/max prune lookups in " +
       "UTF-8 order, multi-column markers carry null counts, all-null " +
       "columns soundly skip value probes (q202/q203)") {
    val path = Sinks.tmpPath("changelog_spec_stats_str")
    Sinks.deleteRecursively(path)
    // disjoint STRING key ranges per commit: 0 → a000–a099,
    // 1 → b000–b099, 2 → rewrites a-range, 3 → tombstones b050–b059.
    // c1 also carries an all-null aux column (null-count evidence).
    def keyed(prefix: String, from: Int, until: Int) =
      spark.range(from, until).select(
        concat(lit(prefix), lpad(col("id").cast("string"), 3, "0")).as("k"),
        concat(lit("v"), col("id")).as("v"),
        lit(null).cast("string").as("aux"))
    Changelog.commitUpsert(keyed("a", 0, 100)
      .withColumn("aux", concat(lit("x"), col("k"))), path, 0L)
    Changelog.commitUpsert(keyed("b", 0, 100), path, 1L)
    Changelog.commitUpsert(keyed("a", 0, 100)
      .withColumn("v", concat(lit("w"), col("k"))), path, 2L)
    Changelog.commitDelete(spark,
      spark.range(50, 60).select(
        concat(lit("b"), lpad(col("id").cast("string"), 3, "0")).as("k")),
      path, 3L)
    for (c <- 0L to 3L)
      Changelog.writeCommitStatsMulti(spark, path, c, Seq("k", "aux"))
    // the marker records per-column stats incl. null counts; c1's aux
    // is all-null and says so
    val st = Changelog.commitColumnStats(path)
    assert(st(0L)("k") ==
      Changelog.StringColStats("a000", "a099", 0L))
    assert(st(1L)("aux") == Changelog.AllNullColStats(100L))
    assert(st(3L)("aux") == Changelog.AllNullColStats(10L))
    // a lookup in the b-range plans ONLY commits 1 and 3 (the a-range
    // commits 0/2 excluded by their string stats)
    val plan = Changelog.lookup(spark, path, Seq("k"), 3L,
        Seq(StringRange("k", "b040", "b070")))
      .queryExecution.executedPlan.toString
    // exactly two directories in the scan's file index (1 and 3; the
    // rendered path list truncates, so count + exclusions carry the
    // proof)
    assert(plan.contains("InMemoryFileIndex(2 paths)") &&
      !plan.contains("_commit=0") && !plan.contains("_commit=2"),
      s"string lookup planned outside the admitting commits:\n" +
        plan.take(2000))
    // exactness across every delete class, vs the unpruned snapshot
    val got = Changelog.lookup(spark, path, Seq("k"), 3L,
        Seq(StringRange("k", "b040", "b070")))
      .select("k", "v").as[(String, String)].collect().toMap
    val want = Changelog.snapshotAt(spark, path, Seq("k"), 3L)
      .filter(col("k") >= "b040" && col("k") <= "b070")
      .select("k", "v").as[(String, String)].collect().toMap
    assert(got == want && got.size == 21 && !got.contains("b055"))
    // point form: a rewritten key resolves to its LATEST version
    // through the pruned read
    assert(Changelog.lookup(spark, path, Seq("k"), 3L,
        Seq(StringRange("k", "a042", "a042")))
      .select("k", "v").as[(String, String)].collect().toSeq ==
      Seq(("a042", "wa042")))
    // out-of-universe probe: every commit skipped, exact empty
    assert(Changelog.lookup(spark, path, Seq("k"), 3L,
      Seq(StringRange("k", "zzz", "zzz"))).isEmpty)
    // an ALL-NULL column as the probe target would wrong-skip only if
    // the admit logic were wrong — prove the skip is sound: aux is a
    // non-key column, so the guard refuses it loudly instead
    intercept[IllegalArgumentException](
      Changelog.lookup(spark, path, Seq("k"), 3L,
        Seq(StringRange("k2", "x", "x"))))
    // UTF-8 vs UTF-16 order: a supplementary-plane key sorts ABOVE
    // 0xFFFF-class chars in UTF-8 byte order (Spark's order) while
    // Java's compareTo would sort it below — the driver must agree
    // with Spark or wrong-skip. Commit 4 holds one BMP key U+FFFD and
    // commit 5 one supplementary key U+10400; a probe for U+10400
    // must NOT skip commit 5.
    val bmp = "�"
    val supp = new String(Character.toChars(0x10400))
    assert(bmp.compareTo(supp) > 0) // Java UTF-16 order: bmp AFTER supp
    Changelog.commitUpsert(Seq((bmp, "vb", "x")).toDF("k", "v", "aux"),
      path, 4L)
    Changelog.commitUpsert(Seq((supp, "vs", "x")).toDF("k", "v", "aux"),
      path, 5L)
    for (c <- 4L to 5L)
      Changelog.writeCommitStatsMulti(spark, path, c, Seq("k"))
    assert(Changelog.lookup(spark, path, Seq("k"), 5L,
        Seq(StringRange("k", supp, supp)))
      .select("k", "v").as[(String, String)].collect().toSeq ==
      Seq((supp, "vs")))
  }

  test("optimizeOps: OPTIMIZE at head WITHOUT losing history — every " +
       "historical snapshot unchanged, head reads prune to the base, " +
       "feeds skip the pure rewrite, range reads hit exact file " +
       "counts (q199)") {
    val path = Sinks.tmpPath("changelog_spec_optimize_head")
    Sinks.deleteRecursively(path)
    val base = spark.range(1000).select(col("id").as("k"),
      concat(lit("v"), col("id")).as("v"))
    Changelog.commitUpsert(base, path, 0L)
    Changelog.commitDelete(spark,
      spark.range(100).select((col("id") * 10).as("k")), path, 1L)
    Changelog.commitUpsert(
      spark.range(50).select((col("id") * 20).as("k"),
        concat(lit("r"), col("id") * 20).as("v")), path, 2L)
    def snap(v: Long) = Changelog.snapshotAt(spark, path, Seq("k"), v)
      .as[(Long, String)].collect().toMap
    val pre = (0L to 3L).map(v => v -> snap(math.min(v, 2L))).toMap
    val feedPre = Changelog.changesBetween(spark, path, Seq("k"),
      0L, 2L, trackCols = Seq("v"))
      .collect().map(_.toSeq).toSet
    // guards: not-above-head and non-key cluster column are loud
    intercept[IllegalArgumentException](
      Changelog.optimizeOps(spark, path, Seq("k"), 2L, "k", 1000L, 8))
    intercept[IllegalArgumentException](
      Changelog.optimizeOps(spark, path, Seq("k"), 3L, "v", 1000L, 8))
    Changelog.optimizeOps(spark, path, Seq("k"), 3L, "k", 1000L, 8)
    // every snapshot — strictly below, at, and above the base — is
    // value-identical to the pre-OPTIMIZE reads
    for (v <- 0L to 3L)
      assert(snap(v) == pre(v), s"snapshot at $v changed under OPTIMIZE")
    // head reads PRUNE to the base: the scan carries the base floor as
    // a PARTITION filter (>= 3 alongside <= 3 — directories below the
    // base are pruned before any footer opens)
    val plan = Changelog.snapshotAt(spark, path, Seq("k"), 3L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("<= 3") &&
      plan.contains(">= 3"),
      s"head read missing the base-floor partition filter:\n" +
        plan.take(2000))
    // the base is 8 arithmetic range files; key-range reads touch
    // EXACT counts, and the stats marker was written for the base
    val baseDir = s"$path/${Changelog.CommitCol}=3"
    assert(Option(new java.io.File(baseDir).listFiles()).toSeq.flatten
      .count(_.getName.endsWith(".parquet")) == 8)
    assert(Changelog.commitColumnStats(path).contains(3L))
    def touched(lo: Long, hi: Long): Long =
      spark.read.parquet(baseDir).filter(col("k").between(lo, hi))
        .select(input_file_name()).distinct().count()
    assert(touched(0L, 124L) == 1L)
    assert(touched(100L, 374L) == 3L)
    // the feed SKIPS the pure rewrite: a window crossing the base
    // reports exactly the pre-OPTIMIZE changes (and the base id is
    // not scanned for candidates — zero feed rows from it)
    assert(Changelog.changesBetween(spark, path, Seq("k"),
      0L, 3L, trackCols = Seq("v"))
      .collect().map(_.toSeq).toSet == feedPre)
    // commitWithRetry ignores the base in conflict detection: a delta
    // derived at version 2 (before the base landed) commits cleanly —
    // the base "touched" every key but changed none
    val id = Changelog.commitWithRetry(spark, path, Seq("k"),
      Seq((1L, "post")).toDF("k", "v")
        .withColumn(Changelog.OpCol, lit("u")),
      readVersion = 2L, writer = "wPost")
    assert(id == 4L)
    assert(snap(4L)(1L) == "post")
    // a later checkpoint reclaims superseded history as usual
    Changelog.checkpoint(spark, path, Seq("k"), 3L)
    assert(snap(4L)(1L) == "post" && snap(3L) == pre(3L))
    intercept[IllegalArgumentException](snap(2L))
  }

  test("OCC: two INDEPENDENT writers racing the SAME commit id — " +
       "exactly one lands, the loser's conflict names the winner " +
       "(5-trial discipline)") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val path = Sinks.tmpPath("changelog_occ_sameid")
    for (trial <- 1 to 5) {
      Sinks.deleteRecursively(path)
      Changelog.commit(Seq(("k0", "base")).toDF("k", "v"), path, 0L,
        writer = "w0")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      // both writers independently computed "head + 1 = 1" and carry
      // DIFFERENT deltas — the exact silent-interleave hole
      def attempt(writer: String, value: String) = Future {
        try {
          Changelog.commit(Seq(("k1", value)).toDF("k", "v"), path, 1L,
            writer = writer)
          None
        } catch { case e: IllegalArgumentException => Some(e.getMessage) }
      }
      val (ra, rb) = (attempt("wA", "fromA"), attempt("wB", "fromB"))
      val (a, b) = (Await.result(ra, 2.minutes), Await.result(rb, 2.minutes))
      pool.shutdown()
      assert(a.isDefined != b.isDefined,
        s"trial $trial: expected exactly one winner, got a=$a b=$b")
      val loserMsg = a.orElse(b).get
      val winner = if (a.isEmpty) "wA" else "wB"
      val winVal = if (a.isEmpty) "fromA" else "fromB"
      assert(loserMsg.contains(s"claimed by writer '$winner'"),
        s"trial $trial: conflict must name the winner: $loserMsg")
      assert(Changelog.claimHolder(path, 1L).contains(winner))
      // commit 1 holds EXACTLY the winner's delta — never an interleave
      assert(Changelog.snapshotAt(spark, path, Seq("k"), 1L)
        .as[(String, String)].collect().toMap ==
        Map("k0" -> "base", "k1" -> winVal),
        s"trial $trial: loser's rows leaked into the claimed commit")
      // the loser's retry path: re-read head, land at the next id
      val loser = if (winner == "wA") "wB" else "wA"
      val id = Changelog.commitWithRetry(spark, path, Seq("k"),
        Seq(("k2", "retried")).toDF("k", "v"), readVersion = 1L,
        writer = loser)
      assert(id == 2L)
    }
  }

  test("OCC commitWithRetry: key-DISJOINT concurrent writers both " +
       "land (one retries to the next id); key-INTERSECTING writers — " +
       "the second fails loudly with the conflict, claim released") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val path = Sinks.tmpPath("changelog_occ_retry")
    for (trial <- 1 to 5) {
      Sinks.deleteRecursively(path)
      Changelog.commit(
        Seq(("k1", "a"), ("k2", "b")).toDF("k", "v"), path, 0L)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      // DISJOINT keys: both read head 0, race commitWithRetry — both
      // must land (ids 1 and 2 in some order), state = both deltas
      val fa = Future(Changelog.commitWithRetry(spark, path, Seq("k"),
        Seq(("k1", "a2")).toDF("k", "v"), readVersion = 0L, writer = "wA"))
      val fb = Future(Changelog.commitWithRetry(spark, path, Seq("k"),
        Seq(("k3", "c")).toDF("k", "v"), readVersion = 0L, writer = "wB"))
      val (ia, ib) = (Await.result(fa, 2.minutes), Await.result(fb, 2.minutes))
      pool.shutdown()
      assert(Set(ia, ib) == Set(1L, 2L),
        s"trial $trial: disjoint writers landed at $ia/$ib")
      assert(Changelog.snapshotAt(spark, path, Seq("k"), 2L)
        .as[(String, String)].collect().toMap ==
        Map("k1" -> "a2", "k2" -> "b", "k3" -> "c"),
        s"trial $trial: a disjoint delta was lost")
    }
    // INTERSECTING keys, sequential shape (deterministic): writer A
    // lands k1 at id 3; writer B derived its k1 delta from version 2
    // and must be REFUSED — blind landing would lose A's update
    Changelog.commitWithRetry(spark, path, Seq("k"),
      Seq(("k1", "a3")).toDF("k", "v"), readVersion = 2L, writer = "wA")
    val e = intercept[IllegalArgumentException] {
      Changelog.commitWithRetry(spark, path, Seq("k"),
        Seq(("k1", "STALE")).toDF("k", "v"), readVersion = 2L,
        writer = "wB")
    }
    assert(e.getMessage.contains("conflict") &&
      e.getMessage.contains("re-derive"), e.getMessage)
    // the refused attempt released its claim: a fresh re-derived
    // commit from the NEW head lands at the id the failure probed
    assert(Changelog.claimHolder(path, 4L).isEmpty,
      "a refused commitWithRetry left its claim behind")
    val id = Changelog.commitWithRetry(spark, path, Seq("k"),
      Seq(("k1", "rederived")).toDF("k", "v"), readVersion = 3L,
      writer = "wB")
    assert(id == 4L)
    assert(Changelog.snapshotAt(spark, path, Seq("k"), 4L)
      .as[(String, String)].collect().toMap ==
      Map("k1" -> "rederived", "k2" -> "b", "k3" -> "c"))
  }

  test("OCC preserves redelivery: the SAME writer re-lands its own id " +
       "idempotently; claims survive on a clone and are swept below a " +
       "checkpoint horizon") {
    val path = Sinks.tmpPath("changelog_occ_redelivery")
    Sinks.deleteRecursively(path)
    Changelog.commitUpsert(Seq(("k1", "a")).toDF("k", "v"), path, 0L)
    Changelog.commitUpsert(Seq(("k2", "b")).toDF("k", "v"), path, 1L)
    // redelivery: same (default) writer overwrites its own commit —
    // allowed, byte-identical semantics
    Changelog.commitIdempotent(
      Seq(("k2", "b")).toDF("k", "v")
        .withColumn(Changelog.OpCol, lit("u")), path, 1L)
    assert(Changelog.snapshotAt(spark, path, Seq("k"), 1L).count() == 2L)
    // a different writer may NOT overwrite the held id
    val e = intercept[IllegalArgumentException](
      Changelog.commitIdempotent(
        Seq(("k2", "EVIL")).toDF("k", "v")
          .withColumn(Changelog.OpCol, lit("u")),
        path, 1L, writer = "intruder"))
    assert(e.getMessage.contains("claimed by writer"))
    // clone carries claims: the cloned ids stay arbitrated on the branch
    val dest = Sinks.tmpPath("changelog_occ_redelivery_clone")
    Sinks.deleteRecursively(dest)
    Changelog.cloneAt(spark, path, dest, 1L)
    assert(Changelog.claimHolder(dest, 1L).contains(Changelog.SoloWriter))
    val ec2 = intercept[IllegalArgumentException](
      Changelog.commitUpsert(Seq(("kX", "x")).toDF("k", "v"), dest, 1L,
        writer = "intruder"))
    assert(ec2.getMessage.contains("claimed by writer"))
    // checkpoint sweeps claims below the horizon with their commits
    Changelog.commitUpsert(Seq(("k3", "c")).toDF("k", "v"), path, 2L)
    Changelog.checkpoint(spark, path, Seq("k"), 2L)
    assert(Changelog.claimHolder(path, 0L).isEmpty &&
      Changelog.claimHolder(path, 1L).isEmpty &&
      Changelog.claimHolder(path, 2L).isDefined)
  }

  test("changelog metadata through the Hadoop FileSystem API: a file: " +
       "URI log (a shape java.io.File mangles into './file:...') runs " +
       "commit/stamp/stats/lookup/checkpoint/clone end to end") {
    val base = Sinks.tmpPath("changelog_spec_hadoopfs")
    Sinks.deleteRecursively(base)
    val path = "file:" + base // the non-java.io.File path shape
    Changelog.commitUpsert(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path, 0L)
    Changelog.stampCommit(path, 0L, 1000L)
    Changelog.commitDelete(spark, Seq(1L).toDF("k"), path, 1L)
    Changelog.stampCommit(path, 1L, 2000L)
    Changelog.commitUpsert(Seq((3L, "c")).toDF("k", "v"), path, 2L)
    Changelog.stampCommit(path, 2L, 3000L)
    // marker files must live INSIDE the log dir — the java.io.File
    // binding would have written them to a literal './file:...' path
    assert(new java.io.File(base, "_graft_ts_0").isFile)
    // clock addressing resolves through the URI
    assert(Changelog.snapshotAsOf(spark, path, Seq("k"), 2500L)
      .as[(Long, String)].collect().toMap == Map(2L -> "b"))
    // stats markers + pruned lookup through the URI
    for (c <- 0L to 2L) Changelog.writeCommitStats(spark, path, c, "k")
    assert(new java.io.File(base, "_graft_stats_2").isFile)
    assert(Changelog.lookup(spark, path, Seq("k"), 2L,
        Seq(LongRange("k", 3L, 3L)))
      .as[(Long, String)].collect().toSeq == Seq((3L, "c")))
    // shallow clone URI → URI (local fs on both sides: hardlinks)
    val destBase = Sinks.tmpPath("changelog_spec_hadoopfs_clone")
    Sinks.deleteRecursively(destBase)
    Changelog.cloneAt(spark, path, "file:" + destBase, 2L)
    assert(Changelog.snapshotAt(spark, "file:" + destBase,
      Seq("k"), 2L).as[(Long, String)].collect().toMap ==
      Map(2L -> "b", 3L -> "c"))
    // checkpoint + vacuum + horizon through the URI
    Changelog.checkpoint(spark, path, Seq("k"), 2L)
    assert(Changelog.horizonOf(path) == 2L)
    assert(new java.io.File(base, "_graft_horizon").isFile)
    assert(Changelog.snapshotAt(spark, path, Seq("k"), 2L)
      .as[(Long, String)].collect().toMap == Map(2L -> "b", 3L -> "c"))
    val eh = intercept[IllegalArgumentException](
      Changelog.snapshotAt(spark, path, Seq("k"), 1L))
    assert(eh.getMessage.contains("horizon"))
  }

  test("mergeIntoOps: a NULL deleteWhen verdict reads as 'not deleted' " +
       "— the source row still merges (three-valued-logic hole)") {
    val path = Sinks.tmpPath("changelog_spec_merge_null")
    Sinks.deleteRecursively(path)
    Changelog.commitUpsert(
      Seq(("k1", Some(1L)), ("k2", Some(2L))).toDF("k", "x"), path, 0L)
    // deleteWhen = x > 5: k1 → null x (predicate NULL — must UPDATE,
    // not vanish), k2 → 9 (delete), k3 → null x unmatched (must INSERT)
    val src = Seq(("k1", None), ("k2", Some(9L)), ("k3", None))
      .toDF("k", "x")
    Changelog.mergeIntoOps(spark, path, Seq("k"), src, 1L,
      deleteWhen = Some(col("x") > 5))
    assert(Changelog.snapshotAt(spark, path, Seq("k"), 1L)
      .as[(String, Option[Long])].collect().toMap ==
      Map("k1" -> None, "k3" -> None))
  }

  test("checkpoint with an EMPTY fold (every key dead at v) still " +
       "erases the pre-fold commit physically and reads empty") {
    val path = Sinks.tmpPath("changelog_spec_ckpt_empty")
    Sinks.deleteRecursively(path)
    Changelog.commitUpsert(
      Seq(("k1", "SECRET1"), ("k2", "SECRET2")).toDF("k", "v"), path, 0L)
    Changelog.commitDelete(spark,
      Seq("k1", "k2").toDF("k"), path, 1L)
    Changelog.checkpoint(spark, path, Seq("k"), 1L)
    // the folded state is empty — and NO surviving file below or at
    // the horizon may hold the deleted rows' bytes (the zero-row
    // dynamic overwrite was a silent no-op before the landFold branch:
    // commit 1's own pre-fold directory survived the vacuum)
    def survivingBytes: String = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).toSeq.flatten.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(path)).map(f =>
        new String(java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.charset.StandardCharsets.ISO_8859_1)).mkString
    }
    assert(!survivingBytes.contains("SECRET"),
      "deleted rows' bytes survived the empty-fold checkpoint")
    assert(Changelog.snapshotAt(spark, path, Seq("k"), 1L).isEmpty)
    // the log stays writable and readable after the empty base: a new
    // commit on top serves normally
    Changelog.commitUpsert(Seq(("k3", "c")).toDF("k", "v"), path, 2L)
    assert(Changelog.snapshotAt(spark, path, Seq("k"), 2L)
      .as[(String, String)].collect().toSeq == Seq(("k3", "c")))
    // same law for the PLAIN log's checkpoint: fold of an empty plain
    // log state — plain logs cannot delete, so emptiness arises from
    // a checkpoint at a version BEFORE the first commit's data... the
    // realistic plain case is an ops log; here we pin the ops path
    // above and the clustered flavor below.
    val path2 = Sinks.tmpPath("changelog_spec_ckpt_empty_clustered")
    Sinks.deleteRecursively(path2)
    Changelog.commitUpsert(
      spark.range(0, 50).select(col("id").as("k"),
        concat(lit("S3CR3T"), col("id")).as("v")), path2, 0L)
    Changelog.commitDelete(spark,
      spark.range(0, 50).select(col("id").as("k")), path2, 1L)
    Changelog.checkpoint(spark, path2, Seq("k"), 1L,
      Some(Changelog.RangeCluster("k", 50L, 4)))
    assert(Changelog.snapshotAt(spark, path2, Seq("k"), 1L).isEmpty)
  }

  test("commitInfo: every verb records (verb, writer, footer rows); " +
       "DESCRIBE HISTORY surfaces them; a checkpoint re-records its " +
       "fold and the vacuum sweeps the superseded markers (q180)") {
    val path = Sinks.tmpPath("changelog_spec_info")
    Sinks.deleteRecursively(path)
    def rows(lo: Long, hi: Long, tag: String) =
      spark.range(lo, hi).select(col("id").as("k"),
        concat(lit(tag), col("id")).as("v"))
    Changelog.commitUpsert(rows(0, 20, "a"), path, 0L)                // 20
    Changelog.commitDelete(spark,
      spark.range(0, 5).select(col("id").as("k")), path, 1L)         // 5
    Changelog.mergeIntoOps(spark, path, Seq("k"),
      rows(10, 25, "m"), 2L)                                         // 15
    val occId = Changelog.commitWithRetry(spark, path, Seq("k"),
      rows(100, 104, "o").withColumn(Changelog.OpCol, lit("u")),
      readVersion = 2L, writer = "wI")                               // 4
    assert(occId == 3L)
    Changelog.restoreOps(spark, path, Seq("k"), 2L, 4L)
    val infos = Changelog.commitInfos(path)
    assert(infos(0L) == (("upsert", Changelog.SoloWriter, 20L)))
    assert(infos(1L) == (("delete", Changelog.SoloWriter, 5L)))
    assert(infos(2L)._1 == "merge" && infos(2L)._2 == Changelog.SoloWriter)
    assert(infos(3L) == (("occ-append", "wI", 4L)))
    assert(infos(4L)._1 == "restore")
    // every recorded count equals the commit dir's data count
    val dataCounts = spark.read.parquet(path)
      .groupBy(Changelog.CommitCol).count()
      .collect().map(r => r.getInt(0).toLong -> r.getLong(1)).toMap
    infos.foreach { case (id, (_, _, n)) => assert(dataCounts(id) == n) }
    // DESCRIBE HISTORY: one row per landed commit, metadata joined
    val hist = Changelog.describeHistory(spark, path)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2), r.getLong(3))).toMap
    assert(hist.keySet == Set(0L, 1L, 2L, 3L, 4L))
    assert(hist(3L) == (("occ-append", "wI", 4L)))
    // checkpoint at 2: the fold re-records commit 2 as 'checkpoint'
    // (the pre-fold 'merge' marker no longer describes the directory)
    // and sweeps the markers of the vacuumed commits 0/1
    Changelog.checkpoint(spark, path, Seq("k"), 2L)
    val after = Changelog.commitInfos(path)
    assert(after.keySet == Set(2L, 3L, 4L))
    assert(after(2L)._1 == "checkpoint")
    assert(after(2L)._3 == Changelog.commitDirStats(path, 2L)._1)
    // optimize records its base commit; the clone carries the markers
    Changelog.optimizeOps(spark, path, Seq("k"), 5L, "k", 200L, 2)
    assert(Changelog.commitInfos(path)(5L)._1 == "optimize")
    val dest = Sinks.tmpPath("changelog_spec_info_clone")
    Sinks.deleteRecursively(dest)
    Changelog.cloneAt(spark, path, dest, 5L)
    assert(Changelog.commitInfos(dest) == Changelog.commitInfos(path))
  }

  test("optimizeOpsString: the base lands as exact equal-depth files " +
       "in UTF-8 key order (q188 rank kernel), history intact, string " +
       "stats recorded, touched-file counts exact (q218)") {
    val path = Sinks.tmpPath("changelog_spec_opt_string")
    Sinks.deleteRecursively(path)
    def key(id: Long) = f"K$id%04d"
    val base = spark.range(400).select(
      format_string("K%04d", col("id")).as("k"),
      concat(lit("v"), col("id")).as("v"))
    Changelog.commitUpsert(base, path, 0L)
    Changelog.commitDelete(spark,
      spark.range(40).select(format_string("K%04d", col("id") * 10).as("k")),
      path, 1L)
    Changelog.commitUpsert(
      spark.range(20).select(format_string("K%04d", col("id") * 20).as("k"),
        concat(lit("r"), col("id") * 20).as("v")), path, 2L)
    val preV1 = Changelog.snapshotAt(spark, path, Seq("k"), 1L)
      .as[(String, String)].collect().toMap
    Changelog.optimizeOpsString(spark, path, Seq("k"), 3L, "k",
      numFiles = 4)
    // content: the live-state model, byte-identical through the rewrite
    val model = (0L until 400L).flatMap { id =>
      if (id % 20 == 0) Some(key(id) -> s"r$id")
      else if (id % 10 == 0) None
      else Some(key(id) -> s"v$id")
    }.toMap
    assert(Changelog.snapshotAt(spark, path, Seq("k"), Long.MaxValue)
      .as[(String, String)].collect().toMap == model)
    // history intact: the pre-optimize version still serves exactly
    assert(Changelog.snapshotAt(spark, path, Seq("k"), 1L)
      .as[(String, String)].collect().toMap == preV1)
    // layout: 380 live keys into 4 files of EXACTLY 95, string-ordered
    // and disjoint across files — equal depth by rank, not by value
    val baseDir = s"$path/${Changelog.CommitCol}=3"
    val files = Option(new java.io.File(baseDir).listFiles()).toSeq
      .flatten.filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files.length == 4, s"base files: ${files.length}")
    val perFile = files.map { f =>
      val rows = spark.read.parquet(f.getPath)
        .select("k").as[String].collect().sorted
      (rows.length, rows.head, rows.last)
    }
    assert(perFile.map(_._1) == Seq(95, 95, 95, 95),
      s"equal depth violated: ${perFile.map(_._1)}")
    val ordered = perFile.sortBy(_._2)
    ordered.sliding(2).foreach { case Seq(a, b) =>
      assert(a._3 < b._2, s"file ranges overlap: $a vs $b")
    case _ => () }
    // touched-file exactness from the model: the probe range's ranks
    // map to files rank/95 — count distinct files that serve it
    val sortedLive = model.keys.toSeq.sorted
    def expectTouched(lo: String, hi: String): Long = {
      val ranks = sortedLive.zipWithIndex
        .filter { case (k, _) => k >= lo && k <= hi }.map(_._2)
      ranks.map(_ / 95).distinct.length.toLong
    }
    def touched(lo: String, hi: String): Long =
      spark.read.parquet(baseDir).filter(col("k").between(lo, hi))
        .select(input_file_name()).distinct().count()
    for ((lo, hi) <- Seq(("K0000", "K0099"), ("K0150", "K0349"),
        ("K0390", "K0399")))
      assert(touched(lo, hi) == expectTouched(lo, hi),
        s"touched($lo, $hi): got ${touched(lo, hi)}, " +
          s"want ${expectTouched(lo, hi)}")
    // the string stats marker feeds the skipping lookup exactly
    assert(Changelog.commitColumnStats(path)(3L).contains("k"))
    assert(Changelog.lookup(spark, path, Seq("k"),
        Long.MaxValue, Seq(StringRange("k", key(20), key(20))))
      .as[(String, String)]
      .collect().toSeq == Seq((key(20), "r20")))
  }

  test("optimizeOpsZOrder: the base lands 2-D z-clustered — box slices " +
       "prune to exact file counts, the stats marker carries BOTH key " +
       "columns, snapshots unchanged") {
    val path = Sinks.tmpPath("changelog_spec_opt_zorder")
    Sinks.deleteRecursively(path)
    // 32×32 grid keyed (x, y): commit 0 the full grid, commit 1
    // rewrites a diagonal stripe
    val grid = spark.range(1024).select(
      (col("id") % 32).as("x"),
      floor(col("id") / 32).cast("long").as("y"),
      concat(lit("v"), col("id")).as("v"))
    Changelog.commitUpsert(grid, path, 0L)
    Changelog.commitUpsert(
      spark.range(32).select(col("id").as("x"), col("id").as("y"),
        concat(lit("d"), col("id")).as("v")), path, 1L)
    val pre = Changelog
      .snapshotAt(spark, path, Seq("x", "y"), Long.MaxValue)
      .as[(Long, Long, String)].collect().toSet
    Changelog.optimizeOpsZOrder(spark, path, Seq("x", "y"), 2L,
      "x", "y", bits = 5, numFiles = 4)
    val got = Changelog
      .snapshotAt(spark, path, Seq("x", "y"), Long.MaxValue)
      .as[(Long, Long, String)].collect().toSet
    assert(got == pre, "OPTIMIZE must be a pure rewrite")
    // layout: z domain 2^10 into 4 files of width 256; the box
    // x<16 ∧ y<16 has all interleaved bits below 2^8, so it lives in
    // file 0 alone — ONE touched file out of four
    val baseDir = s"$path/${Changelog.CommitCol}=2"
    val files = Option(new java.io.File(baseDir).listFiles()).toSeq
      .flatten.filter(_.getName.endsWith(".parquet"))
    assert(files.length == 4, s"base files: ${files.length}")
    def touched(c: org.apache.spark.sql.Column): Long =
      spark.read.parquet(baseDir).filter(c)
        .select(input_file_name()).distinct().count()
    assert(touched(col("x") < 16 && col("y") < 16) == 1L)
    // the complementary quadrant (x,y >= 16): top bits of both set →
    // z >= 3·256 — again exactly one file
    assert(touched(col("x") >= 16 && col("y") >= 16) == 1L)
    // the stats marker records BOTH dimensions (the q202 multi form)
    val stats = Changelog.commitColumnStats(path)(2L)
    assert(stats.contains("x") && stats.contains("y"))
    // commit-level skipping composes on either dimension
    assert(Changelog.lookup(spark, path, Seq("x", "y"),
        Long.MaxValue, Seq(LongRange("y", 5L, 5L)))
      .count() == 32L)
  }

  // ---- Round-15 maintenance-vs-OCC races -----------------------------
  //
  // The writer-vs-writer interleavings were race-specced in r14; these
  // pin the MAINTENANCE surface: a fold racing an OCC append, two
  // concurrent folds (now arbitrated by the maintenance mutex), and
  // OPTIMIZE racing a writer for the next commit id. The discipline is
  // the clone-race test's: 5 trials, every outcome must be either
  // correct or LOUD — never silently wrong.

  test("checkpointOps(v) racing commitWithRetry above v: both land, " +
       "the fold loses nothing, the OCC delta survives, horizon exact") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val path = Sinks.tmpPath("changelog_race_ckpt_occ")
    for (trial <- 1 to 5) {
      Sinks.deleteRecursively(path)
      for (c <- 0L to 2L)
        Changelog.commitUpsert(
          spark.range(c * 20, c * 20 + 40).select(col("id").as("k"),
            concat(lit("v"), col("id"), lit("_"), lit(c)).as("v")),
          path, c)
      val expectedBase = Changelog
        .snapshotAt(spark, path, Seq("k"), 2L)
        .as[(Long, String)].collect().toMap
      val delta = spark.range(1000, 1010).select(col("id").as("k"),
          concat(lit("occ"), col("id")).as("v"))
        .withColumn(Changelog.OpCol, lit("u"))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val ckptF = Future(Changelog.checkpoint(spark, path, Seq("k"), 2L))
      val occF = Future(Changelog.commitWithRetry(spark, path, Seq("k"),
        delta, readVersion = 2L, writer = "wR"))
      Await.result(ckptF, 3.minutes)
      val occId = Await.result(occF, 3.minutes)
      pool.shutdown()
      assert(occId == 3L, s"trial $trial: OCC landed at $occId")
      assert(Changelog.horizonOf(path) == 2L)
      val got = Changelog
        .snapshotAt(spark, path, Seq("k"), Long.MaxValue)
        .as[(Long, String)].collect().toMap
      val want = expectedBase ++
        (1000L until 1010L).map(k => k -> s"occ$k").toMap
      assert(got == want, s"trial $trial: fold+OCC state diverged")
      val eh = intercept[IllegalArgumentException](
        Changelog.snapshotAt(spark, path, Seq("k"), 1L))
      assert(eh.getMessage.contains("horizon"))
    }
  }

  test("two concurrent checkpointOps: the maintenance mutex admits " +
       "exactly one; the loser is loud and a re-run converges") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val path = Sinks.tmpPath("changelog_race_ckpt_ckpt")
    var lostLoudly = 0
    for (trial <- 1 to 5) {
      Sinks.deleteRecursively(path)
      for (c <- 0L to 2L)
        Changelog.commitUpsert(
          spark.range(c * 10, c * 10 + 20).select(col("id").as("k"),
            concat(lit("v"), col("id"), lit("_"), lit(c)).as("v")),
          path, c)
      val expected = Changelog
        .snapshotAt(spark, path, Seq("k"), 2L)
        .as[(Long, String)].collect().toMap
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val fs = (1 to 2).map(_ => Future {
        try { Changelog.checkpoint(spark, path, Seq("k"), 2L); None }
        catch { case t: Throwable => Some(t) }
      })
      val outcomes = Await.result(Future.sequence(fs), 3.minutes)
      pool.shutdown()
      val failures = outcomes.flatten
      // the mutex admits at most one concurrently; a loser must be
      // loud ABOUT THE MUTEX (never a torn staging dir failure), and a
      // sequential re-run must converge on the same state
      failures.foreach { t =>
        assert(t.getMessage != null &&
          t.getMessage.contains("maintenance mutex"),
          s"trial $trial: loser failed for the wrong reason: $t")
        lostLoudly += 1
        Changelog.checkpoint(spark, path, Seq("k"), 2L)
      }
      assert(Changelog.horizonOf(path) == 2L)
      val got = Changelog
        .snapshotAt(spark, path, Seq("k"), Long.MaxValue)
        .as[(Long, String)].collect().toMap
      assert(got == expected, s"trial $trial: concurrent folds diverged")
    }
    info(s"mutex refused a concurrent fold in $lostLoudly/5 trials")
  }

  test("optimizeOps racing commitWithRetry for the next id: the claim " +
       "arbitrates — each outcome is correct or loud, the final state " +
       "is always live-base + delta") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val path = Sinks.tmpPath("changelog_race_opt_occ")
    var optimizeLost = 0
    for (trial <- 1 to 5) {
      Sinks.deleteRecursively(path)
      for (c <- 0L to 2L)
        Changelog.commitUpsert(
          spark.range(c * 15, c * 15 + 30).select(col("id").as("k"),
            concat(lit("v"), col("id"), lit("_"), lit(c)).as("v")),
          path, c)
      val expectedBase = Changelog
        .snapshotAt(spark, path, Seq("k"), 2L)
        .as[(Long, String)].collect().toMap
      // NEW keys only: a blind append serializes against the rewrite
      // in either order (an intersecting delta would be refused loudly
      // while the base's marker is in flight — conservative, not wrong)
      val delta = spark.range(2000, 2008).select(col("id").as("k"),
          concat(lit("w"), col("id")).as("v"))
        .withColumn(Changelog.OpCol, lit("u"))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val optF = Future {
        try { Changelog.optimizeOps(spark, path, Seq("k"), 3L, "k",
          3000L, 2, writer = "maint"); None }
        catch { case t: Throwable => Some(t) }
      }
      val occF = Future(Changelog.commitWithRetry(spark, path, Seq("k"),
        delta, readVersion = 2L, writer = "wO"))
      val optOutcome = Await.result(optF, 3.minutes)
      val occId = Await.result(occF, 3.minutes)
      pool.shutdown()
      optOutcome.foreach { t =>
        // optimize lost the id-3 claim to the writer: loud, names it
        assert(t.getMessage != null && t.getMessage.contains("claim"),
          s"trial $trial: optimize failed for the wrong reason: $t")
        optimizeLost += 1
        assert(occId == 3L)
      }
      if (optOutcome.isEmpty)
        assert(occId == 4L,
          s"trial $trial: optimize held id 3, writer must land at 4")
      val got = Changelog
        .snapshotAt(spark, path, Seq("k"), Long.MaxValue)
        .as[(Long, String)].collect().toMap
      val want = expectedBase ++
        (2000L until 2008L).map(k => k -> s"w$k").toMap
      assert(got == want, s"trial $trial: optimize+OCC state diverged")
    }
    info(s"optimize lost the id claim in $optimizeLost/5 trials")
  }
}
