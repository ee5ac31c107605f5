package graft

import org.apache.spark.sql.functions._
import graft.sources.{Changelog, GraftLog, GraftLogCatalog, Sinks}

/** The changelog's BATCH DSv2 table surface (GraftLog + GraftLogCatalog
  * + the ResolveGraftLog pre-CBO rule): format reads, SQL time travel,
  * change-feed reads, and the filter-driven commit-stats skipping with
  * its structural pruning proof (inputFiles lists only admitted commit
  * directories — the plan-level fact an oracle cannot see).
  */
class GraftLogTableSpec extends SparkSpec {

  private def fmt = classOf[GraftLog].getName

  private def freshDir(name: String): String = {
    val p = Sinks.tmpPath(s"graftlog_spec_$name")
    Sinks.deleteRecursively(p)
    p
  }

  /** Three-commit ops log over a tiny keyed frame: base, tombstone,
    * update+resurrect — every delete class the snapshot must resolve.
    */
  private def opsFixture(name: String): String = {
    import spark.implicits._
    val path = freshDir(name)
    val base = (0L until 40L).map(k => (k, k * 10.0)).toDF("k", "v")
    Changelog.commitUpsert(base, path, 0L)
    Changelog.commitDelete(spark,
      base.filter($"k" % 10 === 0).select("k"), path, 1L)
    Changelog.commitUpsert(
      base.filter($"k" % 20 === 0).withColumn("v", $"v" + 1000.0)
        .unionByName(
          base.filter($"k" % 10 =!= 0 && $"k" % 7 === 1)
            .withColumn("v", $"v" + 500.0)),
      path, 2L)
    path
  }

  private def expectedHead(path: String) =
    Changelog.snapshotAt(spark, path, Seq("k"), 2L)

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("k").collect().toSeq

  test("format read versionAsOf equals the library snapshot") {
    val path = opsFixture("vread")
    val df = spark.read.format(fmt)
      .option("path", path).option("keys", "k")
      .option("versionAsOf", 2).load()
    assert(df.schema.fieldNames.toSeq == Seq("k", "v"))
    assert(sortedRows(df) == sortedRows(expectedHead(path)))
    // earlier version: tombstones applied, no resurrect yet
    val v1 = spark.read.format(fmt)
      .option("path", path).option("keys", "k")
      .option("versionAsOf", 1).load()
    assert(sortedRows(v1) ==
      sortedRows(Changelog.snapshotAt(spark, path, Seq("k"), 1L)))
  }

  test("latest read pins the head at load") {
    val path = opsFixture("latest")
    val df = spark.read.format(fmt)
      .option("path", path).option("keys", "k").load()
    // a commit landing AFTER load must not leak into this frame
    import spark.implicits._
    Changelog.commitUpsert(Seq((999L, -1.0)).toDF("k", "v"), path, 3L)
    assert(sortedRows(df) == sortedRows(expectedHead(path)))
  }

  test("plain-shape logs route through the plain snapshot") {
    import spark.implicits._
    val path = freshDir("plain")
    Changelog.commit((0L until 10L).map(k => (k, k.toString)).toDF("k", "s"),
      path, 0L)
    Changelog.commit(Seq((3L, "three")).toDF("k", "s"), path, 1L)
    val df = spark.read.format(fmt)
      .option("path", path).option("keys", "k").load()
    assert(sortedRows(df) ==
      sortedRows(Changelog.snapshotAt(spark, path, Seq("k"), Long.MaxValue)))
  }

  test("readChangeFeed equals the library feed") {
    val path = opsFixture("feed")
    val df = spark.read.format(fmt)
      .option("path", path).option("keys", "k")
      .option("readChangeFeed", "true")
      .option("startingVersion", 0).option("endingVersion", 2)
      .option("trackCols", "v").load()
    val lib = Changelog.changesBetween(spark, path, Seq("k"), 0L, 2L,
      Seq("v"))
    assert(df.schema == lib.schema)
    assert(df.orderBy("k").collect().toSeq ==
      lib.orderBy("k").collect().toSeq)
  }

  test("filtered read routes through commit-stats skipping: " +
      "inputFiles lists only admitted commit dirs, values exact") {
    import spark.implicits._
    // DISJOINT key ranges per commit — the skipping fixture: commit 0
    // holds keys [0, 100), commit 1 [100, 200), commit 2 updates [0, 50)
    val path = freshDir("skip")
    def rows(lo: Long, hi: Long, bump: Double) =
      (lo until hi).map(k => (k, k + bump)).toDF("k", "v")
    Changelog.commitUpsert(rows(0, 100, 0.5), path, 0L)
    Changelog.commitUpsert(rows(100, 200, 0.5), path, 1L)
    Changelog.commitUpsert(rows(0, 50, 1000.5), path, 2L)
    for (c <- 0L to 2L) Changelog.writeCommitStats(spark, path, c, "k")
    val table = spark.read.format(fmt)
      .option("path", path).option("keys", "k").option("versionAsOf", 2)
    // point probe in [100, 200): ONLY commit 1 admits
    val point = table.load().filter($"k" === 150L)
    assert(point.inputFiles.nonEmpty &&
      point.inputFiles.forall(_.contains("_commit=1")),
      s"expected all input under _commit=1, got ${point.inputFiles.toSeq}")
    assert(point.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
      == Seq((150L, 150.5)))
    // range probe [40, 60]: commits 0 (keys 40..60) and 2 (40..49) admit
    val range = table.load().filter($"k" >= 40L && $"k" <= 60L)
    val dirs = range.inputFiles.map(f =>
      f.split("/").find(_.startsWith("_commit=")).get).distinct.sorted
    assert(dirs.toSeq == Seq("_commit=0", "_commit=2"),
      s"expected commits 0 and 2, got ${dirs.toSeq}")
    val got = range.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = (40L to 60L).map(k =>
      (k, if (k < 50) k + 1000.5 else k + 0.5))
    assert(got == want)
    // strict / one-sided bounds widen soundly: k > 150 admits commit 1
    val open = table.load().filter($"k" > 150L)
    assert(open.inputFiles.forall(_.contains("_commit=1")))
    assert(open.count() == 49L)
    // a non-key conjunct rides along; the key window still prunes
    val mixed = table.load().filter($"k" === 150L && $"v" > 0.0)
    assert(mixed.inputFiles.forall(_.contains("_commit=1")))
    assert(mixed.count() == 1L)
  }

  test("projection between filter and relation still prunes") {
    import spark.implicits._
    val path = freshDir("skipproj")
    def rows(lo: Long, hi: Long) = (lo until hi).map(k => (k, k * 2.0))
      .toDF("k", "v")
    Changelog.commitUpsert(rows(0, 100), path, 0L)
    Changelog.commitUpsert(rows(100, 200), path, 1L)
    for (c <- 0L to 1L) Changelog.writeCommitStats(spark, path, c, "k")
    val df = spark.read.format(fmt)
      .option("path", path).option("keys", "k").option("versionAsOf", 1)
      .load().filter($"k" === 7L).select("v")
    assert(df.inputFiles.forall(_.contains("_commit=0")))
    assert(df.collect().map(_.getDouble(0)).toSeq == Seq(14.0))
  }

  test("SQL VERSION AS OF and TIMESTAMP AS OF through the catalog") {
    import spark.implicits._
    val path = freshDir("sqltt")
    val base = (0L until 30L).map(k => (k, k * 10.0)).toDF("k", "v")
    Changelog.commitUpsert(base, path, 0L)
    Changelog.stampCommit(path, 0L, 1000L)
    Changelog.commitUpsert(
      base.filter($"k" % 3 === 0).withColumn("v", $"v" + 7.0), path, 1L)
    Changelog.stampCommit(path, 1L, 2000L)
    Changelog.commitDelete(spark, base.filter($"k" % 5 === 0).select("k"),
      path, 2L)
    Changelog.stampCommit(path, 2L, 3000L)
    GraftLogCatalog.register(spark, "glogspec", "t", path, Seq("k"))
    // VERSION AS OF 1: updates applied, deletes not yet
    val v1 = spark.sql("SELECT * FROM glogspec.t VERSION AS OF 1")
    assert(sortedRows(v1) ==
      sortedRows(Changelog.snapshotAt(spark, path, Seq("k"), 1L)))
    // TIMESTAMP AS OF 2.5s epoch: resolves to the commit stamped 2000
    val t = spark.sql(
      "SELECT * FROM glogspec.t TIMESTAMP AS OF '1970-01-01 00:00:02.5'")
    assert(sortedRows(t) == sortedRows(v1))
    // bare name reads the head
    val head = spark.sql("SELECT * FROM glogspec.t")
    assert(sortedRows(head) ==
      sortedRows(Changelog.snapshotAt(spark, path, Seq("k"), 2L)))
    // SQL aggregation over a time-travel clause composes
    val n = spark.sql(
      "SELECT count(*) AS n FROM glogspec.t VERSION AS OF 0")
      .head().getLong(0)
    assert(n == 30L)
  }

  test("two relations of one log in a single query rewrite " +
       "independently (self-join across versions)") {
    import spark.implicits._
    val path = opsFixture("selfjoin")
    def at(v: Int) = spark.read.format(fmt)
      .option("path", path).option("keys", "k")
      .option("versionAsOf", v).load()
    // price drift between v0 and head, through two rewritten relations
    val drift = at(2).as("n").join(at(0).as("o"), "k")
      .select(col("k"), ($"n.v" - $"o.v").as("dv"))
      .filter($"dv" =!= 0.0)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1)))
    val lib = Changelog.snapshotAt(spark, path, Seq("k"), 2L).as("n")
      .join(Changelog.snapshotAt(spark, path, Seq("k"), 0L).as("o"), "k")
      .select(col("k"), ($"n.v" - $"o.v").as("dv"))
      .filter($"dv" =!= 0.0)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(drift.nonEmpty && drift.toSeq == lib.toSeq)
  }

  test("ONE loaded DataFrame appearing twice in a query splices fresh " +
       "exprIds per site (self-join of the same df; filtered-union)") {
    import spark.implicits._
    val path = opsFixture("samedf")
    // a SINGLE load — one LogTable instance at two read positions: the
    // memoized subtree may serve only one site, the other must be a
    // fresh analysis or sibling legs share attribute ids
    val df = spark.read.format(fmt)
      .option("path", path).option("keys", "k")
      .option("versionAsOf", 2).load()
    val joined = df.as("a").join(df.as("b"),
      col("a.k") === col("b.k") + 1)
      .select(col("a.k").as("k"), ($"a.v" + $"b.v").as("vv"))
    // no duplicate exprIds across the two spliced legs
    val dup = {
      val ids = scala.collection.mutable.ArrayBuffer[Long]()
      joined.queryExecution.optimizedPlan.foreach(p =>
        p.output.foreach(a => ids += a.exprId.id))
      ids.groupBy(identity).filter(_._2.size > 1)
    }
    val lib = Changelog.snapshotAt(spark, path, Seq("k"), 2L)
    val want = lib.as("a").join(lib.as("b"), col("a.k") === col("b.k") + 1)
      .select(col("a.k").as("k"), ($"a.v" + $"b.v").as("vv"))
      .orderBy("k").collect().toSeq
    val got = joined.orderBy("k").collect().toSeq
    assert(got.nonEmpty && got == want,
      s"same-df self-join wrong (dup exprIds across legs: $dup)")
    // filtered + unfiltered union of one df — the other shape the
    // advice called out
    val u = df.filter($"k" < 5).unionByName(df).groupBy()
      .agg(count(lit(1)).as("n"), sum($"v").as("s")).collect().head
    val wantU = lib.filter($"k" < 5).unionByName(lib).groupBy()
      .agg(count(lit(1)).as("n"), sum($"v").as("s")).collect().head
    assert(u == wantU)
  }

  test("SHOW TABLES lists the registered logs (conf-backed listTables)") {
    val p1 = opsFixture("show_a")
    val p2 = opsFixture("show_b")
    GraftLogCatalog.register(spark, "glogshow", "alpha", p1, Seq("k"))
    GraftLogCatalog.register(spark, "glogshow", "beta", p2, Seq("k"))
    val names = spark.sql("SHOW TABLES IN glogshow")
      .select("tableName").collect().map(_.getString(0)).sorted.toSeq
    assert(names == Seq("alpha", "beta"))
  }

  test("SQL INSERT INTO appends one OCC-claimed upsert commit; " +
       "DataFrame writeTo(...).append() is the same verb") {
    import spark.implicits._
    val path = opsFixture("dml_insert")
    GraftLogCatalog.register(spark, "glogspec3", "t", path, Seq("k"))
    // SQL insert: new key + an update of an existing one — one commit
    spark.sql("INSERT INTO glogspec3.t VALUES (500, 1.5), (2, 999.0)")
    val hist1 = Changelog.commitInfos(path)
    assert(hist1(3L)._1 == "upsert", s"info: ${hist1.get(3L)}")
    assert(hist1(3L)._3 == 2L)
    val snap1 = Changelog.snapshotAt(spark, path, Seq("k"), 3L)
      .as[(Long, Double)].collect().toMap
    assert(snap1(500L) == 1.5 && snap1(2L) == 999.0)
    // DataFrame API append lands the NEXT claimed commit
    Seq((501L, 2.5)).toDF("k", "v").writeTo("glogspec3.t").append()
    val snap2 = Changelog
      .snapshotAt(spark, path, Seq("k"), Long.MaxValue)
      .as[(Long, Double)].collect().toMap
    assert(snap2(501L) == 2.5 && snap2(500L) == 1.5)
    assert(Changelog.commitInfos(path)(4L) ==
      (("upsert", Changelog.SoloWriter, 1L)))
    // a zero-row insert is a NO-OP: no claim, no commit
    spark.sql("INSERT INTO glogspec3.t SELECT * FROM glogspec3.t WHERE 1=0")
    assert(Changelog.headVersion(path).contains(4L))
    // reserved/op columns and the feed surface refuse loudly
    intercept[Exception] {
      spark.sql("INSERT INTO glogspec3.t VALUES (1)")
    }
  }

  test("txn-idempotent batch append: a replayed (writer, txnVersion) " +
       "SKIPS (Delta's already-recorded contract) instead of " +
       "appending twice or rewriting its commit") {
    import spark.implicits._
    val path = opsFixture("txn_append") // head 2
    GraftLogCatalog.register(spark, "glogspec28", "t", path, Seq("k"))
    def put(rows: Seq[(Long, Double)], tv: Long): Unit =
      rows.toDF("k", "v").writeTo("glogspec28.t")
        .option("writer", "app1").option("txnVersion", tv.toString)
        .append()
    put(Seq((700L, 1.0)), 1L)
    assert(Changelog.headVersion(path).contains(3L))
    // the same txn replayed — skipped, head flat
    put(Seq((700L, 1.0)), 1L)
    assert(Changelog.headVersion(path).contains(3L),
      "a replayed txn must not append a second commit")
    // the NEXT txn appends normally
    put(Seq((701L, 2.0)), 2L)
    assert(Changelog.headVersion(path).contains(4L))
    // a replay AFTER later commits skips — head flat, both rows served
    put(Seq((700L, 1.0)), 1L)
    assert(Changelog.headVersion(path).contains(4L))
    val snap = Changelog.snapshotAt(spark, path, Seq("k"),
        Long.MaxValue).as[(Long, Double)].collect().toMap
    assert(snap(700L) == 1.0 && snap(701L) == 2.0)
    // txnVersion without an explicit writer refuses loudly
    intercept[Exception] {
      Seq((702L, 3.0)).toDF("k", "v").writeTo("glogspec28.t")
        .option("txnVersion", "3").append()
    }
  }

  test("txn replay after a checkpoint folding AT the recorded commit " +
       "must not destroy the folded base (skip, not re-land)") {
    import spark.implicits._
    val path = opsFixture("txn_ckpt") // head 2
    GraftLogCatalog.register(spark, "glogspec34", "t", path, Seq("k"))
    Seq((800L, 8.0)).toDF("k", "v").writeTo("glogspec34.t")
      .option("writer", "appc").option("txnVersion", "1").append()
    assert(Changelog.headVersion(path).contains(3L))
    val before = Changelog.snapshotAt(spark, path, Seq("k"),
        Long.MaxValue).as[(Long, Double)].collect().toMap
    // checkpoint folds the ENTIRE live state into commit 3 — exactly
    // the txn's recorded id; its marker (content 3, not < horizon 3)
    // survives the sweep. Before the fix a replay re-landed into
    // _commit=3 via delete-then-rename, wiping every other key.
    Changelog.checkpoint(spark, path, Seq("k"), 3L)
    Seq((800L, 8.0)).toDF("k", "v").writeTo("glogspec34.t")
      .option("writer", "appc").option("txnVersion", "1").append()
    val after = Changelog.snapshotAt(spark, path, Seq("k"),
        Long.MaxValue).as[(Long, Double)].collect().toMap
    assert(after == before,
      "a post-checkpoint txn replay must leave the folded base intact")
    assert(Changelog.headVersion(path).contains(3L))
  }

  test("vacuumRetain reclaims history below an optimize base without " +
       "a fold: base stats survive, state is untouched, re-run no-ops") {
    val path = opsFixture("vacuum_retain") // head 2
    for (c <- 0L to 2L) Changelog.writeCommitStats(spark, path, c, "k")
    // no base anywhere → refuse (un-folded history is live state)
    intercept[Exception] { Changelog.vacuumRetain(path, 2L) }
    Changelog.optimizeOps(spark, path, Seq("k"), 3L, "k", 40L, 4)
    val before = sortedRows(
      Changelog.snapshotAt(spark, path, Seq("k"), Long.MaxValue))
    // retain above the head → refuse
    intercept[Exception] { Changelog.vacuumRetain(path, 99L) }
    Changelog.vacuumRetain(path, 3L)
    assert(Changelog.horizonOf(path) == 3L)
    assert(Changelog.baseIds(path) == Seq(3L))
    assert(Changelog.commitColumnStats(path).keySet == Set(3L),
      "the base's own stats marker survives — the directory was not " +
        "rewritten, so its ranges still bound it")
    assert(sortedRows(Changelog.snapshotAt(spark, path, Seq("k"),
      Long.MaxValue)) == before, "retention must not move the state")
    intercept[IllegalArgumentException] {
      Changelog.snapshotAt(spark, path, Seq("k"), 1L)
    }
    // idempotent re-run: nothing left to sweep, same horizon
    Changelog.vacuumRetain(path, 3L)
    assert(Changelog.horizonOf(path) == 3L)
  }

  test("txn marker without a landed commit refuses loudly (concurrent " +
       "duplicate in flight, or crashed between claim and landing)") {
    import spark.implicits._
    val path = opsFixture("txn_pend")
    GraftLogCatalog.register(spark, "glogspec35", "t", path, Seq("k"))
    // simulate the loser's view of an in-flight duplicate: the winner
    // claimed the marker but has not landed its commit yet
    graft.sources.LogFs.writeAtomic(
      Changelog.Marker.SinkMap.at(path, "txn_appd_7"), "pending:appd")
    val e = intercept[Exception] {
      Seq((900L, 9.0)).toDF("k", "v").writeTo("glogspec35.t")
        .option("writer", "appd").option("txnVersion", "7").append()
    }
    assert(e.getMessage.contains("has not landed"),
      s"expected the in-flight/crashed diagnosis, got: ${e.getMessage}")
    // same refusal when the marker records an id whose commit is gone
    graft.sources.LogFs.writeAtomic(
      Changelog.Marker.SinkMap.at(path, "txn_appd_8"), "9999")
    intercept[Exception] {
      Seq((901L, 9.1)).toDF("k", "v").writeTo("glogspec35.t")
        .option("writer", "appd").option("txnVersion", "8").append()
    }
    // OPERATOR recovery: once the writer is KNOWN dead, resolve_txn
    // clears the pending slot and the retry lands normally
    spark.sql("CALL glogspec35.system.resolve_txn('t', 'appd', 7)")
      .collect()
    Seq((900L, 9.0)).toDF("k", "v").writeTo("glogspec35.t")
      .option("writer", "appd").option("txnVersion", "7").append()
    assert(spark.sql("SELECT v FROM glogspec35.t WHERE k = 900")
      .head().getDouble(0) == 9.0)
    // the id-recorded crash window clears too (no landed dir at 9999)
    spark.sql("CALL glogspec35.system.resolve_txn('t', 'appd', 8)")
      .collect()
    Seq((901L, 9.1)).toDF("k", "v").writeTo("glogspec35.t")
      .option("writer", "appd").option("txnVersion", "8").append()
    // a LANDED txn refuses resolution — undo is restore, never
    // marker surgery
    intercept[Exception] {
      spark.sql("CALL glogspec35.system.resolve_txn('t', 'appd', 7)")
        .collect()
    }
    // ...and a missing marker refuses (nothing to resolve)
    intercept[Exception] {
      spark.sql("CALL glogspec35.system.resolve_txn('t', 'appd', 99)")
        .collect()
    }
  }

  test("SQL DELETE FROM tombstones by the CURRENT state — non-key " +
       "predicates included — as one commit; plain logs refuse") {
    import spark.implicits._
    val path = opsFixture("dml_delete")
    GraftLogCatalog.register(spark, "glogspec4", "t", path, Seq("k"))
    val before = Changelog
      .snapshotAt(spark, path, Seq("k"), Long.MaxValue)
      .as[(Long, Double)].collect().toMap
    // non-key predicate: every CURRENT row with v > 900 dies — the
    // key set derives from the head snapshot, so SQL semantics hold
    spark.sql("DELETE FROM glogspec4.t WHERE v > 900.0")
    val after = Changelog
      .snapshotAt(spark, path, Seq("k"), Long.MaxValue)
      .as[(Long, Double)].collect().toMap
    assert(after == before.filter(_._2 <= 900.0))
    assert(Changelog.commitInfos(path)(3L)._1 == "delete")
    // key predicate too; deleting nothing is a no-op (no new commit)
    spark.sql("DELETE FROM glogspec4.t WHERE k = -42")
    assert(Changelog.headVersion(path).contains(3L))
    spark.sql("DELETE FROM glogspec4.t WHERE k IN (1, 2)")
    assert(!Changelog
      .snapshotAt(spark, path, Seq("k"), Long.MaxValue)
      .as[(Long, Double)].collect().toMap.keySet.exists(Set(1L, 2L)))
    // a PLAIN log cannot delete — the planner is told via canDeleteWhere
    val plain = freshDir("dml_delete_plain")
    Changelog.commit(Seq((1L, "a")).toDF("k", "s"), plain, 0L)
    GraftLogCatalog.register(spark, "glogspec4", "p", plain, Seq("k"))
    intercept[Exception] {
      spark.sql("DELETE FROM glogspec4.p WHERE k = 1")
    }
  }

  test("SQL UPDATE lands one upsert commit; a key-window predicate " +
       "prunes the snapshot spool; zero matches land no commit") {
    import spark.implicits._
    import graft.sources.GraftRowLevel
    val path = opsFixture("dml_update")
    for (c <- 0L to 2L) Changelog.writeCommitStats(spark, path, c, "k")
    GraftLogCatalog.register(spark, "glogspec5", "t", path, Seq("k"))
    val before = Changelog
      .snapshotAt(spark, path, Seq("k"), Long.MaxValue)
      .as[(Long, Double)].collect().toMap
    val spools0 = GraftRowLevel.spoolsPlanned.get()
    // key-range predicate: the spool routes through Changelog.lookup
    spark.sql("UPDATE glogspec5.t SET v = v + 7.0 WHERE k >= 30 AND k < 35")
    assert(GraftRowLevel.spoolsPlanned.get() == spools0 + 1,
      "UPDATE must pay exactly one snapshot spool")
    assert(GraftRowLevel.lastWindow.get().exists(_.contains("k in")),
      s"the pushed key conjuncts must extract a window, got " +
        s"${GraftRowLevel.lastWindow.get()}")
    val after = Changelog
      .snapshotAt(spark, path, Seq("k"), Long.MaxValue)
      .as[(Long, Double)].collect().toMap
    assert(after == before.map { case (k, v) =>
      k -> (if (k >= 30 && k < 35) v + 7.0 else v) })
    assert(Changelog.commitInfos(path)(3L)._1 == "update")
    // zero matching rows: no claim, no commit
    spark.sql("UPDATE glogspec5.t SET v = 0.0 WHERE k = -1")
    assert(Changelog.headVersion(path).contains(3L))
  }

  test("composite-key UPDATE intersects spool windows per constrained " +
       "column — strictly fewer commits open than any one column's " +
       "window; string ranges prune too") {
    import spark.implicits._
    import graft.sources.GraftRowLevel
    val path = freshDir("dml_update_multikey")
    def block(gs: Range, ks: Range) =
      (for (g <- gs; k <- ks) yield (g.toLong, k.toLong, g * 1000.0 + k))
        .toDF("g", "k", "v")
    Changelog.commitUpsert(block(0 to 4, 0 to 49), path, 0L)
    Changelog.commitUpsert(block(5 to 9, 0 to 49), path, 1L)
    Changelog.commitUpsert(block(0 to 9, 100 to 149), path, 2L)
    for (c <- 0L to 2L)
      Changelog.writeCommitStatsMulti(spark, path, c, Seq("g", "k"))
    GraftLogCatalog.register(spark, "glogspec37", "t", path,
      Seq("g", "k"))
    GraftRowLevel.trackSpoolCommits.set(true)
    try {
      // control: ONE constrained column (g = 7) admits commits 1 AND 2
      spark.sql("UPDATE glogspec37.t SET v = v + 0.5 WHERE g = 7")
      val gOnly = GraftRowLevel.lastSpoolCommits.get()
      assert(gOnly == Seq(s"${Changelog.CommitCol}=1",
        s"${Changelog.CommitCol}=2"),
        s"g-only window must open commits 1 and 2, got $gOnly")
      Changelog.writeCommitStatsMulti(spark, path, 3L, Seq("g", "k"))
      // the two-column conjunction INTERSECTS: k ∈ [120, 130] rules
      // commit 1 out (its k range is [0, 49]) — strictly fewer opened
      spark.sql("UPDATE glogspec37.t SET v = v + 0.25 " +
        "WHERE g = 7 AND k >= 120 AND k <= 130")
      val both = GraftRowLevel.lastSpoolCommits.get()
      assert(both == Seq(s"${Changelog.CommitCol}=2",
        s"${Changelog.CommitCol}=3"),
        s"the conjunction must intersect to commits 2 and 3, got $both")
      assert(both.size < gOnly.size + 1, // +1: commit 3 landed between
        "the two-conjunct window must open strictly fewer commits")
      assert(GraftRowLevel.lastWindow.get().exists(w =>
        w.contains("g in") && w.contains("k in")),
        s"both windows must render, got ${GraftRowLevel.lastWindow.get()}")
      // final state: both updates applied, everything else untouched
      val got = spark.table("glogspec37.t").as[(Long, Long, Double)]
        .collect().map(t => (t._1, t._2) -> t._3).toMap
      assert(got((7L, 125L)) == 7125.75 && got((7L, 20L)) == 7020.5 &&
        got((3L, 125L)) == 3125.0, s"unexpected values")
    } finally GraftRowLevel.trackSpoolCommits.set(false)

    // STRING ranges prune: disjoint name ranges per commit, a closed
    // range window opens exactly the admitted commit
    val spath = freshDir("dml_update_strkey")
    def srows(names: Seq[String]) =
      names.map(n => (n, 1.0)).toDF("name", "v")
    Changelog.commitUpsert(srows(Seq("apple", "berry", "cherry")), spath, 0L)
    Changelog.commitUpsert(srows(Seq("date", "elder", "fig")), spath, 1L)
    Changelog.commitUpsert(srows(Seq("grape", "honey", "iris")), spath, 2L)
    for (c <- 0L to 2L)
      Changelog.writeCommitStatsMulti(spark, spath, c, Seq("name"))
    GraftLogCatalog.register(spark, "glogspec38", "t", spath, Seq("name"))
    GraftRowLevel.trackSpoolCommits.set(true)
    try {
      spark.sql("UPDATE glogspec38.t SET v = v + 1.0 " +
        "WHERE name >= 'd' AND name <= 'f'")
      val opened = GraftRowLevel.lastSpoolCommits.get()
      assert(opened == Seq(s"${Changelog.CommitCol}=1"),
        s"the string range must open only commit 1, got $opened")
      val got = spark.table("glogspec38.t").as[(String, Double)]
        .collect().toMap
      assert(got("date") == 2.0 && got("elder") == 2.0 &&
        got("fig") == 1.0 && got("apple") == 1.0 && got("iris") == 1.0,
        s"unexpected post-update state: $got")
    } finally GraftRowLevel.trackSpoolCommits.set(false)
  }

  test("SQL UPDATE refuses key-column rewrites and plain logs; SQL " +
       "DELETE stays metadata-only (no snapshot spool)") {
    import spark.implicits._
    import graft.sources.GraftRowLevel
    val path = opsFixture("dml_update_loud")
    GraftLogCatalog.register(spark, "glogspec6", "t", path, Seq("k"))
    // a delta op's row id is immutable — rewriting the key is loud
    val e = intercept[Exception] {
      spark.sql("UPDATE glogspec6.t SET k = k + 100 WHERE k = 1")
    }
    assert(e.getMessage.contains("row id") ||
      e.getMessage.contains("key column") ||
      Option(e.getCause).exists(_.getMessage.contains("key column")))
    // plain (append-only) logs cannot express row-level DML
    val plain = freshDir("dml_update_plain")
    Changelog.commit(Seq((1L, 1.0)).toDF("k", "v"), plain, 0L)
    GraftLogCatalog.register(spark, "glogspec6", "p", plain, Seq("k"))
    val p = intercept[Exception] {
      spark.sql("UPDATE glogspec6.p SET v = 0.0 WHERE k = 1")
    }
    assert(p.getMessage.contains("PLAIN") ||
      Option(p.getCause).exists(_.getMessage.contains("PLAIN")))
    // DELETE with a translatable predicate rides the metadata-only
    // path: OptimizeMetadataOnlyDeleteFromTable converts the row-level
    // plan back to deleteWhere — structurally proven by the spool
    // counter, which an oracle (and a result check) can never see
    val spools0 = GraftRowLevel.spoolsPlanned.get()
    spark.sql("DELETE FROM glogspec6.t WHERE v > 900.0 OR k % 5 = 0")
    assert(GraftRowLevel.spoolsPlanned.get() == spools0,
      "a translatable DELETE must not pay a snapshot spool")
    assert(Changelog.commitInfos(path)(3L)._1 == "delete")
  }

  test("SQL MERGE: all-miss lands no commit; absent-key delete clause " +
       "is a no-op; identical re-upsert leaves the snapshot law fixed") {
    import spark.implicits._
    val path = opsFixture("dml_merge")
    GraftLogCatalog.register(spark, "glogspec7", "t", path, Seq("k"))
    val before = Changelog
      .snapshotAt(spark, path, Seq("k"), Long.MaxValue)
      .as[(Long, Double)].collect().toMap
    // every clause misses: matched-delete guard selects nothing,
    // not-matched guard excludes the only unmatched row
    Seq((-5L, 1.0)).toDF("k", "v").createOrReplaceTempView("miss_src")
    spark.sql("""MERGE INTO glogspec7.t t USING miss_src s ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED AND s.k >= 0 THEN INSERT *""".stripMargin)
    assert(Changelog.headVersion(path).contains(2L),
      "a merge whose clauses all miss must land NO commit")
    // absent-key delete clause: deleting an unmatched key is a no-op
    // (nothing inserted, nothing tombstoned); an identical matched
    // re-upsert IS emitted (SQL semantics — unlike the library verb's
    // no-op suppression) but leaves the snapshot law unchanged
    val kLive = before.keySet.min
    Seq((kLive, before(kLive)), (-6L, 2.0)).toDF("k", "v")
      .createOrReplaceTempView("noop_src")
    spark.sql("""MERGE INTO glogspec7.t t USING noop_src s ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED AND s.k >= 0 THEN INSERT *""".stripMargin)
    assert(Changelog.headVersion(path).contains(3L))
    assert(Changelog.commitInfos(path)(3L)._3 == 1L,
      "the commit carries only the re-emitted matched row")
    val after = Changelog
      .snapshotAt(spark, path, Seq("k"), Long.MaxValue)
      .as[(Long, Double)].collect().toMap
    assert(after == before, "value-identical re-upsert is idempotent")
  }

  test("a registered feed table serves BOTH surfaces: batch SELECT is " +
       "the pinned window, readStream.table is the live CDC stream " +
       "(one commit per batch), and restart resumes from the offsets") {
    import spark.implicits._
    val path = opsFixture("feed_table")
    val out = freshDir("feed_table_out")
    val ckpt = freshDir("feed_table_ckpt")
    GraftLogCatalog.registerFeed(spark, "glogspec8", "tc", path,
      Seq("k"), Seq("v"))
    // batch surface: the full-window feed by NAME equals the library
    val viaSql = spark.sql("SELECT * FROM glogspec8.tc")
    val viaLib = Changelog.changesBetween(spark, path, Seq("k"),
      -1L, 2L, Seq("v"))
    assert(viaSql.collect().toSet == viaLib.collect().toSet)
    // streaming surface: same name, the live stream, one commit per
    // micro-batch (default admission)
    def run(): Unit = {
      val q = spark.readStream.table("glogspec8.tc")
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           id: Long) =>
            b.withColumn("batch", org.apache.spark.sql.functions.lit(id))
              .write.mode("append").parquet(out)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run()
    val streamed = spark.read.parquet(out)
    assert(streamed.select("batch").distinct().as[Long]
      .collect().sorted.toSeq == Seq(0L, 1L, 2L),
      "three commits must serve as three micro-batches")
    // the stream is PER-COMMIT diffs (the IVM consumer's shape), not
    // the net window: batch i must equal changesBetween(i-1, i]
    (0L to 2L).foreach { i =>
      assert(streamed.filter($"batch" === i).drop("batch")
        .collect().toSet ==
        Changelog.changesBetween(spark, path, Seq("k"),
          i - 1, i, Seq("v")).collect().toSet,
        s"batch $i must be commit $i's own feed window")
    }
    // restart: a new commit lands; only IT is processed
    Changelog.commitUpsert(
      Seq((100L, 1.0)).toDF("k", "v"), path, 3L)
    run()
    val after = spark.read.parquet(out)
    assert(after.select("batch").distinct().as[Long]
      .collect().sorted.toSeq == Seq(0L, 1L, 2L, 3L))
    assert(after.filter($"batch" === 3L).select("k").as[Long]
      .collect().toSeq == Seq(100L),
      "the resumed stream must process only the new commit")
  }

  test("readStream.table on the SNAPSHOT table streams its upserted " +
       "row values (table-shaped, per commit; tombstones ride the " +
       "feed, not the table stream)") {
    import spark.implicits._
    val path = opsFixture("snap_stream")
    val out = freshDir("snap_stream_out")
    val ckpt = freshDir("snap_stream_ckpt")
    GraftLogCatalog.register(spark, "glogspec16", "t", path, Seq("k"))
    val q = spark.readStream.table("glogspec16.t")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         id: Long) =>
          b.withColumn("batch", org.apache.spark.sql.functions.lit(id))
            .write.mode("append").parquet(out)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.read.parquet(out)
    assert(streamed.columns.sorted.toSeq == Seq("batch", "k", "v"),
      "the table stream carries the TABLE schema")
    // batch i = commit i's effective upserts (new values; deletes and
    // no-op rewrites excluded) — commit 1 is delete-only, so empty
    def upserts(i: Long) =
      Changelog.changesBetween(spark, path, Seq("k"), i - 1, i,
          Seq("v"))
        .filter($"change_type" =!= "delete")
        .select($"k", $"new_v".as("v")).collect().toSet
    (0L to 2L).foreach { i =>
      assert(streamed.filter($"batch" === i).drop("batch")
        .collect().toSet == upserts(i),
        s"batch $i must be commit $i's upserted values")
    }
    assert(streamed.filter($"batch" === 1L).isEmpty,
      "the delete-only commit streams an empty batch on the table")
    // a LWW fold of the streamed values + the feed's deletes would
    // rebuild the head — here the simpler pin: streamed keys at their
    // LAST batch equal the head values for keys alive at head
    val live = Changelog
      .snapshotAt(spark, path, Seq("k"), Long.MaxValue)
      .as[(Long, Double)].collect().toMap
    val lastSeen = streamed.as[(Long, Double, Long)].collect()
      .groupBy(_._1).map { case (k, rs) => k -> rs.maxBy(_._3)._2 }
    live.foreach { case (k, v) =>
      assert(lastSeen.get(k).contains(v),
        s"live key $k must be last streamed at its head value") }
  }

  test("writeStream.toTable lands each epoch as ONE upsert commit — " +
       "the streaming spelling of INSERT INTO, through the table name") {
    import spark.implicits._
    val path = opsFixture("tbl_stream_write") // head = 2
    val landing = freshDir("tbl_stream_write_landing")
    val ckpt = freshDir("tbl_stream_write_ckpt")
    GraftLogCatalog.register(spark, "glogspec20", "t", path, Seq("k"))
    val d0 = Seq((600L, 1.0), (2L, 777.0)).toDF("k", "v")
    val d1 = Seq((601L, 2.0), (600L, 3.0)).toDF("k", "v")
    def files() = Option(new java.io.File(landing).listFiles()).fold(
      Set.empty[java.io.File])(_.filter(_.getName.endsWith(".parquet")).toSet)
    var mtime = System.currentTimeMillis() - 8000L
    Seq(d0, d1).foreach { d =>
      val before = files()
      d.coalesce(1).write.mode("append").parquet(landing)
      (files() -- before).foreach(f => require(f.setLastModified(mtime)))
      mtime += 2000L
    }
    val q = spark.readStream.schema(d0.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(landing)
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("glogspec20.t")
    q.awaitTermination()
    // a FRESH query appends after the head (the sink's base-marker
    // discipline through the table name): epochs 0,1 → commits 3,4
    assert(Changelog.headVersion(path).contains(4L))
    val infos = Changelog.commitInfos(path)
    assert(infos(3L)._1 == "stream-epoch" && infos(4L)._1 == "stream-epoch")
    val snap = Changelog.snapshotAt(spark, path, Seq("k"), Long.MaxValue)
      .as[(Long, Double)].collect().toMap
    assert(snap(600L) == 3.0, "the later epoch's upsert wins (LWW)")
    assert(snap(601L) == 2.0 && snap(2L) == 777.0)
    // per-epoch time travel through the SAME name: commit 3 has the
    // first delivery only
    val at3 = spark.sql("SELECT v FROM glogspec20.t VERSION AS OF 3 " +
      "WHERE k = 600").as[Double].collect().toSeq
    assert(at3 == Seq(1.0))
    // _op-carrying input refuses loudly (surfacing through the query's
    // termination — the guard runs at stream planning time): the
    // table's schema is the snapshot shape, every streamed row IS an
    // upsert
    val bad = spark.readStream.schema(d0.schema).parquet(landing)
      .withColumn(Changelog.OpCol, org.apache.spark.sql.functions.lit("u"))
      .writeStream.option("checkpointLocation", freshDir("tsw_bad_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("glogspec20.t")
    val e = intercept[Exception] { bad.awaitTermination() }
    assert(e.getMessage != null)
    assert(Changelog.headVersion(path).contains(4L),
      "the refused stream must land nothing")
  }

  test("update-mode streaming aggregation into the table name: changed " +
       "groups land as upserts (the declarative-MV semantics by name)") {
    import spark.implicits._
    val path = freshDir("tbl_mv_log")
    // seed the log so the table resolves (tables are created by
    // committing); key space disjoint from the streamed groups
    Changelog.commitUpsert(Seq((-1L, 0.0)).toDF("k", "v"), path, 0L)
    val landing = freshDir("tbl_mv_landing")
    val ckpt = freshDir("tbl_mv_ckpt")
    GraftLogCatalog.register(spark, "glogspec21", "mv", path, Seq("k"))
    val d0 = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "amt")
    val d1 = Seq((1L, 5.0), (3L, 7.0)).toDF("k", "amt")
    def files() = Option(new java.io.File(landing).listFiles()).fold(
      Set.empty[java.io.File])(_.filter(_.getName.endsWith(".parquet")).toSet)
    var mtime = System.currentTimeMillis() - 8000L
    Seq(d0, d1).foreach { d =>
      val before = files()
      d.coalesce(1).write.mode("append").parquet(landing)
      (files() -- before).foreach(f => require(f.setLastModified(mtime)))
      mtime += 2000L
    }
    val q = spark.readStream.schema(d0.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(landing)
      .groupBy($"k").agg(org.apache.spark.sql.functions.sum($"amt").as("v"))
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("glogspec21.mv")
    q.awaitTermination()
    // the MV converges: per-key running totals, LWW-compacted
    val got = Changelog.snapshotAt(spark, path, Seq("k"), Long.MaxValue)
      .filter($"k" >= 0L).as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 15.0, 2L -> 20.0, 3L -> 7.0))
  }

  test("glog.t.history serves DESCRIBE HISTORY at the SQL prompt, " +
       "current at query time; a real table named 'history' shadows it") {
    import spark.implicits._
    val path = opsFixture("hist_table")
    GraftLogCatalog.register(spark, "glogspec9", "t", path, Seq("k"))
    val viaSql = spark.sql("SELECT * FROM glogspec9.t.history")
    assert(viaSql.schema == Changelog.HistorySchema)
    assert(viaSql.collect().toSet ==
      Changelog.describeHistory(spark, path).collect().toSet)
    // the child recomputes per query — a commit landed AFTER the first
    // read appears in the next one
    Changelog.commitUpsert(Seq((7L, 7.0)).toDF("k", "v"), path, 3L)
    assert(spark.sql(
      "SELECT commit FROM glogspec9.t.history").as[Long]
      .collect().sorted.toSeq == Seq(0L, 1L, 2L, 3L))
    // a REGISTERED table named 'history' shadows the metadata child
    val other = opsFixture("hist_shadow")
    GraftLogCatalog.register(spark, "glogspec9", "t.history", other,
      Seq("k"))
    assert(spark.sql("SELECT * FROM glogspec9.t.history").columns
      .contains("v"), "a real registration must win over the child")
  }

  test("CALL runs maintenance through the procedure surface, under " +
       "the maintenance mutex (second actor refused loudly)") {
    import spark.implicits._
    import graft.sources.LogFs
    val path = opsFixture("proc_ckpt")
    GraftLogCatalog.register(spark, "glogspec10", "t", path, Seq("k"))
    // a held mutex refuses the CALL naming the holder — the library
    // contract, surfaced through SQL
    LogFs.writeAtomic(LogFs.child(path, "_graft_mx_maintenance"), "rogue")
    val e = intercept[Exception] {
      spark.sql("CALL glogspec10.system.checkpoint('t', 1)").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("maintenance mutex") &&
      m.contains("rogue")), s"got: ${msgs(e).mkString(" | ")}")
    LogFs.delete(LogFs.child(path, "_graft_mx_maintenance"))
    // the CALL itself: fold ≤ 1, horizon advances, reads above intact
    val before = Changelog
      .snapshotAt(spark, path, Seq("k"), 2L).collect().toSet
    val r = spark.sql("CALL glogspec10.system.checkpoint('t', 1)")
      .collect()
    assert(r.length == 1 && r(0).getString(1) == "checkpoint" &&
      r(0).getLong(2) == 1L)
    assert(Changelog.horizonOf(path) == 1L)
    assert(Changelog.snapshotAt(spark, path, Seq("k"), 2L)
      .collect().toSet == before)
    // restore through CALL: back to the post-checkpoint v1 state as a
    // NEW commit
    val v1 = Changelog.snapshotAt(spark, path, Seq("k"), 1L)
      .collect().toSet
    spark.sql("CALL glogspec10.system.restore('t', 1, 3)").collect()
    assert(Changelog.snapshotAt(spark, path, Seq("k"), Long.MaxValue)
      .collect().toSet == v1)
    // unknown procedure: loud, names the available ones
    val u = intercept[Exception] {
      spark.sql("CALL glogspec10.system.nope('t')").collect()
    }
    assert(msgs(u).exists(_.contains("checkpoint, checkpoint_clustered, " +
      "optimize")))
  }

  test("CALL clone branches the log (origin commits after the branch " +
       "point stay invisible); CALL analyze re-arms commit skipping") {
    import spark.implicits._
    val path = opsFixture("proc_clone") // head = 2
    val dest = freshDir("proc_clone_dest")
    GraftLogCatalog.register(spark, "glogspec22", "t", path, Seq("k"))
    val r = spark.sql(
      s"CALL glogspec22.system.clone('t', 1, '$dest')").collect()
    assert(r.length == 1 && r(0).getString(1) == "clone" &&
      r(0).getLong(2) == 1L)
    // a post-clone origin commit must not leak into the branch
    Changelog.commitUpsert(Seq((999L, 1.0)).toDF("k", "v"), path, 3L)
    assert(Changelog.headVersion(dest).contains(1L))
    GraftLogCatalog.register(spark, "glogspec22", "branch", dest, Seq("k"))
    val branch = spark.sql("SELECT * FROM glogspec22.branch")
      .as[(Long, Double)].collect().toMap
    val want = Changelog.snapshotAt(spark, path, Seq("k"), 1L)
      .as[(Long, Double)].collect().toMap
    assert(branch == want && !branch.contains(999L))
    // analyze: record stats on the branch's base, then a beyond-max
    // probe plans NO parquet scan (strict bound tightened by the rule)
    spark.sql("CALL glogspec22.system.analyze('branch', 0, 'k')").collect()
    spark.sql("CALL glogspec22.system.analyze('branch', 1, 'k')").collect()
    val none = spark.sql("SELECT * FROM glogspec22.branch WHERE k > 39")
    assert(!none.queryExecution.executedPlan.toString
      .toLowerCase.contains("parquet"),
      "a probe beyond every recorded max must plan no scan")
    assert(none.isEmpty)
    // checkpoint_clustered: one CALL folds + lays out the base as
    // numFiles key-range files — content equals the plain snapshot
    spark.sql("CALL glogspec22.system.checkpoint_clustered(" +
      "'branch', 1, 'k', 40, 4)").collect()
    val folded = spark.sql("SELECT * FROM glogspec22.branch")
      .as[(Long, Double)].collect().toMap
    assert(folded == want)
    // the unknown-procedure refusal names the full verb set (Spark
    // wraps the loadProcedure failure in its analysis error)
    val e = intercept[Exception] {
      spark.sql("CALL glogspec22.system.nope('t')").collect()
    }
    val msg = Option(e.getCause).fold(e.getMessage)(_.getMessage)
    assert(msg.contains("clone") && msg.contains("analyze") &&
      msg.contains("checkpoint_clustered"))
  }

  test("CALL optimize_zorder lands a 2-D z-clustered base as a pure " +
       "rewrite (content identical, head advanced)") {
    import spark.implicits._
    val path = freshDir("proc_zorder")
    val rows = for { x <- 0L until 16L; y <- 0L until 16L }
      yield (x, y, x * 100 + y.toDouble)
    Changelog.commitUpsert(rows.toDF("x", "y", "v"), path, 0L)
    GraftLogCatalog.register(spark, "glogspec27", "t", path,
      Seq("x", "y"))
    val r = spark.sql(
      "CALL glogspec27.system.optimize_zorder('t', 1, 'x', 'y', 4, 8)")
      .collect()
    assert(r.length == 1 && r(0).getString(1) == "optimize_zorder")
    assert(Changelog.headVersion(path).contains(1L))
    val got = spark.sql("SELECT * FROM glogspec27.t")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == rows.toSet, "OPTIMIZE is a pure rewrite")
    // the z-layout serves boxed probes through few files: a box slice
    // on both key columns still answers exactly
    val box = spark.sql("SELECT * FROM glogspec27.t " +
      "WHERE x >= 4 AND x < 8 AND y >= 4 AND y < 8")
      .as[(Long, Long, Double)].collect().toSet
    assert(box == rows.filter(r => r._1 >= 4 && r._1 < 8 &&
      r._2 >= 4 && r._2 < 8).toSet)
  }

  test("row-level DML is SERIALIZABLE: a concurrent key-intersecting " +
       "commit refuses the statement loudly (first-committer-wins); a " +
       "key-disjoint one serializes cleanly") {
    import spark.implicits._
    import graft.sources.GraftRowLevel
    val path = opsFixture("dml_occ")
    GraftLogCatalog.register(spark, "glogspec11", "t", path, Seq("k"))
    // the interleave hook lands a commit between the statement's read
    // (head pinned at analysis) and its driver commit — the race,
    // deterministically
    try {
      // leg 1: INTERSECTING — the concurrent commit touches k=2, the
      // UPDATE touches k % 2 = 0; the statement must refuse, land
      // nothing, and release its claim
      GraftRowLevel.testInterleave.set(() => {
        Changelog.commitUpsert(
          Seq((2L, 9999.0)).toDF("k", "v"), path, 3L)
        GraftRowLevel.testInterleave.set(() => ())
      })
      val e = intercept[Exception] {
        spark.sql("UPDATE glogspec11.t SET v = v + 1.0 WHERE k % 2 = 0")
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("conflict")),
        s"got: ${msgs(e).mkString(" | ")}")
      assert(Changelog.headVersion(path).contains(3L),
        "the refused statement must land nothing")
      assert(Changelog.claimHolder(path, 4L).isEmpty,
        "the refused statement must release its claim")
      // the concurrent write survives untouched
      assert(Changelog.snapshotAt(spark, path, Seq("k"), Long.MaxValue)
        .filter($"k" === 2L).as[(Long, Double)].head()._2 == 9999.0)
      // leg 2: DISJOINT — a concurrent commit on keys the statement
      // never touches serializes cleanly; the statement lands after it
      GraftRowLevel.testInterleave.set(() => {
        Changelog.commitUpsert(
          Seq((1001L, 1.0)).toDF("k", "v"), path, 4L)
        GraftRowLevel.testInterleave.set(() => ())
      })
      spark.sql("UPDATE glogspec11.t SET v = v + 1.0 WHERE k = 3")
      assert(Changelog.headVersion(path).contains(5L))
      val live = Changelog
        .snapshotAt(spark, path, Seq("k"), Long.MaxValue)
        .as[(Long, Double)].collect().toMap
      assert(live(3L) == 31.0 && live(1001L) == 1.0 && live(2L) == 9999.0)
    } finally GraftRowLevel.testInterleave.set(() => ())
  }

  test("admission knobs ride as READER options on readStream.table: " +
       "a row budget splits the big commit into key-hash slices") {
    import spark.implicits._
    val path = opsFixture("feed_table_budget")
    val out = freshDir("feed_table_budget_out")
    val ckpt = freshDir("feed_table_budget_ckpt")
    GraftLogCatalog.registerFeed(spark, "glogspec13", "tc", path,
      Seq("k"), Seq("v"))
    val q = spark.readStream
      .option("maxRowsPerTrigger", 15) // commit 0 has 40 rows → 3 slices
      .table("glogspec13.tc")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         id: Long) =>
          b.withColumn("batch", org.apache.spark.sql.functions.lit(id))
            .write.mode("append").parquet(out)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.read.parquet(out)
    val nBatches = streamed.select("batch").distinct().count()
    // commit 0 (40 rows) splits into 3 key-hash slices; commits 1+2
    // (4 + 6 rows ≤ 15) then BATCH into one net window — both halves
    // of budget admission, driven purely by the reader option
    assert(nBatches == 4,
      s"40-row c0 at budget 15 → 3 slices, then c1+c2 batch: expected " +
        s"4 batches, got $nBatches")
    val want = Changelog.changesBetween(spark, path, Seq("k"),
        -1L, 0L, Seq("v"))
      .unionByName(Changelog.changesBetween(spark, path, Seq("k"),
        0L, 2L, Seq("v")))
    assert(streamed.drop("batch").collect().toSet ==
      want.collect().toSet)
    // the stream's START coordinate rides the same way:
    // startingVersion=1 serves only the (1, 2] window
    val out2 = freshDir("feed_table_budget_out2")
    val ckpt2 = freshDir("feed_table_budget_ckpt2")
    val q2 = spark.readStream
      .option("startingVersion", 1)
      .table("glogspec13.tc")
      .writeStream.option("checkpointLocation", ckpt2)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         id: Long) => b.write.mode("append").parquet(out2)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    assert(spark.read.parquet(out2).collect().toSet ==
      Changelog.changesBetween(spark, path, Seq("k"), 1L, 2L,
        Seq("v")).collect().toSet)
    // startingVersion and startingTimestamp are mutually exclusive
    val bad = spark.readStream
      .option("startingVersion", 1).option("startingTimestamp", 1500)
      .table("glogspec13.tc")
      .writeStream.option("checkpointLocation", freshDir("ftb_bad_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         id: Long) => ()
      }.start()
    val e = intercept[Exception] { bad.awaitTermination() }
    assert(e.getMessage != null)
  }

  test("a selective UPDATE spools only the matched rows: translatable " +
       "non-key filters shrink the staged snapshot (O(matched), not " +
       "O(snapshot))") {
    import spark.implicits._
    import graft.sources.GraftRowLevel
    val path = opsFixture("dml_pruned_spool")
    GraftLogCatalog.register(spark, "glogspec14", "t", path, Seq("k"))
    val live = Changelog
      .snapshotAt(spark, path, Seq("k"), Long.MaxValue)
      .as[(Long, Double)].collect().toMap
    val matched = live.count(_._2 > 900.0)
    require(matched > 0 && matched < live.size / 2,
      s"fixture must make the predicate selective, got $matched/${live.size}")
    GraftRowLevel.lastSpoolRows.set(-1L)
    spark.sql("UPDATE glogspec14.t SET v = v - 1000.0 WHERE v > 900.0")
    assert(GraftRowLevel.lastSpoolRows.get() == matched.toLong,
      s"the spool must hold exactly the ${matched} matched rows, " +
        s"got ${GraftRowLevel.lastSpoolRows.get()}")
    val after = Changelog
      .snapshotAt(spark, path, Seq("k"), Long.MaxValue)
      .as[(Long, Double)].collect().toMap
    assert(after == live.map { case (k, v) =>
      k -> (if (v > 900.0) v - 1000.0 else v) })
  }

  test("VERSION AS OF on a feed table pins the window's END; " +
       "TIMESTAMP AS OF on a feed refuses loudly") {
    val path = opsFixture("feed_asof")
    GraftLogCatalog.registerFeed(spark, "glogspec15", "tc", path,
      Seq("k"), Seq("v"))
    // the feed as of commit 1 = changes (-1, 1]: no commit-2 rows
    val asof1 = spark.sql(
      "SELECT * FROM glogspec15.tc VERSION AS OF 1")
    assert(asof1.collect().toSet ==
      Changelog.changesBetween(spark, path, Seq("k"), -1L, 1L,
        Seq("v")).collect().toSet)
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM glogspec15.tc " +
        "TIMESTAMP AS OF '1970-01-01 00:00:02.5'").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("window of TWO coordinates")))
  }

  test("TRUNCATE TABLE tombstones every live key as ONE append-shaped " +
       "commit — history below stays readable") {
    import spark.implicits._
    val path = opsFixture("dml_truncate")
    GraftLogCatalog.register(spark, "glogspec12", "t", path, Seq("k"))
    val preHead = Changelog
      .snapshotAt(spark, path, Seq("k"), 2L).collect().toSet
    spark.sql("TRUNCATE TABLE glogspec12.t")
    assert(Changelog.headVersion(path).contains(3L),
      "truncate lands exactly one commit")
    assert(Changelog
      .snapshotAt(spark, path, Seq("k"), Long.MaxValue).isEmpty,
      "the head state is empty after TRUNCATE")
    assert(Changelog.snapshotAt(spark, path, Seq("k"), 2L)
      .collect().toSet == preHead,
      "history below the truncate commit stays readable")
    assert(Changelog.commitInfos(path)(3L)._1 == "delete")
  }

  test("standard SQL tooling works against the catalog table: " +
       "DESCRIBE shows the schema with the non-null key") {
    val path = opsFixture("describe")
    GraftLogCatalog.register(spark, "glogspec17", "t", path, Seq("k"))
    val desc = spark.sql("DESCRIBE TABLE glogspec17.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc.get("k").contains("bigint") &&
      desc.get("v").contains("double"),
      s"DESCRIBE must render the snapshot schema, got $desc")
    // the key is the row identity — declared NOT NULL for the
    // row-level-operation contract, visible to SQL tooling
    val full = spark.sql("DESCRIBE TABLE EXTENDED glogspec17.t")
      .collect().map(_.toString).mkString("\n")
    assert(full.contains("k") && full.contains("graft_log"),
      s"EXTENDED output must name the table implementation:\n$full")
    // SHOW TBLPROPERTIES surfaces the physical coordinates and the
    // pinned read version (derived metadata, conf stays authoritative)
    val props = spark.sql("SHOW TBLPROPERTIES glogspec17.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("path").contains(path) &&
      props.get("keys").contains("k") &&
      props.get("shape").contains("ops") &&
      props.get("surface").contains("snapshot") &&
      props.get("pinnedVersion").contains("2"),
      s"SHOW TBLPROPERTIES must surface the table's coordinates, " +
        s"got $props")
    // and the FEED registration reports its window coordinates
    GraftLogCatalog.registerFeed(spark, "glogspec17", "tc", path,
      Seq("k"), trackCols = Seq("v"))
    val fprops = spark.sql("SHOW TBLPROPERTIES glogspec17.tc").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fprops.get("surface").contains("changeFeed") &&
      fprops.get("trackCols").contains("v") &&
      fprops.get("endingVersion").contains("2"), s"got $fprops")
  }

  test("SQL CREATE TABLE initializes a fresh log (empty genesis, verb " +
       "'create'); DROP unregisters and KEEPS the log; RENAME re-points") {
    import spark.implicits._
    val loc = freshDir("ddl_create_loc")
    spark.conf.set("spark.sql.catalog.glogspec23",
      classOf[graft.sources.GraftLogCatalog].getName)
    spark.sql("DROP TABLE IF EXISTS glogspec23.t")
    spark.sql("DROP TABLE IF EXISTS glogspec23.t2")
    spark.sql(s"CREATE TABLE glogspec23.t (k BIGINT, v DOUBLE) " +
      s"LOCATION '$loc' TBLPROPERTIES ('keys'='k')")
    // genesis: one empty create commit; the table reads empty; keys
    // are non-nullable in the declared table schema
    assert(Changelog.commitInfos(loc)(0L)._1 == "create")
    assert(spark.sql("SELECT * FROM glogspec23.t").isEmpty)
    assert(spark.table("glogspec23.t").schema("k").nullable == false)
    // the whole DML story works on the created table
    spark.sql("INSERT INTO glogspec23.t VALUES (1, 10.0), (2, 20.0)")
    spark.sql("UPDATE glogspec23.t SET v = v + 1.0 WHERE k = 2")
    assert(spark.sql("SELECT v FROM glogspec23.t WHERE k = 2")
      .as[Double].head() == 21.0)
    // RENAME re-points the name; the old name is gone
    spark.sql("ALTER TABLE glogspec23.t RENAME TO t2")
    assert(spark.sql("SELECT count(*) FROM glogspec23.t2")
      .as[Long].head() == 2L)
    intercept[Exception] { spark.sql("SELECT * FROM glogspec23.t").collect() }
    // DROP unregisters the NAME and keeps the LOG (external semantics)
    spark.sql("DROP TABLE glogspec23.t2")
    intercept[Exception] { spark.sql("SELECT * FROM glogspec23.t2").collect() }
    assert(Changelog.headVersion(loc).contains(2L),
      "the dropped table's log survives on disk")
    // re-registration ADOPTS the surviving log
    GraftLogCatalog.register(spark, "glogspec23", "t3", loc, Seq("k"))
    assert(spark.sql("SELECT count(*) FROM glogspec23.t3")
      .as[Long].head() == 2L)
    // refusals: no LOCATION / no keys / key outside the schema /
    // existing commits at the location / PARTITIONED BY / ALTER
    intercept[Exception] { spark.sql(
      "CREATE TABLE glogspec23.bad1 (k BIGINT) TBLPROPERTIES ('keys'='k')") }
    intercept[Exception] { spark.sql(
      s"CREATE TABLE glogspec23.bad2 (k BIGINT) LOCATION '$loc'") }
    intercept[Exception] { spark.sql(
      s"CREATE TABLE glogspec23.bad3 (k BIGINT) LOCATION " +
        s"'${freshDir("ddl_bad3")}' TBLPROPERTIES ('keys'='nope')") }
    intercept[Exception] { spark.sql(
      s"CREATE TABLE glogspec23.bad4 (k BIGINT) LOCATION '$loc' " +
        "TBLPROPERTIES ('keys'='k')") } // loc already holds commits
    intercept[Exception] { spark.sql(
      s"CREATE TABLE glogspec23.bad5 (k BIGINT, p BIGINT) LOCATION " +
        s"'${freshDir("ddl_bad5")}' PARTITIONED BY (p) " +
        "TBLPROPERTIES ('keys'='k')") }
  }

  test("ALTER TABLE ADD COLUMNS lands ONE evolved schema-bearing " +
       "commit; drop/rename/retype/properties refuse loudly") {
    import spark.implicits._
    val path = opsFixture("ddl_alter") // head 2
    GraftLogCatalog.register(spark, "glogspec36", "t", path, Seq("k"))
    spark.sql("ALTER TABLE glogspec36.t ADD COLUMNS (src STRING)")
    // the evolution is a COMMIT (verb add_columns), zero rows
    assert(Changelog.commitInfos(path)(3L)._1 == "add_columns")
    assert(Changelog.headVersion(path).contains(3L))
    // the table now reads the union schema; pre-evolution rows
    // null-fill the new column and values are untouched
    val evolved = spark.table("glogspec36.t")
    assert(evolved.schema.fieldNames.toSeq == Seq("k", "v", "src"))
    assert(evolved.filter($"src".isNotNull).isEmpty)
    assert(evolved.drop("src").orderBy("k").collect().toSeq ==
      sortedRows(expectedHead(path)))
    // an INSERT carrying the new column lands, LWW over old keys
    spark.sql("INSERT INTO glogspec36.t VALUES (1, 99.0, 'late')")
    val row = spark.sql("SELECT v, src FROM glogspec36.t WHERE k = 1")
      .collect().head
    assert(row.getDouble(0) == 99.0 && row.getString(1) == "late")
    // everything but add/rename/drop refuses loudly (rename/drop of
    // DATA columns are column-mapping verbs — their own spec below);
    // a retype and a KEY rename stay refused
    Seq(
      "ALTER TABLE glogspec36.t ALTER COLUMN src TYPE INT",
      "ALTER TABLE glogspec36.t RENAME COLUMN k TO kk",
      "ALTER TABLE glogspec36.t SET TBLPROPERTIES ('a'='b')",
      "ALTER TABLE glogspec36.t ADD COLUMNS (src2 STRING NOT NULL)",
      // a duplicate column refuses at the evolution commit
      "ALTER TABLE glogspec36.t ADD COLUMNS (src STRING)")
      .foreach { ddl =>
        assert(scala.util.Try(spark.sql(ddl)).isFailure,
          s"must refuse: $ddl")
      }
    // still exactly ONE evolution commit + one insert landed
    assert(Changelog.headVersion(path).contains(4L))
  }

  test("MERGE WITH SCHEMA EVOLUTION lands one add_columns commit then " +
       "the merge; a plain MERGE never evolves silently") {
    import spark.implicits._
    val path = opsFixture("merge_evolve") // head 2, columns (k, v)
    GraftLogCatalog.register(spark, "glogspec39", "t", path, Seq("k"))
    Seq((1L, 500.0, "m"), (900L, 9.0, "m")).toDF("k", "v", "src")
      .createOrReplaceTempView("mev_src")
    // WITHOUT the WITH clause: whatever Spark does with the extra
    // source column (refuse or ignore), the TABLE must not evolve
    scala.util.Try(spark.sql(
      """MERGE INTO glogspec39.t t USING mev_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin))
    assert(!Changelog.commitInfos(path).values.exists(_._1 == "add_columns"),
      "a plain MERGE must never land an evolution commit")
    assert(!spark.table("glogspec39.t").columns.contains("src"),
      "a plain MERGE must never widen the table schema")
    val h0 = Changelog.headVersion(path).get
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO glogspec39.t t
        |USING mev_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val infos = Changelog.commitInfos(path)
    assert(infos(h0 + 1)._1 == "add_columns" &&
      infos(h0 + 2)._1 == "merge",
      s"evolved MERGE = add_columns + merge above head $h0, got $infos")
    val snap = spark.table("glogspec39.t").as[(Long, Double, String)]
      .collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(snap(1L) == ((500.0, "m")), s"matched row must carry the " +
      s"evolved column from the source, got ${snap(1L)}")
    assert(snap(900L) == ((9.0, "m")), "the insert must carry it too")
    assert(snap(2L)._2 == null,
      "rows the merge never touched null-fill the evolved column")
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: target rows absent from the " +
       "source update/delete through the same delta rewrite") {
    import spark.implicits._
    val path = opsFixture("merge_nmbs") // head 2: live = expectedHead
    GraftLogCatalog.register(spark, "glogspec25", "t", path, Seq("k"))
    // source covers only k < 10; everything else is NOT MATCHED BY
    // SOURCE and gets tombstoned — the sync-to-source semantics
    Seq((1L, -1.0), (500L, -2.0)).toDF("k", "v")
      .createOrReplaceTempView("src_nmbs")
    spark.sql("""MERGE INTO glogspec25.t t USING src_nmbs s ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET v = s.v
                |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
                |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val after = spark.sql("SELECT * FROM glogspec25.t")
      .as[(Long, Double)].collect().toMap
    assert(after == Map(1L -> -1.0, 500L -> -2.0),
      s"sync-to-source must leave exactly the source rows, got $after")
    // and the UPDATE flavor: bump the stragglers instead of deleting
    val path2 = opsFixture("merge_nmbs2")
    GraftLogCatalog.register(spark, "glogspec25", "t2", path2, Seq("k"))
    val live2 = expectedHead(path2).as[(Long, Double)].collect().toMap
    spark.sql("""MERGE INTO glogspec25.t2 t USING src_nmbs s ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET v = s.v
                |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = t.v + 1.0
                |""".stripMargin)
    val after2 = spark.sql("SELECT * FROM glogspec25.t2")
      .as[(Long, Double)].collect().toMap
    val want2 = live2.map { case (k, v) =>
      k -> (if (k == 1L) -1.0 else v + 1.0) }
    assert(after2 == want2)
  }

  test("table_changes TVF: ad-hoc CDF windows in one SQL expression; " +
       "feed registrations and unknown names refuse loudly") {
    import spark.implicits._
    val path = opsFixture("tvf_changes") // commits 0,1,2
    GraftLogCatalog.register(spark, "glogspec24", "t", path, Seq("k"))
    // the (1, 2] window equals the library feed verbatim
    val got = spark.sql(
      "SELECT k, change_type, old_v, new_v " +
        "FROM table_changes('glogspec24.t', 1, 2)")
      .orderBy("k", "change_type").collect().toSeq
    val want = Changelog.changesBetween(spark, path, Seq("k"), 1L, 2L,
        Seq("v"))
      .select($"k", $"change_type", $"old_v", $"new_v")
      .orderBy("k", "change_type").collect().toSeq
    assert(got.nonEmpty && got == want)
    // a TVF window composes with ordinary SQL (aggregate over it)
    val n = spark.sql("SELECT count(*) FROM " +
      "table_changes('glogspec24.t', 0, 2) WHERE change_type = 'insert'")
      .as[Long].head()
    assert(n == Changelog.changesBetween(spark, path, Seq("k"), 0L, 2L,
      Seq("v")).filter($"change_type" === "insert").count())
    // refusals: unregistered name; a FEED registration (already a
    // window); non-literal arguments
    intercept[Exception] { spark.sql(
      "SELECT * FROM table_changes('glogspec24.absent', 0, 1)").collect() }
    GraftLogCatalog.registerFeed(spark, "glogspec24", "tfeed", path,
      Seq("k"), trackCols = Seq("v"))
    val e = intercept[Exception] { spark.sql(
      "SELECT * FROM table_changes('glogspec24.tfeed', 0, 1)").collect() }
    assert(e.getMessage.contains("FEED") ||
      Option(e.getCause).exists(_.getMessage.contains("FEED")))
    intercept[Exception] { spark.sql(
      "SELECT * FROM table_changes('glogspec24.t', 0, (SELECT 1))")
      .collect() }
  }

  test("table_changes by timestamp: clock endpoints resolve through " +
       "the commit stamps; mixed/garbled endpoint kinds refuse") {
    import spark.implicits._
    val path = opsFixture("tvf_clock") // commits 0,1,2
    Changelog.stampCommit(path, 0L, 1000L)
    Changelog.stampCommit(path, 1L, 2000L)
    Changelog.stampCommit(path, 2L, 3000L)
    GraftLogCatalog.register(spark, "glogspec40", "t", path, Seq("k"))
    // the clock window ('…:01', '…:03'] equals the version window (0, 2]
    val byClock = spark.sql(
      "SELECT k, change_type, old_v, new_v FROM table_changes(" +
        "'glogspec40.t', '1970-01-01 00:00:01', '1970-01-01 00:00:03')")
      .orderBy("k", "change_type").collect().toSeq
    val byVersion = spark.sql(
      "SELECT k, change_type, old_v, new_v " +
        "FROM table_changes('glogspec40.t', 0, 2)")
      .orderBy("k", "change_type").collect().toSeq
    assert(byClock.nonEmpty && byClock == byVersion)
    // refusals: mixed endpoint kinds, non-timestamp strings, and two
    // instants resolving to the same commit (an empty window)
    Seq(
      "table_changes('glogspec40.t', 0, '1970-01-01 00:00:03')",
      "table_changes('glogspec40.t', '1970-01-01 00:00:01', 2)",
      "table_changes('glogspec40.t', 'yesterday', 'today')",
      "table_changes('glogspec40.t', '1970-01-01 00:00:01'," +
        " '1970-01-01 00:00:01.900')")
      .foreach { tvf =>
        assert(scala.util.Try(
          spark.sql(s"SELECT * FROM $tvf")).isFailure,
          s"must refuse: $tvf")
      }
  }

  test("COMPOSITE keys through the table surface: SQL DML, the table " +
       "stream, and table_changes all group by the full key tuple") {
    import spark.implicits._
    val path = freshDir("composite_log")
    val base = Seq((1L, "x", 10.0), (1L, "y", 20.0), (2L, "x", 30.0))
      .toDF("a", "b", "v")
    Changelog.commitUpsert(base, path, 0L)
    GraftLogCatalog.register(spark, "glogspec26", "t", path,
      Seq("a", "b"))
    // DML addresses the full tuple: (1,x) updates, (1,y) untouched
    spark.sql("UPDATE glogspec26.t SET v = v + 1.0 " +
      "WHERE a = 1 AND b = 'x'")
    spark.sql("DELETE FROM glogspec26.t WHERE a = 2")
    spark.sql("INSERT INTO glogspec26.t VALUES (3, 'z', 40.0)")
    val state = spark.sql("SELECT * FROM glogspec26.t")
      .as[(Long, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(state == Map((1L, "x") -> 11.0, (1L, "y") -> 20.0,
      (3L, "z") -> 40.0))
    // MERGE keyed on the tuple: update one pair, insert another
    Seq((1L, "y", -1.0), (4L, "w", 4.0)).toDF("a", "b", "v")
      .createOrReplaceTempView("src_comp")
    spark.sql("""MERGE INTO glogspec26.t t USING src_comp s
                |ON t.a = s.a AND t.b = s.b
                |WHEN MATCHED THEN UPDATE SET v = s.v
                |WHEN NOT MATCHED THEN INSERT (a, b, v)
                |VALUES (s.a, s.b, s.v)""".stripMargin)
    val state2 = spark.sql("SELECT * FROM glogspec26.t")
      .as[(Long, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(state2((1L, "y")) == -1.0 && state2((4L, "w")) == 4.0)
    // table_changes over the full history carries both key columns and
    // equals the library feed
    val head = Changelog.headVersion(path).get
    val tvf = spark.sql("SELECT * FROM table_changes('glogspec26.t', " +
      s"0, $head)").collect().toSet
    val lib = Changelog.changesBetween(spark, path, Seq("a", "b"),
      0L, head, Seq("v")).collect().toSet
    assert(tvf.nonEmpty && tvf == lib)
    // the snapshot table's own stream groups by the tuple too: the
    // last streamed value per pair equals the head state
    val out = freshDir("composite_stream_out")
    val ckpt = freshDir("composite_stream_ckpt")
    val q = spark.readStream.table("glogspec26.t")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
         id: Long) =>
          b.withColumn("batch", org.apache.spark.sql.functions.lit(id))
            .write.mode("append").parquet(out)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val lastSeen = spark.read.parquet(out)
      .as[(Long, String, Double, Long)].collect()
      .groupBy(r => (r._1, r._2))
      .map { case (k, rs) => k -> rs.maxBy(_._4)._3 }
    state2.foreach { case (k, v) =>
      assert(lastSeen.get(k).contains(v),
        s"live pair $k must be last streamed at its head value $v") }
  }

  test("loud contracts: options, DDL, writes") {
    val path = opsFixture("loud")
    intercept[IllegalArgumentException] {
      spark.read.format(fmt).option("path", path).load()
    }
    intercept[IllegalArgumentException] {
      spark.read.format(fmt).option("path", path).option("keys", "k")
        .option("versionAsOf", 1).option("timestampAsOf", 1000).load()
    }
    intercept[IllegalArgumentException] {
      spark.read.format(fmt).option("path", path).option("keys", "k")
        .option("readChangeFeed", "true").option("trackCols", "v").load()
    }
    intercept[IllegalArgumentException] {
      // keyFilter is a feed-only option
      spark.read.format(fmt).option("path", path).option("keys", "k")
        .option("keyFilter", "k % 2 = 0").load()
    }
    GraftLogCatalog.register(spark, "glogspec2", "t", path, Seq("k"))
    // a RETYPE stays refused — it would rewrite the schema out from
    // under the pinned footers (add/rename/drop are first-class,
    // specced in their own tests)
    val ddl = intercept[Exception] {
      spark.sql("ALTER TABLE glogspec2.t ALTER COLUMN v TYPE INT")
    }
    assert(ddl.getMessage.toLowerCase.contains("only add columns") ||
      ddl.getMessage.toLowerCase.contains("not supported"))
    // unregistered name: loud table-not-found, not a silent empty
    intercept[Exception] {
      spark.sql("SELECT * FROM glogspec2.absent").collect()
    }
  }
}
