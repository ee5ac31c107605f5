package graft

import org.apache.spark.sql.functions._
import graft.sources.{Changelog, GraftLogCatalog, Sinks}

/** Table CHECK constraints — Delta's constraint discipline on the
  * changelog's marker primitive: `ALTER TABLE … ADD CONSTRAINT <n>
  * CHECK (<expr>)` lands one properties commit + one marker, and the
  * predicate is enforced on EVERY write surface — SQL (Spark's own
  * ResolveTableConstraints/CheckInvariant over the constraints() the
  * table reports), library verbs (the raise_error guard projection),
  * and streaming epochs (staged-file validation before any rename
  * lands). SQL NULL semantics: a predicate evaluating to null passes;
  * tombstones are exempt (a delete names a row, it does not write
  * one).
  */
class ConstraintsSpec extends SparkSpec {

  private def freshDir(name: String): String = {
    val p = Sinks.tmpPath(s"constraints_spec_$name")
    Sinks.deleteRecursively(p)
    p
  }

  /** Two-commit ops log (k BIGINT, v DOUBLE, note STRING). */
  private def fixture(name: String): String = {
    import spark.implicits._
    val path = freshDir(name)
    Changelog.commitUpsert(
      (0L until 20L).map(k => (k, k * 10.0, s"n$k")).toDF("k", "v", "note"),
      path, 0L)
    Changelog.commitUpsert(
      Seq((3L, 333.0, "upd")).toDF("k", "v", "note"), path, 1L)
    path
  }

  test("ADD CONSTRAINT CHECK lands a properties commit, validates " +
       "existing rows, and Spark's own rule enforces SQL writes") {
    val path = fixture("sql")
    GraftLogCatalog.register(spark, "ckspec1", "t", path, Seq("k"))
    // a constraint the existing data violates refuses (v=0 at k=0)
    assert(scala.util.Try(spark.sql(
      "ALTER TABLE ckspec1.t ADD CONSTRAINT v_pos CHECK (v > 0)"))
      .isFailure,
      "a constraint violated by existing rows must refuse at ADD")
    spark.sql(
      "ALTER TABLE ckspec1.t ADD CONSTRAINT v_nonneg CHECK (v >= 0)")
    assert(Changelog.commitInfos(path).values
      .count(_._1 == "add_constraint") == 1,
      "ADD CONSTRAINT must land ONE properties commit")
    assert(Changelog.checkConstraints(path) ==
      Map("v_nonneg" -> "v >= 0"))
    // a duplicate name refuses
    assert(scala.util.Try(spark.sql(
      "ALTER TABLE ckspec1.t ADD CONSTRAINT v_nonneg CHECK (v >= 1)"))
      .isFailure)
    // SQL INSERT: the violating statement fails LOUDLY through
    // Spark's own CheckInvariant — and nothing lands
    val headBefore = Changelog.commitInfos(path).keys.max
    val bad = scala.util.Try(spark.sql(
      "INSERT INTO ckspec1.t VALUES (100, -5.0, 'bad')"))
    assert(bad.isFailure, "a violating INSERT must refuse")
    assert(Changelog.commitInfos(path).keys.max == headBefore,
      "a refused INSERT must land nothing")
    spark.sql("INSERT INTO ckspec1.t VALUES (100, 5.0, 'ok')")
    // NULL passes — SQL CHECK semantics
    spark.sql("INSERT INTO ckspec1.t VALUES (101, NULL, 'nullok')")
    assert(spark.sql("SELECT count(*) FROM ckspec1.t WHERE k >= 100")
      .head().getLong(0) == 2L)
    // SQL UPDATE: a violating new value refuses; DELETE stays exempt
    assert(scala.util.Try(spark.sql(
      "UPDATE ckspec1.t SET v = -1.0 WHERE k = 3")).isFailure,
      "a violating UPDATE must refuse")
    spark.sql("UPDATE ckspec1.t SET v = 1.0 WHERE k = 3")
    spark.sql("DELETE FROM ckspec1.t WHERE k = 5")
    assert(spark.sql("SELECT v FROM ckspec1.t WHERE k = 3")
      .head().getDouble(0) == 1.0)
    assert(spark.sql("SELECT count(*) FROM ckspec1.t WHERE k = 5")
      .head().getLong(0) == 0L)
    // DROP CONSTRAINT: enforcement stops, the verb lands in history
    spark.sql("ALTER TABLE ckspec1.t DROP CONSTRAINT v_nonneg")
    assert(Changelog.checkConstraints(path).isEmpty)
    assert(Changelog.commitInfos(path).values
      .count(_._1 == "drop_constraint") == 1)
    spark.sql("INSERT INTO ckspec1.t VALUES (102, -9.0, 'now ok')")
    assert(spark.sql("SELECT v FROM ckspec1.t WHERE k = 102")
      .head().getDouble(0) == -9.0)
    // dropping a missing constraint refuses; IF EXISTS is a no-op
    assert(scala.util.Try(spark.sql(
      "ALTER TABLE ckspec1.t DROP CONSTRAINT nope")).isFailure)
    spark.sql("ALTER TABLE ckspec1.t DROP CONSTRAINT IF EXISTS nope")
    // NOT NULL discipline is expressible as CHECK (IS NOT NULL is
    // never null, so the null-passes rule does not apply); the
    // declared state surfaces in DESCRIBE DETAIL and TBLPROPERTIES
    spark.sql("ALTER TABLE ckspec1.t " +
      "ADD CONSTRAINT note_nn CHECK (note IS NOT NULL)")
    assert(scala.util.Try(spark.sql(
      "INSERT INTO ckspec1.t VALUES (103, 1.0, NULL)")).isFailure,
      "CHECK (col IS NOT NULL) must refuse a null write")
    assert(spark.sql("SELECT check_constraints FROM ckspec1.t.detail")
      .head().getString(0) == "note_nn: CHECK (note IS NOT NULL)")
    assert(spark.sql("SHOW TBLPROPERTIES ckspec1.t")
      .filter(col("key") === "checkConstraints").head()
      .getString(1) == "note_nn: CHECK (note IS NOT NULL)")
  }

  test("library verbs guard inside the write job (tombstones exempt), " +
       "and a mapped log's constraints speak logical names") {
    import spark.implicits._
    val path = fixture("lib")
    Changelog.addCheckConstraint(spark, path, Seq("k"), "v_cap",
      "v <= 1000")
    // a violating upsert fails INSIDE the write job and lands nothing
    val headBefore = Changelog.commitInfos(path).keys.max
    val bad = scala.util.Try(Changelog.commitUpsert(
      Seq((7L, 9999.0, "x")).toDF("k", "v", "note"), path, 2L))
    assert(bad.isFailure &&
      bad.failed.get.getMessage != null,
      "a violating library upsert must refuse")
    assert(Changelog.commitInfos(path).keys.max == headBefore)
    // the valid delta lands; tombstones (null data columns) are exempt
    Changelog.commitUpsert(
      Seq((7L, 700.0, "ok")).toDF("k", "v", "note"), path, 2L)
    Changelog.commitDelete(spark,
      Seq(Tuple1(4L)).toDF("k"), path, 3L)
    val snap = Changelog.snapshotAt(spark, path, Seq("k"), 3L)
    assert(snap.filter(col("k") === 7L).select("v")
      .head().getDouble(0) == 700.0)
    assert(snap.filter(col("k") === 4L).isEmpty)
    // MAPPED: rename v→price; the constraint surface speaks the
    // logical name while library deltas stay physical
    Changelog.commitRenameColumn(spark, path, Seq("k"), "v", "price")
    Changelog.addCheckConstraint(spark, path, Seq("k"), "price_pos",
      "price >= 0")
    assert(scala.util.Try(Changelog.commitUpsert(
      Seq((8L, -1.0, "neg")).toDF("k", "v", "note"), path, 5L))
      .isFailure,
      "a logical-name constraint must guard the physical-name delta")
    Changelog.commitUpsert(
      Seq((8L, 1.0, "pos")).toDF("k", "v", "note"), path, 5L)
    // restore VALIDATES: rolling back to pre-constraint data that
    // violates refuses loudly (stricter than Delta — drop first)
    Changelog.addCheckConstraint(spark, path, Seq("k"), "no_n4",
      "note <> 'n4'")
    // v0 held (4, 40.0, 'n4'); restoring to v0 resurrects it
    assert(scala.util.Try(Changelog.restoreOps(spark, path, Seq("k"),
      0L, 99L)).isFailure,
      "a restore resurrecting violating rows must refuse")
  }

  test("streaming epochs validate staged files before landing; a " +
       "violating epoch fails the stream and lands nothing") {
    import spark.implicits._
    val path = fixture("stream")
    GraftLogCatalog.register(spark, "ckspec3", "t", path, Seq("k"))
    spark.sql(
      "ALTER TABLE ckspec3.t ADD CONSTRAINT v_nonneg CHECK (v >= 0)")
    val headBefore = Changelog.commitInfos(path).keys.max
    def runOnce(rows: Seq[(Long, Double, String)]): scala.util.Try[Unit] = {
      val landing = freshDir(s"landing_${rows.head._1}")
      rows.toDF("k", "v", "note").write.parquet(landing)
      scala.util.Try {
        val q = spark.readStream
          .schema("k BIGINT, v DOUBLE, note STRING").parquet(landing)
          .writeStream
          .option("checkpointLocation", freshDir(s"ckpt_${rows.head._1}"))
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable("ckspec3.t")
        try q.awaitTermination() finally q.stop()
      }
    }
    assert(runOnce(Seq((500L, -1.0, "bad"))).isFailure,
      "a violating streamed epoch must fail the stream")
    assert(Changelog.commitInfos(path).keys.max == headBefore,
      "a refused epoch must land nothing")
    assert(runOnce(Seq((501L, 1.0, "good"))).isSuccess)
    assert(spark.sql("SELECT v FROM ckspec3.t WHERE k = 501")
      .head().getDouble(0) == 1.0)
  }
}
