package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path

import graft.sources.{Changelog, GraftLog, LogFs, Sinks}
import graft.sources.Changelog.{Listing, Marker}
import graft.sources.Changelog.KeyRange.LongRange

/** The changelog's one log listing: the `_commit=` / `_graft_*` name
  * grammar parsed in one place, and each verb listing the log root
  * once.
  */
class LogListingSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(name: String): String = {
    val p = Sinks.tmpPath(s"log_listing_spec_$name")
    Sinks.deleteRecursively(p)
    p
  }

  /** (listings of `root` itself, listings of `root` or any dir below
    * it) that `f` made through LogFs.
    */
  private def listings(root: String)(f: => Unit): (Int, Int) = {
    def norm(p: String) = new Path(p).toUri.getPath.stripSuffix("/")
    val r = norm(root)
    val (atRoot, under) = (new AtomicInteger, new AtomicInteger)
    LogFs.listCounter.set { p =>
      val n = norm(p)
      if (n == r) atRoot.incrementAndGet()
      if (n == r || n.startsWith(r + "/")) under.incrementAndGet(): Unit
    }
    try f finally LogFs.listCounter.set(_ => ())
    (atRoot.get, under.get)
  }

  private def rootListings(root: String)(f: => Unit): Int =
    listings(root)(f)._1

  test("the name grammar: commits in name order, ids in numeric order, " +
       "name-keyed markers, stray names ignored") {
    val root = freshDir("grammar")
    Seq("_commit=0/part-0", "_commit=2/part-0", "_commit=10/part-0",
      "_graft_ts_10", "_graft_ts_9", "_graft_check_positive",
      "_graft_sinkmap_q=1_0", "_graft_sinkmap_txn_w=x_3", "_SUCCESS",
      "_graft_horizon", "_graft_unknown_4").foreach { rel =>
      val f = new File(root, rel)
      f.getParentFile.mkdirs()
      Files.write(f.toPath, Array[Byte](1)): Unit
    }
    val l = Listing.of(root)
    // name order is the order a directory walk (the shape probe) visits
    assert(l.commitDirs.map(_._1) == Seq(0L, 10L, 2L))
    assert(l.commitIds == Seq(0L, 2L, 10L))
    assert(l.head.contains(10L))
    assert(l.ids(Marker.Stamp).map(_._1) == Seq(9L, 10L))
    assert(l.keyed(Marker.Check).map(_._1) == Seq("positive"))
    // a writer id holding `=` is a marker key, never a commit
    assert(l.keyed(Marker.SinkMap).map(_._1).sorted ==
      Seq("q=1_0", "txn_w=x_3"))
    // `_SUCCESS`, the horizon and an unknown `_graft_` file belong to
    // no class
    assert(Marker.all.map(l.keyed(_).size).sum == 5)
    assert(l.has("_graft_horizon"))
    assert(Listing.of(freshDir("absent")).commitDirs.isEmpty)
  }

  test("each verb lists the log root once; a plain snapshot lists " +
       "nothing") {
    val path = freshDir("counts")
    for (c <- 0L to 2L)
      Changelog.commitStamped((0L until 10L).map(k => (k + c, c * 1.0))
        .toDF("k", "v"), path, c, 1000L * (c + 1))
    for (c <- 0L to 2L) Changelog.writeCommitStats(spark, path, c, "k")
    assert(rootListings(path)(Changelog.commit(
      Seq((100L, 3.0)).toDF("k", "v"), path, 3L)) == 1)
    Changelog.stampCommit(path, 3L, 4000L)
    assert(rootListings(path)(
      Changelog.describeHistory(spark, path).collect()) == 1)
    assert(rootListings(path)(
      Changelog.describeDetail(spark, path, Seq("k")).collect()) == 1)
    assert(rootListings(path)(Changelog.lookup(spark, path, Seq("k"), 3L,
      Seq(LongRange("k", 5L, 5L)))) == 1)
    assert(rootListings(path)(
      Changelog.versionAtTimestamp(path, 2500L)) == 1)
    assert(rootListings(path)(spark.read.format(classOf[GraftLog].getName)
      .option("path", path).option("keys", "k").load()) == 1)
    assert(listings(path)(
      Changelog.snapshotAt(spark, path, Seq("k"), 3L)) == ((0, 0)))
  }

  test("schema verbs read the table state once: one listing before the " +
       "claim's own, one union read") {
    val path = freshDir("schema_verbs")
    Changelog.commitUpsert((0L until 10L).map(k => (k, k * 1.0, s"w$k"))
      .toDF("k", "v", "w"), path, 0L)
    // (root listings, Spark jobs) of one verb
    def cost(f: => Unit): (Int, Int) = {
      var roots = 0
      val (jobs, _) = observe { roots = rootListings(path)(f) }
      (roots, jobs)
    }
    // when each verb re-read the mapping, head and union on its own:
    // rename (3, 3), drop (3, 3), add constraint (5, 6), a pre-validated
    // add constraint (5, 3)
    assert(cost(Changelog.commitRenameColumn(spark, path, Seq("k"), "v",
      "v2")) == ((2, 2)))
    assert(cost(Changelog.commitDropColumn(spark, path, Seq("k"), "w")) ==
      ((2, 2)))
    assert(cost(Changelog.addCheckConstraint(spark, path, Seq("k"), "pos",
      "v2 >= 0")) == ((2, 5)))
    assert(cost(Changelog.addCheckConstraint(spark, path, Seq("k"), "pos2",
      "v2 >= -1", validated = true)) == ((2, 2)))
    assert(Changelog.headVersion(path).contains(4L))
    assert(Changelog.logicalColumns(spark, path) == Seq("k", "v2"))
  }

  test("a lookup no commit admits answers empty without a Spark job, in " +
       "the snapshot's schema") {
    val path = freshDir("empty_lookup")
    for (c <- 0L to 5L) {
      Changelog.commitUpsert((0L until 10L).map(k => (k + 10 * c, s"v$c"))
        .toDF("k", "v"), path, c)
      Changelog.writeCommitStats(spark, path, c, "k")
    }
    var got: org.apache.spark.sql.DataFrame = null
    val (jobs, _) = observe {
      got = Changelog.lookup(spark, path, Seq("k"), 5L,
        Seq(LongRange("k", 5000L, 5000L)))
      got.schema: Unit
    }
    assert(jobs == 0, s"an empty lookup ran $jobs Spark job(s)")
    assert(got.schema ==
      Changelog.snapshotAt(spark, path, Seq("k"), 5L).schema)
    assert(got.isEmpty)
    // the union form keeps its footer-merge read, same shape
    assert(Changelog.lookup(spark, path, Seq("k"), 5L,
      Seq(LongRange("k", 5000L, 5000L)), mergeSchema = true).schema ==
      got.schema)
  }
}
