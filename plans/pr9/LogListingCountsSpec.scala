package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path

import graft.sources.{Changelog, GraftLog, LogFs, Sinks}
import graft.sources.Changelog.KeyRange.LongRange

/** The listing counts of `LogListingSpec`, reported (not asserted) so
  * the same calls can be measured on a tree without `Changelog.Listing`.
  * It needs only the `LogFs.listCounter` test hook; see `listings.md`
  * for the recipe. The last case reports what `cloneAt` of a stamped,
  * checkpointed log does.
  */
class LogListingCountsSpec extends SparkSpec {
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

  test("root listings per verb") {
    val path = freshDir("counts")
    for (c <- 0L to 2L)
      Changelog.commitStamped((0L until 10L).map(k => (k + c, c * 1.0))
        .toDF("k", "v"), path, c, 1000L * (c + 1))
    for (c <- 0L to 2L) Changelog.writeCommitStats(spark, path, c, "k")
    def show(what: String, n: Any): Unit = info(s"COUNT $what = $n")
    show("commit", rootListings(path)(Changelog.commit(
      Seq((100L, 3.0)).toDF("k", "v"), path, 3L)))
    Changelog.stampCommit(path, 3L, 4000L)
    show("describeHistory", rootListings(path)(
      Changelog.describeHistory(spark, path).collect()))
    show("describeDetail", rootListings(path)(
      Changelog.describeDetail(spark, path, Seq("k")).collect()))
    show("lookup", rootListings(path)(Changelog.lookup(spark, path, Seq("k"), 3L,
      Seq(LongRange("k", 5L, 5L)))))
    show("versionAtTimestamp", rootListings(path)(
      Changelog.versionAtTimestamp(path, 2500L)))
    show("GraftLog load", rootListings(path)(spark.read.format(classOf[GraftLog].getName)
      .option("path", path).option("keys", "k").load()))
    show("snapshotAt (root, under)", listings(path)(
      Changelog.snapshotAt(spark, path, Seq("k"), 3L)))
  }

  test("Spark jobs of a lookup no commit admits") {
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
    info(s"COUNT empty lookup jobs = $jobs")
    assert(got.schema ==
      Changelog.snapshotAt(spark, path, Seq("k"), 5L).schema)
    assert(got.isEmpty)
    // the union form keeps its footer-merge read, same shape
    assert(Changelog.lookup(spark, path, Seq("k"), 5L,
      Seq(LongRange("k", 5000L, 5000L)), mergeSchema = true).schema ==
      got.schema)
  }

  test("cloneAt of a stamped, checkpointed log") {
    val origin = Sinks.tmpPath("changelog_spec_clone_stamped_src")
    val dest = Sinks.tmpPath("changelog_spec_clone_stamped_dst")
    Sinks.deleteRecursively(origin); Sinks.deleteRecursively(dest)
    for (c <- 0L to 3L)
      Changelog.commitStamped(Seq(("k", s"v$c"), (s"k$c", "x")).toDF("k", "v"),
        origin, c, 1000L * (c + 1))
    Changelog.checkpoint(spark, origin, Seq("k"), 2L)
    val r = scala.util.Try(Changelog.cloneAt(spark, origin, dest, 3L))
    info(s"COUNT clone result = $r; dest left = " +
      Option(new File(dest).list()).map(_.sorted.mkString(",")))
  }
}
