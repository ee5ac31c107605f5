package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import graft.sources.{Changelog, GraftLogCatalog, Sinks}
import graft.sources.Changelog.KeyRange
import graft.sources.Changelog.KeyRange.{LongRange, StringRange}

/** The one filter-to-range extractor ([[Changelog.KeyRange.extract]])
  * that both the SQL/DataFrame read (ResolveGraftLog) and row-level DML
  * (GraftRowLevel) prune by, the range type's own order and admit
  * rules, and the read surface's composite-key and string-range
  * skipping, proven structurally through `inputFiles`.
  */
class KeyRangeSpec extends SparkSpec {
  import spark.implicits._

  private val bmp = "�"
  private val supp = new String(Character.toChars(0x10400))

  test("extract: strict integral bounds tighten and saturate, " +
       "contradictions, one-sided strings, Or and non-key conjuncts " +
       "yield no range") {
    def ex(fs: sources.Filter*) = KeyRange.extract(Seq("k"), fs)
    assert(ex(sources.GreaterThan("k", 5L)) ==
      Seq(LongRange("k", 6L, Long.MaxValue)))
    assert(ex(sources.LessThan("k", 5)) ==
      Seq(LongRange("k", Long.MinValue, 4L)))
    assert(ex(sources.GreaterThan("k", Long.MaxValue)) ==
      Seq(LongRange("k", Long.MaxValue, Long.MaxValue)))
    assert(ex(sources.LessThan("k", Long.MinValue)) ==
      Seq(LongRange("k", Long.MinValue, Long.MinValue)))
    // nested And splits; bounds intersect
    assert(ex(sources.And(sources.GreaterThanOrEqual("k", 10L),
        sources.And(sources.LessThanOrEqual("k", 20L),
          sources.GreaterThan("k", 12L)))) ==
      Seq(LongRange("k", 13L, 20L)))
    assert(ex(sources.EqualTo("k", 5L), sources.EqualTo("k", 9L)).isEmpty)
    assert(ex(sources.GreaterThan("k", 9L), sources.LessThan("k", 10L))
      .isEmpty)
    assert(ex(sources.Or(sources.EqualTo("k", 1L),
      sources.EqualTo("k", 2L))).isEmpty)
    assert(ex(sources.EqualTo("v", 3L), sources.IsNotNull("k")).isEmpty)
    assert(ex(sources.EqualTo("v", 3L), sources.EqualTo("k", 4)) ==
      Seq(LongRange("k", 4L, 4L)))
    // a string key needs both bounds
    def exS(fs: sources.Filter*) = KeyRange.extract(Seq("s"), fs)
    assert(exS(sources.GreaterThanOrEqual("s", "a")).isEmpty)
    assert(exS(sources.LessThan("s", "m")).isEmpty)
    assert(exS(sources.GreaterThan("s", "d"), sources.LessThan("s", "f")) ==
      Seq(StringRange("s", "d", "f")))
    assert(exS(sources.EqualTo("s", "x")) == Seq(StringRange("s", "x", "x")))
    assert(exS(sources.EqualTo("s", "x"), sources.EqualTo("s", "y")).isEmpty)
    // every constrained key column yields a range
    assert(KeyRange.extract(Seq("g", "k"), Seq(sources.EqualTo("g", 7L),
        sources.GreaterThanOrEqual("k", 120L),
        sources.LessThanOrEqual("k", 130L))) ==
      Seq(LongRange("g", 7L, 7L), LongRange("k", 120L, 130L)))
  }

  test("extract and the range constructor order strings in UTF-8, not " +
       "Java UTF-16") {
    assert(bmp.compareTo(supp) > 0) // UTF-16: U+FFFD after U+10400
    // UTF-8: U+10400 (F0 ..) is the greater lower bound; in UTF-16
    // order U+FFFD would win and the window would invert
    assert(KeyRange.extract(Seq("s"), Seq(
        sources.GreaterThanOrEqual("s", bmp),
        sources.GreaterThanOrEqual("s", supp),
        sources.LessThanOrEqual("s", supp))) ==
      Seq(StringRange("s", supp, supp)))
    assert(StringRange("s", bmp, supp).lo == bmp)
    intercept[IllegalArgumentException](StringRange("s", supp, bmp))
    intercept[IllegalArgumentException](LongRange("k", 5L, 1L))
  }

  test("ranges admit by their own stats type and render as spool " +
       "windows") {
    val r = LongRange("k", 10L, 20L)
    assert(r.admits(Changelog.LongColStats(20L, 30L, 0L)))
    assert(!r.admits(Changelog.LongColStats(21L, 30L, 0L)))
    assert(!r.admits(Changelog.AllNullColStats(5L)))
    assert(r.admits(Changelog.StringColStats("a", "b", 0L)))
    val s = StringRange("s", bmp, supp)
    assert(s.admits(Changelog.StringColStats(supp, supp, 0L)))
    assert(!s.admits(Changelog.StringColStats("a", "b", 0L)))
    assert(r.toString == "k in [10, 20]")
    assert(StringRange("s", "x", "x").toString == "s = 'x'")
    assert(StringRange("s", "a", "b").toString == "s in ['a', 'b']")
  }

  test("OPTIMIZE refuses a non-key cluster column before touching the " +
       "log") {
    val path = Sinks.tmpPath("keyrange_spec_optimize_guard")
    Sinks.deleteRecursively(path)
    val es = Seq(
      intercept[IllegalArgumentException](Changelog.optimizeOps(spark,
        path, Seq("k"), 1L, "v", 100L, 2)),
      intercept[IllegalArgumentException](Changelog.optimizeOpsString(
        spark, path, Seq("k"), 1L, "v", 2)),
      intercept[IllegalArgumentException](Changelog.optimizeOpsZOrder(
        spark, path, Seq("k", "x"), 1L, "x", "y", 5, 2)))
    es.foreach(e => assert(e.getMessage.contains("key column"),
      e.getMessage))
    assert(!new java.io.File(path).exists())
  }

  private def commitDirs(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.inputFiles.map(_.split("/")
      .find(_.startsWith(s"${Changelog.CommitCol}=")).getOrElse("?"))
      .distinct.sorted.toSeq

  test("SQL read intersects the ranges of every constrained key column") {
    val path = Sinks.tmpPath("keyrange_spec_composite")
    Sinks.deleteRecursively(path)
    def block(gs: Range, ks: Range) =
      (for (g <- gs; k <- ks) yield (g.toLong, k.toLong, g * 1000.0 + k))
        .toDF("g", "k", "v")
    Changelog.commitUpsert(block(0 to 4, 0 to 49), path, 0L)
    Changelog.commitUpsert(block(5 to 9, 0 to 49), path, 1L)
    Changelog.commitUpsert(block(0 to 9, 100 to 149), path, 2L)
    for (c <- 0L to 2L)
      Changelog.writeCommitStatsMulti(spark, path, c, Seq("g", "k"))
    GraftLogCatalog.register(spark, "keyrangespec1", "t", path,
      Seq("g", "k"))
    val t = spark.table("keyrangespec1.t")
    // g alone admits commits 1 and 2; k in [120, 130] rules commit 1 out
    assert(commitDirs(t.filter(col("g") === 7L)) ==
      Seq(s"${Changelog.CommitCol}=1", s"${Changelog.CommitCol}=2"))
    val both = t.filter(col("g") === 7L && col("k").between(120L, 130L))
    assert(commitDirs(both) == Seq(s"${Changelog.CommitCol}=2"),
      s"expected only commit 2, got ${commitDirs(both)}")
    assert(both.as[(Long, Long, Double)].collect().sorted.toSeq ==
      (120L to 130L).map(k => (7L, k, 7000.0 + k)))
  }

  test("SQL read skips by a closed string range") {
    val path = Sinks.tmpPath("keyrange_spec_strrange")
    Sinks.deleteRecursively(path)
    def rows(names: String*) = names.map(n => (n, 1.0)).toDF("name", "v")
    Changelog.commitUpsert(rows("apple", "berry", "cherry"), path, 0L)
    Changelog.commitUpsert(rows("date", "elder", "fig"), path, 1L)
    Changelog.commitUpsert(rows("grape", "honey", "iris"), path, 2L)
    for (c <- 0L to 2L)
      Changelog.writeCommitStatsMulti(spark, path, c, Seq("name"))
    GraftLogCatalog.register(spark, "keyrangespec2", "s", path, Seq("name"))
    val df = spark.table("keyrangespec2.s")
      .filter(col("name") >= "d" && col("name") < "f")
    assert(commitDirs(df) == Seq(s"${Changelog.CommitCol}=1"),
      s"expected only commit 1, got ${commitDirs(df)}")
    assert(df.as[(String, Double)].collect().sorted.toSeq ==
      Seq(("date", 1.0), ("elder", 1.0)))
  }
}
