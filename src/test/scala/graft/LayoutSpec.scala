package graft

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import graft.ingest.RawZoneGen
import graft.sources.Sinks
import graft.transform.{Financials, Rollup}

/** The maintained (bucket-partitioned) fact layout: O(delta) incremental
  * upsert — untouched buckets' files stay byte-identical across an
  * increment — and partition-pruned point lookup.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  /** name → md5 for every data file under each bucket directory. */
  private def bucketFiles(path: String): Map[String, Map[String, String]] = {
    def md5(f: File): String =
      MessageDigest.getInstance("MD5").digest(Files.readAllBytes(f.toPath))
        .map("%02x".format(_)).mkString
    new File(path).listFiles().filter(_.getName.startsWith("bucket="))
      .map { dir =>
        dir.getName -> dir.listFiles()
          .filter(_.getName.endsWith(".parquet"))
          .map(f => f.getName -> md5(f)).toMap
      }.toMap
  }

  test("writeFactPartitioned: one dir per bucket, bucket = pmod(hash(stock), n)") {
    val path = Sinks.tmpPath("test_fact_part")
    Sinks.deleteRecursively(path)
    val fact = Financials.normalize(RawZoneGen.payloads(spark, 6))
    Sinks.writeFactPartitioned(fact, path, buckets = 4)
    val back = spark.read.parquet(path)
    // every row sits in the directory its stock hashes to
    assert(back.filter(col("bucket") =!= pmod(hash(col("stock")), lit(4)))
      .count() === 0L)
    // and the layout loses nothing vs the logical table
    assert(back.drop("bucket").exceptAll(fact).isEmpty)
    assert(fact.exceptAll(back.drop("bucket")).isEmpty)
  }

  test("upsertFactDelta: only touched buckets rewritten; untouched files byte-identical") {
    val buckets = 4
    val path = Sinks.tmpPath("test_fact_delta")
    Sinks.deleteRecursively(path)
    val base = Financials.normalize(RawZoneGen.payloads(spark, 6)) // S00000–S00005
    Sinks.writeFactPartitioned(base, path, buckets)
    val before = bucketFiles(path)

    // delta: replacement rows for S00003 (PK collision → incoming wins)
    // plus a brand-new symbol S00006
    val delta = Financials.normalize(RawZoneGen.payloads(spark, 8))
      .filter(col("stock").isin("S00003", "S00006"))
      .withColumn("value", col("value") + lit(100000.0))
    Sinks.upsertFactDelta(spark, path, delta, buckets)
    val after = bucketFiles(path)

    val touched = delta.select(pmod(hash(col("stock")), lit(buckets)))
      .distinct().as[Int].collect().map(b => s"bucket=$b").toSet
    assert(touched.nonEmpty && touched.size <= 2)
    // the dynamic overwrite must not have touched the other buckets' files
    (before.keySet -- touched).foreach { b =>
      assert(after(b) === before(b), s"untouched $b was rewritten")
    }
    // merged content: delta symbols carry the shifted values, the rest
    // are the base rows, and the new symbol is present
    val back = spark.read.parquet(path).drop("bucket")
    assert(back.count() === 7 * 1440L)
    assert(back.filter(col("stock").isin("S00003", "S00006") &&
      col("value") < 100000.0).count() === 0L)
    val untouchedRows = back.filter(!col("stock").isin("S00003", "S00006"))
    val expect = base.filter(!col("stock").isin("S00003"))
    assert(untouchedRows.exceptAll(expect).isEmpty)
    assert(expect.exceptAll(untouchedRows).isEmpty)

    // second increment via the caller-supplied key-universe probe: same
    // touched-bucket discipline, no delta materialization
    val before2 = bucketFiles(path)
    val delta2 = Financials.normalize(RawZoneGen.payloads(spark, 6))
      .filter(col("stock") === "S00001")
      .withColumn("value", col("value") + lit(500000.0))
    Sinks.upsertFactDelta(spark, path, delta2, buckets,
      deltaStocks = Some(Seq("S00001").toDF("stock")))
    val after2 = bucketFiles(path)
    val b1 = spark.range(1)
      .select(pmod(hash(lit("S00001")), lit(buckets))).as[Int].head()
    (before2.keySet - s"bucket=$b1").foreach { b =>
      assert(after2(b) === before2(b), s"untouched $b was rewritten")
    }
    val s1 = spark.read.parquet(path).filter(col("stock") === "S00001")
    assert(s1.count() === 1440L)
    assert(s1.filter(col("value") < 500000.0).count() === 0L)
  }

  test("deleteFactKeys: only touched buckets rewritten; emptied bucket vacuumed (q151)") {
    val buckets = 4
    val path = Sinks.tmpPath("test_fact_delete")
    Sinks.deleteRecursively(path)
    val base = Financials.normalize(RawZoneGen.payloads(spark, 6)) // S00000–S00005
    Sinks.writeFactPartitioned(base, path, buckets)
    val before = bucketFiles(path)
    val allStocks = (0 until 6).map(i => f"S$i%05d")
    def bucketOf(s: String) = spark.range(1)
      .select(pmod(hash(lit(s)), lit(buckets))).as[Int].head()
    val byBucket = allStocks.groupBy(bucketOf)

    // choose one bucket and delete EVERY stock in it (the vacuum
    // case), plus one stock from a different bucket (the partial case)
    val (emptyB, emptyStocks) = byBucket.head
    val partialStock = byBucket.find { case (b, ss) =>
      b != emptyB && ss.size >= 2 }.orElse(
      byBucket.find(_._1 != emptyB)).map { case (_, ss) => ss.head }.get
    val goners = (emptyStocks :+ partialStock).distinct
    Sinks.deleteFactKeys(spark, path, goners.toDF("stock"), buckets)

    // deleted keys gone, survivors byte-exact vs the base restricted
    val back = spark.read.parquet(path).drop("bucket")
    assert(back.filter(col("stock").isin(goners: _*)).count() === 0L)
    val expect = base.filter(!col("stock").isin(goners: _*))
    assert(back.exceptAll(expect).isEmpty && expect.exceptAll(back).isEmpty)
    // the fully-emptied bucket directory is vacuumed, not left stale
    assert(!new File(s"$path/bucket=$emptyB").exists())
    // untouched buckets' files byte-identical
    val touched = goners.map(bucketOf).map(b => s"bucket=$b").toSet
    val after = bucketFiles(path)
    (before.keySet -- touched).foreach { b =>
      assert(after(b) === before(b), s"untouched $b was rewritten")
    }
    // idempotent: deleting the same keys again is a no-op
    val filesBefore = bucketFiles(path)
    Sinks.deleteFactKeys(spark, path, goners.toDF("stock"), buckets)
    assert(spark.read.parquet(path).count() === expect.count())
    assert(bucketFiles(path).keySet === filesBefore.keySet)
    // the durable staging dir is swapped away, not left behind
    assert(!new File(s"${path}__delete_staging").exists())
    // a malformed multi-column keys frame fails loudly before touching
    // anything (the silent-wrong-delete guard)
    val files2 = bucketFiles(path)
    val bad = intercept[IllegalArgumentException] {
      Sinks.deleteFactKeys(spark, path,
        Seq(("x", "S00000")).toDF("note", "stock"), buckets)
    }
    assert(bad.getMessage.contains("single-column"))
    assert(bucketFiles(path) === files2)
  }

  test("upsertFactDelta: non-superset deltaStocks throws AND loses no history") {
    val buckets = 4
    val path = Sinks.tmpPath("test_fact_stray")
    Sinks.deleteRecursively(path)
    val base = Financials.normalize(RawZoneGen.payloads(spark, 6))
    Sinks.writeFactPartitioned(base, path, buckets)
    val before = bucketFiles(path)
    // delta covers S00003 AND S00006, but the caller claims only S00003
    val delta = Financials.normalize(RawZoneGen.payloads(spark, 8))
      .filter(col("stock").isin("S00003", "S00006"))
      .withColumn("value", col("value") + lit(100000.0))
    val e = intercept[IllegalStateException] {
      Sinks.upsertFactDelta(spark, path, delta, buckets,
        deltaStocks = Some(Seq("S00003").toDF("stock")))
    }
    assert(e.getMessage.contains("deltaStocks"))
    // the violation must be loud but NON-destructive: S00006's bucket
    // was excluded from the rewrite, so every symbol's history survives
    val back = spark.read.parquet(path).drop("bucket")
    assert(back.select("stock").distinct().count() === 6L)
    val b3 = spark.range(1)
      .select(pmod(hash(lit("S00003")), lit(buckets))).as[Int].head()
    val b6 = spark.range(1)
      .select(pmod(hash(lit("S00006")), lit(buckets))).as[Int].head()
    if (b6 != b3) // stray bucket untouched byte-for-byte (unless shared)
      assert(bucketFiles(path)(s"bucket=$b6") === before(s"bucket=$b6"))
  }

  test("upsertFactDelta: bucket-count mismatch with the recorded layout is refused") {
    val path = Sinks.tmpPath("test_fact_mismatch")
    Sinks.deleteRecursively(path)
    val base = Financials.normalize(RawZoneGen.payloads(spark, 4))
    Sinks.writeFactPartitioned(base, path, buckets = 4)
    assert(Sinks.readLayoutBuckets(path) === Some(4))
    val e = intercept[IllegalArgumentException] {
      Sinks.upsertFactDelta(spark, path, base.limit(1), buckets = 8)
    }
    assert(e.getMessage.contains("buckets=8") &&
      e.getMessage.contains("buckets=4"))
  }

  test("latestFactsAt derives the bucket count from the layout sidecar") {
    val path = Sinks.tmpPath("test_fact_sidecar")
    Sinks.deleteRecursively(path)
    Sinks.writeFactPartitioned(
      Financials.normalize(RawZoneGen.payloads(spark, 6)), path, buckets = 8)
    // non-default count: a hand-passed latestFacts(default 32) would
    // prune to the wrong directory here — the sidecar makes it exact
    val rows = Financials.latestFactsAt(spark, path, "S00003", k = 5)
    val scan = rows.queryExecution.sparkPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f
    }.get
    assert(scan.selectedPartitions.partitionCount === 1)
    assert(rows.count() === 5L)
    // the file index lists the symbol's bucket directory alone
    assert(scan.relation.location.rootPaths.map(_.getName) ===
      Seq(s"bucket=${Sinks.bucketOf("S00003", 8)}"))
  }

  test("bucketOf on the driver equals factBucket") {
    val stocks = (0 until 40).map(i => f"S$i%05d") ++ Seq("", "ÄÖÜ", "BRK.B")
    for (n <- Seq(1, 4, 8, 32, 512)) {
      val want = stocks.toDF("stock").select(Sinks.factBucket(n)).as[Int].collect().toSeq
      assert(stocks.map(Sinks.bucketOf(_, n)) === want, s"n=$n")
    }
  }

  test("latestFactsAt: a symbol whose bucket directory does not exist returns 0 rows") {
    val path = Sinks.tmpPath("test_fact_no_bucket_dir")
    Sinks.deleteRecursively(path)
    Financials.normalizeInto(RawZoneGen.payloads(spark, 2), path, buckets = 32)
    val missing = (0 until 200).map(i => f"X$i%05d")
      .find(s => !new File(s"$path/bucket=${Sinks.bucketOf(s, 32)}").exists()).get
    val rows = Financials.latestFactsAt(spark, path, missing)
    assert(rows.collect().isEmpty)
    assert(rows.schema === Financials.latestFactsAt(spark, path, "S00001").schema)
  }

  test("latestFactsAt runs one Spark job: the schema comes from a footer, not an inference job") {
    val path = Sinks.tmpPath("test_fact_one_job")
    Sinks.deleteRecursively(path)
    Financials.normalizeInto(RawZoneGen.payloads(spark, 6), path, buckets = 8)
    Financials.latestFactsAt(spark, path, "S00002").collect() // warm caches
    val (jobs, _) = observe(Financials.latestFactsAt(spark, path, "S00003").collect(): Unit)
    assert(jobs === 1)
  }

  test("readLayout: same lookups and schema as the inferring read on every maintained layout") {
    val buckets = 8
    val stocks = (0 until 8).map(i => f"S$i%05d") :+ "NOPE"
    def sameAsInferred(path: String, what: String): Unit = {
      val inferred = spark.read.parquet(path)
      assert(Sinks.readLayout(spark, path).schema === inferred.schema, what)
      stocks.foreach { s =>
        val got = Financials.latestFactsAt(spark, path, s, k = 7)
        val want = Financials.latestFacts(inferred, s, k = 7)
        assert(got.schema === want.schema, s"$what $s")
        assert(got.collect().toSeq === want.collect().toSeq, s"$what $s")
      }
    }
    val built = Sinks.tmpPath("test_read_layout_built")
    Sinks.deleteRecursively(built)
    Financials.normalizeInto(RawZoneGen.payloads(spark, 6), built, buckets)
    sameAsInferred(built, "normalizeInto")

    val path = Sinks.tmpPath("test_read_layout")
    Sinks.deleteRecursively(path)
    val base = Financials.normalize(RawZoneGen.payloads(spark, 6))
    Sinks.writeFactPartitioned(base, path, buckets)
    sameAsInferred(path, "writeFactPartitioned")

    val delta = Financials.normalize(RawZoneGen.payloads(spark, 8))
      .filter(col("stock").isin("S00003", "S00007"))
      .withColumn("value", col("value") + lit(100000.0))
    Sinks.upsertFactDelta(spark, path, delta, buckets)
    sameAsInferred(path, "upsertFactDelta")
    assert(Financials.latestFactsAt(spark, path, "S00007").count() === 10L)

    // delete every stock of one bucket: its directory is vacuumed
    val live = stocks.init.filterNot(_ == "S00006")
    val bucketOf = spark.range(1).select(live.map(s =>
      pmod(hash(lit(s)), lit(buckets)).as(s)): _*).head()
    val (emptied, goners) = live.groupBy(s => bucketOf.getAs[Int](s)).head
    Sinks.deleteFactKeys(spark, path, goners.toDF("stock"), buckets)
    assert(!new File(s"$path/bucket=$emptied").exists())
    sameAsInferred(path, "deleteFactKeys")
    goners.foreach(s =>
      assert(Financials.latestFactsAt(spark, path, s).isEmpty, s))
  }

  test("latestFactsAt on a flat parquet dir (no sidecar): unpruned fallback") {
    val path = Sinks.tmpPath("test_fact_flat")
    Sinks.deleteRecursively(path)
    val fact = Financials.normalize(RawZoneGen.payloads(spark, 6))
    fact.write.parquet(path)
    assert(Sinks.readLayoutBuckets(path) === None)
    val rows = Financials.latestFactsAt(spark, path, "S00003", k = 5)
    assert(!rows.columns.contains("bucket"))
    val scan = rows.queryExecution.sparkPlan.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f
    }.get
    assert(scan.metadata("PartitionFilters") === "[]")
    assert(rows.collect().toSeq ===
      Financials.latestFacts(fact, "S00003", k = 5).collect().toSeq)
    val (jobs, _) = observe(
      Financials.latestFactsAt(spark, path, "S00001", k = 5).collect(): Unit)
    assert(jobs === 1)
  }

  test("each bucket-layout writer runs a pinned number of Spark jobs") {
    val buckets = 4
    def jobs(f: => Unit): Int = observe(f)._1
    val built = Sinks.tmpPath("test_jobs_built")
    Sinks.deleteRecursively(built)
    assert(jobs(Financials.normalizeInto(RawZoneGen.payloads(spark, 6), built, buckets)) === 2)

    val path = Sinks.tmpPath("test_jobs_fact")
    Sinks.deleteRecursively(path)
    // inputs are checkpointed, as a caller's delta is, so the counts are
    // the verbs' own jobs and not a rerun of the normalize pipeline
    val base = Financials.normalize(RawZoneGen.payloads(spark, 6)).localCheckpoint()
    assert(jobs(Sinks.writeFactPartitioned(base, path, buckets)) === 2)
    val delta = Financials.normalize(RawZoneGen.payloads(spark, 8))
      .filter(col("stock").isin("S00003", "S00007")).localCheckpoint()
    assert(jobs(Sinks.upsertFactDelta(spark, path, delta, buckets)) === 5)
    // the staging dir is read back on the schema it was written with:
    // no inference job, and no job to find the emptied buckets
    assert(jobs(Sinks.deleteFactKeys(spark, path, Seq("S00001").toDF("stock"), buckets)) === 7)

    val roll = Sinks.tmpPath("test_jobs_rollup")
    Sinks.deleteRecursively(roll)
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("stock").agg(count(lit(1)).as("n"), sum("value").as("s"))
    Rollup.mergeDelta(spark, roll, agg(base), Seq("stock"), "n", buckets)
    val deltaAgg = agg(delta).localCheckpoint()
    assert(jobs(Rollup.mergeDelta(spark, roll, deltaAgg, Seq("stock"), "n", buckets)) === 4)
  }

  test("expirePartitions: metadata-only sweep — survivors byte-identical, guard loud (q179)") {
    import org.apache.spark.sql.functions.{col, concat, lit, lpad}
    val path = Sinks.tmpPath("test_retention_sweep")
    Sinks.deleteRecursively(path)
    spark.range(40).select(
        col("id").as("k"),
        concat(lit("2024-01-"),
          lpad(((col("id") % 4) + 1).cast("string"), 2, "0")).as("day"))
      .write.partitionBy("day").parquet(path)
    def files() = new File(path).listFiles().filter(_.isDirectory)
      .map(d => d.getName -> d.listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length(), f.lastModified())).toSet).toMap
    val before = files()
    assert(before.keySet ==
      Set("day=2024-01-01", "day=2024-01-02", "day=2024-01-03", "day=2024-01-04"))
    val expired = Sinks.expirePartitions(path, "day", "2024-01-03")
    assert(expired == Seq("2024-01-01", "2024-01-02"))
    val after = files()
    assert(after.keySet == Set("day=2024-01-03", "day=2024-01-04"))
    // pure metadata: surviving files untouched (name, bytes, mtime)
    after.foreach { case (d, fs) => assert(fs == before(d), d) }
    assert(spark.read.parquet(path).count() == 20L)
    // idempotent: a second sweep at the same horizon expires nothing
    assert(Sinks.expirePartitions(path, "day", "2024-01-03").isEmpty)
    // loud guard: a non-partition directory fails, deletes nothing
    new File(path, "stray_dir").mkdirs()
    intercept[IllegalArgumentException](
      Sinks.expirePartitions(path, "day", "2024-01-04"))
    // the refused sweep deleted NOTHING (including the day=03 dir the
    // horizon would have expired)
    assert(files().keySet ==
      Set("day=2024-01-03", "day=2024-01-04", "stray_dir"))
  }

  test("expirePartitions: fully-expired layout no-ops; null partition and " +
       "missing path fail loudly (round-12 ADVICE)") {
    import org.apache.spark.sql.functions.{col, concat, lit, lpad}
    val path = Sinks.tmpPath("test_retention_sweep_edge")
    Sinks.deleteRecursively(path)
    spark.range(10).select(
        col("id").as("k"),
        concat(lit("2024-01-0"), ((col("id") % 2) + 1).cast("string"))
          .as("day"))
      .write.partitionBy("day").parquet(path)
    // horizon beyond every partition: the sweep empties the layout…
    assert(Sinks.expirePartitions(path, "day", "2024-02-01") ==
      Seq("2024-01-01", "2024-01-02"))
    // …and the NEXT nightly sweep over the emptied layout must no-op,
    // not crash (only commit markers remain)
    assert(Sinks.expirePartitions(path, "day", "2024-02-01").isEmpty)
    // a typo'd path still fails loudly (silent no-op would hide it)
    intercept[IllegalArgumentException](
      Sinks.expirePartitions(path + "_nope", "day", "2024-02-01"))
    // a null-valued partition has no place in the date order: reject
    // loudly, delete nothing
    new File(path, "day=__HIVE_DEFAULT_PARTITION__").mkdirs()
    new File(path, "day=2024-03-01").mkdirs()
    val e = intercept[IllegalArgumentException](
      Sinks.expirePartitions(path, "day", "2024-04-01"))
    assert(e.getMessage.contains("__HIVE_DEFAULT_PARTITION__"))
    assert(new File(path, "day=2024-03-01").isDirectory)
  }

  test("hardlinkTree: working copy is O(files) metadata; mutating the " +
       "copy leaves the master byte-identical (q179 bench staging)") {
    import org.apache.spark.sql.functions.col
    val master = Sinks.tmpPath("test_linktree_master")
    val work = Sinks.tmpPath("test_linktree_work")
    Sinks.deleteRecursively(master); Sinks.deleteRecursively(work)
    spark.range(20).select(col("id"), (col("id") % 3).as("p"))
      .write.partitionBy("p").parquet(master)
    def snap(p: String) = new File(p).listFiles().filter(_.isDirectory)
      .map(d => d.getName -> d.listFiles().map(f =>
        (f.getName, f.length())).toSet).toMap
    val before = snap(master)
    Sinks.hardlinkTree(master, work)
    assert(snap(work) == before) // same names and sizes, zero data copy
    assert(spark.read.parquet(work).count() == 20L)
    // sweep the copy; the master must not lose a byte
    Sinks.expirePartitions(work, "p", "2")
    assert(snap(work).keySet == Set("p=2"))
    assert(snap(master) == before)
    assert(spark.read.parquet(master).count() == 20L)
  }
}
