package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.RawZoneGen
import graft.sources.{Changelog, Sinks}
import graft.transform.{Financials, Summary}

/** The three workloads. Each records `write_s` samples for its write
  * operation and `read_ms` samples for its read operation, so that every
  * workload reports the same end-to-end metrics:
  *
  *  - full_build: write = one fact + summary build; read = the reference's
  *    verify lookup on the table just built.
  *  - daily_upsert: write = one `Sinks.upsertFactDelta`; read = lookup.
  *  - changelog: write = one `Changelog.commit`; read = one `snapshotAt`
  *    through the noop sink.
  */
object Workloads {
  import Inputs.{RowsPerSymbol, digest, expectedDigest}

  /** 550 symbols: 792,000 fact rows, a tenth of the paper's 7.9M. At the
    * paper's scale one build takes ~20 s on 4 cores; a run has ~40 s.
    */
  val BuildSymbols = 550
  /** The maintained table: large enough that an upsert rewrites about
    * half of its 316,800 rows, small enough for many increments in a run.
    */
  val MaintSymbols = 220
  val Buckets = 32
  val DeltaSymbols = 20
  val LookupsPerIncrement = 8
  /** Lookups after each timed build and after the warm-up build. Two timed
    * builds with 8 lookups each spread the reads over ~15 s of the run, so
    * that one burst of load on the shared host does not land on all of them.
    */
  val LookupsPerBuild = 8
  val WarmupLookups = 16
  val WarmupIncrements = 2
  val SnapshotEvery = 5
  val CheckpointEvery = 10
  /** Seconds one timed unit of each workload takes on a 4-core host: a
    * build with its checks and lookups, an increment with its lookups, and
    * five commits with their snapshot pair (and every other time a
    * checkpoint).
    */
  val NominalBuildS = 7.0
  val NominalIncrementS = 2.5
  val NominalSnapshotCycleS = 6.0
  /** Digest of the 550-symbol fact table (rows, checksum). */
  val BuildDigest: (Long, String) = (792000L, "-5594005629225350378414")
  /** Digest of the 220-symbol facts both maintenance workloads start from. */
  val MaintBaseDigest: (Long, String) = (316800L, "-491452177008588839797")

  /** The inputs the runs start from, made once per build of the program
    * by `--prepare` in a JVM of its own, so that every measured run starts
    * equally cold. The raw zone does not depend on the seed.
    */
  def rawZone(spark: SparkSession, cache: String): String =
    Inputs.cached(cache, s"rawzone_$BuildSymbols")(dir =>
      Sinks.writeRawZone(RawZoneGen.payloads(spark, BuildSymbols), dir))

  def tableFixture(spark: SparkSession, cache: String): String =
    Inputs.cached(cache, s"table_$MaintSymbols")(dir => Financials.normalizeInto(
      Inputs.rawSubset(spark, rawZone(spark, cache), MaintSymbols), dir, Buckets))

  def logFixture(spark: SparkSession, cache: String): String =
    Inputs.cached(cache, s"log_$MaintSymbols")(dir => Changelog.commit(
      Financials.normalize(Inputs.rawSubset(spark, rawZone(spark, cache), MaintSymbols)),
      dir, 0L))

  /** The lookups expected on the starting table, ranked per stock. */
  def expectedFixture(spark: SparkSession, cache: String): String =
    Inputs.cached(cache, s"expected_$MaintSymbols")(dir => Inputs.topFacts(
      spark.read.parquet(tableFixture(spark, cache)).drop("bucket"), 10).write.parquet(dir))

  def prepare(spark: SparkSession, cache: String): Unit = {
    expectedFixture(spark, cache)
    logFixture(spark, cache)
  }

  val byName: Map[String, Run => Unit] = Map(
    "full_build" -> fullBuild, "daily_upsert" -> dailyUpsert, "changelog" -> changelog)

  private def lookup(run: Run, table: String, s: String): Seq[Row] =
    Financials.latestFactsAt(run.spark, table, s).collect().toSeq

  def fullBuild(run: Run): Unit = {
    import run._
    val rawDir = rawZone(spark, cache)
    endSetup()
    val zipf = new Zipf(BuildSymbols, new Random(seed * 1000003L + 29))
    var expected = Map.empty[String, Seq[Row]]

    def build(raw: DataFrame, n: Int, dir: String, timed: Boolean): Unit = {
      settle()
      op("write_s", "", timed) {
        tracer.span("sources.normalize_into", timed)(
          Financials.normalizeInto(raw, s"$dir/fact", Buckets))
        tracer.span("transform.summary", timed)(
          Summary.normalize(raw).write.mode("overwrite").parquet(s"$dir/summary"))
      } { _ =>
        val fact = spark.read.parquet(s"$dir/fact").drop("bucket")
        val summaryRows = spark.read.parquet(s"$dir/summary").count()
        val sizes = Seq(s"$summaryRows summary rows, expected $n").filter(_ => summaryRows != n)
        // the first timed build is held to the recorded digest; the expected
        // lookups come from it, and later builds must match them and its size
        if (timed && expected.isEmpty) {
          val got = digest(fact)
          if (got == BuildDigest) expected = Inputs.byStock(Inputs.topFacts(fact, 10))
          sizes ++ Seq(s"fact digest $got, expected $BuildDigest").filter(_ => got != BuildDigest)
        } else
          sizes ++ Seq(fact.count()).filter(_ != n.toLong * RowsPerSymbol).map(r => s"$r fact rows")
      }
      facts("stored_bytes") = Inputs.dirBytes(s"$dir/fact")
      facts("live_rows") = n.toLong * RowsPerSymbol
      settle()
      for (k <- 0 until (if (timed) LookupsPerBuild else WarmupLookups)) {
        val s = if (timed) zipf.next() else Inputs.sym(k)
        op("read_ms", "transform.latest_facts", timed)(lookup(run, s"$dir/fact", s)) { got =>
          if (timed) Checks.lookupProblems(s, got, expected.getOrElse(s, Nil), 0)
          else Seq(s"$s: ${got.size} rows").filter(_ => got.size != 10 ||
            got.exists(_.getAs[String]("stock") != s))
        }
      }
      Sinks.deleteRecursively(dir)
    }

    val raw = spark.read.parquet(rawDir)
    // a smaller warm-up leaves the first full-size build ~25% slower
    build(raw, BuildSymbols, s"$work/warmup", timed = false)
    val builds = opsFor(NominalBuildS, 2)
    measure((1 to builds).foreach(i => build(raw, BuildSymbols, s"$work/build_$i", timed = true)))
    facts("builds") = builds
    // traced runs only: the transform without the layout write
    if (tracer.enabled) for (_ <- 1 to 2)
      tracer.span("transform.facts")(
        Financials.normalize(raw).write.format("noop").mode("overwrite").save())
  }

  /** Base facts of the maintained universe, materialized for the deltas. */
  private def maintBase(run: Run, table: DataFrame): DataFrame = {
    val base = table.localCheckpoint()
    val got = digest(base)
    run.verify("base facts")(
      Seq(s"digest $got, expected $MaintBaseDigest").filter(_ => got != MaintBaseDigest))
    base
  }

  def dailyUpsert(run: Run): Unit = {
    import run._
    val table = Inputs.copyOf(tableFixture(spark, cache), s"$work/table")
    val base = maintBase(run, spark.read.parquet(table).drop("bucket"))
    val expected = Inputs.byStock(spark.read.parquet(expectedFixture(spark, cache)))
    endSetup()
    val deltas = new Deltas(seed, MaintSymbols, DeltaSymbols)
    val lookRnd = new Random(seed * 1000003L + 29)
    val zipf = new Zipf(MaintSymbols, lookRnd)
    val bump = mutable.Map[String, Int]().withDefaultValue(0)

    def increment(j: Int, timed: Boolean): Unit = {
      val syms = deltas(j)
      val d = Inputs.delta(base, syms, j)
      settle()
      op("write_s", "sources.upsert", timed) {
        tracer.note("delta_rows", syms.size.toDouble * RowsPerSymbol)
        Sinks.upsertFactDelta(spark, table, d, Buckets)
      }(_ => Nil)
      syms.foreach(bump(_) = j)
      // read-after-write first, then the Zipf-distributed readers
      val readers = syms(lookRnd.nextInt(syms.size)) +:
        Seq.fill(LookupsPerIncrement - 1)(zipf.next())
      readers.foreach { s =>
        op("read_ms", "transform.latest_facts", timed)(lookup(run, table, s))(
          got => Checks.lookupProblems(s, got, expected(s), bump(s)))
      }
    }

    def checkState(k: Int): (Long, String) = {
      val got = digest(spark.read.parquet(table))
      verify(s"table after increment $k")(
        Seq(s"digest $got").filter(_ => got != expectedDigest(spark, base, deltas.bumpsAfter(k))))
      got
    }

    (1 to WarmupIncrements).foreach(increment(_, timed = false))
    facts("state_digest_warmup") = checkState(WarmupIncrements).toString
    val last = WarmupIncrements + opsFor(NominalIncrementS, 3)
    measure((WarmupIncrements + 1 to last).foreach(increment(_, timed = true)))
    checkState(last)
    facts("increments") = last
    facts("stored_bytes") = Inputs.dirBytes(table)
    facts("live_rows") = MaintSymbols.toLong * RowsPerSymbol
  }

  def changelog(run: Run): Unit = {
    import run._
    val log = Inputs.copyOf(logFixture(spark, cache), s"$work/log")
    val base = maintBase(run, spark.read.parquet(log).drop(Changelog.CommitCol))
    endSetup()
    val rows = MaintSymbols.toLong * RowsPerSymbol
    val deltas = new Deltas(seed, MaintSymbols, DeltaSymbols)
    val pk = Financials.Pk

    def headDigest(v: Long) = digest(Changelog.snapshotAt(spark, log, pk, v))
    def wanted(v: Long) = expectedDigest(spark, base, deltas.bumpsAfter(v.toInt))

    def snapshot(v: Long, timed: Boolean): Unit =
      op("read_ms", "sources.changelog.snapshot", timed) {
        tracer.note("live_rows", rows.toDouble)
        val obs = Observation(s"snapshot_$v")
        Changelog.snapshotAt(spark, log, pk, v).observe(obs, count(lit(1)).as("rows"))
          .write.format("noop").mode("overwrite").save()
        obs.get("rows").asInstanceOf[Long]
      }(n => Seq(s"snapshot@$v has $n rows, expected $rows").filter(_ => n != rows))

    def commit(j: Int, timed: Boolean): Unit = {
      val syms = deltas(j)
      val d = Inputs.delta(base, syms, j)
      settle()
      op("write_s", "sources.changelog.commit", timed) {
        tracer.note("delta_rows", syms.size.toDouble * RowsPerSymbol)
        Changelog.commit(d, log, j.toLong)
      }(_ => Nil)
      if (j % SnapshotEvery == 0) {
        settle()
        snapshot(j, timed)
        snapshot(j - 3L, timed)
      }
      if (j % CheckpointEvery == 0) {
        val before = headDigest(j)
        settle()
        op("checkpoint_s", "sources.changelog.checkpoint", timed)(
          Changelog.checkpoint(spark, log, pk, j - 5L)) { _ =>
          val after = headDigest(j)
          Seq(s"head digest $before before the checkpoint, $after after")
            .filter(_ => before != after) ++
            Seq(s"head digest $after").filter(_ => after != wanted(j))
        }
        // space right after the first fold: the same point in every run
        if (!facts.contains("stored_bytes")) facts("stored_bytes") = Inputs.dirBytes(log)
      }
    }

    (1 to WarmupIncrements).foreach(commit(_, timed = false))
    snapshot(WarmupIncrements.toLong, timed = false)
    val warm = headDigest(WarmupIncrements.toLong)
    verify("log after warm-up")(
      Seq(s"digest $warm").filter(_ => warm != wanted(WarmupIncrements.toLong)))
    facts("state_digest_warmup") = warm.toString
    val last = SnapshotEvery * opsFor(NominalSnapshotCycleS, 2)
    measure((WarmupIncrements + 1 to last).foreach(commit(_, timed = true)))
    if (last % CheckpointEvery != 0) { // else the checkpoint's check covered it
      val head = headDigest(last.toLong)
      verify(s"log after commit $last")(
        Seq(s"digest $head").filter(_ => head != wanted(last.toLong)))
    }
    facts("increments") = last
    facts("live_rows") = rows
  }
}
