package graft

import java.io.File

import org.apache.spark.sql.functions._
import graft.ingest.{RawZone, RawZoneGen}
import graft.sources.Sinks
import graft.transform.Financials

/** S10 column resolution, the sf-proportional raw-zone generator, and
  * the physical-layout sinks (raw zone partitioned by load date, fact
  * table hash-distributed + PK-sorted).
  */
class RawZoneSpec extends SparkSpec {
  import spark.implicits._

  private val payload = """{"info":{"longName":"X"}}"""
  private val ts = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")

  test("resolve: exact canonical names pass through") {
    val df = Seq(("A", payload, ts)).toDF("symbol", "payload", "loaded_at")
    assert(RawZone.resolve(df).columns.toSeq === Seq("symbol", "payload", "loaded_at"))
  }

  test("resolve: candidate-name and case drift resolves (Ticker/JSON_DATA/LOAD_TS)") {
    val df = Seq(("A", payload, ts)).toDF("Ticker", "JSON_DATA", "LOAD_TS")
    val r = RawZone.resolve(df)
    assert(r.columns.toSeq === Seq("symbol", "payload", "loaded_at"))
    assert(r.select("symbol").as[String].head() === "A")
  }

  test("resolve: positional fallback for the symbol column (details.py:51)") {
    val df = Seq(("A", payload)).toDF("weird_name", "json")
    val r = RawZone.resolve(df)
    assert(r.select("symbol").as[String].head() === "A")
    assert(r.schema("loaded_at").dataType.typeName === "timestamp") // null ts added
  }

  test("resolve: hard fail when no payload-like column exists (Financilas.py:130)") {
    val df = Seq(("A", "B")).toDF("symbol", "company")
    val e = intercept[IllegalArgumentException](RawZone.resolve(df))
    assert(e.getMessage.contains("no JSON payload column"))
  }

  test("generator: row-count law and stale generations never win") {
    val n = 10
    val raw = RawZoneGen.payloads(spark, n)
    assert(raw.count() === n + 1) // + stale payload for i=0
    val fact = Financials.normalize(raw)
    // 3 stmts × 60 metrics × (5 yearly + 4 quarterly) = 1620 emitted;
    // minus the 180 yearly/quarterly 2024-12-31 PK collisions → 1440
    assert(fact.count() === n * 1440L)
    // stale payloads (Stale Corp …, values x.75) must all lose the dedup
    assert(fact.filter(col("yf_name").startsWith("Stale")).count() === 0L)
    // spot-check the leaf law: i=3, CF yearly (s=0,f=0), d=1
    // (2021-12-31), m=2 → k = 93 + 7 + 6 = 106; 106%97≠0 →
    // value = 106 + (106%7)*0.25 = 106 + 0.25
    val v = fact.filter(col("stock") === "S00003" &&
        col("statement_type") === "CF" && col("metric") === "CF_M02" &&
        col("date") === "2021-12-31")
      .select("value").as[Double].head()
    assert(v === 106.25)
    // the 2024-12-31 collision resolves to the QUARTERLY pane: i=0, CF,
    // m=0 → quarterly (f=1, d=3) k = 13+21 = 34 → 34 + (34%7)*0.25 = 34+1.5
    val coll = fact.filter(col("stock") === "S00000" &&
        col("statement_type") === "CF" && col("metric") === "CF_M00" &&
        col("date") === "2024-12-31")
      .select("value", "period").as[(Double, Int)].head()
    assert(coll === ((35.5, 4)))
  }

  test("writeRawZone: partitioned by load date") {
    val path = Sinks.tmpPath("test_rawzone_layout")
    Sinks.deleteRecursively(path)
    Sinks.writeRawZone(RawZoneGen.payloads(spark, 10), path)
    val parts = new File(path).listFiles().map(_.getName).filter(_.startsWith("load_date="))
    assert(parts.toSet === Set("load_date=2025-08-14", "load_date=2025-08-15",
      "load_date=2025-08-16"))
    // partition pruning: a load-date filter must not scan other days
    val one = spark.read.parquet(path).filter(col("load_date") === "2025-08-14")
    assert(one.count() === 1L) // only the i=0 stale payload
  }

  test("writeFactPartitioned: one file per bucket, files sorted on the clustered PK") {
    val path = Sinks.tmpPath("test_fact_layout")
    Sinks.deleteRecursively(path)
    val fact = Financials.normalize(RawZoneGen.payloads(spark, 6))
    Sinks.writeFactPartitioned(fact, path, buckets = 4)
    val dirs = new File(path).listFiles().filter(_.getName.startsWith("bucket="))
    assert(dirs.nonEmpty && dirs.length <= 4)
    dirs.foreach(d =>
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) === 1, d.getName))
    // within every file, rows are sorted by (stock, statement_type, metric, date)
    val byFile = spark.read.parquet(path)
      .select(input_file_name().as("f"), col("stock"), col("statement_type"),
        col("metric"), col("date").cast("string").as("d"))
      .collect().groupBy(_.getAs[String]("f"))
    byFile.foreach { case (_, rows) =>
      val keys = rows.map(r => (r.getAs[String]("stock"),
        r.getAs[String]("statement_type"), r.getAs[String]("metric"),
        r.getAs[String]("d")))
      assert(keys.toSeq === keys.sortBy(identity).toSeq)
    }
  }
}
