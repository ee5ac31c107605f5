package graft

import java.security.MessageDigest
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.queries.ReferenceQueries
import graft.ingest.RawZoneGen
import graft.sources.Sinks
import graft.transform.{Financials, Summary}

/** G1 flagship unpivot: exact golden multiset on the reference-shaped
  * fixture, plus the row-count law over generated payloads
  * (SURVEY.md §5.2).
  */
class UnpivotSpec extends SparkSpec {

  private def factTuples(df: DataFrame) =
    df.collect().map(r => (
      r.getAs[String]("stock"), r.getAs[String]("yf_name"),
      r.getAs[String]("statement_type"), r.getAs[String]("metric"),
      r.getAs[String]("stockcurrency"), r.getAs[String]("financialcurrency"),
      r.getAs[Int]("calendar_year"), r.getAs[Int]("period"),
      Option(r.getAs[Any]("value")), String.valueOf(r.getAs[Any]("date"))))
      .toSet

  test("golden multiset: dedup, pane precedence, NaN, non-scalar, malformed") {
    val got = factTuples(Financials.normalize(ReferenceQueries.fixtureRaw(spark)))
    val want = Set(
      ("AAA", "Alpha Corp", "BS", "TotalAssets", "USD", "USD", 2024, 4, Some(100.0), "2024-06-30"),
      ("AAA", "Alpha Corp", "CF", "FreeCashFlow", "USD", "USD", 2024, 1, None, "2024-03-31"),
      // yearly 10.0 collides with quarterly 2.5 on the PK → later pane
      // (quarterly) wins, period from the quarter
      ("AAA", "Alpha Corp", "CF", "FreeCashFlow", "USD", "USD", 2024, 2, Some(2.5), "2024-06-30"),
      ("AAA", "Alpha Corp", "CF", "NetIncome", "USD", "USD", 2024, 4, Some(5.5), "2024-06-30"),
      ("AAA", "Alpha Corp", "IS", "Revenue", "USD", "USD", 2024, 4, None, "2024-06-30"),
      ("BBB", "Beta Inc", "BS", "TotalAssets", "EUR", "USD", 2023, 4, Some(50.0), "2023-12-31"))
    assert(got === want)
  }

  // --- row-count law: rows == Σ over panes of |dates| × |metrics| ----

  // Disjoint date pools per frequency so yearly/quarterly never collide
  // on the (stock, statement, metric, date) PK — collisions are covered
  // by the golden test above; the law here counts un-collided rows.
  private val yearlyDates = Seq("2020-03-31", "2021-06-30", "2022-09-30", "2023-12-31")
  private val quarterlyDates = Seq("2010-02-28", "2011-05-31", "2012-08-31", "2013-11-30")

  private def paneJson(dates: Seq[String], metrics: Seq[String]): String =
    dates.map { d =>
      val ms = metrics.map(m => s""""$m": 1.5""").mkString(", ")
      s""""$d 00:00:00": {$ms}"""
    }.mkString("{", ", ", "}")

  private val payloadGen: Gen[(String, Int)] = for {
    picks <- Gen.listOfN(6, for {
      nd <- Gen.choose(0, 3); nm <- Gen.choose(0, 3)
    } yield (nd, nm))
  } yield {
    def pane(pool: Seq[String], p: (Int, Int)) =
      (pool.take(p._1), Seq("Revenue", "NetIncome", "FreeCashFlow").take(p._2))
    val panes = Map(
      "cashflow" -> (pane(yearlyDates, picks(0)), pane(quarterlyDates, picks(1))),
      "balancesheet" -> (pane(yearlyDates, picks(2)), pane(quarterlyDates, picks(3))),
      "incomestatement" -> (pane(yearlyDates, picks(4)), pane(quarterlyDates, picks(5))))
    val json = panes.map { case (stmt, (y, q)) =>
      s""""$stmt": {"yearly": ${paneJson(y._1, y._2)}, "quarterly": ${paneJson(q._1, q._2)}}"""
    }.mkString("{\"info\": {\"longName\": \"X\"}, ", ", ", "}")
    val expected = panes.values.map { case (y, q) =>
      y._1.size * y._2.size + q._1.size * q._2.size
    }.sum
    (json, expected)
  }

  test("row-count law: rows == sum over panes of |dates x metrics|") {
    import spark.implicits._
    for (seed <- 1 to 8) {
      val (json, expected) =
        payloadGen.pureApply(Gen.Parameters.default, Seed(seed.toLong))
      val raw = Seq(("SYM", json, Timestamp.valueOf("2025-01-01 00:00:00")))
        .toDF("symbol", "payload", "loaded_at")
      assert(Financials.normalize(raw).count() === expected.toLong, s"seed=$seed")
    }
  }

  test("never-throw: garbage dates and non-numeric leaves degrade, not abort") {
    import spark.implicits._
    // a malformed date key is skipped (Financilas.py:92) and a bare
    // string leaf nulls out — neither may throw under ANSI mode
    val json =
      """{"info": {"longName": "X"}, "cashflow": {"yearly": {
        |"not-a-date": {"Revenue": 1.0},
        |"2024-06-30 00:00:00": {"Revenue": "garbage", "NetIncome": 2.0}
        |}, "quarterly": {}}}""".stripMargin.replace("\n", "")
    val raw = Seq(("SYM", json, Timestamp.valueOf("2025-01-01 00:00:00")))
      .toDF("symbol", "payload", "loaded_at")
    val rows = Financials.normalize(raw).collect()
    assert(rows.length === 2) // bad-date row dropped, bad-value row kept
    val byMetric = rows.map(r => r.getAs[String]("metric") ->
      Option(r.getAs[Any]("value"))).toMap
    assert(byMetric("Revenue") === None) // unparsable leaf → null value
    assert(byMetric("NetIncome") === Some(2.0))
  }

  test("typed boundary: facts() round-trips through Dataset[FinancialFact]") {
    val ds = Financials.facts(ReferenceQueries.fixtureRaw(spark))
    val aaa = ds.collect().filter(_.stock == "AAA")
    assert(aaa.length === 5)
    assert(aaa.forall(_.yf_name.contains("Alpha Corp")))
  }

  test("typed boundary: profiles() round-trips through Dataset[CompanySummary]") {
    val ds = graft.transform.Summary.profiles(
      graft.ingest.RawZoneGen.payloads(spark, 4))
    val rows = ds.collect()
    assert(rows.length === 4)
    val s3 = rows.find(_.stock == "S00003").get
    assert(s3.yf_name.contains("Synth Corp 3"))
    assert(s3.founded_year.contains(1903))
    assert(s3.former_name.contains("Old Synth 3"))
  }

  test("latestFacts: reference verify query shape (top-10, date desc)") {
    val fact = Financials.normalize(ReferenceQueries.fixtureRaw(spark))
    val rows = Financials.latestFacts(fact, "AAA").collect()
    assert(rows.length === 5) // AAA has 5 facts
    val dates = rows.map(_.getAs[java.sql.Date]("date").toString)
    assert(dates === dates.sorted.reverse)
  }

  test("Summary.normalize parses each payload once: at most 2 from_json in the plan, rows unchanged") {
    import spark.implicits._
    val noInfo = Seq(("NOI", """{"summary":"Zeta Ltd was founded in 1950. """ +
        """It is headquartered in Oslo, Norway.","symbol":"ZZZ"}""",
      Timestamp.valueOf("2025-01-02 00:00:00"))).toDF("symbol", "payload", "loaded_at")
    val raw = ReferenceQueries.fixtureRaw(spark)
      .unionByName(RawZoneGen.payloads(spark, 12))
      .unionByName(noInfo)
    val out = Summary.normalize(raw)
    val plan = out.queryExecution.optimizedPlan.toString
    assert("from_json".r.findAllIn(plan).length <= 2, plan)
    // digest of the rows the per-field parse returned (recorded before
    // the generator; updated_at is the wall clock)
    val rows = out.drop("updated_at").collect().map(_.toString).sorted
    val md5 = MessageDigest.getInstance("MD5")
      .digest(rows.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(rows.length === 16)
    assert(md5 === "8dadaf24f2fa63fffc4a5f8486cf4e82")
  }

  test("exchanges: normalize plans one, normalizeInto's layout write two (AQE off)") {
    def exchanges(p: SparkPlan) = p.collect { case e: ShuffleExchangeExec => e }.size
    withConfs("spark.sql.adaptive.enabled" -> "false") {
      val raw = RawZoneGen.payloads(spark, 6)
      // the PK dedup reuses the latest-per-symbol hash partitioning
      assert(exchanges(Financials.normalize(raw).queryExecution.executedPlan) === 1)
      val path = Sinks.tmpPath("test_normalize_into_exchanges")
      Sinks.deleteRecursively(path)
      val (_, queries) = observe(Financials.normalizeInto(raw, path, buckets = 8))
      // latest-per-symbol at the shuffle width, then the bucket repartition
      assert(queries.map(q => exchanges(q.executedPlan)) === Seq(2))
    }
  }
}
