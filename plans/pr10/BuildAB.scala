import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Functions._
import graft.ingest.RawZone
import graft.sources.Sinks
import graft.transform.{Financials, Summary, Upsert}
import perfbench.{Inputs, Main, Workloads}

/** The full build as the parent tree planned it, kept here verbatim (up
  * to names) so that both sides run in one JVM:
  *  - `normalizeInto`: latest-per-symbol at the shuffle width, date
  *    parsed per leaf row, a bucket repartition of the leaf rows, then a
  *    `max_by` PK dedup and a sort for the layout (2 exchanges);
  *  - `summary`: one inlined select (4,139 optimized expression nodes).
  */
object Before {
  private val panes = Seq(
    ("CF", "cashflow", "yearly", 0), ("CF", "cashflow", "quarterly", 1),
    ("IS", "incomestatement", "yearly", 2), ("IS", "incomestatement", "quarterly", 3),
    ("BS", "balancesheet", "yearly", 4), ("BS", "balancesheet", "quarterly", 5))

  private def derivedFacts(raw: DataFrame): DataFrame = {
    val latest = Upsert.latestByKey(RawZone.resolve(raw), Seq("symbol"), col("loaded_at"))
    val parsed = latest
      .withColumn("p", Financials.parsePayload(col("payload")))
      .select(
        col("symbol").as("stock"),
        pyOr(col("p.info.longName"), col("p.info.shortName"),
          col("p.info.displayName")).as("yf_name"),
        col("p.info.currency").as("stockcurrency"),
        col("p.info.financialCurrency").as("financialcurrency"),
        col("p.cashflow").as("cashflow"),
        col("p.balancesheet").as("balancesheet"),
        col("p.incomestatement").as("incomestatement"))
    val stacked = parsed
      .select(
        col("stock"), col("yf_name"), col("stockcurrency"), col("financialcurrency"),
        explode(array(panes.map { case (code, field, freq, prec) =>
          struct(lit(code).as("statement_type"), lit(freq).as("freq"),
            lit(prec).as("pane_prec"), col(s"$field.$freq").as("pane"))
        }: _*)).as("ps"))
      .select(col("stock"), col("yf_name"), col("stockcurrency"),
        col("financialcurrency"), col("ps.statement_type").as("statement_type"),
        col("ps.freq").as("freq"), col("ps.pane_prec").as("pane_prec"),
        col("ps.pane").as("pane"))
    val exploded = stacked
      .select(col("*"), explode(col("pane")).as(Seq("date_str", "metrics")))
      .drop("pane")
      .select(col("*"), explode(col("metrics")).as(Seq("metric", "value_str")))
      .drop("metrics")
    exploded
      .withColumn("date", dateFromPrefix(col("date_str")))
      .filter(col("date").isNotNull)
      .filter(length(col("metric")) > 0)
      .filter(col("value_str").isNull ||
        !(col("value_str").startsWith("{") || col("value_str").startsWith("[")))
      .withColumn("calendar_year", year(col("date")))
      .withColumn("period", periodOf(col("freq"), col("date")))
      .withColumn("value", nanToNull(col("value_str").try_cast("double")))
      .select("stock", "yf_name", "statement_type", "metric",
        "stockcurrency", "financialcurrency", "calendar_year", "period",
        "value", "date", "pane_prec")
  }

  def normalizeInto(raw: DataFrame, path: String, buckets: Int): Unit = {
    Upsert.latestByKey(derivedFacts(raw).repartition(buckets, col("stock")),
        Financials.Pk, col("pane_prec"))
      .select("stock", "yf_name", "statement_type", "metric", "stockcurrency",
        "financialcurrency", "calendar_year", "period", "value", "date")
      .withColumn("bucket", Sinks.factBucket(buckets))
      .sortWithinPartitions(("bucket" +: Financials.Pk).map(col): _*)
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    Sinks.writeLayoutBuckets(path, buckets)
  }

  def summary(raw: DataFrame): DataFrame = {
    val latest = Upsert.latestByKey(RawZone.resolve(raw), Seq("symbol"), col("loaded_at"))
    val p = latest.select(col("symbol"), inline(array(struct(
      Financials.parsePayload(col("payload"), graft.model.Schemas.profilePayload)
        .as("p")))))
    def info(f: String): Column =
      when(col("p.info").isNull, col(s"p.$f")).otherwise(col(s"p.info.$f"))
    val longSummary = cleanText(pyOr(info("longBusinessSummary"),
      col("p.summary"), col("p.profile.longBusinessSummary")))
    val hq = hqParts(longSummary)
    p.select(
      pyOr(col("symbol"), info("symbol"), info("ticker")).as("stock"),
      cleanText(pyOr(info("longName"), info("shortName"),
        info("displayName"), info("name"))).as("yf_name"),
      longSummary.as("long_summary"),
      cleanText(pyOr(info("sector"), info("sectorDisp"))).as("sector"),
      cleanText(pyOr(info("industry"), info("industryDisp"))).as("industry"),
      cleanText(pyOr(info("website"), info("irWebsite"))).as("website"),
      employeesToInt(info("fullTimeEmployees")).as("employees"),
      pyOr(cleanText(info("city")), hq("hq_city")).as("city"),
      pyOr(cleanText(pyOr(info("state"), info("province"))), hq("hq_state")).as("state"),
      pyOr(cleanText(info("country")), hq("hq_country")).as("country"),
      cleanText(pyOr(info("currency"), info("financialCurrency"))).as("currency"),
      foundedYear(longSummary).as("founded_year"),
      formerName(longSummary).as("former_name"),
      current_timestamp().as("updated_at"))
      .filter(col("stock").isNotNull && col("stock") =!= "")
  }
}

/** Interleaved A/B of the full build's two writes in one JVM, on the
  * benchmark's 550-symbol raw zone:
  *
  *  - `before`: [[Before]] (the parent tree's plans);
  *  - `after`: `Financials.normalizeInto` and `Summary.normalize` of
  *    the tree the jar was built from.
  *
  * Each round times one fact-layout write and one summary write of each
  * side in turn, checks every fact layout against the benchmark's
  * `BuildDigest` and the two summaries' rows against each other
  * (`exceptAll` empty both ways, `updated_at` aside), and prints the
  * median wall time of each. Compiled against the benchmark's
  * `app.jar`; see README.md.
  *
  *   BuildAB CACHE WORK [ROUNDS]
  */
object BuildAB {
  def main(args: Array[String]): Unit = {
    val (cache, work) = (args(0), args(1))
    val rounds = if (args.length > 2) args(2).toInt else 5
    val spark = Main.session(trace = false, work)
    spark.sparkContext.setLogLevel("WARN")
    val raw = spark.read.parquet(Workloads.rawZone(spark, cache))
    val n = Workloads.BuildSymbols

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }
    def facts(into: (DataFrame, String, Int) => Unit, dir: String): Double = {
      Sinks.deleteRecursively(dir)
      val s = timed(into(raw, dir, Workloads.Buckets))
      val got = Inputs.digest(spark.read.parquet(dir).drop("bucket"))
      require(got == Workloads.BuildDigest, s"$dir: fact digest $got")
      s
    }
    def summary(normalize: DataFrame => DataFrame, dir: String): Double = {
      Sinks.deleteRecursively(dir)
      timed(normalize(raw).write.mode("overwrite").parquet(dir))
    }
    def sameRows(a: String, b: String): Unit = {
      val (x, y) = (spark.read.parquet(a).drop("updated_at"),
        spark.read.parquet(b).drop("updated_at"))
      require(x.count() == n && y.count() == n, "summary row counts")
      require(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty, "summary rows differ")
    }
    def median(v: Seq[Double]) = v.sorted.apply(v.size / 2)

    // one warm-up build of each side
    facts(Before.normalizeInto, s"$work/fact_before")
    facts(Financials.normalizeInto, s"$work/fact_after")
    summary(Before.summary, s"$work/summary_before")
    summary(Summary.normalize, s"$work/summary_after")
    sameRows(s"$work/summary_before", s"$work/summary_after")

    val runs = (1 to rounds).map { round =>
      val r = Seq(
        facts(Before.normalizeInto, s"$work/fact_before"),
        facts(Financials.normalizeInto, s"$work/fact_after"),
        summary(Before.summary, s"$work/summary_before"),
        summary(Summary.normalize, s"$work/summary_after"))
      sameRows(s"$work/summary_before", s"$work/summary_after")
      println(f"round $round: normalizeInto before ${r(0)}%.2f s, after ${r(1)}%.2f s; " +
        f"summary before ${r(2) * 1000}%.0f ms, after ${r(3) * 1000}%.0f ms; " +
        "digests equal, summary rows equal")
      r
    }
    val m = runs.transpose.map(median)
    println(f"median of $rounds: normalizeInto ${m(0)}%.2f -> ${m(1)}%.2f s, " +
      f"summary ${m(2) * 1000}%.0f -> ${m(3) * 1000}%.0f ms")
    spark.stop()
  }
}
