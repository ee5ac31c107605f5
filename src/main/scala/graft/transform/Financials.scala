package graft.transform

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Functions._
import graft.model.Schemas

/** G1 — the flagship operator chain: raw payload documents → long-format
  * `financials` fact table (reference Financilas.py:71–107 + main loop
  * 197–247).
  *
  * Reference shape: ~5.5k sequential point queries + per-symbol Python
  * dict loops + batched upserts (≈276 transactions). Spark shape: ONE
  * declarative DAG —
  *   raw → latest-per-symbol (agg) → from_json(typed schema)
  *       → 6-pane stack (union of projections, no shuffle)
  *       → explode(dates) → explode(metrics)
  *       → derived time columns → value cast + NaN guard
  *       → PK dedup (agg, pane-precedence order)
  * ONE exchange: the latest-per-symbol aggregate hash-partitions on
  * `symbol`, which becomes `stock`, and the PK dedup reuses that
  * partitioning (stock ⊆ PK). All scalar work stays inside whole-stage
  * codegen.
  */
object Financials {

  /** (code, payload field, frequency, precedence). Precedence encodes the
    * reference's iteration order — folder_map is cashflow→CF,
    * incomestatement→IS, balancesheet→BS (Financilas.py:78), yearly
    * before quarterly inside each (Financilas.py:82) — so on a PK
    * collision the LAST write wins in MySQL; we keep the max precedence.
    * Cross-statement precedence can never fire (statement_type is part of
    * the PK); the only live collision is yearly-vs-quarterly on the same
    * (stock, statement, metric, date), where quarterly wins.
    */
  private val panes = Seq(
    ("CF", "cashflow", "yearly", 0), ("CF", "cashflow", "quarterly", 1),
    ("IS", "incomestatement", "yearly", 2), ("IS", "incomestatement", "quarterly", 3),
    ("BS", "balancesheet", "yearly", 4), ("BS", "balancesheet", "quarterly", 5))

  /** Parse a raw payload column robustly (F10 — parse_json_value,
    * Financilas.py:147–165): plain parse, and on null retry after
    * stripping an outer layer of quoting/escaping (the reference's
    * double-encoded-JSON fallback). Malformed stays null → 0 fact rows
    * for that symbol, no failure.
    */
  def parsePayload(payload: org.apache.spark.sql.Column,
                   schema: org.apache.spark.sql.types.StructType = Schemas.payload)
      : org.apache.spark.sql.Column = {
    val direct = from_json(payload, schema)
    val unescaped = regexp_replace(
      regexp_replace(regexp_extract(payload, "^\"(.*)\"$", 1), "\\\\\"", "\""),
      "\\\\\\\\", "\\\\")
    val retry = from_json(unescaped, schema)
    // from_json returns an all-null struct (not null) on a malformed
    // record, so coalesce can't detect the double-encoded case — branch
    // on the payload shape instead (a JSON document never starts with ").
    when(trim(payload).startsWith("\""), retry).otherwise(direct)
  }

  /** PK of the fact table (reference clustered PK, Financilas.py:28). */
  val Pk: Seq[String] = Seq("stock", "statement_type", "metric", "date")

  /** Raw zone (symbol, payload, loaded_at) → financials fact rows.
    * Column set and semantics match the reference DDL
    * (Financilas.py:16–30); see Schemas.financials.
    */
  def normalize(raw: DataFrame): DataFrame =
    pkDedup(derivedFacts(raw))

  /** Everything up to (not including) the final PK dedup — one row per
    * emitted (pane, date, metric) leaf, carrying `pane_prec`.
    */
  private def derivedFacts(raw: DataFrame): DataFrame = {
    // S10: candidate-name column resolution with positional fallback and
    // hard-fail on a missing payload column (Financilas.py:113–133).
    // J2 semantics: one payload per symbol, latest loaded_at wins
    // (load_one_row's LIMIT 1 over the unique (symbol, loaded_at) key).
    val latest = Upsert.latestByKey(
      graft.ingest.RawZone.resolve(raw), Seq("symbol"), col("loaded_at"))

    val parsed = latest
      .withColumn("p", parsePayload(col("payload")))
      .select(
        col("symbol").as("stock"),
        // F9 name chain (Financilas.py:76) — python-or, "" falls through
        pyOr(col("p.info.longName"), col("p.info.shortName"),
          col("p.info.displayName")).as("yf_name"),
        col("p.info.currency").as("stockcurrency"),
        col("p.info.financialCurrency").as("financialcurrency"),
        col("p.cashflow").as("cashflow"),
        col("p.balancesheet").as("balancesheet"),
        col("p.incomestatement").as("incomestatement"))

    // 6-pane stack as ONE generator over a literal array of
    // (statement, freq, precedence, pane) structs: the payload is parsed
    // by a single from_json and each document is expanded by one explode.
    // (The previous 6-branch union re-executed the from_json per branch —
    // 6 full decode passes over the most expensive expression in the
    // pipeline; at 100 TB that dominates the job.) Codegen subexpression
    // elimination evaluates the shared parse once per input row.
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

    // Orientation: OUTER map keys are DATES, inner are METRICS
    // (Financilas.py:84–96). explode is the built-in Generator — stays
    // codegen-adjacent, no custom Generator needed.
    val exploded = stacked
      .select(col("*"), explode(col("pane")).as(Seq("date_str", "metrics")))
      .drop("pane")
      .select(col("*"), explode(col("metrics")).as(Seq("metric", "value_str")))
      .drop("metrics")

    val derived = exploded
      .withColumn("date", dateFromPrefix(col("date_str")))   // F12
      .filter(col("date").isNotNull)                          // skip-on-parse-failure (Financilas.py:92)
      .filter(length(col("metric")) > 0)                      // P9 truthy key
      // P7 — reference SKIPS non-scalar metric values (dict/list,
      // Financilas.py:99–100): a nested value survives the string-typed
      // pane parse as raw JSON text, so drop object/array-shaped leaves.
      .filter(col("value_str").isNull ||
        !(col("value_str").startsWith("{") || col("value_str").startsWith("[")))
      .withColumn("calendar_year", year(col("date")))         // F13
      .withColumn("period", periodOf(col("freq"), col("date"))) // F14
      // P7+P8: non-scalar leaf → uncastable string → null; NaN/Inf →
      // null. try_cast: a non-numeric scalar leaf (bare string token)
      // must degrade to null, not throw under ANSI — the reference
      // never aborts the run on one bad leaf.
      .withColumn("value", nanToNull(col("value_str").try_cast("double")))

    derived.select("stock", "yf_name", "statement_type", "metric",
      "stockcurrency", "financialcurrency", "calendar_year", "period",
      "value", "date", "pane_prec")
  }

  /** PK dedup (stock, statement_type, metric, date): later pane wins —
    * replicates ON-DUPLICATE-KEY last-write-wins under the reference's
    * pane iteration order.
    */
  private def pkDedup(derived: DataFrame): DataFrame =
    Upsert.latestByKey(derived, Pk, col("pane_prec"))
      .select("stock", "yf_name", "statement_type", "metric", "stockcurrency",
        "financialcurrency", "calendar_year", "period", "value", "date")

  /** Fused normalize → maintained-layout write, TWO exchanges: the
    * latest-per-symbol aggregate's (raw payloads, at the session's
    * shuffle width), then a repartition into `buckets` on `stock` BEFORE
    * the PK dedup (the unpivoted leaf rows). Since stock ⊆ PK,
    * HashPartitioning(stock) satisfies the dedup aggregation's
    * ClusteredDistribution(PK), so the dedup runs co-located and the
    * layout write needs no third exchange. (`normalize` +
    * Sinks.writeFactPartitioned also pays two: it dedups at the shuffle
    * width, then re-shuffles the deduped rows into the buckets.) The
    * destination layout is the bucket-PARTITIONED one
    * (Sinks.writeFactPartitioned): `bucket = pmod(hash(stock), n)` is
    * exactly the repartition's shuffle partition id, so each write task
    * holds one bucket and partitionBy adds no exchange and no sort (the
    * `bucket` sort prefix satisfies the writer's required ordering).
    * Readers drop/prune the `bucket` virtual column; increments go
    * through Sinks.upsertFactDelta and rewrite only touched buckets.
    */
  def normalizeInto(raw: DataFrame, path: String, buckets: Int = 32): Unit = {
    pkDedup(derivedFacts(raw).repartition(buckets, col("stock")))
      // bucket is a pure function of stock: recomputing it after the
      // dedup is a projection — partitioning survives, no exchange
      .withColumn("bucket", graft.sources.Sinks.factBucket(buckets))
      .sortWithinPartitions(("bucket" +: Pk).map(col): _*)
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
    graft.sources.Sinks.writeLayoutBuckets(path, buckets)
  }

  /** Typed API boundary (SURVEY.md §1.3): the fact table as
    * Dataset[FinancialFact] — compile-time column safety for library
    * consumers; the plan is identical to normalize's.
    */
  def facts(raw: DataFrame): org.apache.spark.sql.Dataset[graft.model.FinancialFact] = {
    val spark = raw.sparkSession
    import spark.implicits._
    normalize(raw).as[graft.model.FinancialFact]
  }

  /** The reference's own verify query (Financilas.py:186–195): latest 10
    * facts for one symbol, ordered date desc, statement, metric.
    * Plans as TakeOrderedAndProject — no full sort at scale.
    *
    * Against the maintained bucket-partitioned layout (a `bucket`
    * column is present) the symbol's bucket is derived on the driver
    * and added as an equality predicate, so the scan PARTITION-PRUNES
    * to one bucket directory — the engine analogue of the reference's
    * `idx_symbol` lookup (details.py:199) — and parquet min/max stats
    * on the PK-sorted files prune row groups within it.
    *
    * CONTRACT: `buckets` must equal the count the layout was WRITTEN
    * with — the bucket predicate is a pure function of (symbol,
    * buckets), so a mismatched count prunes to the wrong directory and
    * returns silently empty/short results, not an error. Prefer
    * [[latestFactsAt]], which derives the recorded count from the
    * layout's `_graft_buckets` sidecar instead of trusting the caller.
    */
  def latestFacts(fact: DataFrame, symbol: String, k: Int = 10,
                  buckets: Int = 32): DataFrame = {
    val pruned =
      if (fact.columns.contains("bucket"))
        fact.filter(col("bucket") ===
          pmod(hash(lit(symbol)), lit(buckets)))
      else fact
    pruned.filter(col("stock") === symbol)
      .orderBy(col("date").desc, col("statement_type"), col("metric"))
      .limit(k)
      .drop("bucket")
  }

  /** [[latestFacts]] against a maintained-layout PATH: the bucket count
    * comes from the layout's own `_graft_buckets` sidecar (written by
    * Sinks.writeFactPartitioned / normalizeInto / upsertFactDelta), so
    * the pruning predicate can never disagree with the directory law. A
    * layout without the sidecar (e.g. the flat writeFact form) falls
    * back to an unpruned — correct, just wider — scan. The layout is
    * read through Sinks.readLayout (schema from a part-file footer), so
    * a lookup runs ONE Spark job: the scan, with no inference job.
    */
  def latestFactsAt(spark: SparkSession, path: String,
                    symbol: String, k: Int = 10): DataFrame = {
    val fact = graft.sources.Sinks.readLayout(spark, path)
    graft.sources.Sinks.readLayoutBuckets(path) match {
      case Some(n) => latestFacts(fact, symbol, k, n)
      case None    => latestFacts(fact.drop("bucket"), symbol, k)
    }
  }
}
