package graft.transform

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
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
  *       → 6-pane stack (one generator over the panes, no shuffle)
  *       → posexplode(dates) → derived time columns, once per date
  *       → posexplode(metrics) → value cast + NaN guard
  *       → PK dedup (top-1 window, later leaf wins)
  * ONE exchange: the latest-per-symbol aggregate hash-partitions on
  * `symbol`, which becomes `stock`, and the PK dedup's window reuses
  * that partitioning (stock ⊆ PK), so its sort is the only sort of the
  * leaf rows. All scalar work stays inside whole-stage codegen.
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
    pkDedup(leaves(latestPayloads(graft.ingest.RawZone.resolve(raw))), Pk)
      .select(Columns.map(col): _*)

  /** The fact table's columns, in the reference DDL's order. */
  private val Columns = Seq("stock", "yf_name", "statement_type", "metric",
    "stockcurrency", "financialcurrency", "calendar_year", "period", "value", "date")

  /** J2 semantics: one payload per symbol, latest loaded_at wins
    * (load_one_row's LIMIT 1 over the unique (symbol, loaded_at) key).
    * Takes the [[graft.ingest.RawZone.resolve]]d columns (S10:
    * candidate-name resolution, Financilas.py:113–133).
    */
  private def latestPayloads(resolved: DataFrame): DataFrame =
    Upsert.latestByKey(resolved, Seq("symbol"), col("loaded_at"))

  /** One row per emitted (pane, date, metric) leaf of the latest
    * payloads, carrying the dedup's order: `pane_prec`, then the leaf's
    * `date_pos` and `metric_pos` in its document.
    */
  private def leaves(latest: DataFrame): DataFrame = {
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
    // (Financilas.py:84–96). The date columns are derived per (pane,
    // date), before the metrics explode: a date key's parse, year and
    // period are the same for every metric under it.
    val dated = stacked
      .select(col("*"), posexplode(col("pane")).as(Seq("date_pos", "date_str", "metrics")))
      .drop("pane")
      .withColumn("date", dateFromPrefix(col("date_str")))   // F12
      .filter(col("date").isNotNull)                          // skip-on-parse-failure (Financilas.py:92)
      .withColumn("calendar_year", year(col("date")))         // F13
      .withColumn("period", periodOf(col("freq"), col("date"))) // F14

    dated
      .select(col("*"), posexplode(col("metrics")).as(Seq("metric_pos", "metric", "value_str")))
      .filter(length(col("metric")) > 0)                      // P9 truthy key
      // P7 — reference SKIPS non-scalar metric values (dict/list,
      // Financilas.py:99–100): a nested value survives the string-typed
      // pane parse as raw JSON text, so drop object/array-shaped leaves.
      .filter(col("value_str").isNull ||
        !(col("value_str").startsWith("{") || col("value_str").startsWith("[")))
      // P7+P8: non-scalar leaf → uncastable string → null; NaN/Inf →
      // null. try_cast: a non-numeric scalar leaf (bare string token)
      // must degrade to null, not throw under ANSI — the reference
      // never aborts the run on one bad leaf.
      .withColumn("value", nanToNull(col("value_str").try_cast("double")))
      .select((Columns :+ "pane_prec" :+ "date_pos" :+ "metric_pos").map(col): _*)
  }

  /** PK dedup (stock, statement_type, metric, date): the last write of
    * the reference's ON-DUPLICATE-KEY loop wins — the later pane, then
    * within one pane the later date key (two keys with one 10-character
    * prefix, `2024-09-30` and `2024-09-30 00:00:00`, share a PK), then
    * the later metric. A top-1 window over `keys` (⊇ Pk), so its sort is
    * the rows' only sort, not a sort-aggregate on each side of it.
    */
  private def pkDedup(leaves: DataFrame, keys: Seq[String]): DataFrame = {
    val lastWrite = Window.partitionBy(keys.map(col): _*).orderBy(
      col("pane_prec").desc, col("date_pos").desc, col("metric_pos").desc)
    leaves.withColumn("_rn", row_number().over(lastWrite)).filter(col("_rn") === 1)
  }

  /** Fused normalize → maintained-layout write, ONE exchange: the
    * resolved raw rows are hash-partitioned on `symbol` into `buckets`
    * partitions, and latest-per-symbol, parse, unpivot, PK dedup and the
    * layout write all run inside that partitioning (`symbol` becomes
    * `stock`, and stock ⊆ PK). The destination layout is the
    * bucket-PARTITIONED one (Sinks.writeFactPartitioned): `bucket =
    * pmod(hash(stock), n)` is exactly the shuffle partition id, so each
    * write task holds one bucket. The dedup's window sorts on `bucket +:
    * Pk` first, so that one sort is also the layout's PK file order and
    * the writer's `bucket` ordering: the `sortWithinPartitions` below
    * plans no sort. The trade-off: the parse runs on `buckets` tasks,
    * not at the session's shuffle width. Readers drop/prune the `bucket`
    * virtual column; increments go through Sinks.upsertFactDelta and
    * rewrite only touched buckets.
    */
  def normalizeInto(raw: DataFrame, path: String, buckets: Int = 32): Unit = {
    val resolved = graft.ingest.RawZone.resolve(raw).repartition(buckets, col("symbol"))
    pkDedup(leaves(latestPayloads(resolved))
      .withColumn("bucket", graft.sources.Sinks.factBucket(buckets)), "bucket" +: Pk)
      .select((Columns :+ "bucket").map(col): _*)
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
    * the pruning predicate can never disagree with the directory law,
    * and the read lists the symbol's bucket directory alone
    * (Sinks.readBucket); a bucket with no directory holds no rows of the
    * symbol, and the whole-layout read answers it, empty. A layout
    * without the sidecar (e.g. the flat writeFact form) falls back to an
    * unpruned — correct, just wider — scan. The schema comes from a
    * part-file footer, so a lookup runs ONE Spark job: the scan, with no
    * inference job.
    */
  def latestFactsAt(spark: SparkSession, path: String,
                    symbol: String, k: Int = 10): DataFrame = {
    import graft.sources.Sinks
    Sinks.readLayoutBuckets(path) match {
      case Some(n) =>
        val fact = Sinks.readBucket(spark, path, Sinks.bucketOf(symbol, n))
          .getOrElse(Sinks.readLayout(spark, path))
        latestFacts(fact, symbol, k, n)
      case None => latestFacts(Sinks.readLayout(spark, path).drop("bucket"), symbol, k)
    }
  }
}
