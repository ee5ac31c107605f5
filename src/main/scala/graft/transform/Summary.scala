package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Functions._

/** Profile extraction — raw payload documents → wide `summary` dimension
  * (reference Summary.py:149–221 normalize_summary + 122–147
  * extract_from_summary), re-expressed as one select of pyOr /
  * regexp_extract / split / case expressions. Zero UDFs; the whole row
  * is produced inside whole-stage codegen from a single from_json.
  *
  * Fidelity notes (each maps a reference line):
  *  - stock: table key FIRST, payload symbol/ticker as fallback
  *    (Summary.py:152 `symbol_hint or info.get("symbol") or
  *    info.get("ticker")`).
  *  - every coalesce site is a python-or (empty string falls through),
  *    via Functions.pyOr.
  *  - clean_text applies AFTER the or-chain, to yf_name, long_summary,
  *    sector, industry, website, city, state, country, currency
  *    (Summary.py:175–184).
  *  - regex enrichment runs over the CLEANED long_summary
  *    (Summary.py:201), and the explicit field wins non-destructively
  *    (Summary.py:202–204).
  */
object Summary {

  def normalize(raw: DataFrame): DataFrame = {
    // S10 column resolution (Summary.py:50–66), then J2 latest-per-symbol
    val latest = Upsert.latestByKey(
      graft.ingest.RawZone.resolve(raw), Seq("symbol"), col("loaded_at"))

    // reduced parse schema: only the profile fields — the statement
    // panes are never materialized by this pipeline (Schemas.profilePayload).
    // The parse sits behind a one-element generator: a plain projection
    // of `p` is inlined by CollapseProject into every field extraction
    // below (50 from_json copies in the optimized plan, each one more
    // expression to optimize and codegen), while a Generate is a barrier
    // it cannot collapse through, so the plan keeps the two copies of
    // parsePayload (direct + retry) and each row is parsed once.
    val p = latest.select(col("symbol"), inline(array(struct(
      Financials.parsePayload(col("payload"), graft.model.Schemas.profilePayload)
        .as("p")))))
    // Summary.py:151 `info = obj.get('info') or obj` — all-or-nothing:
    // when the payload has no `info` key, EVERY profile field reads from
    // the root object; when info exists, fields come from info only (a
    // field missing inside info does NOT fall back to the root). The
    // typed parse can't distinguish `"info": {}` from info-with-unknown-
    // keys, so the empty-dict edge resolves to the info side — a
    // deliberate, documented deviation (reference: {} is falsy → root).
    def info(f: String): Column =
      when(col("p.info").isNull, col(s"p.$f")).otherwise(col(s"p.info.$f"))
    // long_summary fallback chain (Summary.py:158–162), cleaned
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
      employeesToInt(info("fullTimeEmployees")).as("employees"),        // F8
      // non-destructive enrich: cleaned explicit field first, regex-HQ
      // fallback (Summary.py:202–204) — python-or, so "" falls through
      pyOr(cleanText(info("city")), hq("hq_city")).as("city"),
      pyOr(cleanText(pyOr(info("state"), info("province"))), hq("hq_state")).as("state"),
      pyOr(cleanText(info("country")), hq("hq_country")).as("country"),
      cleanText(pyOr(info("currency"), info("financialCurrency"))).as("currency"),
      foundedYear(longSummary).as("founded_year"),                      // F5
      formerName(longSummary).as("former_name"),                        // F6
      current_timestamp().as("updated_at"))
      // P10 — reference skips falsy stock (Summary.py:289–291)
      .filter(col("stock").isNotNull && col("stock") =!= "")
  }

  /** Typed API boundary (SURVEY.md §1.3) — the dimension twin of
    * Financials.facts: compile-time column safety for library
    * consumers; the plan is identical to normalize's.
    */
  def profiles(raw: DataFrame): org.apache.spark.sql.Dataset[graft.model.CompanySummary] = {
    val spark = raw.sparkSession
    import spark.implicits._
    normalize(raw).as[graft.model.CompanySummary]
  }
}
