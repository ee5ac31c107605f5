package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.graftbridge.FunctionBridge
import org.apache.spark.sql.types.DoubleType

/** SQL-facing registration of the engine's scalar functions, so
  * `spark.sql("SELECT parse_market_cap(mc) …")` works the same as the
  * Column API (`Functions.parseMarketCap`) — the reference stores the
  * scraped market-cap string unparsed (`main.py:179,208`); this makes
  * the engine's completion of that latent column callable from plain
  * SQL.
  *
  * The builder constructs the Catalyst tree NATIVELY (RegExpExtract /
  * CaseWhen / Cast) rather than bridging the Column composition: a
  * Column→Expression bridge inside a FunctionBuilder yields an
  * Unevaluable ColumnNode wrapper that survives analysis and fails at
  * codegen (the ColumnNode→Expression conversion only runs on Dataset
  * API entry, not inside an already-converted tree — measured, not
  * guessed). The two constructions encode the same F18 law and
  * SqlFunctionsSpec pins SQL ⇔ Column-API parity value-for-value, so
  * the surfaces cannot drift silently.
  *
  * Two installation paths (both idempotent):
  *  - `GraftSqlFunctions.register(spark)` on an existing session —
  *    what the query packs use (the driver owns session construction).
  *  - `spark.sql.extensions=graft.plans.GraftExtensions` at session
  *    build — the standard opt-in extension-library pattern for hosts
  *    that own their builder (how Delta/Iceberg install).
  */
object GraftSqlFunctions {

  /** Native Catalyst construction of the F18 market-cap parse
    * (Functions.parseMarketCap's law): strip commas → trim → upper →
    * regex split into number and suffix → suffix multiplier → double.
    */
  private[plans] def parseMarketCapExpr(child: Expression): Expression = {
    val re = Literal("^([0-9]*\\.?[0-9]+)([KMBT]?)$")
    val cleaned = Upper(StringTrim(
      RegExpReplace(child, Literal(","), Literal(""))))
    val num = RegExpExtract(cleaned, re, Literal(1))
    val sfx = RegExpExtract(cleaned, re, Literal(2))
    val mult = CaseWhen(Seq(
      (EqualTo(sfx, Literal("K")), Literal(1e3)),
      (EqualTo(sfx, Literal("M")), Literal(1e6)),
      (EqualTo(sfx, Literal("B")), Literal(1e9)),
      (EqualTo(sfx, Literal("T")), Literal(1e12))), Some(Literal(1.0)))
    CaseWhen(
      Seq((EqualTo(num, Literal("")), Literal.create(null, DoubleType))),
      Some(Multiply(Cast(num, DoubleType), mult)))
  }

  /** (identifier, info, builder) triples — the exact shape both
    * `SparkSessionExtensions.injectFunction` and the session
    * `FunctionRegistry` consume.
    */
  val entries: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("parse_market_cap"),
      new ExpressionInfo("graft.functions.Functions", "parse_market_cap"),
      (children: Seq[Expression]) => {
        require(children.length == 1,
          s"parse_market_cap takes exactly 1 argument, got ${children.length}")
        parseMarketCapExpr(children.head)
      }))

  /** `table_changes('<cat>.<table>', start, end)` — the
    * change-data-feed window as a TABLE-VALUED FUNCTION (Delta's
    * spelling; NOTE the window semantics differ — see below): an
    * AD-HOC window over any registered snapshot table, without
    * registering a feed table per window. Endpoints are either both
    * INTEGER literals (commit versions) or both STRING literals
    * (timestamps, `'yyyy-MM-dd HH:mm:ss[.SSS]'`, read as UTC),
    * resolved through the commit clock ([[graft.sources.Changelog
    * .versionAtTimestamp]] — latest commit stamped ≤ t, the
    * q190/q192 law); two instants resolving to the SAME commit refuse
    * loudly (an empty window — a consumer polling faster than commits
    * land should skip the cycle, not read a silently-empty feed).
    *
    * WINDOW SEMANTICS, stated loudly: the window is EXCLUSIVE-START
    * `(start, end]` — this engine's feed law everywhere
    * (changesBetween, feed tables, the CDC stream) — whereas
    * Delta's table_changes INCLUDES changes at startVersion. Porting
    * a Delta query: pass your startVersion − 1.
    *
    * Resolves the table through the same conf-backed registration the
    * catalog reads use; tracked columns are every non-key column of
    * the log's schema (the full-row CDF). The builder returns the
    * engine's OWN feed plan (`Changelog.changesBetween`),
    * analyzed — the nested-resolution discipline ResolveGraftLog
    * already uses. Arguments must be literals (a TVF's window is part
    * of the query text); a FEED registration refuses — it already IS
    * a window, read it FROM the table name.
    */
  private[plans] def tableChangesPlan(args: Seq[Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    require(args.length == 3,
      "table_changes takes (table, startVersion, endVersion), got " +
        s"${args.length} arguments")
    def strArg(e: Expression, what: String): String = e match {
      case Literal(v, org.apache.spark.sql.types.StringType)
        if v != null => v.toString
      case other => throw new IllegalArgumentException(
        s"table_changes: $what must be a string literal, got $other")
    }
    def longArg(e: Expression, what: String): Long = e match {
      case Literal(v, org.apache.spark.sql.types.LongType) => v.asInstanceOf[Long]
      case Literal(v, org.apache.spark.sql.types.IntegerType) =>
        v.asInstanceOf[Int].toLong
      case other => throw new IllegalArgumentException(
        s"table_changes: $what must be an integer literal, got $other")
    }
    val full = strArg(args.head, "the table name")
    val parts = full.split("\\.")
    require(parts.length >= 2,
      s"table_changes: qualify the table as '<catalog>.<name>', got '$full'")
    val cat = parts.head
    val name = parts.tail.mkString(".")
    def opt(leaf: String): Option[String] = Option(
      org.apache.spark.sql.internal.SQLConf.get.getConfString(
        s"spark.sql.catalog.$cat.log.$name.$leaf", null))
    val path = opt("path").getOrElse(
      throw new IllegalArgumentException(
        s"table_changes: no registered changelog table '$full' " +
          s"(spark.sql.catalog.$cat.log.$name.path is unset)"))
    require(!opt("readChangeFeed").exists(_.toBoolean),
      s"table_changes: '$full' is a FEED registration — it already IS " +
        "a window; SELECT FROM the table name (VERSION AS OF pins the " +
        "end) or point table_changes at the snapshot registration")
    val keys = opt("keys").map(_.split(",").map(_.trim)
      .filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
    require(keys.nonEmpty, s"table_changes: '$full' has no key columns")
    val isString: Expression => Boolean = {
      case Literal(_, org.apache.spark.sql.types.StringType) => true
      case _ => false
    }
    val (v0, v1) =
      if (isString(args(1)) || isString(args(2))) {
        // timestamp endpoints: both must be strings, both resolve
        // through the commit clock (latest stamp ≤ t)
        def ts(e: Expression, what: String): Long = e match {
          case Literal(v, org.apache.spark.sql.types.StringType)
            if v != null =>
            val raw = v.toString
            try java.time.LocalDateTime.parse(raw.replace(' ', 'T'))
              .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
            catch {
              case _: java.time.format.DateTimeParseException =>
                throw new IllegalArgumentException(
                  s"table_changes: $what '$raw' is not a timestamp — " +
                    "use 'yyyy-MM-dd HH:mm:ss[.SSS]' (UTC), or " +
                    "integer versions for both endpoints")
            }
          case other => throw new IllegalArgumentException(
            "table_changes: endpoints must BOTH be versions or BOTH " +
              s"be timestamp strings, got $other for $what")
        }
        val t0 = ts(args(1), "startTimestamp")
        val t1 = ts(args(2), "endTimestamp")
        val r0 = graft.sources.Changelog.versionAtTimestamp(path, t0)
        val r1 = graft.sources.Changelog.versionAtTimestamp(path, t1)
        require(r0 != r1,
          s"table_changes: both instants resolve to commit $r0 of " +
            s"'$full' — the window is empty (no commit landed between " +
            "them); a consumer polling faster than commits land should " +
            "skip the cycle, not read a silently-empty feed")
        (r0, r1)
      } else
        (longArg(args(1), "startVersion"), longArg(args(2), "endVersion"))
    val spark = SparkSession.active
    val trackCols = spark.read.parquet(path).schema.fieldNames.toSeq
      .filterNot(keys.contains)
      .filterNot(Seq(graft.sources.Changelog.OpCol,
        graft.sources.Changelog.CommitCol).contains)
    graft.sources.Changelog.changesBetween(spark, path, keys, v0, v1,
        trackCols)
      .queryExecution.analyzed
  }

  val tableEntries: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = Seq(
    (FunctionIdentifier("table_changes"),
      new ExpressionInfo("graft.sources.Changelog", "table_changes"),
      tableChangesPlan _))

  /** Register on an existing session (idempotent: re-registration
    * replaces the same entry).
    */
  def register(spark: SparkSession): Unit = {
    entries.foreach { case (id, info, builder) =>
      FunctionBridge.register(spark, id, info, builder)
    }
    tableEntries.foreach { case (id, info, builder) =>
      FunctionBridge.registerTable(spark, id, info, builder)
    }
  }
}

/** Opt-in `spark.sql.extensions` entry point. Besides the SQL scalar
  * functions, installs [[ResolveGraftLog]] — the pre-CBO rule that
  * resolves [[graft.sources.GraftLog]] batch table relations into the
  * changelog's own plans (see that rule's scaladoc for why pre-CBO is
  * the one correct slot). Sessions built without this extension can
  * still use every Changelog library call; only the DSv2/SQL table
  * surface needs the rule, and reaching its scan without it fails
  * loudly with this class's name.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftSqlFunctions.entries.foreach(e => ext.injectFunction(e))
    GraftSqlFunctions.tableEntries.foreach(e => ext.injectTableFunction(e))
    ext.injectPreCBORule(ResolveGraftLog.apply)
    // ALTER TABLE … ADD CONSTRAINT … CHECK over changelog tables:
    // Spark's exec validates by executing the scan child, which this
    // table cannot serve — the strategy swaps in the engine's own
    // add-constraint command (see GraftConstraintStrategy)
    ext.injectPlannerStrategy(GraftConstraintStrategy.apply)
  }
}
