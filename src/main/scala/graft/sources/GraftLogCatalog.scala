package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.{Identifier, ProcedureCatalog, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataTypes, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Catalog half of the table surface: changelog tables addressed by
  * NAME through Spark's own SQL resolution — time travel, the history
  * child, streaming feed tables, and maintenance procedures —
  *
  * {{{
  * GraftLogCatalog.register(spark, "glog", "orders_ops",
  *   path, keys = Seq("o_orderkey"))
  * spark.sql("SELECT * FROM glog.orders_ops VERSION AS OF 2")
  * spark.sql("SELECT * FROM glog.orders_ops TIMESTAMP AS OF '1970-01-01 00:00:02.5'")
  * spark.sql("SELECT * FROM glog.orders_ops.history")  // DESCRIBE HISTORY
  * spark.sql("CALL glog.system.checkpoint('orders_ops', 1)")
  * GraftLogCatalog.registerFeed(spark, "glog", "orders_changes",
  *   path, keys = Seq("o_orderkey"), trackCols = Seq("o_totalprice"))
  * spark.readStream.table("glog.orders_changes")       // the live feed
  * }}}
  *
  * `VERSION AS OF` / `TIMESTAMP AS OF` arrive through the DSv2
  * time-travel contract (`TableCatalog.loadTable(ident, version)` /
  * `loadTable(ident, timestampMicros)` — Spark evaluates the clause to
  * epoch MICROS; [[Changelog]] stamps are millis, converted here), and
  * the loaded table resolves through the same pre-CBO rule as the
  * format reader — so a pure SQL string reaches exactly the library's
  * snapshot plan, guards included.
  *
  * Table definitions live in SESSION CONF (the q156 catalog-DDL
  * discipline — configuration, not a metastore):
  * `spark.sql.catalog.<cat> = graft.sources.GraftLogCatalog` activates
  * the catalog, and each table is a few keys under it:
  * `spark.sql.catalog.<cat>.log.<name>.path` (+ `.keys`, and optional
  * `.mergeSchema`, or for feed tables `.readChangeFeed`/`.trackCols`/
  * `.startVersion`/`.keyFilter`). [[register]]/[[registerFeed]] write
  * them — and so does SQL DDL: `CREATE TABLE … LOCATION … TBLPROPERTIES
  * ('keys'='…')` initializes a fresh log (empty genesis commit, verb
  * `create`) and registers it (CTAS composes — create + one appended
  * upsert commit); DROP TABLE unregisters the name and KEEPS the log
  * (erasure is the checkpoint's vacuum, never a catalog verb); RENAME
  * re-points the name. ALTER TABLE ADD COLUMNS lands schema evolution
  * as what it is in this format — ONE empty schema-bearing commit
  * (the q143/q185 law) — and flips mergeSchema on; every other ALTER
  * refuses loudly. DML (INSERT/DELETE/UPDATE/MERGE/TRUNCATE, on
  * [[GraftLog.LogTable]]) and maintenance (the `system` procedures)
  * are first-class.
  */
class GraftLogCatalog extends TableCatalog with ProcedureCatalog {

  private var catName: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit =
    catName = name

  override def name(): String = catName

  // SUPPORT_TABLE_CONSTRAINT admits `ALTER TABLE … ADD CONSTRAINT
  // <n> CHECK (<expr>)` / `DROP CONSTRAINT` through Spark's own
  // analysis (AddCheckConstraintExec validates the existing rows
  // against the resolved snapshot plan, then hands the VALID
  // constraint to alterTable below)
  override def capabilities()
      : util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] = {
    import scala.jdk.CollectionConverters._
    Set(org.apache.spark.sql.connector.catalog.TableCatalogCapability
      .SUPPORT_TABLE_CONSTRAINT).asJava
  }

  private def confKey(ident: Identifier, leaf: String): String = {
    val tbl = (ident.namespace() :+ ident.name()).mkString(".")
    s"spark.sql.catalog.$catName.log.$tbl.$leaf"
  }

  private def opt(ident: Identifier, leaf: String): Option[String] =
    Option(SQLConf.get.getConfString(confKey(ident, leaf), null))

  private def baseOpts(ident: Identifier): GraftLog.Opts = {
    val path = opt(ident, "path").getOrElse(
      throw new NoSuchTableException(
        (ident.namespace() :+ ident.name()).toSeq))
    val keys = opt(ident, "keys").map(_.split(",").map(_.trim)
      .filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
    require(keys.nonEmpty,
      s"${confKey(ident, "keys")} must name the log's key columns")
    val feed = opt(ident, "readChangeFeed").exists(_.toBoolean)
    val trackCols = opt(ident, "trackCols").map(_.split(",").map(_.trim)
      .filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
    if (feed) {
      require(trackCols.nonEmpty,
        s"${confKey(ident, "trackCols")} must name the feed's tracked " +
          "columns for a readChangeFeed table")
      // the feed window's default start: everything above the horizon
      // (else everything in the log) — resolved at loadTable so a
      // batch read of the feed table has a pinned window, while a
      // STREAMING read offsets from the same coordinate
      // (a log whose first commit id is not 0 — e.g. a partial clone —
      // wants an explicit startVersion)
      val start = opt(ident, "startVersion").map(_.toLong).getOrElse {
        val h = Changelog.horizonOf(path)
        if (h != Long.MinValue) h else -1L
      }
      GraftLog.Opts(path, keys, None, None, readChangeFeed = true,
        Some(start), None, trackCols,
        opt(ident, "keyFilter").filter(_.nonEmpty),
        mergeSchema = false)
    } else
      GraftLog.Opts(path, keys, None, None, readChangeFeed = false,
        None, None, Seq.empty, None,
        mergeSchema = opt(ident, "mergeSchema").exists(_.toBoolean))
  }

  /** Registered name → the changelog table; `<name>.history` → the
    * commit-log METADATA child table (`SELECT * FROM cat.t.history` is
    * DESCRIBE HISTORY at the SQL prompt — Delta's ergonomics): one row
    * per landed commit with the recorded verb/writer/row-count/stamp,
    * served through a [[org.apache.spark.sql.connector.read.LocalScan]]
    * because the history IS driver-listable metadata (the same
    * O(commits) marker listing [[Changelog.describeHistory]] does —
    * never a distributed scan pretending otherwise). The child is
    * virtual: only a registered PARENT exposes it, and it never
    * appears in SHOW TABLES.
    */
  override def loadTable(ident: Identifier): Table =
    childParent(ident, "history") match {
      case Some(parent) =>
        new GraftLogCatalog.HistoryTable(baseOpts(parent).path,
          s"$catName.${(parent.namespace() :+ parent.name()).mkString(".")}")
      case None => childParent(ident, "detail") match {
        case Some(parent) =>
          val po = baseOpts(parent)
          new GraftLogCatalog.DetailTable(po.path, po.keys,
            s"$catName.${(parent.namespace() :+ parent.name()).mkString(".")}")
        case None => new GraftLog.LogTable(baseOpts(ident))
      }
    }

  /** `Some(parent)` iff `ident` is `<registered-table>.<child>` and is
    * not itself a registered table (a real table named like the child
    * shadows it).
    */
  private def childParent(ident: Identifier,
                          child: String): Option[Identifier] =
    if (ident.name() == child && ident.namespace().nonEmpty &&
        opt(ident, "path").isEmpty) {
      val parent = Identifier.of(ident.namespace().dropRight(1),
        ident.namespace().last)
      if (opt(parent, "path").isDefined) Some(parent) else None
    } else None

  /** `VERSION AS OF v` — the SQL clause's landing point. On a
    * snapshot table it pins the read version; on a FEED table it pins
    * the window's END — `SELECT * FROM cat.changes VERSION AS OF 5`
    * is the feed (startVersion, 5], the natural reading of "the feed
    * as of commit 5" (leaving it to silently ignore the clause would
    * hand back the head window under a version the user named).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"VERSION AS OF '$version' on $catName.$ident — changelog " +
          "versions are the numeric commit ids")
    }
    val base = baseOpts(ident)
    new GraftLog.LogTable(
      if (base.readChangeFeed) base.copy(endingVersion = Some(v))
      else base.copy(versionAsOf = Some(v)))
  }

  /** `TIMESTAMP AS OF t` — Spark hands epoch micros; stamps are
    * millis. Feed tables refuse the clock clause loudly (the feed's
    * clock addressing is [[Changelog.changesBetweenTimestamps]] —
    * a WINDOW of two instants, which one AS OF literal cannot name).
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val base = baseOpts(ident)
    require(!base.readChangeFeed,
      s"TIMESTAMP AS OF on feed table $catName.$ident — a feed is a " +
        "window of TWO coordinates; use VERSION AS OF for the end, or " +
        "the library's changesBetweenTimestamps for a clock window")
    new GraftLog.LogTable(base.copy(
      timestampAsOfMillis = Some(Math.floorDiv(timestampMicros, 1000L))))
  }

  override def tableExists(ident: Identifier): Boolean =
    opt(ident, "path").isDefined

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val prefix = s"spark.sql.catalog.$catName.log."
    SQLConf.get.getAllConfs.keys.toSeq
      .filter(k => k.startsWith(prefix) && k.endsWith(".path"))
      .map(_.stripPrefix(prefix).stripSuffix(".path"))
      .sorted
      .map { full =>
        val parts = full.split("\\.")
        Identifier.of(parts.dropRight(1), parts.last)
      }
      .filter(_.namespace().sameElements(namespace))
      .toArray
  }

  // ---- Maintenance verbs as DSv2 PROCEDURES --------------------------
  //
  // `CALL glog.system.checkpoint('t', 1)` / `.optimize('t', 3, 'k',
  // dom, 8)` / `.optimize_string('t', 3, 'k', 8)` / `.restore('t', 1,
  // 3)` — Spark 4's procedure contract over the library's maintenance
  // verbs, resolving the table NAME through the same conf-backed
  // registration the table reads use. Every verb runs under the
  // engine's MAINTENANCE MUTEX (acquired inside the library call): a
  // second concurrent actor fails loudly naming the holder, at the SQL
  // surface exactly as at the library surface. Each CALL returns one
  // summary row (table, verb, version) through a LocalScan.

  private def tableIdent(table: String): Identifier = {
    val parts = table.split("\\.")
    Identifier.of(parts.dropRight(1), parts.last)
  }

  private val ProcedureResult = StructType(Seq(
    org.apache.spark.sql.types.StructField("table", DataTypes.StringType),
    org.apache.spark.sql.types.StructField("verb", DataTypes.StringType),
    org.apache.spark.sql.types.StructField("version", DataTypes.LongType)))

  private def resultScan(table: String, verb: String,
                         version: Long): java.util.Iterator[Scan] =
    java.util.List.of[Scan](new org.apache.spark.sql.connector.read.LocalScan {
      override def readSchema(): StructType = ProcedureResult
      override def rows(): Array[InternalRow] = Array(
        InternalRow(UTF8String.fromString(table),
          UTF8String.fromString(verb), version))
    }).iterator()

  /** One maintenance procedure: `name`, its IN parameters, and a body
    * over (sparkSession, resolved opts, argument row). Bound and
    * unbound are the same object — binding is positional/by-name
    * argument alignment, which Spark performs against `parameters()`.
    */
  private class MaintenanceProcedure(procName: String,
                                     params: Seq[ProcedureParameter],
                                     body: (SparkSession, GraftLog.Opts,
                                       InternalRow) => Long)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String =
      s"graft changelog maintenance: $procName"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params.toArray
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val table = input.getUTF8String(0).toString
      val opts = baseOpts(tableIdent(table))
      require(!opts.readChangeFeed,
        s"$procName maintains the LOG — call it on the table, not a " +
          "registered feed")
      val v = body(SparkSession.active, opts, input)
      resultScan(table, procName, v)
    }
  }

  private def inParam(name: String,
                      dt: org.apache.spark.sql.types.DataType) =
    ProcedureParameter.in(name, dt).build()

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"procedures live in the 'system' namespace — CALL $catName" +
        s".system.<proc>(...), got ${ident.namespace().mkString(".")}")
    ident.name() match {
      case "checkpoint" => new MaintenanceProcedure("checkpoint",
        Seq(inParam("table", DataTypes.StringType),
          inParam("version", DataTypes.LongType)),
        (s, o, in) => {
          val v = in.getLong(1)
          Changelog.checkpoint(s, o.path, o.keys, v)
          v
        })
      case "optimize" => new MaintenanceProcedure("optimize",
        Seq(inParam("table", DataTypes.StringType),
          inParam("version", DataTypes.LongType),
          inParam("cluster_col", DataTypes.StringType),
          inParam("domain", DataTypes.LongType),
          inParam("num_files", DataTypes.IntegerType)),
        (s, o, in) => {
          val v = in.getLong(1)
          Changelog.optimizeOps(s, o.path, o.keys, v,
            in.getUTF8String(2).toString, in.getLong(3), in.getInt(4))
          v
        })
      case "optimize_string" => new MaintenanceProcedure("optimize_string",
        Seq(inParam("table", DataTypes.StringType),
          inParam("version", DataTypes.LongType),
          inParam("cluster_col", DataTypes.StringType),
          inParam("num_files", DataTypes.IntegerType)),
        (s, o, in) => {
          val v = in.getLong(1)
          Changelog.optimizeOpsString(s, o.path, o.keys, v,
            in.getUTF8String(2).toString, in.getInt(3))
          v
        })
      case "restore" => new MaintenanceProcedure("restore",
        Seq(inParam("table", DataTypes.StringType),
          inParam("as_of_version", DataTypes.LongType),
          inParam("new_version", DataTypes.LongType)),
        (s, o, in) => {
          val v = in.getLong(2)
          Changelog.restoreOps(s, o.path, o.keys, in.getLong(1), v)
          v
        })
      // RESTORE BY THE CLOCK — `CALL glog.system.restore_at(t, '<ts>',
      // n)`: the instant resolves through versionAtTimestamp (latest
      // stamp ≤ t, the q243/q254 law) and the versioned restore runs
      // with every guard (above-horizon target, new commit above the
      // head, O(changed-keys) diff)
      case "restore_at" => new MaintenanceProcedure("restore_at",
        Seq(inParam("table", DataTypes.StringType),
          inParam("as_of_timestamp", DataTypes.StringType),
          inParam("new_version", DataTypes.LongType)),
        (s, o, in) => {
          val t = Changelog.parseUtcTimestamp(
            in.getUTF8String(1).toString, "restore_at as_of_timestamp")
          val v = Changelog.versionAtTimestamp(o.path, t)
          val nv = in.getLong(2)
          Changelog.restoreOps(s, o.path, o.keys, v, nv)
          nv
        })
      // CLONE BY THE CLOCK — same resolution, then the zero-copy
      // branch verb with its horizon-race guard
      case "clone_at" => new MaintenanceProcedure("clone_at",
        Seq(inParam("table", DataTypes.StringType),
          inParam("as_of_timestamp", DataTypes.StringType),
          inParam("dest_path", DataTypes.StringType)),
        (s, o, in) => {
          val t = Changelog.parseUtcTimestamp(
            in.getUTF8String(1).toString, "clone_at as_of_timestamp")
          val v = Changelog.versionAtTimestamp(o.path, t)
          Changelog.cloneAt(s, o.path, in.getUTF8String(2).toString, v)
          v
        })
      case "optimize_zorder" => new MaintenanceProcedure("optimize_zorder",
        Seq(inParam("table", DataTypes.StringType),
          inParam("version", DataTypes.LongType),
          inParam("x_col", DataTypes.StringType),
          inParam("y_col", DataTypes.StringType),
          inParam("bits", DataTypes.IntegerType),
          inParam("num_files", DataTypes.IntegerType)),
        (s, o, in) => {
          val v = in.getLong(1)
          Changelog.optimizeOpsZOrder(s, o.path, o.keys, v,
            in.getUTF8String(2).toString, in.getUTF8String(3).toString,
            in.getInt(4), in.getInt(5))
          v
        })
      // the fused maintenance pass: checkpoint whose folded base lands
      // CLUSTERED on `cluster_col` (numFiles arithmetic-range files,
      // sorted within each) — one CALL does fold + horizon + vacuum +
      // layout
      case "checkpoint_clustered" => new MaintenanceProcedure(
        "checkpoint_clustered",
        Seq(inParam("table", DataTypes.StringType),
          inParam("version", DataTypes.LongType),
          inParam("cluster_col", DataTypes.StringType),
          inParam("domain", DataTypes.LongType),
          inParam("num_files", DataTypes.IntegerType)),
        (s, o, in) => {
          val v = in.getLong(1)
          Changelog.checkpoint(s, o.path, o.keys, v,
            Some(Changelog.RangeCluster(in.getUTF8String(2).toString,
              in.getLong(3), in.getInt(4))))
          v
        })
      // zero-copy branch of the log at `as_of_version` into a FRESH
      // path (hard links where the filesystem allows) — non-mutating
      // on the origin, so no mutex; the clone is its own log (register
      // it to address it by name)
      case "clone" => new MaintenanceProcedure("clone",
        Seq(inParam("table", DataTypes.StringType),
          inParam("as_of_version", DataTypes.LongType),
          inParam("dest_path", DataTypes.StringType)),
        (s, o, in) => {
          val v = in.getLong(1)
          Changelog.cloneAt(s, o.path, in.getUTF8String(2).toString, v)
          v
        })
      // record min/max commit stats for `columns` (comma-separated) on
      // commit `version` — what re-arms the stats-skipping lookups
      // after a checkpoint fold dropped the marker (the fold rewrote
      // the directory, so the old ranges no longer bound it)
      case "analyze" => new MaintenanceProcedure("analyze",
        Seq(inParam("table", DataTypes.StringType),
          inParam("version", DataTypes.LongType),
          inParam("columns", DataTypes.StringType)),
        (s, o, in) => {
          val v = in.getLong(1)
          Changelog.writeCommitStatsMulti(s, o.path, v,
            in.getUTF8String(2).toString.split(",").map(_.trim)
              .filter(_.nonEmpty).toSeq)
          v
        })
      // retention WITHOUT a fold — Delta's OPTIMIZE-then-VACUUM
      // decomposition: reclaim history below the newest base ≤
      // retain_version (refuses when retain_version exceeds the head,
      // or when nothing at/below it is a base — see vacuumRetain)
      case "vacuum" => new MaintenanceProcedure("vacuum",
        Seq(inParam("table", DataTypes.StringType),
          inParam("retain_version", DataTypes.LongType)),
        (_, o, in) => {
          val v = in.getLong(1)
          Changelog.vacuumRetain(o.path, v)
          v
        })
      // retention by the CLOCK — Delta's VACUUM speaks time: retain
      // every version readable at/after the instant (UTC timestamp
      // string, the table_changes spelling), reclaim below; resolves
      // through the commit clock then runs the versioned verb with
      // all its guards (see Changelog.vacuumRetainAt)
      case "vacuum_at" => new MaintenanceProcedure("vacuum_at",
        Seq(inParam("table", DataTypes.StringType),
          inParam("retain_timestamp", DataTypes.StringType)),
        (_, o, in) => {
          val t = Changelog.parseUtcTimestamp(
            in.getUTF8String(1).toString, "vacuum_at retain_timestamp")
          val v = Changelog.versionAtTimestamp(o.path, t)
          Changelog.vacuumRetain(o.path, v)
          v
        })
      // operator recovery for a txn slot poisoned by a CRASHED writer
      // — the actionable verb the idempotent-append refusal names;
      // explicit on purpose (no lease can prove a writer dead — see
      // Changelog.resolveStaleTxn)
      case "resolve_txn" => new MaintenanceProcedure("resolve_txn",
        Seq(inParam("table", DataTypes.StringType),
          inParam("writer", DataTypes.StringType),
          inParam("txn_version", DataTypes.LongType)),
        (_, o, in) => {
          val tv = in.getLong(2)
          Changelog.resolveStaleTxn(o.path,
            in.getUTF8String(1).toString, tv)
          tv
        })
      case other => throw new IllegalArgumentException(
        s"unknown procedure $catName.system.$other — available: " +
          "checkpoint, checkpoint_clustered, optimize, optimize_string, " +
          "optimize_zorder, restore, restore_at, clone, clone_at, " +
          "analyze, vacuum, vacuum_at, resolve_txn")
    }
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      Array("checkpoint", "checkpoint_clustered", "optimize",
          "optimize_string", "optimize_zorder", "restore", "restore_at",
          "clone", "clone_at", "analyze", "vacuum", "vacuum_at",
          "resolve_txn")
        .map(Identifier.of(Array("system"), _))
    else Array.empty

  // ---- SQL DDL: the table LIFECYCLE ---------------------------------
  //
  // `CREATE TABLE cat.t (k BIGINT, v DOUBLE) LOCATION '<dir>'
  //  TBLPROPERTIES ('keys'='k')` initializes a FRESH log at the
  // location (one empty genesis commit carrying the declared schema,
  // verb `create` in DESCRIBE HISTORY) and registers the name — after
  // which every surface (SELECT/AS OF/DML/CALL/readStream/writeStream)
  // resolves it. CTAS composes for free: Spark creates the table then
  // drives the ordinary batch append (one genesis + one upsert
  // commit). DROP TABLE unregisters the NAME and keeps the log —
  // external-table semantics: the log's history is durable data;
  // erasure is the checkpoint's vacuum, never a catalog verb (PURGE
  // refuses via the inherited purgeTable default). RENAME re-points
  // the name. ALTER TABLE ADD COLUMNS is schema evolution AS A COMMIT
  // (one evolved schema-bearing commit + mergeSchema reads; history
  // untouched); drop/rename/retype stay refused — a catalog that
  // rewrote the schema out from under the pinned footers would lie to
  // every versioned read below it.

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "changelog tables partition by _commit internally — " +
        "PARTITIONED BY is not supported")
    require(opt(ident, "path").isEmpty,
      s"table $catName.$ident is already registered — DROP it first " +
        "or pick another name")
    val loc = Option(properties.get(TableCatalog.PROP_LOCATION)).getOrElse(
      throw new IllegalArgumentException(
        s"CREATE TABLE $catName.$ident needs LOCATION '<log dir>' — " +
          "the log lives at an explicit path"))
    val keys = Option(properties.get("keys")).map(_.split(",").map(_.trim)
      .filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
    require(keys.nonEmpty,
      s"CREATE TABLE $catName.$ident needs TBLPROPERTIES " +
        "('keys'='<key cols>') — the log's row identity")
    keys.foreach(k => require(schema.fieldNames.contains(k),
      s"key column $k is not in the declared schema " +
        s"[${schema.fieldNames.mkString(", ")}]"))
    val ops = !Option(properties.get("ops")).exists(_.equalsIgnoreCase("false"))
    val spark = SparkSession.active
    Changelog.createLog(spark, loc, schema, ops)
    GraftLogCatalog.register(spark, catName,
      (ident.namespace() :+ ident.name()).mkString("."), loc, keys)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    if (opt(ident, "path").isEmpty) false
    else {
      // unregister the NAME; the log stays (external-table semantics)
      val conf = SparkSession.active.conf
      Seq("path", "keys", "mergeSchema", "readChangeFeed", "trackCols",
        "startVersion", "keyFilter")
        .foreach(leaf => conf.unset(confKey(ident, leaf)))
      true
    }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit = {
    require(opt(oldIdent, "path").isDefined,
      s"no registered table $catName.$oldIdent to rename")
    require(opt(newIdent, "path").isEmpty,
      s"table $catName.$newIdent already exists")
    val conf = SparkSession.active.conf
    Seq("path", "keys", "mergeSchema", "readChangeFeed", "trackCols",
      "startVersion", "keyFilter").foreach { leaf =>
      opt(oldIdent, leaf).foreach { v =>
        conf.set(confKey(newIdent, leaf), v)
        conf.unset(confKey(oldIdent, leaf))
      }
    }
  }

  /** The supported ALTER verbs, each landed as what it IS in this
    * format — metadata, never a data rewrite:
    *  - `ADD COLUMNS (c TYPE, …)` — a single empty schema-bearing
    *    commit ([[Changelog.commitAddColumns]], the q143/q185 law at
    *    the DDL surface) plus flipping the registration's
    *    `mergeSchema` on so by-name reads fold the union
    *    (pre-evolution rows null-fill; the log itself also forces the
    *    union read from its own history, so a fresh registration
    *    cannot lose the columns).
    *  - `RENAME COLUMN a TO b` / `DROP COLUMN c` — column MAPPING
    *    ([[Changelog.commitRenameColumn]]/[[Changelog.commitDropColumn]],
    *    Delta's columnMapping discipline): one empty commit + one
    *    mapping marker; pinned footers below keep their physical
    *    names, time travel below the change sees the old shape, and
    *    no byte of data moves at any scale. Key columns refuse (the
    *    key set lives in the registration, not the log).
    * History is never rewritten. Everything else (retype /
    * comment-on-column / positioning / properties) refuses loudly:
    * a type change rewrites the schema out from under the pinned
    * commit footers — that is a NEW table.
    */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val opts = baseOpts(ident)
    require(!opts.readChangeFeed,
      s"ALTER TABLE on $catName.$ident — it is a registered FEED; " +
        "evolve the underlying table, the feed follows")
    val spark = SparkSession.active
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    val renames = changes.collect {
      case r: TableChange.RenameColumn => r }
    val drops = changes.collect { case d: TableChange.DeleteColumn => d }
    val addCs = changes.collect {
      case c: TableChange.AddConstraint => c }
    val dropCs = changes.collect {
      case c: TableChange.DropConstraint => c }
    changes.foreach {
      case _: TableChange.AddColumn | _: TableChange.RenameColumn |
           _: TableChange.DeleteColumn | _: TableChange.AddConstraint |
           _: TableChange.DropConstraint => ()
      case other =>
        throw new UnsupportedOperationException(
          s"ALTER TABLE $catName.$ident: only ADD COLUMNS / RENAME " +
            s"COLUMN / DROP COLUMN / ADD CONSTRAINT … CHECK / DROP " +
            s"CONSTRAINT are supported — " +
            s"${other.getClass.getSimpleName} would rewrite the " +
            "schema out from under the pinned commit footers (a " +
            "retype is a NEW table; land a fresh log and backfill)")
    }
    // DROP COLUMN IF EXISTS on a missing column arrives as an EMPTY
    // change list (Spark resolves the IF EXISTS at analysis) — a
    // clean no-op, no commit
    if (changes.isEmpty) return loadTable(ident)
    require(Seq(adds, renames, drops, addCs, dropCs)
        .count(_.nonEmpty) == 1,
      s"ALTER TABLE $catName.$ident: one schema verb per statement")
    if (addCs.nonEmpty) {
      require(addCs.length == 1,
        s"ALTER TABLE $catName.$ident: one ADD CONSTRAINT per statement")
      addCs.head.constraint() match {
        case chk: org.apache.spark.sql.connector.catalog.constraints.Check =>
          require(chk.predicateSql() != null &&
            chk.predicateSql().trim.nonEmpty,
            s"ADD CONSTRAINT ${chk.name()}: no predicate SQL")
          // AddCheckConstraintExec already validated existing rows
          // against the resolved snapshot plan (status VALID);
          // revalidate only when the status says otherwise
          Changelog.addCheckConstraint(spark, opts.path, opts.keys,
            chk.name(), chk.predicateSql(),
            validated = chk.validationStatus() ==
              org.apache.spark.sql.connector.catalog.constraints
                .Constraint.ValidationStatus.VALID)
        case other =>
          throw new UnsupportedOperationException(
            s"ALTER TABLE $catName.$ident ADD CONSTRAINT " +
              s"${other.name()}: only CHECK constraints are " +
              "enforceable on a changelog (PRIMARY KEY/UNIQUE/" +
              "FOREIGN KEY are informational in every lakehouse " +
              "format and the key set already lives in the " +
              "registration)")
      }
    } else if (dropCs.nonEmpty) {
      require(dropCs.length == 1,
        s"ALTER TABLE $catName.$ident: one DROP CONSTRAINT per statement")
      val d = dropCs.head
      val missing = !Changelog.checkConstraints(opts.path)
        .contains(d.name())
      if (!(d.ifExists() && missing))
        Changelog.dropCheckConstraint(spark, opts.path, d.name())
    } else if (adds.nonEmpty) {
      val fields = adds.map { a =>
        require(a.fieldNames().length == 1,
          s"ADD COLUMNS ${a.fieldNames().mkString(".")} — only " +
            "TOP-LEVEL columns can be added; evolving a nested struct " +
            "retypes an existing column, which is a new table")
        require(a.isNullable,
          s"ADD COLUMNS ${a.fieldNames().head} NOT NULL — added " +
            "columns must be nullable; every pre-evolution row " +
            "null-fills them")
        require(a.position() == null,
          s"ADD COLUMNS ${a.fieldNames().head} FIRST/AFTER — new " +
            "columns append at the end; positioning is presentation, " +
            "reorder in the SELECT")
        require(a.defaultValue() == null,
          s"ADD COLUMNS ${a.fieldNames().head} DEFAULT — the log has " +
            "no default-value metadata; pre-evolution rows read NULL")
        org.apache.spark.sql.types.StructField(
          a.fieldNames().head, a.dataType(), nullable = true)
      }
      Changelog.commitAddColumns(spark, opts.path, fields)
      SQLConf.get.setConfString(confKey(ident, "mergeSchema"), "true")
    } else if (renames.nonEmpty) {
      require(renames.length == 1,
        s"ALTER TABLE $catName.$ident: one RENAME COLUMN per statement")
      val r = renames.head
      require(r.fieldNames().length == 1,
        s"RENAME COLUMN ${r.fieldNames().mkString(".")} — only " +
          "TOP-LEVEL columns rename (a nested rename retypes the " +
          "parent struct, which is a new table)")
      Changelog.commitRenameColumn(spark, opts.path, opts.keys,
        r.fieldNames().head, r.newName())
    } else {
      drops.foreach { dd =>
        require(dd.fieldNames().length == 1,
          s"DROP COLUMN ${dd.fieldNames().mkString(".")} — only " +
            "TOP-LEVEL columns drop (a nested drop retypes the " +
            "parent struct, which is a new table)")
        val name = dd.fieldNames().head
        // IF EXISTS skips a missing column — but ONLY a missing one:
        // key/reserved refusals must still surface loudly
        val missing = !Changelog.logicalColumns(spark, opts.path)
          .exists(_.equalsIgnoreCase(name))
        if (!(dd.ifExists() && missing))
          Changelog.commitDropColumn(spark, opts.path, opts.keys, name)
      }
    }
    loadTable(ident)
  }
}

object GraftLogCatalog {

  /** The commit-log metadata child (`cat.t.history`): schema =
    * [[Changelog.HistorySchema]]; rows recomputed at every scan build
    * from the markers, so the history a query reads is current AT THE
    * QUERY, not at registration.
    */
  private[graft] class HistoryTable(path: String, parentName: String)
      extends Table
      with org.apache.spark.sql.connector.catalog.SupportsRead {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.connector.catalog.TableCapability
    import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}

    override def name(): String = s"$parentName.history"
    override def schema(): StructType = Changelog.HistorySchema
    override def capabilities(): util.Set[TableCapability] =
      Set(TableCapability.BATCH_READ).asJava

    override def newScanBuilder(
        options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder {
        override def build(): Scan = new LocalScan {
          override def readSchema(): StructType = Changelog.HistorySchema
          override def description(): String =
            s"graft_log history over $path (driver-side metadata)"
          // executeCollect gives the InternalRow form of the exact
          // describeHistory frame — one metadata listing, no job
          override def rows()
              : Array[org.apache.spark.sql.catalyst.InternalRow] =
            Changelog.describeHistory(SparkSession.active, path)
              .queryExecution.executedPlan.executeCollect()
        }
      }
  }

  /** The table-facts metadata child (`cat.t.detail` — Delta's
    * DESCRIBE DETAIL ergonomics): one row of physical coordinates,
    * shape, head/horizon, commit/base/file counts + bytes, and the
    * evolution state; recomputed at every scan build, served through
    * a LocalScan like the history child (driver-listable metadata,
    * never a distributed scan pretending otherwise).
    */
  private[graft] class DetailTable(path: String, keys: Seq[String],
                                   parentName: String)
      extends Table
      with org.apache.spark.sql.connector.catalog.SupportsRead {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.connector.catalog.TableCapability
    import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}

    override def name(): String = s"$parentName.detail"
    override def schema(): StructType = Changelog.DetailSchema
    override def capabilities(): util.Set[TableCapability] =
      Set(TableCapability.BATCH_READ).asJava

    override def newScanBuilder(
        options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder {
        override def build(): Scan = new LocalScan {
          override def readSchema(): StructType = Changelog.DetailSchema
          override def description(): String =
            s"graft_log detail over $path (driver-side metadata)"
          override def rows()
              : Array[org.apache.spark.sql.catalyst.InternalRow] =
            Changelog.describeDetail(SparkSession.active, path, keys)
              .queryExecution.executedPlan.executeCollect()
        }
      }
  }

  /** Session-conf registration of catalog `cat` and table `name` over
    * the log at `path` — after this, `SELECT … FROM cat.name [VERSION
    * AS OF v | TIMESTAMP AS OF t]` resolves through the engine.
    * Idempotent; re-registration re-points the name.
    */
  def register(spark: SparkSession, cat: String, name: String,
               path: String, keys: Seq[String],
               mergeSchema: Boolean = false): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftLogCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.log.$name.path", path)
    spark.conf.set(s"spark.sql.catalog.$cat.log.$name.keys",
      keys.mkString(","))
    if (mergeSchema)
      spark.conf.set(s"spark.sql.catalog.$cat.log.$name.mergeSchema", "true")
  }

  /** Register `name` as a CHANGE FEED table over the ops log at
    * `path`: `SELECT … FROM cat.name` serves the batch feed window
    * (`startVersion`, head], and `spark.readStream.table("cat.name")`
    * serves the live CDC stream from the same coordinate — one table
    * identity, both surfaces (admission knobs ride as READER options:
    * maxCommitsPerTrigger / maxRowsPerTrigger / maxBytesPerTrigger).
    * `startVersion` defaults to the log's checkpoint horizon (else
    * the full history); `keyFilter` carves a tenant slice.
    */
  def registerFeed(spark: SparkSession, cat: String, name: String,
                   path: String, keys: Seq[String],
                   trackCols: Seq[String],
                   startVersion: Option[Long] = None,
                   keyFilter: Option[String] = None): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftLogCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.log.$name.path", path)
    spark.conf.set(s"spark.sql.catalog.$cat.log.$name.keys",
      keys.mkString(","))
    spark.conf.set(s"spark.sql.catalog.$cat.log.$name.readChangeFeed",
      "true")
    spark.conf.set(s"spark.sql.catalog.$cat.log.$name.trackCols",
      trackCols.mkString(","))
    startVersion.foreach(v => spark.conf.set(
      s"spark.sql.catalog.$cat.log.$name.startVersion", v.toString))
    keyFilter.foreach(f => spark.conf.set(
      s"spark.sql.catalog.$cat.log.$name.keyFilter", f))
  }
}
