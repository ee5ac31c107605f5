package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.streaming.CdcSource

/** The changelog as a FULL DSv2 TABLE — the ergonomics every lakehouse
  * format ships, batch and streaming, read and write:
  *
  * {{{
  * spark.read.format(classOf[GraftLog].getName)
  *   .option("path", dir).option("keys", "o_orderkey")
  *   .option("versionAsOf", 2)            // or timestampAsOf (millis)
  *   .load()
  * // change feed:
  *   .option("readChangeFeed", "true")
  *   .option("startingVersion", 0).option("endingVersion", 2)
  *   .option("trackCols", "o_totalprice")
  * }}}
  *
  * instead of calling [[Changelog.snapshotAt]] / [[Changelog.snapshotAsOf]]
  * / [[Changelog.changesBetween]] as a library. [[GraftLogCatalog]]
  * adds the catalog half — `SELECT … FROM cat.t VERSION AS OF v` /
  * `TIMESTAMP AS OF t`, the `cat.t.history` metadata child, feed
  * tables that also serve `spark.readStream.table` (MICRO_BATCH_READ
  * delegating to [[graft.streaming.CdcSource]]), and maintenance as
  * `CALL cat.system.<verb>` procedures. The SQL DML verb set is
  * complete on this class: INSERT INTO (AppendBatchWrite below),
  * DELETE FROM (SupportsDelete with a sound V2 translator), TRUNCATE
  * (the inherited tombstone-everything default), and UPDATE / MERGE
  * INTO through the delta-based row-level-operation contract
  * ([[GraftRowLevel]] — serializable, first-committer-wins).
  *
  * Resolution is THE ENGINE'S OWN PLANS, not a reimplementation: the
  * relation this provider returns is replaced at optimization time
  * (graft.plans.ResolveGraftLog, a pre-CBO rule injected by
  * `spark.sql.extensions=graft.plans.GraftExtensions`) with the exact
  * logical plan the library call would build — a merge-on-read table
  * format's snapshot is a per-key LWW compaction, which no per-partition
  * DSv2 scan can serve alone, so the table IS its plan (the same reason
  * Delta resolves through a rule rather than a row-serving scan). Three
  * consequences:
  *  - EXPLAIN shows the real physical plan — the `_commit <= v`
  *    partition filters, the base-floor pruning, the top-1 window
  *    compaction;
  *  - a filter the user stacks on top participates in Catalyst's
  *    ordinary pushdown into the underlying parquet scans;
  *  - eq/range filters on KEY columns are recognized by the rule and
  *    routed through [[Changelog.lookup]] — the commit-stats
  *    file index then prunes whole commit directories DRIVER-SIDE
  *    before any footer opens, and the pruning is visible structurally:
  *    `df.inputFiles` lists only admitted `_commit=` directories
  *    (q215's plan proof; spec-pinned in GraftLogTableSpec).
  *
  * The shape (plain vs ops) is sniffed from one footer, like the write
  * guard; `mergeSchema=true` routes through the evolved read. "Latest"
  * (no versionAsOf/timestampAsOf) pins the head AT LOAD TIME — the
  * table a query planned against stays the table it reads, even if
  * commits land before the action runs. `timestampAsOf` is epoch
  * MILLIS, the unit [[Changelog.stampCommit]] records ([[GraftLogCatalog]]
  * converts Spark's SQL micros). All reads inherit the library guards:
  * below-horizon versions, unstamped commits, and empty feed windows
  * fail loudly.
  */
class GraftLog extends TableProvider {

  // ONE LogTable per load(): inferSchema and getTable are called back to
  // back on the same provider instance with the same options, and each
  // LogTable construction sniffs a footer, lists the head, and resolves
  // the full library plan — but more importantly, a commit landing
  // BETWEEN two constructions would let the inferred schema and the
  // pinned version come from DIFFERENT heads, weakening the
  // pinned-at-load contract. Cache keyed by the parsed options.
  @volatile private var cached: Option[(GraftLog.Opts, GraftLog.LogTable)] =
    None

  private def tableFor(opts: GraftLog.Opts): GraftLog.LogTable =
    cached match {
      case Some((o, t)) if o == opts => t
      case _ =>
        val t = new GraftLog.LogTable(opts)
        cached = Some((opts, t))
        t
    }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    tableFor(GraftLog.Opts(options)).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    tableFor(GraftLog.Opts(new CaseInsensitiveStringMap(properties)))
}

object GraftLog {

  private[graft] case class Opts(path: String, keys: Seq[String],
                                 versionAsOf: Option[Long],
                                 timestampAsOfMillis: Option[Long],
                                 readChangeFeed: Boolean,
                                 startingVersion: Option[Long],
                                 endingVersion: Option[Long],
                                 trackCols: Seq[String],
                                 keyFilter: Option[String],
                                 mergeSchema: Boolean)

  private[graft] object Opts {
    def apply(o: CaseInsensitiveStringMap): Opts = {
      val path = o.get("path")
      require(path != null, "GraftLog needs option 'path' (the log dir)")
      val keys = Option(o.get("keys")).map(_.split(",").map(_.trim)
        .filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
      require(keys.nonEmpty,
        "GraftLog needs option 'keys' (comma-separated key columns — " +
          "the LWW compaction and the feed are keyed)")
      val feed = Option(o.get("readChangeFeed")).exists(_.toBoolean)
      val opts = Opts(path, keys,
        Option(o.get("versionAsOf")).map(_.toLong),
        Option(o.get("timestampAsOf")).map(_.toLong),
        feed,
        Option(o.get("startingVersion")).map(_.toLong),
        Option(o.get("endingVersion")).map(_.toLong),
        Option(o.get("trackCols")).map(_.split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq).getOrElse(Seq.empty),
        Option(o.get("keyFilter")).map(_.trim).filter(_.nonEmpty),
        Option(o.get("mergeSchema")).exists(_.toBoolean))
      require(opts.versionAsOf.isEmpty || opts.timestampAsOfMillis.isEmpty,
        "versionAsOf and timestampAsOf are mutually exclusive — one " +
          "read addresses the log by exactly one coordinate")
      if (feed) {
        require(opts.startingVersion.nonEmpty,
          "readChangeFeed needs option 'startingVersion' (the feed is " +
            "the window (startingVersion, endingVersion])")
        require(opts.trackCols.nonEmpty,
          "readChangeFeed needs option 'trackCols' (the columns the " +
            "diff tracks — the old_/new_ pairs of the feed)")
      } else {
        require(opts.startingVersion.isEmpty && opts.endingVersion.isEmpty,
          "startingVersion/endingVersion apply only with " +
            "readChangeFeed=true")
        require(opts.keyFilter.isEmpty,
          "keyFilter applies only with readChangeFeed=true (snapshot " +
            "reads take ordinary filters, which the extension rule " +
            "routes through the stats-skipping lookup)")
      }
      opts
    }
  }

  /** The changelog table: schema and resolution pinned AT CONSTRUCTION
    * (one footer sniff + one lazy library plan). The scan builder is
    * deliberately unreachable — ResolveGraftLog replaces the relation
    * before any scan is built; reaching it means the extension is not
    * installed, and the error says exactly that.
    */
  private[graft] class LogTable(rawOpts: Opts) extends Table
      with SupportsRead with SupportsWrite with SupportsDelete
      with SupportsRowLevelOperations {

    private val spark = SparkSession.active

    /** The one root listing every load-time pin below reads. */
    private val loaded = Changelog.Listing.of(rawOpts.path)

    /** The load-time options with evolution NORMALIZED IN: a log whose
      * history holds an `add_columns` commit reads through the union
      * (mergeSchema) path whether or not the registration remembered
      * to say so — otherwise a fresh session re-registering the table
      * (register() defaults mergeSchema=false) would let Spark infer
      * the schema from an arbitrary pre-evolution footer and the added
      * columns would silently vanish. The log itself is the source of
      * truth for its own shape; the explicit flag remains an opt-in
      * for logs evolved by out-of-band writers. Feed reads keep their
      * options as-is (the feed path has no mergeSchema coordinate).
      */
    val opts: Opts =
      if (rawOpts.readChangeFeed || rawOpts.mergeSchema) rawOpts
      else rawOpts.copy(
        mergeSchema = Changelog.isEvolvedLog(loaded))

    /** Ops vs plain, sniffed once from a footer (the write guard's
      * probe) — routes the WRITE surface (INSERT's verb, the DELETE /
      * UPDATE / MERGE and streaming guards) and the ops-only
      * stats-skipping lookup. The snapshot and feed read the shape
      * from their own scan, so a plain read never pays this probe.
      */
    lazy val opsShape: Boolean = Changelog.isOpsLog(opts.path)

    /** The read's version coordinate, pinned at load: explicit
      * version, resolved timestamp, or the head as listed NOW.
      */
    val pinnedVersion: Long = opts.versionAsOf
      .orElse(opts.timestampAsOfMillis.map(
        Changelog.versionAtTimestamp(loaded, _)))
      .getOrElse(loaded.head.getOrElse(
        throw new IllegalArgumentException(
          s"${opts.path} has no commits — nothing to read")))

    /** Feed end, pinned at load like the snapshot version. */
    val pinnedEnd: Long =
      opts.endingVersion.getOrElse(loaded.head.getOrElse(-1L))

    /** The column mapping (RENAME/DROP COLUMN metadata) in force at
      * the pinned read coordinate, resolved ONCE at load like the
      * version itself — snapshot reads project physical names to
      * logical through it, so time travel below a rename serves the
      * old names. FEED reads map too — tracked columns translate
      * logical→physical for the diff and the old_/new_ outputs
      * surface the logical names — but ONLY when the mapping is
      * STABLE across the window: a mapping commit strictly inside
      * (start, end] means the same physical column answered to two
      * names within one window, and the feed refuses loudly rather
      * than pick one. The probe runs whenever ANY mapping marker sits
      * inside the window — including when the end-of-window mapping
      * is EMPTY (a rename followed by a rename-back-to-birth-name
      * still changed the names mid-window; serving physical names as
      * if nothing happened would silently skip the law). A STREAM
      * restarting from its checkpoint trips this too when its
      * original `startingVersion` now sits below a mapping commit —
      * bump the option to at/after the mapping commit (only the
      * first run ever reads it; the checkpointed offset governs the
      * resume).
      */
    val pinnedMapping: Option[Changelog.ColumnMapping] =
      if (opts.readChangeFeed) {
        val start = opts.startingVersion.get
        require(!Changelog.mappingMovedIn(loaded, start, pinnedEnd),
          s"${opts.path}: the column mapping changed INSIDE the " +
            s"feed window ($start, $pinnedEnd] — old_/new_ names " +
            "would be ambiguous across the window; split the " +
            "window at the mapping commit (for a restarting stream: " +
            "set startingVersion at/after it — the checkpointed " +
            "offset governs the resume)")
        val m = Changelog.mappingAt(loaded, pinnedEnd).filterNot(_.isEmpty)
        // a logically-DROPPED column has no feed: tracking it would
        // resurrect deleted data from pre-drop footers
        m.foreach { mm =>
          opts.trackCols.foreach { c =>
            require(!mm.dropped.contains(mm.physicalOf(c)),
              s"trackCols names '$c' — a DROPPED column of the " +
                s"mapped log at ${opts.path}; the feed serves live " +
                "logical columns only")
          }
        }
        m
      } else Changelog.mappingAt(loaded, pinnedVersion).filterNot(_.isEmpty)

    /** Feed tracked columns in PHYSICAL space (the diff runs over the
      * footers' names) and the output rename back to logical.
      */
    private def physTrackCols: Seq[String] =
      pinnedMapping.fold(opts.trackCols)(m =>
        opts.trackCols.map(m.physicalOf))

    private def mapFeedNames(df: DataFrame): DataFrame =
      pinnedMapping.fold(df) { m =>
        df.select(df.columns.map { c =>
          val logical =
            if (c.startsWith("old_"))
              "old_" + m.logicalOf(c.stripPrefix("old_"))
            else if (c.startsWith("new_"))
              "new_" + m.logicalOf(c.stripPrefix("new_"))
            else c
          org.apache.spark.sql.functions.col(c).as(logical)
        }.toIndexedSeq: _*)
      }

    /** The library plan this table IS — what ResolveGraftLog splices
      * into the query (lazy: schema needs it at load; the rule reuses
      * the same analyzed tree for the FIRST splice site).
      */
    lazy val resolved: DataFrame = buildResolved

    /** Re-derive the library plan with a FRESH analysis — fresh exprIds
      * throughout. The rule uses this for the second and later splice
      * sites of ONE LogTable instance in one query (df.join(df, ...), a
      * union of two reads of the same loaded df): splicing the memoized
      * tree twice would put duplicate attribute ids on sibling legs,
      * which nothing after analysis ever deduplicates. Deterministic:
      * the version coordinates are pinned vals, so every rebuild plans
      * the same snapshot/feed window.
      */
    private[graft] def freshResolved: DataFrame = buildResolved

    private def buildResolved: DataFrame =
      if (opts.readChangeFeed)
        mapFeedNames(
          Changelog.changesBetween(spark, opts.path, opts.keys,
            opts.startingVersion.get, pinnedEnd, physTrackCols,
            opts.keyFilter))
      else
        Changelog.applyMapping(
          Changelog.snapshotAt(spark, opts.path, opts.keys, pinnedVersion,
            opts.mergeSchema),
          pinnedMapping)

    override def name(): String = {
      val coord =
        if (opts.readChangeFeed)
          s"changes (${opts.startingVersion.get}, $pinnedEnd]"
        else s"version $pinnedVersion"
      s"graft_log(${opts.path} @ $coord)"
    }

    /** Surfaced by `SHOW TBLPROPERTIES cat.t` / `DESCRIBE TABLE
      * EXTENDED`: the table's physical coordinates and pinned read
      * version — operator-facing metadata, derived (never a second
      * source of truth: the conf registration and the log's own
      * markers stay authoritative).
      */
    override def properties(): util.Map[String, String] = {
      val cs = if (opts.readChangeFeed) Map.empty[String, String]
        else {
          val declared = Changelog.checkConstraints(opts.path)
          if (declared.isEmpty) Map.empty[String, String]
          else Map("checkConstraints" -> declared.toSeq.sortBy(_._1)
            .map { case (n, sql) => s"$n: CHECK ($sql)" }
            .mkString("; "))
        }
      val base = Map(
        "path" -> opts.path,
        "keys" -> opts.keys.mkString(","),
        "shape" -> (if (opsShape) "ops" else "plain"),
        "surface" -> (if (opts.readChangeFeed) "changeFeed"
                      else "snapshot")) ++ cs
      val coord =
        if (opts.readChangeFeed)
          Map("startingVersion" -> opts.startingVersion.get.toString,
            "endingVersion" -> pinnedEnd.toString,
            "trackCols" -> opts.trackCols.mkString(","))
        else Map("pinnedVersion" -> pinnedVersion.toString)
      (base ++ coord).asJava
    }

    /** The log's CHECK constraints surfaced through the DSv2 contract
      * — Spark's OWN analyzer rule (ResolveTableConstraints) then
      * injects the CheckInvariant guard into every SQL write
      * (INSERT / UPDATE / MERGE / df.writeTo), so the enforced-
      * constraint discipline needs no engine-side hook on those
      * paths. Always enforced, always validated (ADD CONSTRAINT
      * validates existing rows before landing). Feed tables carry
      * none (a derived read surface).
      */
    override def constraints()
        : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
      if (opts.readChangeFeed) Array.empty
      else Changelog.checkConstraints(opts.path).toSeq.sortBy(_._1)
        .map { case (n, sql) =>
          org.apache.spark.sql.connector.catalog.constraints.Constraint
            .check(n).predicateSql(sql).enforced(true)
            .validationStatus(org.apache.spark.sql.connector.catalog
              .constraints.Constraint.ValidationStatus.VALID)
            .build()
            : org.apache.spark.sql.connector.catalog.constraints.Constraint
        }.toArray

    /** The table schema — the resolved plan's, with KEY columns marked
      * non-nullable on snapshot reads: a key is the log's row identity
      * (the LWW compaction groups by it; a null key has no meaning in
      * any verb), and the row-level-operation contract requires a
      * non-nullable row id (`RewriteRowLevelCommand.resolveRowIdAttrs`
      * refuses nullable ids — correctly, since a delta op must name
      * the row it rewrites). Feed reads keep the plan's nullability
      * as-is (the feed is a derived projection, not a write target).
      */
    override def schema(): StructType =
      if (opts.readChangeFeed) resolved.schema
      else StructType(resolved.schema.fields.map(f =>
        if (opts.keys.contains(f.name)) f.copy(nullable = false) else f))

    /** Every table streams: `spark.readStream.table("glog.t")` (or
      * `readStream.format(GraftLog)`) delegates to [[graft.streaming
      * .CdcSource]]'s micro-batch stream — one table identity, both
      * surfaces, offsets are commit ids, admission budgets ride as
      * reader options. A FEED table streams the full-label change
      * feed; a SNAPSHOT table streams its own UPSERTED ROW VALUES
      * (each commit's effective inserts/updates in the table's shape —
      * the stream a downstream materializer consumes; tombstones are
      * not row-shaped, so deletes ride the feed, never the table
      * stream — stated here, enforced in the scan, spec-pinned).
      */
    // AUTOMATIC_SCHEMA_EVOLUTION opts the snapshot table into Spark's
    // `MERGE WITH SCHEMA EVOLUTION` resolution: the analyzer computes
    // the source-only columns and drives them through the catalog's
    // alterTable — i.e. the same ONE evolved schema-bearing commit the
    // ALTER verb lands — then reloads the relation, so the statement's
    // inserts carry the new columns and matched updates null-fill
    // them. Without the WITH clause, a source carrying new columns
    // keeps refusing at resolution (nothing evolves silently).
    override def capabilities(): util.Set[TableCapability] =
      (if (opts.readChangeFeed)
        Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
      else Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
        TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE,
        TableCapability.AUTOMATIC_SCHEMA_EVOLUTION))
        .asJava

    // A scan whose BATCH side is a stub: batch read positions never
    // reach it (the pre-CBO rule replaces the relation before scan
    // planning), but SQL DELETE's planner pattern-matches a
    // ScanRelation around the TARGET table even though only
    // deleteWhere ever runs — so scan CONSTRUCTION must succeed and
    // batch EXECUTION is the loud path (a read on a session without
    // the extension fails here, naming the fix). The STREAMING side is
    // real: feed-mode tables serve the CDC micro-batch stream, with
    // per-query knobs (admission budgets, tenant slice) taken from the
    // READER options handed to this builder.
    override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder {
        override def build(): org.apache.spark.sql.connector.read.Scan =
          new org.apache.spark.sql.connector.read.Scan {
            override def readSchema(): StructType = LogTable.this.schema()
            override def description(): String =
              s"graft_log scan over ${opts.path} (batch: resolved by " +
                "the extension rule; streaming: the CDC feed)"
            override def toBatch:
                org.apache.spark.sql.connector.read.Batch =
              throw new IllegalStateException(
                "GraftLog relations are resolved by the graft extension " +
                  "rule (the snapshot is a keyed merge-on-read plan, " +
                  "not a row-serving scan) — build the session with " +
                  "spark.sql.extensions=graft.plans.GraftExtensions")
            override def toMicroBatchStream(checkpointLocation: String)
                : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
              require(opts.endingVersion.isEmpty,
                "a stream is unbounded — endingVersion is a " +
                  "batch-window option")
              require(opsShape,
                s"${opts.path} is a PLAIN (append-only) log — the " +
                  "streaming surfaces ride the ops shape (the " +
                  "per-commit diff the CDC source computes is keyed)")
              // BOTH streams of a mapped log work — the table's own
              // stream AND the feed stream: the diff runs over
              // physical names, the outputs surface the logical
              // names, and the mapping is pinned per run (a
              // fingerprint re-checked per planned batch — drift
              // fails the batch loudly, restart re-pins; historical
              // mapping commits become batch boundaries in the
              // source, so no served window ever mixes name-epochs)
              val streamMapping = Changelog.currentMapping(opts.path)
                .filterNot(_.isEmpty)
              def num(k: String): Option[Long] =
                Option(o.get(k)).map(_.toLong)
              // the stream's START COORDINATE as reader options:
              // `startingVersion` (exclusive — the window begins
              // after it) or `startingTimestamp` (epoch millis — the
              // first served commit is the first one stamped at/after
              // the instant, Delta's semantics); either overrides a
              // feed registration's default. Only the FIRST run reads
              // it — a restart resumes from the checkpointed offset.
              val fromVersion = num("startingVersion")
              val fromTs = num("startingTimestamp").map(
                Changelog.versionBeforeTimestamp(opts.path, _))
              require(fromVersion.isEmpty || fromTs.isEmpty,
                "startingVersion and startingTimestamp are mutually " +
                  "exclusive reader options")
              val base = CdcSource.Opts(opts.path, opts.keys,
                trackCols = opts.trackCols,
                startVersion = fromVersion.orElse(fromTs)
                  .orElse(opts.startingVersion),
                maxCommitsPerTrigger = num("maxCommitsPerTrigger"),
                columns = None,
                keyFilter = opts.keyFilter,
                maxRowsPerTrigger = num("maxRowsPerTrigger"),
                maxBytesPerTrigger = num("maxBytesPerTrigger"),
                logicalBy = streamMapping.fold(
                  Map.empty[String, String])(_.renames),
                mappingPin = streamMapping.map(_ =>
                  Changelog.mappingFingerprint(opts.path)))
              val streamOpts =
                if (opts.readChangeFeed)
                  // the FEED stream of a mapped log: tracked columns
                  // translate logical→physical for the diff, the
                  // spool renames its old_/new_ outputs back to
                  // logical, and the pin fails a batch planned after
                  // the mapping moved
                  base.copy(
                    trackCols = streamMapping.fold(opts.trackCols)(m =>
                      opts.trackCols.map(m.physicalOf)))
                else {
                  // the SNAPSHOT table's own stream: upserted row
                  // values, table-shaped — every non-key column is a
                  // tracked column, and the types must ride the spool
                  val schemaHere = LogTable.this.schema()
                  schemaHere.fields.foreach { f =>
                    require(graft.streaming.LogSink.supportedType(
                      f.dataType),
                      s"table column ${f.name} has type ${f.dataType} " +
                        "— outside the streaming spool's type surface")
                  }
                  // tracked columns in PHYSICAL space (the diff runs
                  // over the footers' names); the spool renames its
                  // table-shaped output back to logical via logicalBy
                  val logicalTracked = schemaHere.fieldNames.toSeq
                    .filterNot(opts.keys.contains)
                  base.copy(
                    trackCols = streamMapping.fold(logicalTracked)(m =>
                      logicalTracked.map(m.physicalOf)),
                    tableShape = true)
                }
              CdcSource.microBatchStream(LogTable.this.schema(),
                streamOpts, checkpointLocation)
            }
          }
      }

    // ---- SQL DML: INSERT INTO ----------------------------------------
    //
    // An INSERT into a keyed LWW table IS an upsert: the appended rows
    // carry the table's (snapshot) schema, land as ONE new commit at
    // the next free id (OCC-claimed, so concurrent writers arbitrate),
    // and the per-key compaction serves the latest version — Delta's
    // append semantics on this log's discipline. Ops logs get the
    // constant `_op = 'u'` staged alongside (the table schema has no op
    // column to carry); executors stage files exactly like the
    // streaming sink, and the driver commit renames them into the
    // claimed `_commit=<id>` directory. INSERT OVERWRITE is NOT a
    // write path here — rollback is `restoreOps`, erasure is the
    // checkpoint. SQL TRUNCATE TABLE rides SupportsDelete's inherited
    // truncateTable() default → deleteWhere(always-true) → ONE
    // tombstone-everything commit: append-shaped, so history below it
    // stays readable (spec-pinned in GraftLogTableSpec).

    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
      require(!opts.readChangeFeed,
        "the change feed is a derived read surface — INSERT into the " +
          "log's table, not its feed")
      val multiWriter = Option(info.options().get("multiWriter"))
        .exists(_.toBoolean)
      val explicitWriter = Option(info.options().get("writer"))
      val writer = explicitWriter
        .getOrElse(if (multiWriter) s"q_${info.queryId()}"
                   else Changelog.SoloWriter)
      // Delta's txnAppId/txnVersion discipline for BATCH appends:
      // `.option("writer", app).option("txnVersion", n)` makes the
      // append IDEMPOTENT — a replayed (writer, txnVersion) SKIPS
      // (drops its staged files) instead of appending twice, exactly
      // Delta's already-recorded-version contract. The marker is
      // claimed exclusively BEFORE any commit id, so a concurrent
      // duplicate submission loses the marker race and skips too.
      // (One marker per txn; swept below checkpoint horizons like
      // epoch markers, so replays must not reach back past
      // maintenance horizons.)
      val txnVersion = Option(info.options().get("txnVersion"))
        .map(_.toLong)
      require(txnVersion.isEmpty || explicitWriter.isDefined,
        "txnVersion needs an explicit 'writer' option — the pair " +
          "(writer, txnVersion) is the transaction's identity")
      // the txn map marker's NAME embeds the writer id — bound it to
      // filename-safe characters (the commitInfo discipline: reject at
      // write time, never corrupt a marker)
      if (txnVersion.isDefined)
        require(writer.matches("[A-Za-z0-9._-]+"),
          s"writer id '$writer' for a txn append must use only " +
            "[A-Za-z0-9._-] — it names the on-disk txn marker")
      // SupportsStreamingUpdateAsAppend: an UPDATE-mode streaming
      // aggregation's changed groups land as ordinary upserts — on a
      // keyed LWW table that is exactly the declarative-MV semantics
      // (the LogSink discipline, reached through the table NAME)
      new WriteBuilder
          with org.apache.spark.sql.internal.connector
            .SupportsStreamingUpdateAsAppend {
        override def build(): Write = new Write {
          // a mapped log stages its files under PHYSICAL names: the
          // statement resolved against the logical schema, and the
          // rows are positional — only the staged field names change
          override def toBatch: BatchWrite =
            new AppendBatchWrite(opts.path, writer,
              Changelog.toPhysicalSchema(info.schema(),
                Changelog.currentMapping(opts.path)),
              opsShape, s"insert_${info.queryId()}", txnVersion)
          // `writeStream.toTable("glog.t")`: every epoch is ONE commit
          // of table-shaped UPSERTS — the streaming spelling of INSERT
          // INTO, with the sink's exactly-once epoch discipline (base
          // marker / per-epoch claim under multiWriter) and the same
          // planning-time guards as the batch leg
          override def toStreaming: org.apache.spark.sql.connector
              .write.streaming.StreamingWrite = {
            val s = info.schema()
            require(!s.fieldNames.contains(Changelog.CommitCol),
              s"streaming input carries the reserved " +
                s"${Changelog.CommitCol} column — the epoch claim " +
                "assigns the commit id")
            require(!s.fieldNames.contains(Changelog.OpCol),
              s"streaming input carries ${Changelog.OpCol} — the " +
                "table's schema is the snapshot shape; every streamed " +
                "row is an upsert (per-op feeds ride the LogSink " +
                "format directly)")
            s.fields.foreach { f =>
              require(graft.streaming.LogSink.supportedType(f.dataType),
                s"streamed column ${f.name} has type ${f.dataType} — " +
                  "outside the staged parquet writer's type surface")
            }
            // a mapped log's stream stages PHYSICAL names, exactly
            // like the batch leg: the plan resolved against the
            // logical schema, rows are positional, only the staged
            // field names change
            new graft.streaming.LogSink.LogStreamingWrite(opts.path,
              writer,
              Changelog.toPhysicalSchema(s,
                Changelog.currentMapping(opts.path)),
              info.queryId(), multiWriter,
              constantOp = if (opsShape) Some("u") else None)
          }
        }
      }
    }

    // ---- SQL DML: UPDATE / MERGE INTO (and the row-level DELETE leg) --
    //
    // The DSv2 row-level-operation contract, delta-based: Spark's own
    // analysis rewrites derive the matched rows (reading the head
    // snapshot through the operation's spooled scan) and this table
    // lands the per-row verbs as ONE OCC-claimed changelog commit —
    // upserts for UPDATE/INSERT clauses, tombstones for DELETE. See
    // GraftRowLevel for the full contract (key immutability, ops-only,
    // zero-delta no-op, pruned spool).

    override def newRowLevelOperationBuilder(
        info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
        : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
      new GraftRowLevel.LogRowLevelOperationBuilder(this, info)

    // ---- SQL DML: DELETE FROM ----------------------------------------
    //
    // `DELETE FROM t WHERE <cond>` lands as ONE tombstone commit for
    // exactly the keys whose CURRENT (head-snapshot) row satisfies the
    // condition — fully general predicates, not just key lookups: the
    // key set is derived by filtering the head compaction (a delete is
    // maintenance; one snapshot read is its honest cost, and deriving
    // from the snapshot is what makes a non-key predicate like
    // `WHERE price > 100` mean what SQL says it means). Ops logs only —
    // the plain append-only log cannot express a delete, and
    // canDeleteWhere says so to the planner instead of failing
    // downstream.

    // The planner hands the condition as V2 PREDICATES. The inherited
    // SupportsDelete default bridges V2→V1 filters UNSOUNDLY for this
    // purpose: `(v > 500) OR (k % 5 = 0)` bridges to `v > 500` alone
    // (the un-bridgeable disjunct is dropped — measured, not guessed),
    // and an under-scoped DELETE is silently wrong data. Both V2
    // overloads are therefore overridden to translate the predicates
    // DIRECTLY (v2ToColumn below — arithmetic included, so modulo and
    // friends delete exactly what SQL says), refusing loudly on any
    // shape the translator does not know.
    override def canDeleteWhere(
        preds: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
        : Boolean =
      opsShape && !opts.readChangeFeed &&
        preds.forall(v2ToColumn(_).isDefined)

    override def deleteWhere(
        preds: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
        : Unit =
      deleteWhereCond(preds.map(p => v2ToColumn(p).getOrElse(
          throw new IllegalArgumentException(
            s"DELETE predicate $p is not translatable — unsupported " +
              "expression shape")))
        .reduceOption(_ && _).getOrElse(lit(true)))

    // V1 leg of the SupportsDelete contract (abstract — some callers
    // still hand sources.Filter): same core.
    override def canDeleteWhere(
        filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
      opsShape && !opts.readChangeFeed &&
        filters.forall(filterColumn(_).isDefined)

    override def deleteWhere(
        filters: Array[org.apache.spark.sql.sources.Filter]): Unit =
      deleteWhereCond(filters.map(f => filterColumn(f).getOrElse(
          throw new IllegalArgumentException(
            s"DELETE predicate $f is not translatable — unsupported " +
              "filter shape")))
        .reduceOption(_ && _).getOrElse(lit(true)))

    private def deleteWhereCond(cond: Column): Unit = {
      require(opsShape,
        s"${opts.path} is a PLAIN (append-only) log — deletes need an " +
          "ops log (commitUpsert/commitDelete from the start)")
      val head = Changelog.headVersion(opts.path).getOrElse(
        throw new IllegalArgumentException(
          s"${opts.path} has no commits — nothing to delete"))
      // the condition arrived in LOGICAL names (the SQL surface) and
      // may reference post-evolution columns: read the union snapshot
      // on an evolved log and apply the mapping before filtering; the
      // key columns are never mapped, so the tombstone frame is
      // physical as commitDelete requires
      val keysDf = Changelog.applyMapping(
          Changelog.snapshotAt(spark, opts.path, opts.keys, head,
            opts.mergeSchema),
          Changelog.mappingAt(opts.path, head)).filter(cond)
        .select(opts.keys.map(col): _*)
      if (!keysDf.isEmpty) {
        val id = Changelog.claimNextId(opts.path, Changelog.SoloWriter)
        Changelog.commitDelete(spark, keysDf, opts.path, id)
      }
      // zero matching rows: deleting nothing is a no-op, never an
      // empty commit (an unclaimed id stays free for real writers)
    }

    /** V2 connector expression → Column for the standard scalar
      * algebra (comparisons, boolean connectives, +−*\/%, IN, null
      * tests, string predicates); None = untranslatable, which the
      * caller turns into a loud refusal — never a narrowed predicate.
      */
    private def v2ToColumn(
        e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Column] = {
      import org.apache.spark.sql.connector.expressions.{GeneralScalarExpression, NamedReference}
      e match {
        case ref: NamedReference =>
          Some(col(ref.fieldNames.mkString(".")))
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          Some(lit(org.apache.spark.sql.catalyst.CatalystTypeConverters
            .convertToScala(l.value, l.dataType)).cast(l.dataType))
        case g: GeneralScalarExpression =>
          def kids: Option[Seq[Column]] = {
            val ks = g.children().toSeq.map(v2ToColumn)
            if (ks.forall(_.isDefined)) Some(ks.map(_.get)) else None
          }
          def bin(f: (Column, Column) => Column): Option[Column] =
            kids.collect { case Seq(a, b) => f(a, b) }
          def un(f: Column => Column): Option[Column] =
            kids.collect { case Seq(a) => f(a) }
          g.name match {
            case "="    => bin(_ === _)
            case "<>" | "!=" => bin(_ =!= _)
            case "<=>"  => bin(_ <=> _)
            case ">"    => bin(_ > _)
            case ">="   => bin(_ >= _)
            case "<"    => bin(_ < _)
            case "<="   => bin(_ <= _)
            case "+"    => bin(_ + _)
            case "-"    => kids.collect {
              case Seq(a, b) => a - b
              case Seq(a)    => -a
            }
            case "*"    => bin(_ * _)
            case "/"    => bin(_ / _)
            case "%"    => bin(_ % _)
            case "AND"  => bin(_ && _)
            case "OR"   => bin(_ || _)
            case "NOT"  => un(!_)
            case "IS_NULL"     => un(_.isNull)
            case "IS_NOT_NULL" => un(_.isNotNull)
            case "IN" => kids.collect {
              case cs if cs.length >= 2 => cs.head.isin(cs.tail: _*)
            }
            case "STARTS_WITH" => bin(_ startsWith _)
            case "ENDS_WITH"   => bin(_ endsWith _)
            case "CONTAINS"    => bin(_ contains _)
            case "ALWAYS_TRUE"  => Some(lit(true))
            case "ALWAYS_FALSE" => Some(lit(false))
            case _ => None
          }
        case _ => None
      }
    }

    /** V1 leg shim — see [[GraftLog.filterToColumn]]. */
    private def filterColumn(
        f: org.apache.spark.sql.sources.Filter): Option[Column] =
      GraftLog.filterToColumn(f)
  }

  /** `sources.Filter` → Column, the standard pushable subset; None =
    * untranslatable. Shared by the V1 DELETE leg (where None makes the
    * planner refuse loudly) and the row-level snapshot spool (where
    * translatable filters merely SHRINK the spool — Spark re-applies
    * the full condition above, so a None there just means no pruning).
    */
  private[graft] def filterToColumn(
      f: org.apache.spark.sql.sources.Filter): Option[Column] = {
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v)            => Some(col(a) === lit(v))
      case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
      case GreaterThan(a, v)        => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v)           => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
      case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a)                => Some(col(a).isNull)
      case IsNotNull(a)             => Some(col(a).isNotNull)
      case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
      case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
      case StringContains(a, v)     => Some(col(a).contains(v))
      case And(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
      case Or(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
      case Not(c) => filterToColumn(c).map(!_)
      case AlwaysTrue() => Some(lit(true))
      case AlwaysFalse() => Some(lit(false))
      case _ => None
    }
  }

  /** The batch append: executors stage parquet files (the streaming
    * sink's writer with the epoch pinned at 0 under a per-write
    * staging id), the driver claims the next free commit id and
    * renames the staged files in — one INSERT, one commit, OCC-safe
    * against concurrent writers by the claim. A zero-row insert is a
    * no-op (no claim, no commit).
    */
  private class AppendBatchWrite(path: String, writer: String,
                                 schema: StructType, opsShape: Boolean,
                                 stagingId: String,
                                 txnVersion: Option[Long] = None)
      extends BatchWrite {

    // planning-time guards, BEFORE any task runs: the write schema must
    // be the staged-file type surface, and its shape must match the log
    {
      require(!schema.fieldNames.contains(Changelog.CommitCol),
        s"INSERT input carries the reserved ${Changelog.CommitCol} " +
          "column — the commit id is assigned by the claim")
      require(!schema.fieldNames.contains(Changelog.OpCol),
        s"INSERT input carries ${Changelog.OpCol} — the table's schema " +
          "is the snapshot shape; ops verbs ride the library calls")
      schema.fields.foreach { f =>
        require(graft.streaming.LogSink.supportedType(f.dataType),
          s"INSERT column ${f.name} has type ${f.dataType} — the " +
            "staged parquet writer covers long/int/short/byte/double/" +
            "float/string/boolean/timestamp/date/binary/decimal/" +
            "array/map (atomic keys)/struct only")
      }
    }

    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DataWriterFactory =
      new graft.streaming.LogSink.BatchStagingFactory(path, schema,
        stagingId, if (opsShape) Some("u") else None)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val staged = messages.flatMap(graft.streaming.LogSink.stagedFileOf)
      if (staged.nonEmpty) {
        // txn-idempotent slot resolution, Delta's txnAppId contract:
        // the (writer, txnVersion) marker is claimed EXCLUSIVELY
        // before any commit id is claimed, so exactly ONE submission
        // of a txn identity ever lands data — concurrent duplicates
        // lose the marker race instead of claiming a second id. A
        // replay whose marker already holds SKIPS entirely (staged
        // files dropped): it must never delete-then-rename over the
        // recorded commit, because a checkpoint may since have FOLDED
        // the entire live base into that very id — re-landing would
        // replace the folded state with just this txn's delta.
        val idOpt: Option[Long] = txnVersion match {
          case Some(tv) =>
            val marker = Changelog.Marker.SinkMap.at(path,
              s"txn_${writer}_$tv")
            if (LogFs.claimExclusive(marker, s"pending:$writer")) {
              val fresh = Changelog.claimNextId(path, writer)
              // record the id (overwrite our own pending content) so
              // checkpoint sweeps and operators can resolve the slot
              LogFs.writeAtomic(marker, fresh.toString)
              Some(fresh)
            } else {
              val content = LogFs.readString(marker).trim
              val landed = content.toLongOption.exists { prev =>
                LogFs.exists(Changelog.commitDir(path, prev))
              }
              require(landed,
                s"txn (writer=$writer, txnVersion=$tv) on $path has " +
                  s"a marker (content '$content') but its commit has " +
                  "not landed — a concurrent duplicate submission is " +
                  "in flight, or a previous attempt crashed between " +
                  "claim and landing; wait for the in-flight writer, " +
                  "or — once you KNOW it is dead — clear the slot " +
                  "with Changelog.resolveStaleTxn / CALL " +
                  "system.resolve_txn and retry")
              None // idempotent replay: drop staged files, land nothing
            }
          case None => Some(Changelog.claimNextId(path, writer))
        }
        idOpt.foreach { id =>
          val dir = Changelog.commitDir(path, id)
          LogFs.delete(dir)
          LogFs.mkdirs(dir)
          staged.zipWithIndex.foreach { case (f, i) =>
            val ok = LogFs.fs(path).rename(
              new org.apache.hadoop.fs.Path(f),
              new org.apache.hadoop.fs.Path(dir, f"part-$i%05d.parquet"))
            require(ok, s"failed to land staged insert file $f into $dir")
          }
          Changelog.writeCommitInfo(path, id,
            if (opsShape) "upsert" else "append", writer)
        }
      }
      sweepStaging()
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      sweepStaging()

    private def sweepStaging(): Unit = {
      LogFs.delete(LogFs.child(LogFs.child(LogFs.child(path,
        "__stream_staging"), s"query=$stagingId"), "epoch=0"))
      val qdir = LogFs.child(LogFs.child(path, "__stream_staging"),
        s"query=$stagingId")
      if (LogFs.list(qdir).isEmpty) LogFs.delete(qdir)
    }
  }
}
