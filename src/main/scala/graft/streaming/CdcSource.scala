package graft.streaming

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, DateType, DecimalType, DoubleType, FloatType, IntegerType, LongType, MapType, StringType, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.{Changelog, LogFs, ParquetMeta}

/** The ops log's CHANGE DATA FEED as a Structured Streaming SOURCE —
  * the Delta-style `readStream ... option("readChangeFeed", true)`
  * ergonomics for [[graft.sources.Changelog]]: ANY streaming query can
  * consume the full-label feed (insert / update / delete with old/new
  * values) with a plain `readStream.format(...).load()`, instead of
  * hand-orchestrating per-batch `changesBetween(b−1, b]` windows
  * inside `foreachBatch` (the q186 consumer's burden — q200
  * re-expresses it on this source).
  *
  * Mechanics (a DSv2 `MicroBatchStream`):
  *  - OFFSETS ARE COMMIT IDS. The initial offset is the log's
  *    checkpoint horizon (or `startVersion`); `latestOffset` is the
  *    head commit the directory listing shows. Admission control
  *    advances at most `maxCommitsPerTrigger` commits per micro-batch
  *    (default 1 — each batch is exactly one commit's feed, the shape
  *    an IVM consumer wants), so a burst of commits never lands as one
  *    giant batch.
  *  - A batch (start, end] is the engine's own
  *    [[Changelog.changesBetween]] over exactly that window —
  *    computed DISTRIBUTED (the same pruned candidate/endpoint plan as
  *    the batch API), SPOOLED as parquet under the query's own
  *    checkpoint location, and served to executors one file per
  *    partition. The spool is the price of serving a DERIVED feed
  *    through a source interface: the feed is a diff of two compacted
  *    states, which no per-partition reader can derive alone. (The
  *    alternative — persisting change files AT COMMIT TIME, as Delta's
  *    CDF does — trades write-path cost for read-path cost; this
  *    engine's commits stay O(delta) and the feed pays its own way,
  *    only when consumed.) Spooling is deterministic per window, so a
  *    replayed batch re-lands byte-identically — the at-least-once
  *    retry contract holds end to end.
  *  - RESTART comes free from the offset log: Structured Streaming
  *    re-plans only uncommitted windows; committed spool batches are
  *    swept on `commit`. A window whose start fell below the log's
  *    checkpoint horizon fails LOUDLY through the batch API's guard —
  *    never a silent empty old-state (the q186 double-count hazard).
  *
  * Options: `path` (the ops log), `keys` (csv), `trackCols` (csv),
  * `startVersion` (default: the horizon, else min commit − 1),
  * `maxCommitsPerTrigger` (default 1 — unbounded when a row/byte
  * budget is set, which then does the bounding), `maxRowsPerTrigger` /
  * `maxBytesPerTrigger` (optional —
  * BUDGET admission, composable: a commit whose footer row count /
  * uncompressed byte size exceeds a budget is served as
  * max(⌈rows/rowBudget⌉, ⌈bytes/byteBudget⌉) micro-batches, split at
  * KEY boundaries — slice = hash(key) mod n, computed on the spool so
  * each key's whole feed row lands in exactly one batch and replays
  * re-slice identically; the slice count rides in the offset so a
  * restart mid-commit honors the slicing it was checkpointed under;
  * conversely several WITHIN-budget commits batch into one trigger
  * while their cumulative footer sizes fit every set budget, so many
  * small commits never degrade to one-commit-per-trigger), `columns`
  * (csv, optional — an
  * explicit projection of the feed: the spool writes ONLY these
  * columns, so a replication consumer that never reads the old_* side
  * halves its per-window write amplification; an option rather than
  * `SupportsPushDownRequiredColumns` because streaming DSv2 scan
  * builders are constructed before the optimizer runs, so plan-driven
  * pruning cannot reach a MicroBatchStream), and `keyFilter` (a
  * boolean SQL expression over the KEY columns, optional — the
  * SELECTIVE-feed knob: the predicate prunes the touched-key set
  * before the endpoint compactions, so a tenant consuming an
  * f-fraction slice of a shared log pays O(f · delta) per window,
  * not O(delta)-then-filter).
  *
  * Feed column types are the staged type surface ([[LogSink
  * .supportedType]]: the full integral family, double/float, string,
  * boolean, timestamp at any depth, date, binary, decimal at any
  * precision, arrays, atomic-keyed maps, structs) — loudly checked at
  * load() — because the spool readers decode parquet directly (no
  * Spark row codec on the read side; timestamps spool as epoch-micros
  * INT64 recursively and dates as epoch-days INT32, Spark's own
  * internal representations; decimals dispatch on the spool file's
  * physical layout; collections decode the standard LIST/MAP groups).
  * The widening means the documents (binary media), embeddings
  * (array&lt;float&gt;), token-list, and feature-map shapes all ride
  * the feed (q217, q233).
  */
class CdcSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CdcSource.feedSchema(CdcSource.Opts(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new CdcSource.CdcTable(schema,
      CdcSource.Opts(new CaseInsensitiveStringMap(properties)))
}

object CdcSource {

  private[graft] case class Opts(path: String, keys: Seq[String],
                                 trackCols: Seq[String],
                                 startVersion: Option[Long],
                                 maxCommitsPerTrigger: Option[Long],
                                 columns: Option[Seq[String]],
                                 keyFilter: Option[String],
                                 maxRowsPerTrigger: Option[Long],
                                 maxBytesPerTrigger: Option[Long],
                                 tableShape: Boolean = false,
                                 // column-mapping support (the mapped
                                 // table's own stream AND the mapped
                                 // FEED stream): trackCols are
                                 // PHYSICAL, this renames the spooled
                                 // output back to logical (table
                                 // shape: the column itself; feed
                                 // shape: its old_/new_ pair)
                                 logicalBy: Map[String, String] =
                                   Map.empty,
                                 // the mapping fingerprint pinned when
                                 // the stream started — a batch
                                 // planned after the mapping moved
                                 // fails loudly (restart re-pins)
                                 mappingPin: Option[String] = None) {
    /** True when any admission budget (rows or bytes) is set — the
      * sliced-offset machinery is live.
      */
    def budgeted: Boolean =
      maxRowsPerTrigger.isDefined || maxBytesPerTrigger.isDefined
  }
  private[graft] object Opts {
    def apply(o: CaseInsensitiveStringMap): Opts = {
      val path = o.get("path")
      require(path != null, "CdcSource needs option 'path' (the ops log)")
      def csv(k: String): Seq[String] = {
        val v = o.get(k)
        require(v != null && v.trim.nonEmpty,
          s"CdcSource needs option '$k' (comma-separated column names)")
        v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      }
      def positive(k: String): Option[Long] = {
        val v = Option(o.get(k)).map(_.toLong)
        v.foreach(r => require(r >= 1, s"$k must be >= 1, got $r"))
        v
      }
      val fromVersion = Option(o.get("startVersion")).map(_.toLong)
      // Delta's startingTimestamp semantics: the first served commit
      // is the first one stamped at/after the instant (epoch millis)
      val fromTs = Option(o.get("startingTimestamp")).map(ts =>
        graft.sources.Changelog.versionBeforeTimestamp(path, ts.toLong))
      require(fromVersion.isEmpty || fromTs.isEmpty,
        "startVersion and startingTimestamp are mutually exclusive")
      Opts(path, csv("keys"), csv("trackCols"),
        fromVersion.orElse(fromTs),
        positive("maxCommitsPerTrigger"),
        Option(o.get("columns")).map(_.split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq),
        Option(o.get("keyFilter")).map(_.trim).filter(_.nonEmpty),
        positive("maxRowsPerTrigger"),
        positive("maxBytesPerTrigger"))
    }
  }

  /** The feed's schema, derived from the engine's own lazy plan over
    * the log (analysis only — nothing executes). Exactly
    * [[Changelog.changesBetween]]'s shape: keys ++ new_* ++ old_*
    * ++ change_type.
    */
  private[streaming] def feedSchema(opts: Opts): StructType = {
    val spark = SparkSession.active
    val head = Changelog.headVersion(opts.path).getOrElse(
      throw new IllegalArgumentException(
        s"${opts.path} has no commits — the CDC source needs an " +
          "existing ops log to derive the feed schema"))
    val schema = Changelog.changesBetween(spark, opts.path, opts.keys,
      head, head + 1, opts.trackCols).schema
    // the spool readers decode the staged-parquet type surface
    LogSink.requireStageable(schema, "feed")
    // explicit projection: the spool (the window's write amplification)
    // is as narrow as the consumer declares, not as wide as the feed.
    // An OPTION rather than SupportsPushDownRequiredColumns because
    // streaming DSv2 scan builders are constructed BEFORE the optimizer
    // runs — plan-driven pruning never reaches a MicroBatchStream.
    opts.columns.fold(schema) { cs =>
      val missing = cs.filterNot(schema.fieldNames.contains)
      require(missing.isEmpty,
        s"option 'columns' names [${missing.mkString(", ")}] not in the " +
          s"feed schema [${schema.fieldNames.mkString(", ")}]")
      StructType(cs.map(schema(_)))
    }
  }

  /** Source offset: `version` = every commit ≤ it fully consumed, PLUS
    * the first `slice` of the `nSlices` key-hash slices of commit
    * `version + 1` (the row-budget admission path — `maxRowsPerTrigger`
    * below). `nSlices` rides IN the offset so a restart mid-commit
    * replays the slicing it was checkpointed under, even if the budget
    * option changed across the restart — slicing is then deterministic
    * per logged window, never a function of current configuration. The
    * json keeps the bare-number form when no slice is in flight, so
    * offset logs written before the row-budget option existed replay
    * unchanged.
    */
  private[streaming] case class CdcOffset(version: Long, slice: Int = 0,
                                          nSlices: Int = 1) extends Offset {
    require(slice == 0 || nSlices > slice,
      s"inconsistent offset: slice $slice of $nSlices")
    override def json(): String =
      if (slice == 0) version.toString else s"$version:$slice:$nSlices"
  }
  private[streaming] object CdcOffset {
    def parse(json: String): CdcOffset = json.split(":") match {
      case Array(v)        => CdcOffset(v.toLong)
      case Array(v, s, ns) => CdcOffset(v.toLong, s.toInt, ns.toInt)
      case _ => throw new IllegalArgumentException(
        s"unrecognized CdcSource offset '$json'")
    }
  }

  /** Rewrite `df` into the spool readers' on-disk representation:
    * TIMESTAMP values — at ANY depth (top-level, struct fields, array
    * elements, map values; map keys are atomic by the type surface) —
    * as plain epoch-micros INT64 (Spark's internal value — the reader
    * hands the long straight back, independent of whatever physical
    * timestamp encoding Spark's parquet writer would pick). Null-ness
    * is preserved level by level (a rebuilt struct would otherwise
    * turn a NULL struct into a struct of nulls). Timestamp-free
    * columns pass through untouched — zero plan change on the common
    * schema. Shared with the row-level-operation snapshot spool.
    */
  private[graft] def spoolRepresentation(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{lit, map_from_arrays, map_keys, map_values, struct, transform, unix_micros, when}
    def hasTs(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case TimestampType => true
      case ArrayType(et, _) => hasTs(et)
      case MapType(_, vt, _) => hasTs(vt)
      case s: StructType => s.fields.exists(f => hasTs(f.dataType))
      case _ => false
    }
    def toSpool(c: Column,
                dt: org.apache.spark.sql.types.DataType): Column = dt match {
      case TimestampType => unix_micros(c)
      case ArrayType(et, _) if hasTs(et) =>
        transform(c, x => toSpool(x, et))
      case MapType(_, vt, _) if hasTs(vt) =>
        map_from_arrays(map_keys(c),
          transform(map_values(c), x => toSpool(x, vt)))
      case s: StructType if s.fields.exists(f => hasTs(f.dataType)) =>
        when(c.isNull, lit(null)).otherwise(
          struct(s.fields.toIndexedSeq.map(f =>
            toSpool(c.getField(f.name), f.dataType).as(f.name)): _*))
      case _ => c
    }
    df.schema.fields.foldLeft(df) { (d, f) =>
      if (hasTs(f.dataType))
        d.withColumn(f.name,
          toSpool(org.apache.spark.sql.functions.col(f.name), f.dataType))
      else d
    }
  }

  /** The last window's spooled column list — observability for the
    * pruning proof (the ProfileConnector `payloadBuilds` discipline:
    * an oracle cannot see which columns were written to disk, a spec
    * can). Driver-side only; set by every `planInputPartitions`.
    */
  private[graft] val lastSpooledColumns =
    new java.util.concurrent.atomic.AtomicReference[Seq[String]](Nil)

  private[streaming] class CdcTable(schema: StructType, opts: Opts)
      extends Table with SupportsRead {
    override def name(): String = s"graft_cdc(${opts.path})"
    override def schema(): StructType = schema
    override def capabilities(): util.Set[TableCapability] =
      Set(TableCapability.MICRO_BATCH_READ).asJava
    override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder {
        override def build(): Scan = new CdcScan(schema, opts)
      }
  }

  private class CdcScan(schema: StructType, opts: Opts) extends Scan {
    override def readSchema(): StructType = schema
    override def description(): String =
      s"graft_cdc feed over ${opts.path} " +
        s"(keys ${opts.keys.mkString(",")}; " +
        s"track ${opts.trackCols.mkString(",")})"
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      new CdcStream(schema, opts, checkpointLocation)
  }

  /** The feed's micro-batch stream for a caller that already holds the
    * feed schema and parsed options — the changelog TABLE's streaming
    * read ([[graft.sources.GraftLog.LogTable]] with MICRO_BATCH_READ)
    * delegates here, so `spark.readStream.table("glog.t_changes")`
    * serves the same stream, offsets and admission control included,
    * that `readStream.format(CdcSource)` serves by path.
    */
  private[graft] def microBatchStream(schema: StructType, opts: Opts,
                                      checkpointLocation: String)
      : MicroBatchStream =
    new CdcStream(schema, opts, checkpointLocation)

  private class CdcStream(schema: StructType, opts: Opts,
                          checkpointLocation: String)
      extends MicroBatchStream with SupportsAdmissionControl
      with SupportsTriggerAvailableNow {

    // Trigger.AvailableNow pins the run's goalpost at start — commits
    // landing DURING the run wait for the next one (the file-source
    // contract); admission control still slices the way there into
    // one-commit batches
    private var availableNowCap: Option[Long] = None

    override def prepareForTriggerAvailableNow(): Unit =
      availableNowCap = Changelog.headVersion(opts.path)

    // the spool dir carries a token of the COLUMN SET and KEY FILTER
    // it was computed under: a restart whose options differ (wider
    // projection after a narrower run, a different tenant slice) must
    // never reuse a _SUCCESS-complete spool that lacks its columns or
    // rows — changed options simply spool into a sibling dir, and
    // commit's sweep (which parses only start/end) reclaims both. The
    // token rides AFTER start/end so the sweep's split stays valid.
    private def colsToken: String =
      java.lang.Integer.toHexString(
        (schema.fieldNames.mkString(",") + "|" +
          opts.keyFilter.getOrElse("")).hashCode)

    private def spoolDir(start: Long, end: Long, ns: Int): String =
      LogFs.child(LogFs.child(checkpointLocation, "graft_cdc_spool"),
        s"batch_${start}_${end}_c${colsToken}_n$ns")

    /** The slice count of a commit whose footers hold `rows` rows and
      * `bytes` uncompressed bytes ([[Changelog.commitDirStats]] —
      * metadata-only; immutable once landed, so the count is
      * deterministic per commit). The budgets bound the batch by the
      * commit's OWN row count / uncompressed byte size — the feed's rows
      * are at most that (suppression only shrinks it). When both budgets
      * are set the slice count is the MAX of the two ceilings: every
      * slice then satisfies both.
      */
    private def slicesFor(rows: Long, bytes: Long): Int = {
      def ceil(n: Long, budget: Option[Long]): Long =
        budget.fold(1L)(b => math.max(1L, (n + b - 1) / b))
      math.max(ceil(rows, opts.maxRowsPerTrigger),
        ceil(bytes, opts.maxBytesPerTrigger)).toInt
    }

    /** A batch of `rows`/`bytes` in total is within every set budget —
      * the multi-commit leg of budget admission: a feed of many SMALL
      * commits batches several per trigger instead of degrading to
      * one-commit-per-trigger (each far below budget).
      */
    private def fitsBudgets(rows: Long, bytes: Long): Boolean =
      opts.maxRowsPerTrigger.forall(rows <= _) &&
        opts.maxBytesPerTrigger.forall(bytes <= _)

    /** A MAPPED stream never serves a window that mixes name-epochs:
      * historical mapping commits (renames below the stream's start
      * are already refused at load; this covers markers the pin
      * tolerates, e.g. a start placed exactly at a mapping commit
      * boundary on a multi-rename log) become BATCH BOUNDARIES — a
      * candidate window is capped just below the first mapping id
      * inside it, and the mapping commit itself (an empty commit,
      * zero feed rows) is served alone on the next trigger. Unmapped
      * streams are untouched (their windows stay byte-identical).
      */
    private def capAtMappingBoundary(l: Changelog.Listing, startV: Long,
                                     endV: Long): Long = {
      if (opts.mappingPin.isEmpty || endV <= startV + 1) return endV
      val inside = l.ids(Changelog.Marker.Mapping).map(_._1)
        .filter(id => id > startV && id <= endV)
      if (inside.isEmpty) endV
      else {
        val first = inside.min
        if (first == startV + 1) first else first - 1
      }
    }

    override def initialOffset(): Offset = CdcOffset(
      opts.startVersion.getOrElse {
        val h = Changelog.horizonOf(opts.path)
        if (h != Long.MinValue) h
        else Changelog.Listing.of(opts.path).commitIds.headOption
          .getOrElse(0L) - 1L
      })

    override def deserializeOffset(json: String): Offset =
      CdcOffset.parse(json)

    override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

    override def latestOffset(): Offset =
      throw new UnsupportedOperationException(
        "latestOffset(Offset, ReadLimit) is the admission-control entry")

    override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
      val st = start.asInstanceOf[CdcOffset]
      val l = Changelog.Listing.of(opts.path)
      val listed = l.head.getOrElse(st.version)
      val head = availableNowCap.fold(listed)(math.min(listed, _))
      if (!opts.budgeted) {
        require(st.slice == 0,
          s"the checkpointed offset ${st.json()} is mid-commit (slice " +
            s"${st.slice} of ${st.nSlices}) but no row/byte budget is " +
            "set any more — restore the option until the in-flight " +
            "commit drains, then remove it at a commit boundary")
        CdcOffset(capAtMappingBoundary(l, st.version, math.min(head,
          st.version + opts.maxCommitsPerTrigger.getOrElse(1L))))
      } else if (st.version >= head) st
      else if (st.slice > 0) {
        // a commit already in flight drains at the slicing its offset
        // recorded — never at the current configuration's
        if (st.slice + 1 >= st.nSlices) CdcOffset(st.version + 1)
        else CdcOffset(st.version, st.slice + 1, st.nSlices)
      } else {
        // budget admission on a fresh commit: slice count from its
        // footers (each candidate commit's opened once per call). An
        // over-budget commit serves as ⌈size/budget⌉ key-hash slices,
        // one per micro-batch; a WITHIN-budget commit admits as a
        // whole, and subsequent whole commits keep admitting while the
        // CUMULATIVE footer rows/bytes stay within every set budget
        // (and under maxCommitsPerTrigger when set) — many small
        // commits batch instead of degrading to one-commit-per-trigger.
        val next = st.version + 1
        var (rows, bytes) = Changelog.commitDirStats(opts.path, next)
        val ns = slicesFor(rows, bytes)
        if (ns > 1) CdcOffset(st.version, 1, ns)
        else {
          val maxCommits = opts.maxCommitsPerTrigger.getOrElse(Long.MaxValue)
          var end = next
          var admits = true
          while (admits && end < head && (end - st.version) < maxCommits) {
            val (r, b) = Changelog.commitDirStats(opts.path, end + 1)
            admits = fitsBudgets(rows + r, bytes + b)
            if (admits) { end += 1; rows += r; bytes += b }
          }
          CdcOffset(capAtMappingBoundary(l, st.version, end))
        }
      }
    }

    override def reportLatestOffset(): Offset = {
      val listed = Changelog.headVersion(opts.path)
      val capped = availableNowCap.fold(listed)(c =>
        listed.map(math.min(_, c)))
      capped.map(CdcOffset(_): Offset).orNull
    }

    override def planInputPartitions(start: Offset,
                                     end: Offset): Array[InputPartition] = {
      val so = start.asInstanceOf[CdcOffset]
      val eo = end.asInstanceOf[CdcOffset]
      if (eo == so) return Array.empty
      val spark = SparkSession.active
      // window shape: whole commits ((v,0) → (w,0), the commit-granular
      // path) or ONE key-hash slice of commit v+1 (the row-budget
      // path: (v,s) → (v,s+1) or (v,ns−1) → (v+1,0) — always produced
      // by this source's own latestOffset, so anything else is loud)
      val sliced = so.slice > 0 || eo.slice > 0
      val (winStart, winEnd, ns, serveSlice) =
        if (!sliced) (so.version, eo.version, 1, -1)
        else {
          val commit = if (eo.slice > 0) so.version + 1 else eo.version
          val n = if (so.slice > 0) so.nSlices else eo.nSlices
          require(so.slice < n &&
            ((eo.slice == so.slice + 1 && eo.version == so.version) ||
              (eo.slice == 0 && so.slice == n - 1 &&
                eo.version == so.version + 1)),
            s"offset log's slice boundaries ${so.json()} -> ${eo.json()} " +
              "do not form one slice — mixed admission configurations; " +
              "drain the in-flight commit under the original settings")
          (commit - 1, commit, n, so.slice)
        }
      // the feed for exactly this window, computed by the engine's own
      // distributed plan and spooled ONCE: a complete spool (_SUCCESS
      // present) is reused as-is — the feed is deterministic per
      // window, planInputPartitions can be invoked more than once per
      // batch (engine planning + the consumer's own action; under the
      // row budget, once per SLICE), and a rewrite would orphan the
      // earlier invocation's file list (part file names are not
      // deterministic). A partial spool (crash mid-write) has no
      // _SUCCESS and is rebuilt. The horizon guard inside
      // changesBetween keeps a below-horizon window LOUD.
      // mapping drift: the stream's schema (and its logical output
      // names) were pinned when the query started — a rename/drop
      // landing mid-stream would silently desynchronize them, so a
      // batch planned after the mapping moved fails loudly and a
      // RESTART re-pins against the new names (Delta's
      // schema-change-stops-the-stream discipline)
      opts.mappingPin.foreach { pin =>
        val l = Changelog.Listing.of(opts.path)
        require(Changelog.mappingFingerprint(l) == pin,
          s"${opts.path}: the column mapping changed while this " +
            "stream was running — the pinned logical names no longer " +
            "match the table; restart the stream to re-pin")
        // backstop of the batch-boundary law for windows REPLAYED
        // from an offset log written before the boundary capping
        // existed: a mapped multi-commit window must not span a
        // mapping commit (capAtMappingBoundary keeps fresh windows
        // clear of this by construction)
        if (winEnd - winStart > 1)
          require(!Changelog.mappingMovedIn(l, winStart, winEnd),
            s"${opts.path}: the offset log's window ($winStart, " +
              s"$winEnd] spans a mapping commit — drain it one " +
              "commit at a time (maxCommitsPerTrigger=1) past the " +
              "mapping boundary, then restore the trigger budget")
      }
      val dir = spoolDir(winStart, winEnd, ns)
      if (!LogFs.exists(LogFs.child(dir, "_SUCCESS"))) {
        LogFs.delete(dir)
        val raw = Changelog.changesBetween(spark, opts.path,
          opts.keys, winStart, winEnd, opts.trackCols, opts.keyFilter)
        // tableShape (the snapshot table's own stream): the window's
        // UPSERTED ROW VALUES in the table's shape — the feed's new
        // side, tombstones excluded (they are not row-shaped; the
        // FEED serves deletes). Otherwise the full-label feed, pruned
        // to the consumer's required columns — the spool (and
        // therefore the window's write amplification) is as narrow as
        // the plan, not as wide as the feed.
        val feed = (if (opts.tableShape)
          raw.filter(org.apache.spark.sql.functions
              .col("change_type") =!= "delete")
            .select(opts.keys.map(org.apache.spark.sql.functions.col) ++
              opts.trackCols.map(c => org.apache.spark.sql.functions
                .col(s"new_$c")
                .as(opts.logicalBy.getOrElse(c, c))): _*)
        else if (opts.logicalBy.nonEmpty)
          // the mapped FEED stream: the engine's feed plan carries
          // physical old_/new_ names (the diff runs over the
          // footers); rename each pair back to the logical name the
          // stream's pinned schema serves — a pure projection
          raw.select(raw.columns.map { c =>
            val logical =
              if (c.startsWith("old_"))
                "old_" + opts.logicalBy.getOrElse(
                  c.stripPrefix("old_"), c.stripPrefix("old_"))
              else if (c.startsWith("new_"))
                "new_" + opts.logicalBy.getOrElse(
                  c.stripPrefix("new_"), c.stripPrefix("new_"))
              else c
            org.apache.spark.sql.functions.col(c).as(logical)
          }.toIndexedSeq: _*)
        else raw)
          .select(schema.fieldNames.map(
            org.apache.spark.sql.functions.col).toIndexedSeq: _*)
        // timestamp columns spool as plain epoch-micros INT64 — see
        // spoolRepresentation
        val spooled = spoolRepresentation(feed)
        if (ns == 1) spooled.write.mode("overwrite").parquet(dir)
        else {
          // row-budget slicing at KEY boundaries: slice = hash(keys)
          // mod ns, a partition column of the spool — each slice is a
          // subdirectory, each key's whole feed row (old AND new side)
          // lives in exactly one slice, and the assignment is a pure
          // function of the key so replays re-slice identically
          require(!schema.fieldNames.contains("_slice"),
            "CdcSource reserves the column name _slice for the " +
              "row-budget spool")
          spooled.withColumn("_slice",
              org.apache.spark.sql.functions.pmod(
                org.apache.spark.sql.functions.hash(
                  opts.keys.map(org.apache.spark.sql.functions.col): _*),
                org.apache.spark.sql.functions.lit(ns)))
            .write.mode("overwrite").partitionBy("_slice").parquet(dir)
        }
      }
      lastSpooledColumns.set(schema.fieldNames.toSeq)
      val serveDir =
        if (ns == 1) dir else LogFs.child(dir, s"_slice=$serveSlice")
      ParquetMeta.dataFiles(serveDir)
        .map(st => SpoolFile(st.getPath.toString): InputPartition)
        .toArray
    }

    override def createReaderFactory(): PartitionReaderFactory =
      new SpoolReaderFactory(schema)

    override def commit(end: Offset): Unit = {
      // committed windows are never re-planned: sweep their spools
      val e = end.asInstanceOf[CdcOffset].version
      val root = LogFs.child(checkpointLocation, "graft_cdc_spool")
      LogFs.list(root).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("batch_")) {
          val endOf = n.stripPrefix("batch_").split("_")(1).toLong
          if (endOf <= e) LogFs.delete(st.getPath.toString)
        }
      }
    }

    override def stop(): Unit = ()
  }

  private[graft] case class SpoolFile(file: String) extends InputPartition

  /** Decodes one spooled parquet file into the feed's rows via the
    * parquet-hadoop example API — executor-side, no Spark codec, no
    * driver materialization; the feed's types were loudly bounded at
    * load(). Shared with the row-level-operation scan
    * ([[graft.sources.GraftRowLevel]]), whose spooled snapshot is the
    * same discipline: a derived read served file-per-partition.
    */
  private[graft] class SpoolReaderFactory(schema: StructType)
      extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] =
      new SpoolReader(p.asInstanceOf[SpoolFile].file, schema)
  }

  private class SpoolReader(file: String, schema: StructType)
      extends PartitionReader[InternalRow] {
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.hadoop.ParquetReader
    import org.apache.parquet.hadoop.example.GroupReadSupport

    private val reader: ParquetReader[Group] =
      ParquetReader.builder(new GroupReadSupport(),
          new org.apache.hadoop.fs.Path(file))
        .withConf(new Configuration())
        .build()
    private var current: Group = _

    override def next(): Boolean = {
      current = reader.read()
      current != null
    }

    /** One field of `g` at `idx` (known present), decoded to the Spark
      * internal value for `dt` — recursive for STRUCT, dispatching
      * nested decimals on each level's own physical layout.
      */
    private def readField(g: Group, idx: Int,
                          dt: org.apache.spark.sql.types.DataType): Any = {
      val gt = g.getType
      dt match {
        case LongType      => g.getLong(idx, 0)
        case IntegerType   => g.getInteger(idx, 0)
        case org.apache.spark.sql.types.ShortType =>
          g.getInteger(idx, 0).toShort
        case org.apache.spark.sql.types.ByteType =>
          g.getInteger(idx, 0).toByte
        case DoubleType    => g.getDouble(idx, 0)
        case FloatType     => g.getFloat(idx, 0)
        case BooleanType   => g.getBoolean(idx, 0)
        case StringType    => UTF8String.fromString(g.getString(idx, 0))
        case TimestampType => g.getLong(idx, 0) // spooled epoch micros
        case DateType      => g.getInteger(idx, 0) // epoch days
        case BinaryType    => g.getBinary(idx, 0).getBytes
        case d: DecimalType =>
          // dispatch on the SPOOL FILE's physical layout: Spark's
          // writer picks INT32 (p<=9) / INT64 (p<=18) / fixed binary
          // (wider; the sink's own stager writes INT64 / fixed) — the
          // annotation's unscaled value either way
          import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
          gt.getType(idx).asPrimitiveType().getPrimitiveTypeName match {
            case INT32 =>
              org.apache.spark.sql.types.Decimal(
                BigDecimal(BigInt(g.getInteger(idx, 0)), d.scale),
                d.precision, d.scale)
            case INT64 =>
              org.apache.spark.sql.types.Decimal(
                BigDecimal(BigInt(g.getLong(idx, 0)), d.scale),
                d.precision, d.scale)
            case _ =>
              org.apache.spark.sql.types.Decimal(
                BigDecimal(BigInt(new java.math.BigInteger(
                  g.getBinary(idx, 0).getBytes)), d.scale),
                d.precision, d.scale)
          }
        case ArrayType(et, _) =>
          // the standard 3-level LIST group:
          // <name> (LIST) { repeated group list { optional element } } —
          // elements recurse through this dispatch, so nested
          // structs/arrays/maps decode like top-level columns
          val listGroup = g.getGroup(idx, 0)
          val n = listGroup.getFieldRepetitionCount(0)
          val out = new Array[Any](n)
          var j = 0
          while (j < n) {
            val elt = listGroup.getGroup(0, j)
            out(j) =
              if (elt.getFieldRepetitionCount(0) == 0) null
              else readField(elt, 0, et)
            j += 1
          }
          new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
        case MapType(kt, vt, _) =>
          // the standard MAP group: <name> (MAP) { repeated group
          // key_value { required key; optional value } } — keys are
          // non-null by the parquet map contract
          val mapGroup = g.getGroup(idx, 0)
          val n = mapGroup.getFieldRepetitionCount(0)
          val ks = new Array[Any](n)
          val vs = new Array[Any](n)
          var j = 0
          while (j < n) {
            val kv = mapGroup.getGroup(0, j)
            val kIdx = kv.getType.getFieldIndex("key")
            val vIdx = kv.getType.getFieldIndex("value")
            ks(j) = readField(kv, kIdx, kt)
            vs(j) =
              if (kv.getFieldRepetitionCount(vIdx) == 0) null
              else readField(kv, vIdx, vt)
            j += 1
          }
          new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
            new org.apache.spark.sql.catalyst.util.GenericArrayData(ks),
            new org.apache.spark.sql.catalyst.util.GenericArrayData(vs))
        case s: StructType =>
          readGroup(g.getGroup(idx, 0), s)
        case other => throw new IllegalStateException(
          s"unreachable: type $other passed the load() bound")
      }
    }

    private def readGroup(g: Group, s: StructType): InternalRow =
      InternalRow.fromSeq(s.fields.toIndexedSeq.map { f =>
        val idx = g.getType.getFieldIndex(f.name)
        if (g.getFieldRepetitionCount(idx) == 0) null
        else readField(g, idx, f.dataType)
      })

    override def get(): InternalRow = readGroup(current, schema)

    override def close(): Unit = reader.close()
  }
}
