package graft.sources

import java.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters}
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.streaming.{CdcSource, LogSink}

/** SQL `UPDATE` and `MERGE INTO` (and the row-level `DELETE` leg) on
  * the changelog table — the DSv2 row-level-operation contract
  * ([[org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations]])
  * implemented DELTA-BASED ([[SupportsDelta]]): Spark's own analysis
  * rewrites (`RewriteUpdateTable` / `RewriteMergeIntoTable` /
  * `RewriteDeleteFromTable`) plan the matched-row derivation — clause
  * alignment, three-valued logic, the source join — and hand this
  * operation per-row verbs, which land as the changelog's native
  * delta: updates and inserts as `_op = 'u'` upserts, deletes as
  * `_op = 'd'` tombstones, ONE OCC-claimed commit per statement
  * (the q219 INSERT discipline, extended to the full DML surface).
  * This is the reference's own core verb — `INSERT … ON DUPLICATE KEY
  * UPDATE` (reference `Financilas.py:167–184`) — in its SQL spelling:
  * a keyed LWW log makes every row-level write an upsert/tombstone
  * append, so the "delta" write IS the table's commit model, with
  * history, time travel, and the CDC feed all following for free.
  *
  * The READ side (finding the matched rows): a snapshot of a
  * merge-on-read log is a keyed LWW compaction no per-partition
  * reader can serve alone, so the operation's scan SPOOLS the head
  * compaction — computed by the engine's own distributed plan — as
  * parquet in a sibling staging dir and serves it file-per-partition
  * through [[CdcSource.SpoolReaderFactory]] (the CDC source's exact
  * discipline for serving a derived read through a row-serving
  * interface). One snapshot materialization is a row-level rewrite's
  * honest cost — and it is PRUNED, not blind: pushed eq/range
  * conjuncts on key columns route the spool source through
  * [[Changelog.lookup]], so the commit-stats index drops
  * whole commit directories driver-side before any footer opens (the
  * q215 skipping surface, now under UPDATE). The spool is swept at
  * commit/abort; a crash in between leaves only staging debris,
  * never a torn table.
  *
  * Concurrency: the statement reads the head pinned when the
  * operation is BUILT (analysis time), lands at
  * [[Changelog.claimNextId]], and is SERIALIZABLE, not blind — the
  * claimed id's conflict window is checked with
  * [[Changelog.conflictingCommits]] before landing: a concurrent
  * commit that landed since the read and touches this delta's keys
  * refuses the statement loudly (first-committer-wins — re-run
  * re-derives against the new head), while key-disjoint concurrent
  * commits serialize cleanly. A zero-row delta (UPDATE matching
  * nothing, MERGE whose clauses all miss) lands NO commit and claims
  * no id.
  *
  * Contract notes (spec-pinned in GraftLogTableSpec):
  *  - key-column updates are REFUSED loudly: with delta writes the
  *    row id must be stable ('update' re-emits the key it matched);
  *    rewriting a key is a DELETE + INSERT, which MERGE expresses;
  *  - SQL MERGE emits what SQL says: a matched row whose values are
  *    unchanged is re-upserted (value-idempotent — the snapshot law
  *    is unaffected), unlike the library [[Changelog.mergeIntoOps]]
  *    whose no-op suppression keeps the commit minimal; callers who
  *    need minimal commits use the library verb;
  *  - ops-shaped logs only — a plain append-only log cannot express
  *    an update or delete, and the refusal names the fix.
  */
object GraftRowLevel {

  /** Snapshot spools actually materialized — driver-side observability
    * (the ProfileConnector `payloadBuilds` discipline): a spec can pin
    * that a SQL DELETE rides the metadata-only path (counter
    * unchanged — `OptimizeMetadataOnlyDeleteFromTable` converted the
    * row-level plan back to `deleteWhere`) while UPDATE/MERGE pay
    * exactly one spool per statement. An oracle can see the rows but
    * never which plan produced them.
    */
  private[graft] val spoolsPlanned =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** The last built row-level scan's extracted key ranges (rendered),
    * None when the spool was the full snapshot — spec observability
    * for the pruning leg.
    */
  private[graft] val lastWindow =
    new java.util.concurrent.atomic.AtomicReference[Option[String]](None)

  /** Rows the last spool materialized (footer metadata — spec
    * observability for the filter-pruned spool: an oracle sees the
    * statement's result, never how many rows were staged to derive
    * it).
    */
  private[graft] val lastSpoolRows =
    new java.util.concurrent.atomic.AtomicLong(-1L)

  /** Opt-in spec observability: when set, the next spool records the
    * DISTINCT COMMIT DIRECTORIES its source plan reads
    * ([[lastSpoolCommits]]) — the structural proof that multi-window
    * intersection opens fewer commits. Off by default: deriving it
    * walks the plan's input files (a driver-side listing the
    * production path must not pay per statement).
    */
  private[graft] val trackSpoolCommits =
    new java.util.concurrent.atomic.AtomicBoolean(false)

  private[graft] val lastSpoolCommits =
    new java.util.concurrent.atomic.AtomicReference[Seq[String]](Nil)

  /** Test-only interleave point, invoked at the top of the delta
    * write's driver commit: a spec lands a CONCURRENT commit here to
    * race the statement deterministically (the conflict-detection
    * legs). No-op in production.
    */
  private[graft] val testInterleave =
    new java.util.concurrent.atomic.AtomicReference[() => Unit](() => ())

  private[graft] class LogRowLevelOperationBuilder(
      table: GraftLog.LogTable, info: RowLevelOperationInfo)
      extends RowLevelOperationBuilder {
    override def build(): RowLevelOperation =
      new LogRowLevelOperation(table, info.command,
        Option(info.options.get("writer")).getOrElse(Changelog.SoloWriter))
  }

  private[graft] class LogRowLevelOperation(table: GraftLog.LogTable,
                                            cmd: Command, writer: String)
      extends RowLevelOperation with org.apache.spark.sql.connector.write.SupportsDelta {

    private val opts = table.opts
    private val spark = SparkSession.active

    {
      require(table.opsShape,
        s"${opts.path} is a PLAIN (append-only) log — ${cmd.name} needs " +
          "an ops log (commitUpsert/commitDelete from the start)")
      require(!opts.readChangeFeed,
        "the change feed is a derived read surface — run row-level DML " +
          "against the log's table, not its feed")
    }

    /** The head this statement reads and rewrites against, pinned when
      * the analysis rewrite builds the operation — the read version of
      * the OCC discipline (the write lands at the next free id).
      */
    private val head: Long = Changelog.headVersion(opts.path).getOrElse(
      throw new IllegalArgumentException(
        s"${opts.path} has no commits — nothing to ${cmd.name}"))

    /** One spool per operation instance: scan and write share it, a
      * concurrent statement on the same log gets its own.
      */
    private val spoolDir: String =
      s"${opts.path.stripSuffix("/")}__rowlevel_spool_" +
        java.util.UUID.randomUUID().toString.take(8)

    override def command(): Command = cmd

    override def rowId(): Array[NamedReference] =
      opts.keys.map(Expressions.column).toArray

    override def representUpdateAsDeleteAndInsert(): Boolean = false
    // deliberately NOT split: a delete + reinsert of one key inside
    // ONE commit has undefined LWW order (intra-commit ties), so an
    // update must stay a single 'u' row

    override def description(): String =
      s"graft_log row-level ${cmd.name} over ${opts.path} @ $head"

    override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
      new SnapshotSpoolScanBuilder(spark, opts, head, spoolDir)

    override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
      new DeltaWriteBuilder {
        override def build(): DeltaWrite = new DeltaWrite {
          // a mapped log lands its delta under PHYSICAL names — the
          // statement resolved logically, the rows are positional,
          // only the staged field names change (keys never map)
          override def toBatch: DeltaBatchWrite =
            new LogDeltaBatchWrite(opts.path, opts.keys, writer,
              Changelog.toPhysicalSchema(info.schema(),
                Changelog.mappingAt(opts.path, head)),
              cmd.name.toLowerCase, spoolDir,
              s"rowlevel_${info.queryId()}", head)
        }
      }
  }

  // ---- the read side: the head snapshot, spooled and pruned ----------

  /** Scan builder for the operation's target read. Filter pushdown is
    * PRUNING-ONLY: every filter is reported back as post-scan (Spark
    * re-applies the full condition above), and the pushed conjuncts
    * only SHRINK the spool, twice over —
    *  - eq/range conjuncts on KEY columns narrow the spool SOURCE to
    *    the stats-skipping lookup over [[Changelog.KeyRange.extract]]'s
    *    ranges (whole commit directories dropped driver-side — a
    *    provable superset of the condition);
    *  - every TRANSLATABLE filter then applies to the snapshot before
    *    it spools, so the materialized spool is O(matched rows), not
    *    O(snapshot) — at scale, `UPDATE … WHERE <selective>` stages
    *    only what the statement can touch.
    * Both are sound by the same argument: the spool may only lose rows
    * the condition would drop anyway, and the condition still runs in
    * full above the scan.
    */
  private class SnapshotSpoolScanBuilder(spark: SparkSession,
                                         opts: GraftLog.Opts, head: Long,
                                         spoolDir: String)
      extends ScanBuilder with SupportsPushDownFilters {

    private var ranges: Seq[Changelog.KeyRange] = Seq.empty
    private var pruning: Array[Filter] = Array.empty

    override def pushFilters(filters: Array[Filter]): Array[Filter] = {
      ranges = Changelog.KeyRange.extract(opts.keys, filters.toSeq)
      pruning = filters
      filters // all of them re-evaluate above the scan — pruning only
    }

    override def pushedFilters(): Array[Filter] = Array.empty

    override def build(): Scan =
      new SnapshotSpoolScan(spark, opts, head, spoolDir, ranges, pruning)
  }

  private class SnapshotSpoolScan(spark: SparkSession, opts: GraftLog.Opts,
                                  head: Long, spoolDir: String,
                                  ranges: Seq[Changelog.KeyRange],
                                  pruning: Array[Filter])
      extends Scan with Batch {

    GraftRowLevel.lastWindow.set(
      if (ranges.isEmpty) None else Some(ranges.mkString(" & ")))

    private val snapshot: DataFrame = {
      import org.apache.spark.sql.functions.{col, lit}
      val source =
        if (ranges.nonEmpty)
          // one range per constrained key column — the lookup
          // INTERSECTS their stats admissions, so a composite-key
          // statement opens strictly fewer commits than any single
          // column's range alone
          Changelog.lookup(spark, opts.path, opts.keys, head, ranges,
            mergeSchema = opts.mergeSchema)
        else Changelog.snapshotAt(spark, opts.path, opts.keys, head,
          opts.mergeSchema)
      // an EVOLVED table's spool must serve the UNION schema even when
      // the pruned window admits only pre-evolution commits: conform —
      // missing columns null-fill, exactly the evolved read's semantics
      // for those rows
      val conformed =
        if (!opts.mergeSchema) source
        else {
          val union = spark.read.option("mergeSchema", "true")
            .parquet(opts.path).schema.fields
            .filter(f => f.name != Changelog.CommitCol &&
              f.name != Changelog.OpCol)
          val have = source.columns.toSet
          source.select(union.map(f =>
            if (have.contains(f.name)) col(f.name)
            else lit(null).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
        }
      // a MAPPED log's spool serves the LOGICAL shape the statement
      // resolved against: dropped columns vanish, renamed columns
      // surface their logical name — BEFORE the pushed filters, which
      // arrived in logical names (keys are never mapped, so the
      // stats-window pruning above is untouched)
      val mapped = Changelog.applyMapping(conformed,
        Changelog.mappingAt(opts.path, head))
      // every fully-translatable pushed filter shrinks the spool to
      // O(matched rows); untranslatable ones contribute nothing (Spark
      // re-applies the complete condition above the scan either way)
      val out = pruning.flatMap(GraftLog.filterToColumn)
        .foldLeft(mapped)(_ filter _)
      if (GraftRowLevel.trackSpoolCommits.get())
        GraftRowLevel.lastSpoolCommits.set(
          out.inputFiles.flatMap(_.split("/")
              .find(_.startsWith(s"${Changelog.CommitCol}=")))
            .distinct.sorted.toIndexedSeq)
      out
    }

    {
      snapshot.schema.fields.foreach { f =>
        require(graft.streaming.LogSink.supportedType(f.dataType),
          s"table column ${f.name} has type ${f.dataType} — row-level " +
            "DML spools the snapshot through the staged-parquet surface " +
            "(see LogSink.supportedType); widen the type surface or use " +
            "the library verbs")
      }
    }

    override def readSchema(): StructType = snapshot.schema

    override def description(): String = {
      val pruned =
        if (ranges.isEmpty) "full"
        else s"key ranges on ${ranges.map(_.key).mkString(", ")}"
      s"graft_log row-level snapshot spool over ${opts.path} @ $head " +
        s"($pruned)"
    }

    override def toBatch: Batch = this

    override def planInputPartitions(): Array[InputPartition] = {
      // spool ONCE per operation (scan planning can run more than once;
      // a complete spool — _SUCCESS present — is deterministic per
      // pinned head and reused as-is)
      if (!LogFs.exists(LogFs.child(spoolDir, "_SUCCESS"))) {
        LogFs.delete(spoolDir)
        CdcSource.spoolRepresentation(snapshot)
          .write.mode("overwrite").parquet(spoolDir)
        spoolsPlanned.incrementAndGet()
        lastSpoolRows.set(ParquetMeta.dirStats(spoolDir)._1)
      }
      ParquetMeta.dataFiles(spoolDir)
        .map(st =>
          CdcSource.SpoolFile(st.getPath.toString): InputPartition)
        .toArray
    }

    override def createReaderFactory(): PartitionReaderFactory =
      new CdcSource.SpoolReaderFactory(snapshot.schema)
  }

  // ---- the write side: the per-row delta, staged then claimed --------

  /** The statement's delta write: executors stage one parquet file per
    * non-empty task (upserts and tombstones mixed, per-row `_op`), the
    * driver claims the next free commit id and renames the staged
    * files in — one statement, one commit, OCC-arbitrated by the
    * claim. A zero-row delta is a no-op (no claim, no commit). Sweeps
    * the operation's snapshot spool either way.
    *
    * SERIALIZABLE, not blind: the statement's delta was derived from
    * the head pinned at operation build (`readVersion`), so before
    * landing, the claimed id's conflict window is checked with
    * [[Changelog.conflictingCommits]] — a concurrent commit that
    * landed since the read AND touches this delta's keys refuses the
    * statement loudly (first-committer-wins; re-run it against the
    * new head), exactly [[Changelog.commitWithRetry]]'s law.
    * Key-DISJOINT concurrent commits serialize cleanly and the
    * statement lands at the next free id.
    */
  private class LogDeltaBatchWrite(path: String, keys: Seq[String],
                                   writer: String, rowSchema: StructType,
                                   verb: String, spoolDir: String,
                                   stagingId: String, readVersion: Long)
      extends DeltaBatchWrite {

    {
      require(!rowSchema.fieldNames.contains(Changelog.CommitCol) &&
        !rowSchema.fieldNames.contains(Changelog.OpCol),
        s"row-level write schema carries a reserved column " +
          s"(${Changelog.CommitCol}/${Changelog.OpCol})")
      rowSchema.fields.foreach { f =>
        require(LogSink.supportedType(f.dataType),
          s"row-level write column ${f.name} has type ${f.dataType} — " +
            "outside the staged-parquet type surface")
      }
      val missing = keys.filterNot(rowSchema.fieldNames.contains)
      require(missing.isEmpty,
        s"row-level write schema lacks key columns " +
          s"[${missing.mkString(", ")}]")
    }

    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DeltaWriterFactory =
      new LogDeltaWriterFactory(path, rowSchema, keys, stagingId)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      GraftRowLevel.testInterleave.get()()
      val staged = messages.flatMap(LogSink.stagedFileOf)
      if (staged.nonEmpty) {
        val spark = SparkSession.active
        val id = Changelog.claimNextId(path, writer)
        val clash = Changelog.conflictingCommits(spark, path, keys,
          spark.read.parquet(staged.toIndexedSeq: _*)
            .select(keys.map(org.apache.spark.sql.functions.col): _*),
          readVersion, id)
        if (clash.nonEmpty) {
          Changelog.releaseClaim(path, id)
          sweep()
          require(false,
            s"conflict: commits [${clash.mkString(", ")}] landed since " +
              s"this $verb read version $readVersion of $path and touch " +
              "its keys — landing would lose those updates; re-run the " +
              "statement (it will re-derive against the new head)")
        }
        val dir = Changelog.commitDir(path, id)
        LogFs.delete(dir)
        LogFs.mkdirs(dir)
        staged.zipWithIndex.foreach { case (f, i) =>
          val ok = LogFs.fs(path).rename(
            new org.apache.hadoop.fs.Path(f),
            new org.apache.hadoop.fs.Path(dir, f"part-$i%05d.parquet"))
          require(ok, s"failed to land staged delta file $f into $dir")
        }
        Changelog.writeCommitInfo(path, id, verb, writer)
      }
      sweep()
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      sweep()

    private def sweep(): Unit = {
      LogFs.delete(spoolDir)
      LogFs.delete(LogFs.child(LogFs.child(LogFs.child(path,
        "__stream_staging"), s"query=$stagingId"), "epoch=0"))
      val qdir = LogFs.child(LogFs.child(path, "__stream_staging"),
        s"query=$stagingId")
      if (LogFs.list(qdir).isEmpty) LogFs.delete(qdir)
    }
  }

  private class LogDeltaWriterFactory(path: String, rowSchema: StructType,
                                      keys: Seq[String], stagingId: String)
      extends DeltaWriterFactory {
    override def createWriter(partitionId: Int,
                              taskId: Long): DeltaWriter[InternalRow] =
      new LogDeltaWriter(path, rowSchema, keys, stagingId, partitionId,
        taskId)
  }

  /** Per-task delta writer: upserts and tombstones into ONE staged
    * file via the shared [[LogSink.StagingWriter]] with per-row op.
    * `delete` synthesizes the tombstone row (keys from the row-id
    * projection, every data column null — [[Changelog.commitDelete]]'s
    * exact shape); `update` additionally guards key immutability (the
    * row id a delta op matched must be the key it re-emits).
    */
  private class LogDeltaWriter(path: String, rowSchema: StructType,
                               keys: Seq[String], stagingId: String,
                               partitionId: Int, taskId: Long)
      extends DeltaWriter[InternalRow] {

    private val inner = new LogSink.StagingWriter(path, rowSchema,
      stagingId, partitionId, taskId, 0L, constantOp = None,
      perRowOp = true)

    // key positions in the staged (row) schema, in rowId() order — the
    // id projection hands key values in exactly that order
    private val keyPos: Array[Int] =
      keys.map(rowSchema.fieldIndex).toArray
    private val keyTypes = keyPos.map(rowSchema.fields(_).dataType)

    override def insert(row: InternalRow): Unit =
      inner.writeWithOp(row, Some("u"))

    override def update(metadata: InternalRow, id: InternalRow,
                        row: InternalRow): Unit = {
      var i = 0
      while (i < keyPos.length) {
        val matched = id.get(i, keyTypes(i))
        val emitted = row.get(keyPos(i), keyTypes(i))
        require(matched == emitted,
          s"UPDATE rewrites key column ${keys(i)} ($matched -> " +
            s"$emitted) — a delta op's row id is immutable; express a " +
            "key rewrite as DELETE + INSERT (or a MERGE with both " +
            "clauses)")
        i += 1
      }
      inner.writeWithOp(row, Some("u"))
    }

    override def delete(metadata: InternalRow, id: InternalRow): Unit = {
      val tomb = new GenericInternalRow(rowSchema.length)
      var i = 0
      while (i < keyPos.length) {
        tomb.update(keyPos(i), id.get(i, keyTypes(i)))
        i += 1
      }
      inner.writeWithOp(tomb, Some("d"))
    }

    override def commit(): WriterCommitMessage = inner.commit()
    override def abort(): Unit = inner.abort()
    override def close(): Unit = inner.close()
  }
}
