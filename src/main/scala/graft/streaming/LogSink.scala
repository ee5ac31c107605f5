package graft.streaming

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType, ByteType, DateType, DecimalType, DoubleType, FloatType, IntegerType, LongType, MapType, ShortType, StringType, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.sources.{Changelog, LogFs}

/** The ops log as a STREAMING SINK (DSv2 `StreamingWrite`) — the write
  * side of [[CdcSource]]'s read side: ANY streaming query lands its
  * micro-batches as changelog commits with a plain
  * `writeStream.format(classOf[LogSink].getName).option("path", ...)`,
  * instead of hand-rolling `Changelog.commitIdempotent` inside
  * `foreachBatch` (the q184 ingestion shape, now an engine surface —
  * q204 re-expresses q184 on it). Together the pair make the changelog
  * a full streaming TABLE FORMAT: streams write it, streams read its
  * change feed, batch reads time-travel it.
  *
  * Exactly-once = the changelog's own discipline, mapped onto the DSv2
  * epoch protocol:
  *  - EPOCH IDS ARE COMMIT IDS (the q184/StreamIvm batchId contract);
  *  - executors stage one parquet file per non-empty task under
  *    `__stream_staging/epoch=<e>/` (written directly with
  *    parquet-hadoop — no second Spark job inside the sink), and the
  *    task's commit message names the staged file;
  *  - the DRIVER commit claims the epoch's commit id (the OCC
  *    arbitration — a FOREIGN writer holding the id fails loudly;
  *    this query re-delivering its own epoch passes), REPLACES
  *    `_commit=<epoch>` with the staged files via rename, and sweeps
  *    the epoch's staging — so a redelivered epoch lands
  *    byte-equivalently on top of any complete or partial earlier
  *    attempt, and a crash between staging and commit leaves only
  *    staging debris the next attempt replaces;
  *  - abort drops the epoch's staged files.
  *
  * The input schema must match the target log's shape (the
  * plain-vs-ops write guard runs at planning time, BEFORE any epoch
  * starts) and is bounded to long/int/double/float/string/boolean/
  * timestamp/date/binary/decimal (any precision)/struct/array/map
  * columns — the staged files are written by the sink itself, not
  * Spark's parquet writer, so the type surface is explicit (see
  * [[LogSink.supportedType]]; timestamps stage as UTC-micros INT64 and
  * dates as epoch-days INT32, Spark's own internal representations,
  * and read back exactly; the widening lets the documents/embeddings
  * shapes — binary media, float embeddings, token lists, feature
  * maps — ride the streaming table format). Writer identity
  * comes from option `writer` (default [[Changelog.SoloWriter]]) —
  * give concurrent producers distinct ids, the claim arbitration does
  * the rest.
  *
  * Option `multiWriter=true` lets SEVERAL streaming producers ingest
  * into ONE log concurrently: instead of the static base+epoch
  * mapping (under which a second producer's ids collide and fail
  * loudly on the foreign claim), each new epoch claims the next free
  * commit id through the OCC layer and records the assignment in a
  * per-(query, epoch) map marker — redelivered epochs re-land their
  * recorded id idempotently, blind appends never conflict, and the
  * default writer identity becomes the stable streaming query id.
  */
class LogSink extends TableProvider {
  // the sink's "schema" is whatever the query writes; Spark requires
  // an inferSchema for the provider interface but streaming writes
  // carry their own schema through LogicalWriteInfo
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new LogSink.LogTable(schema,
      new CaseInsensitiveStringMap(properties))
}

object LogSink {

  /** The staged-parquet type surface (widened rounds 15–16): the
    * original six scalar types plus DATE (annotated INT32 — Spark's
    * internal date IS epoch days), DECIMAL at ANY precision (annotated
    * INT64 of the unscaled value for p ≤ 18 — the physical layout
    * Spark itself writes there — and FIXED_LEN_BYTE_ARRAY of the
    * two's-complement unscaled value for wider, the DECIMAL(38) money
    * shape), BINARY (the documents media shape, q42), ARRAY of ANY
    * supported element (the standard 3-level LIST group — floats for
    * the embeddings shape, strings for token lists, longs for id
    * lists, nested structs/arrays/maps for document trees), MAP with
    * supported key and value types (the standard key_value group —
    * the tags/features shape), and STRUCT with recursively-supported
    * fields (the q121 CDC payload shape). Everything stages
    * byte-faithfully: what the snapshot read returns is
    * value-identical to what the stream wrote (q216/q229/q233 oracles
    * + StreamTypesSpec byte pins).
    *
    * TIMESTAMP rides at ANY depth (round-16 closing of the last type
    * gap): the sink's stager annotates micros-INT64 wherever it
    * appears, and the CDC/row-level spool rewrites timestamps to
    * plain epoch-micros INT64 RECURSIVELY
    * ([[CdcSource.spoolRepresentation]] — struct fields, array
    * elements, map values), so the spool readers' decode never
    * depends on session-configured physical encodings.
    */
  private[graft] def supportedType(
      dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DoubleType |
         FloatType | StringType | BooleanType | DateType |
         BinaryType | TimestampType => true
    case _: DecimalType => true
    case ArrayType(et, _) => supportedType(et)
    // map KEYS are atomic scalars (parquet requires them non-null;
    // a group-typed key has no stable required-repetition encoding
    // across writers) — values recurse freely
    case MapType(kt, vt, _) =>
      (kt match {
        case LongType | IntegerType | ShortType | ByteType | DoubleType |
             FloatType | StringType | BooleanType | DateType |
             BinaryType | TimestampType | _: DecimalType => true
        case _ => false
      }) && supportedType(vt)
    case s: StructType =>
      s.fields.forall(f => supportedType(f.dataType))
    case _ => false
  }

  /** Smallest FIXED_LEN_BYTE_ARRAY length whose two's-complement range
    * covers `precision` decimal digits — parquet's standard
    * precision→bytes mapping (what Spark's own writer uses).
    */
  private[graft] def minBytesForPrecision(precision: Int): Int =
    (1 to 17).find(n =>
      BigInt(2).pow(8 * n - 1) - 1 >= BigInt(10).pow(precision) - 1)
      .getOrElse(((precision * 3.32193 + 1) / 8 + 1).toInt)

  private[streaming] class LogTable(schema: StructType,
                                    options: CaseInsensitiveStringMap)
      extends Table with SupportsWrite {
    override def name(): String =
      s"graft_log_sink(${options.get("path")})"
    override def schema(): StructType = schema
    override def capabilities(): util.Set[TableCapability] =
      Set(TableCapability.STREAMING_WRITE).asJava
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
      val path = info.options().get("path")
      require(path != null, "LogSink needs option 'path' (the log dir)")
      val multiWriter = Option(info.options().get("multiWriter"))
        .exists(_.toBoolean)
      // multi-writer identity defaults to the stable streaming query id
      // (persisted in the checkpoint) — distinct per producer with zero
      // configuration, constant across restarts so redelivery stays
      // "the same writer re-landing its own id"
      val writer = Option(info.options().get("writer"))
        .getOrElse(if (multiWriter) s"q_${info.queryId()}"
                   else Changelog.SoloWriter)
      val s = info.schema()
      require(!s.fieldNames.contains(Changelog.CommitCol),
        s"LogSink input carries the reserved ${Changelog.CommitCol} " +
          "column — the epoch id IS the commit coordinate")
      s.fields.foreach { f =>
        require(LogSink.supportedType(f.dataType),
          s"LogSink input column ${f.name} has type ${f.dataType} — " +
            "the staged parquet writer covers long/int/short/byte/" +
            "double/float/string/boolean/timestamp/date/binary/" +
            "decimal/array/map (atomic keys)/struct only")
      }
      // the plain-vs-ops shape guard, BEFORE any epoch runs: a plain
      // stream into an ops log would land rows that compact as DEAD
      Changelog.requireMatchingShape(
        org.apache.spark.sql.SparkSession.active
          .createDataFrame(new util.ArrayList[org.apache.spark.sql.Row](),
            s),
        Changelog.Listing.of(path))
      val queryId = info.queryId()
      // SupportsStreamingUpdateAsAppend (the Kafka-sink discipline):
      // an UPDATE-mode streaming aggregation's per-batch output — the
      // groups whose state changed — lands as ordinary appended rows.
      // For a changelog target that is exactly right: each changed
      // group's row is an upsert carrying its new running total, and
      // the snapshot's per-key LWW compaction serves the latest one —
      // the sink-side half of a fully declarative materialized view
      // (q207: readStream(CDC) → groupBy.agg → writeStream(LogSink),
      // no foreachBatch anywhere).
      new WriteBuilder
          with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend {
        override def build(): Write = new Write {
          override def toStreaming: StreamingWrite =
            new LogStreamingWrite(path, writer, s, queryId, multiWriter)
        }
      }
    }
  }

  private case class StagedFile(file: String) extends WriterCommitMessage
  private case object NoRows extends WriterCommitMessage

  /** The epoch→commit streaming write. `constantOp` is the
    * table-identity path (`writeStream.toTable("glog.t")` on an ops
    * log): the input is TABLE-shaped (no op column — the table schema
    * has none to carry), and every row lands as an upsert, exactly
    * like the batch INSERT INTO.
    */
  private[graft] class LogStreamingWrite(path: String, writer: String,
                                         schema: StructType, queryId: String,
                                         multiWriter: Boolean,
                                         constantOp: Option[String] = None)
      extends StreamingWrite {

    // staging is namespaced by QUERY, not just epoch: two concurrent
    // producers both run epochs 0,1,2…, and a shared epoch dir would
    // let one query's commit sweep the other's in-flight staged files
    private def stagingDir(epochId: Long): String =
      LogFs.child(LogFs.child(LogFs.child(path, "__stream_staging"),
        s"query=$queryId"), s"epoch=$epochId")

    /** Sweep the epoch's staging and prune the per-query parent once
      * its last epoch is gone — "no staging debris after committed
      * epochs" stays true at the `__stream_staging` root.
      */
    private def sweepStaging(epochId: Long): Unit = {
      LogFs.delete(stagingDir(epochId))
      val qdir = LogFs.child(LogFs.child(path, "__stream_staging"),
        s"query=$queryId")
      if (LogFs.list(qdir).isEmpty) LogFs.delete(qdir)
    }

    // ---- epoch → commit mapping -------------------------------------
    //
    // Epoch ids restart at 0 for every FRESH checkpoint, so "epoch id
    // IS the commit id" would let a brand-new query silently OVERWRITE
    // commit 0 of an existing log (its own writer identity passes the
    // claim). Instead each query records a per-query BASE marker
    // (`_graft_sinkbase_<queryId>` — the stable streaming query id,
    // persisted in the checkpoint) the first time it commits:
    // base = head + 1 − firstEpoch, and every epoch lands at
    // base + epochId. A fresh query therefore APPENDS after the
    // existing head (Delta's txnAppId/txnVersion discipline), while a
    // redelivered epoch of the SAME query reads the same marker and
    // overwrites its own commit idempotently. Marker lands BEFORE the
    // claim/rename, so a crash anywhere in the sequence replays onto
    // the same commit id.

    // ---- multi-writer mode: epoch → commit via claim-next-free ------
    //
    // The base mapping above assumes this query is the log's ONLY
    // producer: epoch e lands at base + e, so a SECOND concurrent
    // producer's commits would collide with ids this query considers
    // its own — the claim arbitration turns that into a loud foreign-
    // claim failure (safe, but unavailable). With `multiWriter=true`
    // the mapping is dynamic instead: each NEW epoch claims the next
    // free id through the OCC layer (Changelog.claimNextId — blind
    // appends never conflict, so no key-intersection check is needed)
    // and records the assignment in a `_graft_sinkmap_<queryId>_<e>`
    // marker BEFORE landing; a redelivered epoch reads its marker back
    // and re-lands the SAME id idempotently. Producers interleave
    // arbitrarily, but each query's epochs claim in commit order
    // (Spark commits epochs sequentially per query), so per-key LWW
    // order within one producer is preserved — concurrent producers
    // writing DISJOINT keys compose deterministically, overlapping
    // keys serialize by claim order (exactly Delta's concurrent blind-
    // append semantics). A crash between claim and marker leaves an
    // orphaned claim — the documented commitWithRetry operator state.

    private def epochMarker(epochId: Long): String =
      Changelog.Marker.SinkMap.at(path, s"${queryId}_$epochId")

    private def resolveEpochCommit(epochId: Long): Long = {
      val marker = epochMarker(epochId)
      if (LogFs.exists(marker)) {
        val id = LogFs.readString(marker).trim.toLong
        // redelivery: the claim names us and passes; a foreign holder
        // (impossible unless the marker was tampered with) stays loud
        Changelog.claimCommit(path, id, writer)
        id
      } else {
        val id = Changelog.claimNextId(path, writer)
        LogFs.writeAtomic(marker, id.toString)
        id
      }
    }

    private def baseMarker: String =
      LogFs.child(path, s"_graft_sinkbase_$queryId")

    private def resolveBase(epochId: Long): Long =
      if (LogFs.exists(baseMarker)) LogFs.readString(baseMarker).trim.toLong
      else {
        val head = Changelog.Listing.of(path).head.getOrElse(-1L)
        val b = head + 1 - epochId
        LogFs.writeAtomic(baseMarker, b.toString)
        b
      }

    override def createStreamingWriterFactory(
        info: PhysicalWriteInfo): StreamingDataWriterFactory =
      new LogWriterFactory(path, schema, queryId, constantOp)

    override def commit(epochId: Long,
                        messages: Array[WriterCommitMessage]): Unit = {
      val commitId =
        if (multiWriter) resolveEpochCommit(epochId)
        else {
          val id = resolveBase(epochId) + epochId
          // OCC arbitration: a foreign writer holding this id is a loud
          // conflict; our own redelivery passes (the claim names us)
          Changelog.claimCommit(path, id, writer)
          id
        }
      val staged = messages.collect { case StagedFile(f) => f }
      // CHECK constraints: validate the epoch's staged files BEFORE
      // any rename lands them — a violating epoch fails loudly here
      // and nothing lands (one read of the epoch's own files, only on
      // constrained logs)
      Changelog.validateStagedConstraints(
        org.apache.spark.sql.SparkSession.active, path,
        staged.toIndexedSeq)
      val dir = Changelog.commitDir(path, commitId)
      // replace-don't-append: a redelivered epoch overwrites any
      // complete or partial earlier attempt (the commitIdempotent
      // discipline, file-level)
      LogFs.delete(dir)
      if (staged.nonEmpty) {
        LogFs.mkdirs(dir)
        staged.zipWithIndex.foreach { case (f, i) =>
          val fs = LogFs.fs(path)
          val ok = fs.rename(new org.apache.hadoop.fs.Path(f),
            new org.apache.hadoop.fs.Path(dir, f"part-$i%05d.parquet"))
          require(ok, s"failed to land staged epoch file $f into $dir")
        }
      }
      // operation metadata like every batch verb (a redelivered epoch
      // re-records the identical marker)
      Changelog.writeCommitInfo(path, commitId, "stream-epoch", writer)
      sweepStaging(epochId)
    }

    override def abort(epochId: Long,
                       messages: Array[WriterCommitMessage]): Unit =
      sweepStaging(epochId)
  }

  private class LogWriterFactory(path: String, schema: StructType,
                                 queryId: String,
                                 constantOp: Option[String])
      extends StreamingDataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long,
                              epochId: Long): DataWriter[InternalRow] =
      new StagingWriter(path, schema, queryId, partitionId, taskId, epochId,
        constantOp)
  }

  /** The batch-write half of the staging discipline (GraftLog's
    * `INSERT INTO` / `writeTo(...).append()`): same staged files, same
    * message protocol, epoch pinned to 0 under a per-write staging id.
    * `constantOp` appends a constant `_op` column to every staged row —
    * an INSERT into an OPS log is an upsert by definition, and the
    * writer's input schema is the TABLE's (snapshot) schema, which has
    * no op column to carry.
    */
  private[graft] class BatchStagingFactory(path: String, schema: StructType,
                                           stagingId: String,
                                           constantOp: Option[String])
      extends org.apache.spark.sql.connector.write.DataWriterFactory {
    override def createWriter(partitionId: Int,
                              taskId: Long): DataWriter[InternalRow] =
      new StagingWriter(path, schema, stagingId, partitionId, taskId, 0L,
        constantOp)
  }

  private[graft] def stagedFileOf(
      m: WriterCommitMessage): Option[String] = m match {
    case StagedFile(f) => Some(f)
    case _ => None
  }

  /** Writes the task's rows to ONE staged parquet file with the
    * parquet-hadoop example API (the [[CdcSource]] spool reader's
    * mirror image). The file name carries partition, task, and a UUID:
    * speculative or retried attempts of one partition stage distinct
    * files and only the attempt whose message reaches the driver
    * lands. `constantOp` stamps every row with one `_op` (the INSERT
    * path); `perRowOp` reserves the `_op` field for the caller to set
    * per row via [[writeWithOp]] (the row-level-operation delta path,
    * where one task mixes upserts and tombstones).
    */
  private[graft] class StagingWriter(path: String, schema: StructType,
                              queryId: String, partitionId: Int,
                              taskId: Long, epochId: Long,
                              constantOp: Option[String] = None,
                              perRowOp: Boolean = false)
      extends DataWriter[InternalRow] {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.ParquetWriter
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
    import org.apache.parquet.schema.LogicalTypeAnnotation.stringType
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

    /** One parquet field per Spark type — recursive for STRUCT, LIST,
      * and MAP. `required = true` only for map KEYS (parquet's map
      * contract; Spark map keys are never null).
      */
    private def parquetField(
        name: String,
        dt: org.apache.spark.sql.types.DataType,
        required: Boolean = false)
        : org.apache.parquet.schema.Type = {
      def prim(t: org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName) =
        if (required) Types.required(t) else Types.optional(t)
      dt match {
        case LongType    => prim(INT64).named(name)
        case IntegerType => prim(INT32).named(name)
        // annotated INT32 — parquet's standard int8/int16 encodings
        // (what Spark's own writer uses; reads back as byte/short)
        case ShortType => prim(INT32)
          .as(LogicalTypeAnnotation.intType(16, true)).named(name)
        case ByteType => prim(INT32)
          .as(LogicalTypeAnnotation.intType(8, true)).named(name)
        case DoubleType  => prim(DOUBLE).named(name)
        case FloatType   => prim(FLOAT).named(name)
        case BooleanType => prim(BOOLEAN).named(name)
        case StringType  => prim(BINARY).as(stringType()).named(name)
        // Spark's internal timestamp IS epoch micros (UTC-adjusted):
        // the annotated INT64 reads back as TimestampType exactly
        case TimestampType => prim(INT64).as(
          LogicalTypeAnnotation.timestampType(true,
            LogicalTypeAnnotation.TimeUnit.MICROS)).named(name)
        // Spark's internal date IS epoch days: annotated INT32
        case DateType => prim(INT32)
          .as(LogicalTypeAnnotation.dateType()).named(name)
        // unscaled long + decimal annotation for p <= 18 (the layout
        // Spark's own writer uses there); two's-complement fixed bytes
        // for wider — the DECIMAL(38) shape
        case d: DecimalType if d.precision <= 18 => prim(INT64)
          .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
          .named(name)
        case d: DecimalType => prim(FIXED_LEN_BYTE_ARRAY)
          .length(minBytesForPrecision(d.precision))
          .as(LogicalTypeAnnotation.decimalType(d.scale, d.precision))
          .named(name)
        case BinaryType => prim(BINARY).named(name)
        // standard 3-level LIST group (what Spark writes and reads):
        // <name> (LIST) { repeated group list { optional <element> } }
        case ArrayType(et, _) =>
          Types.optionalGroup().as(LogicalTypeAnnotation.listType())
            .addField(Types.repeatedGroup()
              .addField(parquetField("element", et))
              .named("list"))
            .named(name)
        // standard MAP group: <name> (MAP) { repeated group key_value
        // { required key; optional value } } — Spark's own layout
        case MapType(kt, vt, _) =>
          Types.optionalGroup().as(LogicalTypeAnnotation.mapType())
            .addField(Types.repeatedGroup()
              .addField(parquetField("key", kt, required = true))
              .addField(parquetField("value", vt))
              .named("key_value"))
            .named(name)
        case s: org.apache.spark.sql.types.StructType =>
          s.fields.foldLeft(Types.optionalGroup())((g, f) =>
            g.addField(parquetField(f.name, f.dataType))).named(name)
        case other => throw new IllegalStateException(
          s"unreachable: type $other passed the planning bound")
      }
    }

    private val messageType: MessageType = {
      val b = Types.buildMessage()
      schema.fields.foreach(f => b.addField(parquetField(f.name, f.dataType)))
      if (constantOp.isDefined || perRowOp) b.addField(
        Types.optional(BINARY).as(stringType()).named(Changelog.OpCol))
      b.named("graft_log_epoch")
    }

    private val file = LogFs.child(
      LogFs.child(LogFs.child(LogFs.child(path, "__stream_staging"),
        s"query=$queryId"), s"epoch=$epochId"),
      s"stage-$partitionId-$taskId-${java.util.UUID.randomUUID()}.parquet")

    private lazy val out: ParquetWriter[
        org.apache.parquet.example.data.Group] =
      ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
        .withType(messageType)
        .withConf(new Configuration())
        .build()
    private val factory = new SimpleGroupFactory(messageType)
    private var wrote = false

    override def write(row: InternalRow): Unit = writeWithOp(row, constantOp)

    /** One row with an explicit op — the delta writers' entry. Null
      * fields are simply absent from the group (including a delete's
      * tombstone row, where every non-key column is null).
      */
    /** Append field `i` of `src` (typed `dt`, known non-null) into
      * `g` under `name` — recursive for STRUCT, so nested payloads
      * stage with the same per-type encodings as top-level columns.
      */
    private def appendField(g: org.apache.parquet.example.data.Group,
                            name: String,
                            dt: org.apache.spark.sql.types.DataType,
                            src: org.apache.spark.sql.catalyst.expressions.SpecializedGetters,
                            i: Int): Unit = dt match {
      case LongType      => g.append(name, src.getLong(i))
      case IntegerType   => g.append(name, src.getInt(i))
      case ShortType     => g.append(name, src.getShort(i).toInt)
      case ByteType      => g.append(name, src.getByte(i).toInt)
      case DoubleType    => g.append(name, src.getDouble(i))
      case FloatType     => g.append(name, src.getFloat(i))
      case BooleanType   => g.append(name, src.getBoolean(i))
      case StringType    => g.append(name, src.getUTF8String(i).toString)
      case TimestampType => g.append(name, src.getLong(i))
      case DateType      => g.append(name, src.getInt(i))
      case d: DecimalType if d.precision <= 18 =>
        g.append(name,
          src.getDecimal(i, d.precision, d.scale).toUnscaledLong)
      case d: DecimalType =>
        // two's-complement unscaled value, sign-extended to the fixed
        // width (the parquet DECIMAL fixed-binary contract)
        val un = src.getDecimal(i, d.precision, d.scale)
          .toJavaBigDecimal.unscaledValue()
        val n = minBytesForPrecision(d.precision)
        val minimal = un.toByteArray
        val buf = new Array[Byte](n)
        if (un.signum() < 0) java.util.Arrays.fill(buf, -1: Byte)
        System.arraycopy(minimal, 0, buf, n - minimal.length,
          minimal.length)
        g.append(name,
          org.apache.parquet.io.api.Binary.fromConstantByteArray(buf))
      case BinaryType =>
        g.append(name,
          org.apache.parquet.io.api.Binary.fromReusedByteArray(
            src.getBinary(i)))
      case ArrayType(et, _) =>
        // standard 3-level list: <name> { repeated list { element } } —
        // elements recurse through this dispatch (ArrayData IS a
        // SpecializedGetters), so nested structs/arrays/maps stage
        // with the same per-type encodings as top-level columns
        val arr = src.getArray(i)
        val listGroup = g.addGroup(name)
        var j = 0
        while (j < arr.numElements()) {
          val elt = listGroup.addGroup("list")
          if (!arr.isNullAt(j)) appendField(elt, "element", et, arr, j)
          j += 1
        }
      case MapType(kt, vt, _) =>
        // standard map: <name> { repeated key_value { key; value } } —
        // keys are never null in Spark maps (required in the schema)
        val m = src.getMap(i)
        val mapGroup = g.addGroup(name)
        val keys = m.keyArray()
        val vals = m.valueArray()
        var j = 0
        while (j < m.numElements()) {
          val kv = mapGroup.addGroup("key_value")
          appendField(kv, "key", kt, keys, j)
          if (!vals.isNullAt(j)) appendField(kv, "value", vt, vals, j)
          j += 1
        }
      case s: org.apache.spark.sql.types.StructType =>
        val child = src.getStruct(i, s.length)
        val childGroup = g.addGroup(name)
        var j = 0
        while (j < s.length) {
          if (!child.isNullAt(j))
            appendField(childGroup, s.fields(j).name, s.fields(j).dataType,
              child, j)
          j += 1
        }
      case _ => ()
    }

    private[graft] def writeWithOp(row: InternalRow,
                                   op: Option[String]): Unit = {
      val g = factory.newGroup()
      var i = 0
      while (i < schema.length) {
        if (!row.isNullAt(i))
          appendField(g, schema.fields(i).name, schema.fields(i).dataType,
            row, i)
        i += 1
      }
      op.foreach(o => g.append(Changelog.OpCol, o))
      out.write(g)
      wrote = true
    }

    override def commit(): WriterCommitMessage = {
      if (wrote) { out.close(); StagedFile(file) }
      else NoRows // empty task: nothing staged
    }

    override def abort(): Unit = {
      if (wrote) { out.close(); LogFs.delete(file) }
    }

    override def close(): Unit = ()
  }
}
