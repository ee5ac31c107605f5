package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Changelog, GraftLog, GraftLogCatalog, LogFs, Sinks}

/** Table-format interface pack (round 15): the changelog's BATCH DSv2
  * read surface — `spark.read.format(GraftLog)` with versionAsOf /
  * timestampAsOf / readChangeFeed options, catalog registration with
  * SQL `VERSION AS OF` / `TIMESTAMP AS OF`, and the filter-driven
  * commit-stats skipping with its structural plan proof. Each query
  * reaches a law already oracle-proven through the LIBRARY calls
  * (q181/q182/q190's oracles verbatim where the law is shared), so a
  * hash mismatch here isolates the INTERFACE, never the engine.
  */
object TableFormatQueries {

  private def fmt = classOf[GraftLog].getName

  /** q216/q217's subject rows: documents joined to embeddings by id —
    * the media-and-vector shape a training pipeline actually streams
    * (binary payload from the text bytes, a DATE, a DECIMAL score, the
    * float embedding). Deterministic closed form over the two tables.
    */
  private def typedDocs(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select("doc_id", "lang", "text", "n_chars")
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id").as("doc_id"), col("embedding").as("emb"))
    docs.join(emb, "doc_id").select(
      col("doc_id"), col("lang"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        (col("doc_id") % 365).cast("int")).as("added"),
      (col("n_chars") + lit(0.25)).cast("decimal(12,2)").as("score"),
      col("text").cast("binary").as("payload"),
      col("emb"))
  }

  private val TypedLandingSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("lang",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("added",
      org.apache.spark.sql.types.DateType),
    org.apache.spark.sql.types.StructField("score",
      org.apache.spark.sql.types.DecimalType(12, 2)),
    org.apache.spark.sql.types.StructField("payload",
      org.apache.spark.sql.types.BinaryType),
    org.apache.spark.sql.types.StructField("emb",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType)),
    org.apache.spark.sql.types.StructField("op",
      org.apache.spark.sql.types.StringType)))

  /** q216's three mtime-ordered deliveries (the stagedEventsLanding
    * discipline): full upsert; every-7th tombstone; every-10th
    * re-upsert with payload || '!v2', score +100, added +1 day, and
    * the embedding doubled (float ×2 is exact — no rounding rides the
    * oracle). Memoized per JVM per input dir; staged outside the
    * bench's timed window via [[stageFixtures]].
    */
  private val typedLandingStaged =
    scala.collection.concurrent.TrieMap[String, String]()
  private def stagedTypedLanding(s: SparkSession, d: String): String =
    typedLandingStaged.getOrElseUpdate(d, {
      val path = Sinks.tmpPathFor("typed_docs_landing", d)
      Sinks.deleteRecursively(path)
      val base = typedDocs(s, d)
      val k = col("doc_id")
      val nulls = Seq(
        lit(null).cast("string").as("lang"),
        lit(null).cast("date").as("added"),
        lit(null).cast("decimal(12,2)").as("score"),
        lit(null).cast("binary").as("payload"),
        lit(null).cast("array<float>").as("emb"))
      val days = Seq(
        base.withColumn("op", lit("u")),
        base.filter(k % 7 === 0).select(col("doc_id") +: nulls: _*)
          .withColumn("op", lit("d")),
        base.filter(k % 10 === 0).select(
            col("doc_id"), col("lang"),
            date_add(col("added"), 1).as("added"),
            (col("score") + 100).cast("decimal(12,2)").as("score"),
            concat(col("payload"), lit("!v2").cast("binary")).as("payload"),
            transform(col("emb"),
              x => (x.cast("double") * 2).cast("float")).as("emb"))
          .withColumn("op", lit("u")))
      def files() = Option(new java.io.File(path).listFiles()).fold(
        Set.empty[java.io.File])(
        _.filter(_.getName.endsWith(".parquet")).toSet)
      var mtime = System.currentTimeMillis() - (days.length + 2) * 2000L
      days.foreach { day =>
        val before = files()
        day.coalesce(1).write.mode("append").parquet(path)
        (files() -- before).foreach(f =>
          require(f.setLastModified(mtime), s"setLastModified failed on $f"))
        mtime += 2000L
      }
      path
    })

  /** Stage q216's, q229's, and q233's landings outside the bench's
    * timed window.
    */
  def stageFixtures(s: SparkSession, d: String): Unit = {
    stagedTypedLanding(s, d): Unit
    stagedWideLanding(s, d): Unit
    stagedGenLanding(s, d): Unit
  }

  /** q233's subject rows: documents with generic ARRAY and MAP columns
    * — a token list (array&lt;string&gt;), an id list (array&lt;long&gt;),
    * a feature map (map&lt;string,double&gt;, quarter-precision values so
    * the ×4 render is integral), and a FLOAT ratio. Deterministic
    * closed form over documents alone.
    */
  private def genDocs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      array(col("lang"),
        concat(lit("t"), (col("doc_id") % 5).cast("string"))).as("toks"),
      array(col("doc_id"), col("doc_id") % 97).as("ids"),
      map(lit("len"), col("n_chars").cast("double"),
        lit("mod"), (col("doc_id") % 7).cast("double") + 0.25).as("feats"),
      ((col("doc_id") % 128).cast("double") * 0.25).cast("float")
        .as("ratio"))

  private val GenLandingSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("toks",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType)),
    org.apache.spark.sql.types.StructField("ids",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType)),
    org.apache.spark.sql.types.StructField("feats",
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.DoubleType)),
    org.apache.spark.sql.types.StructField("ratio",
      org.apache.spark.sql.types.FloatType),
    org.apache.spark.sql.types.StructField("op",
      org.apache.spark.sql.types.StringType)))

  /** q233's three mtime-ordered deliveries: full upsert; every-6th
    * tombstone; every-9th re-upsert with '!x' appended to the token
    * list, doc_id+1 appended to the id list, the feature map's KEY SET
    * changed ({len,mod} → {len+100, upd=1.25} — map equality under a
    * different key set is part of what's under test), and the ratio
    * negated (exact in float).
    */
  private val genLandingStaged =
    scala.collection.concurrent.TrieMap[String, String]()
  private def stagedGenLanding(s: SparkSession, d: String): String =
    genLandingStaged.getOrElseUpdate(d, {
      val path = Sinks.tmpPathFor("gen_docs_landing", d)
      Sinks.deleteRecursively(path)
      val base = genDocs(s, d)
      val k = col("doc_id")
      val nulls = Seq(
        lit(null).cast("array<string>").as("toks"),
        lit(null).cast("array<bigint>").as("ids"),
        lit(null).cast("map<string,double>").as("feats"),
        lit(null).cast("float").as("ratio"))
      val days = Seq(
        base.withColumn("op", lit("u")),
        base.filter(k % 6 === 0).select(col("doc_id") +: nulls: _*)
          .withColumn("op", lit("d")),
        base.filter(k % 9 === 0).select(
            col("doc_id"),
            concat(col("toks"), array(lit("!x"))).as("toks"),
            concat(col("ids"), array(col("doc_id") + 1)).as("ids"),
            map(lit("len"), element_at(col("feats"), "len") + 100,
              lit("upd"), lit(1.25)).as("feats"),
            (-col("ratio")).cast("float").as("ratio"))
          .withColumn("op", lit("u")))
      def files() = Option(new java.io.File(path).listFiles()).fold(
        Set.empty[java.io.File])(
        _.filter(_.getName.endsWith(".parquet")).toSet)
      var mtime = System.currentTimeMillis() - (days.length + 2) * 2000L
      days.foreach { day =>
        val before = files()
        day.coalesce(1).write.mode("append").parquet(path)
        (files() -- before).foreach(f =>
          require(f.setLastModified(mtime), s"setLastModified failed on $f"))
        mtime += 2000L
      }
      path
    })

  /** Scalar verify form shared by q216/q217: binary → its (ASCII)
    * string + byte length, float arrays → exact-ppm flattening with
    * BOTH engines forced through double (`array_join`, the q43/q76
    * flatten discipline — the driver's comparator hashes scalar cells
    * only), decimal → double (the scale contract is spec-pinned).
    */
  private def emb_ppm(c: org.apache.spark.sql.Column) =
    array_join(transform(c,
      x => round(x.cast("double") * 1000000L).cast("long").cast("string")),
      ",")

  /** q229's subject rows: documents with a STRUCT payload (lang +
    * n_chars) and a DECIMAL(38,10) built from a STRING law — every
    * digit is concatenated, never computed, so both engines parse the
    * identical literal and no arithmetic rounding can ride the oracle.
    * The unscaled value always exceeds 10^18 (11 appended digits), so
    * the sink's FIXED_LEN_BYTE_ARRAY decimal path is the one under
    * test; every-3rd value is negative (sign extension under test).
    */
  private def wideDocs(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val bigStr = concat(
      when(col("doc_id") % 3 === 0, lit("-")).otherwise(lit("")),
      col("doc_id").cast("string"), lit("12345678901"), lit("."),
      lpad((col("doc_id") % 997).cast("string"), 10, "0"))
    base.select(col("doc_id"),
      struct(col("lang"), col("n_chars").cast("long").as("n")).as("meta"),
      bigStr.cast("decimal(38,10)").as("big"))
  }

  private val WideLandingSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("meta",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType)))),
    org.apache.spark.sql.types.StructField("big",
      org.apache.spark.sql.types.DecimalType(38, 10)),
    org.apache.spark.sql.types.StructField("op",
      org.apache.spark.sql.types.StringType)))

  /** q229's three mtime-ordered deliveries: full upsert; every-6th
    * tombstone; every-8th re-upsert with lang || '!x', n + 9, and the
    * decimal NEGATED (exact — no rounding).
    */
  private val wideLandingStaged =
    scala.collection.concurrent.TrieMap[String, String]()
  private def stagedWideLanding(s: SparkSession, d: String): String =
    wideLandingStaged.getOrElseUpdate(d, {
      val path = Sinks.tmpPathFor("wide_docs_landing", d)
      Sinks.deleteRecursively(path)
      val base = wideDocs(s, d)
      val k = col("doc_id")
      val days = Seq(
        base.withColumn("op", lit("u")),
        base.filter(k % 6 === 0).select(col("doc_id"),
            lit(null).cast(WideLandingSchema("meta").dataType).as("meta"),
            lit(null).cast("decimal(38,10)").as("big"))
          .withColumn("op", lit("d")),
        base.filter(k % 8 === 0).select(col("doc_id"),
            struct(concat(col("meta.lang"), lit("!x")).as("lang"),
              (col("meta.n") + 9).as("n")).as("meta"),
            (-col("big")).cast("decimal(38,10)").as("big"))
          .withColumn("op", lit("u")))
      def files() = Option(new java.io.File(path).listFiles()).fold(
        Set.empty[java.io.File])(
        _.filter(_.getName.endsWith(".parquet")).toSet)
      var mtime = System.currentTimeMillis() - (days.length + 2) * 2000L
      days.foreach { day =>
        val before = files()
        day.coalesce(1).write.mode("append").parquet(path)
        (files() -- before).foreach(f =>
          require(f.setLastModified(mtime), s"setLastModified failed on $f"))
        mtime += 2000L
      }
      path
    })

  /** q215's skipping subject: an ops log whose commits hold DISJOINT
    * o_orderkey ranges — commit 0 the lower half, commit 1 the upper
    * half, commit 2 a +100 update of the lowest quarter — with stats
    * markers on every commit, so a high-key probe admits exactly one
    * directory. Returns (path, maxKey).
    */
  private def disjointOpsLog(s: SparkSession, d: String,
                             name: String): (String, Long) = {
    val path = Sinks.tmpPathFor(name, d)
    Sinks.deleteRecursively(path)
    val o = AuditQueries.opsOrders(s, d)
    val m = o.agg(max(col("o_orderkey"))).head().getLong(0)
    val k = col("o_orderkey")
    Changelog.commitUpsert(o.filter(k <= m / 2), path, 0L)
    Changelog.commitUpsert(o.filter(k > m / 2), path, 1L)
    Changelog.commitUpsert(
      o.filter(k <= m / 4)
        .withColumn("o_totalprice", col("o_totalprice") + 100.0),
      path, 2L)
    for (c <- 0L to 2L) Changelog.writeCommitStats(s, path, c, "o_orderkey")
    (path, m)
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // THE CHANGELOG AS A BATCH DSv2 TABLE — the interface gap round 14
    // left: `spark.read.format(GraftLog).option("versionAsOf", 2)` over
    // the three-commit ops log, resolving through the engine's own
    // snapshot plan via the pre-CBO rule (the merge-on-read discipline:
    // the table IS its plan — EXPLAIN shows the _commit partition
    // filters and the top-1 window compaction, not an opaque scan). Must
    // equal the library read exactly — q181's oracle verbatim.
    "q211_log_table_snapshot" -> ((s, d) =>
      s.read.format(fmt)
        .option("path", AuditQueries.stagedOpsLog(s, d))
        .option("keys", "o_orderkey")
        .option("versionAsOf", 2)
        .load()),

    // SQL TIME TRAVEL through the session catalog — `SELECT … FROM
    // glog.t VERSION AS OF 2` lands on TableCatalog.loadTable(ident,
    // version) (Spark's own DSv2 time-travel contract) and resolves
    // through the same rule: the q181 state reached through a PURE SQL
    // STRING, table registration being three session-conf keys (the
    // q156 catalog discipline — configuration, not a metastore).
    "q212_log_table_sql_version" -> ((s, d) => {
      val path = AuditQueries.stagedOpsLog(s, d)
      GraftLogCatalog.register(s, "glog", "orders_ops_q212", path,
        Seq("o_orderkey"))
      s.sql("SELECT * FROM glog.orders_ops_q212 VERSION AS OF 2")
    }),

    // SQL `TIMESTAMP AS OF` — the clock half of the q212 surface, on
    // q190's stamped plain log (commits stamped 1000/2000/3000 epoch
    // millis): the SQL literal evaluates to epoch micros, the catalog
    // converts to the stamp clock, versionAtTimestamp resolves the
    // latest commit ≤ 2500 — commit 2, already in the log but stamped
    // 3000, must not leak. q190's oracle verbatim, reached through
    // Spark's parser instead of the library call.
    "q213_log_table_sql_timestamp" -> ((s, d) => {
      val path = Sinks.tmpPathFor("orders_ts_log_q213", d)
      Sinks.deleteRecursively(path)
      val o = AuditQueries.opsOrders(s, d)
      val k = col("o_orderkey")
      Changelog.commitStamped(o.filter(k % 4 =!= 3), path, 0L, 1000L)
      Changelog.commitStamped(
        o.filter(k % 4 =!= 3 && k % 7 === 1)
          .withColumn("o_totalprice", col("o_totalprice") + 500.0),
        path, 1L, 2000L)
      Changelog.commitStamped(o.filter(k % 4 === 3), path, 2L, 3000L)
      GraftLogCatalog.register(s, "glog", "orders_ts_q213", path,
        Seq("o_orderkey"))
      s.sql("SELECT * FROM glog.orders_ts_q213 " +
        "TIMESTAMP AS OF '1970-01-01 00:00:02.5'")
    }),

    // CHANGE FEED through the batch table — `readChangeFeed=true` with
    // startingVersion/endingVersion resolves to changesBetween's
    // full-label feed (insert/update/delete, net semantics, no-op
    // suppression): q182's oracle verbatim through the reader options.
    "q214_log_table_cdf" -> ((s, d) =>
      s.read.format(fmt)
        .option("path", AuditQueries.stagedOpsLog(s, d))
        .option("keys", "o_orderkey")
        .option("readChangeFeed", "true")
        .option("startingVersion", 0).option("endingVersion", 2)
        .option("trackCols", "o_totalprice")
        .load()),

    // FILTER-DRIVEN COMMIT SKIPPING ON THE TABLE SURFACE — the pushed
    // key predicate routes the relation through Changelog.lookup, so the
    // commit-stats index prunes whole commit directories DRIVER-SIDE:
    // on a log whose commits hold disjoint key ranges, the probe
    // `o_orderkey > 3m/4` must read ONLY `_commit=1` — proven
    // structurally (df.inputFiles) before the values are returned,
    // because an oracle can see the rows but never which directories
    // were opened. The require() is the plan proof the q201 payload
    // counter established as the discipline.
    "q215_log_table_skipping" -> ((s, d) => {
      val (path, m) = disjointOpsLog(s, d, "orders_ops_log_q215")
      val t = 3L * m / 4L
      val df = s.read.format(fmt)
        .option("path", path).option("keys", "o_orderkey")
        .option("versionAsOf", 2)
        .load()
        .filter(col("o_orderkey") > t)
      val dirs = df.inputFiles.map(f =>
        f.split("/").find(_.startsWith(s"${Changelog.CommitCol}="))
          .getOrElse("?")).distinct.sorted
      require(dirs.toSeq == Seq(s"${Changelog.CommitCol}=1"),
        s"stats skipping must admit exactly _commit=1 for the probe " +
          s"(> $t of max $m), but the scan reads [${dirs.mkString(", ")}]")
      df
    }),

    // THE MEDIA-AND-VECTOR SHAPE THROUGH THE STREAMING TABLE FORMAT —
    // the round-15 type widening on the oracle-backed surface: binary
    // payloads (the documents media shape, q42), DATE, DECIMAL(12,2),
    // and the float embedding ride writeStream(LogSink) as three
    // mtime-ordered deliveries (full upsert, every-7th tombstone,
    // every-10th re-upsert with payload || '!v2', score +100, added
    // +1 day, embedding ×2 — float doubling is exact, so no rounding
    // rides the law), staged by the sink's own parquet writer and read
    // back by Spark's. Verify form flattens to scalars (the comparator
    // contract): payload → its ASCII string + byte length, embedding →
    // exact-ppm join, decimal → double; BYTE-level round-trip equality
    // (incl. nulls, empty arrays, null elements) is pinned in
    // StreamTypesSpec where an oracle cannot look.
    "q216_stream_sink_types" -> ((s, d) => {
      val landing = stagedTypedLanding(s, d)
      val path = Sinks.tmpPathFor("typed_docs_sink_log", d)
      val ckpt = Sinks.tmpPathFor("typed_docs_sink_ckpt", d)
      Sinks.deleteRecursively(path)
      Sinks.deleteRecursively(ckpt)
      val q = s.readStream.schema(TypedLandingSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .withColumnRenamed("op", Changelog.OpCol)
        .writeStream.format(classOf[graft.streaming.LogSink].getName)
        .option("path", path)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Changelog.snapshotAt(s, path, Seq("doc_id"), Long.MaxValue)
        .select(col("doc_id"), col("lang"), col("added"),
          col("score").cast("double").as("score"),
          col("payload").cast("string").as("payload_str"),
          length(col("payload")).cast("long").as("n_bytes"),
          emb_ppm(col("emb")).as("emb_ppm"))
    }),

    // THE WIDENED TYPES THROUGH THE CDC FEED — the read half of q216:
    // a three-commit ops log over the same shape (base; every-9th
    // updated with payload || '!u', score +5, embedding ×2; every-11th
    // non-updated key tombstoned), consumed through readStream
    // (CdcSource) — the spool now carries date/decimal/binary/
    // array<float> columns through the executor-side parquet decode —
    // and the materialized feed must equal the closed form: inserts
    // for every base key, updates with old/new pairs, deletes with the
    // olds carried. One window per commit from the initial offset, so
    // the feed is the union of the three per-commit diffs.
    "q217_cdc_source_types" -> ((s, d) => {
      val path = Sinks.tmpPathFor("typed_docs_cdc_log", d)
      val out = Sinks.tmpPathFor("typed_docs_cdc_out", d)
      val ckpt = Sinks.tmpPathFor("typed_docs_cdc_ckpt", d)
      Seq(path, out, ckpt).foreach(Sinks.deleteRecursively)
      val base = typedDocs(s, d)
      val k = col("doc_id")
      Changelog.commitUpsert(base, path, 0L)
      Changelog.commitUpsert(
        base.filter(k % 9 === 0).select(
          col("doc_id"), col("lang"),
          date_add(col("added"), 1).as("added"),
          (col("score") + 5).cast("decimal(12,2)").as("score"),
          concat(col("payload"), lit("!u").cast("binary")).as("payload"),
          transform(col("emb"),
            x => (x.cast("double") * 2).cast("float")).as("emb")),
        path, 1L)
      Changelog.commitDelete(s,
        base.filter(k % 11 === 0 && k % 9 =!= 0).select("doc_id"), path, 2L)
      val q = s.readStream
        .format(classOf[graft.streaming.CdcSource].getName)
        .option("path", path)
        .option("keys", "doc_id")
        .option("trackCols", "added,score,payload,emb")
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           batchId: Long) =>
            batch.write.mode("append").parquet(out)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(out).select(
        col("doc_id"), col("change_type"),
        col("new_added"), col("old_added"),
        col("new_score").cast("double").as("new_score"),
        col("old_score").cast("double").as("old_score"),
        col("new_payload").cast("string").as("new_payload_str"),
        col("old_payload").cast("string").as("old_payload_str"),
        emb_ppm(col("new_emb")).as("new_emb_ppm"),
        emb_ppm(col("old_emb")).as("old_emb_ppm"))
    }),

    // OPTIMIZE ON A STRING CLUSTER KEY — q191/q199's recluster verb on
    // the DOCUMENTS log (string doc_key): the live state lands as one
    // base of exact equal-depth files in UTF-8 key order via the q188
    // bucketed-prefix rank kernel (no single-task sort, no sampling),
    // with the string min/max stats marker recorded for commit-level
    // skipping. A pure rewrite: the read at the optimized head must
    // equal the live-state law exactly (this oracle); the exact
    // touched-file counts and the history-intact property are
    // spec-pinned (TopKChangelogSpec) where an oracle cannot see file
    // boundaries.
    "q218_ops_optimize_string" -> ((s, d) => {
      val path = AuditQueries.docsOpsLog(s, d, "docs_ops_log_q218")
      Changelog.optimizeOpsString(s, path, Seq("doc_key"), 3L,
        "doc_key", numFiles = 8)
      Changelog.snapshotAt(s, path, Seq("doc_key"), Long.MaxValue)
    }),

    // SQL INSERT INTO THE TABLE FORMAT — the write half of the q212
    // catalog surface: `INSERT INTO glog.t SELECT …` stages parquet on
    // the executors (the streaming sink's writer, epoch pinned), the
    // driver claims the next free commit id through the OCC layer, and
    // the insert lands as ONE upsert commit (`_op = 'u'` staged
    // alongside — an INSERT into a keyed LWW table IS an upsert).
    // The inserted slice shifts keys by 2e9 (disjoint from every
    // existing key) and bumps prices +42, so the head snapshot is
    // q181's law ∪ the inserted law — pure SQL strings end to end.
    "q219_log_table_sql_insert" -> ((s, d) => {
      val path = AuditQueries.opsLog(s, d, "orders_ops_log_q219")
      GraftLogCatalog.register(s, "glog", "orders_ops_q219", path,
        Seq("o_orderkey"))
      AuditQueries.opsOrders(s, d).createOrReplaceTempView("orders_q219")
      s.sql("""INSERT INTO glog.orders_ops_q219
              |SELECT o_orderkey + 2000000000L, o_custkey,
              |  o_totalprice + 42.0
              |FROM orders_q219 WHERE o_orderkey % 13 = 0""".stripMargin)
      s.sql("SELECT * FROM glog.orders_ops_q219")
    }),

    // SQL DELETE FROM THE TABLE FORMAT — one tombstone commit for
    // exactly the keys whose CURRENT row satisfies the predicate,
    // non-key columns included (the key set derives from the head
    // snapshot, so `WHERE o_totalprice > …` means what SQL says): a
    // mixed key/measure predicate against the three-commit log, read
    // back through pure SQL. The no-op (zero matching rows → no
    // commit) and plain-log refusal legs are spec-pinned.
    "q220_log_table_sql_delete" -> ((s, d) => {
      val path = AuditQueries.opsLog(s, d, "orders_ops_log_q220")
      GraftLogCatalog.register(s, "glog", "orders_ops_q220", path,
        Seq("o_orderkey"))
      s.sql("DELETE FROM glog.orders_ops_q220 " +
        "WHERE o_totalprice > 150000.0 OR o_orderkey % 5 = 0")
      s.sql("SELECT * FROM glog.orders_ops_q220")
    }),

    // ROW-BUDGET ADMISSION ON THE ORACLE SURFACE — q200's CDC-consumer
    // IVM with `maxRowsPerTrigger` forcing the GIANT first commit
    // (the full base upsert) to be served as key-hash slices: the
    // burst lands in MORE micro-batches than commits, each batch is a
    // key-disjoint piece of one commit's feed (so the consumer's
    // signed-delta math needs no change — a key's old/new pair never
    // splits), and the converged rollup must equal q200's oracle
    // exactly. The >3-batches and per-slice row-budget facts are
    // spec-pinned (CdcSourceSpec); this query pins that the SPLIT
    // path reaches the same fixed point the unsplit one does.
    "q222_cdc_row_budget" -> ((s, d) => {
      val path = AuditQueries.stagedOpsLog(s, d)
      val rollPath = Sinks.tmpPathFor("orders_cdc_budget_roll", d)
      val ckpt = Sinks.tmpPathFor("orders_cdc_budget_ckpt", d)
      Sinks.deleteRecursively(rollPath)
      Sinks.deleteRecursively(ckpt)
      val feed = s.readStream
        .format(classOf[graft.streaming.CdcSource].getName)
        .option("path", path)
        .option("keys", "o_orderkey")
        .option("trackCols", "o_totalprice,o_custkey")
        // a third of the base commit per batch: the burst serves as
        // 3 slices + 1 + 1 = five micro-batches, never three
        .option("maxRowsPerTrigger",
          math.max(1L, AuditQueries.opsOrders(s, d).count() * 3 / 4 / 3))
        .load()
      val q = feed.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           batchId: Long) =>
            Changelog.commitIdempotent(
              graft.streaming.StreamIvm.cdcDelta(batch,
                groupCol = "o_custkey", measure = "o_totalprice"),
              rollPath, batchId)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val nBatches = graft.sources.Changelog.headVersion(rollPath)
        .getOrElse(-1L) + 1
      require(nBatches > 3,
        s"the row budget must split the 3-commit burst into more than " +
          s"3 batches, got $nBatches")
      graft.streaming.StreamIvm.servedCdcRollup(s, rollPath, "o_custkey")
        .select(col("o_custkey"), col("n_rows").as("n_orders"),
          col("sum_measure").as("sum_price"))
    }),

    // SQL UPDATE ON THE TABLE FORMAT — the DSv2 row-level-operation
    // contract (SupportsRowLevelOperations, delta-based): Spark's own
    // RewriteUpdateTable derives the matched rows by reading the head
    // snapshot through the operation's spooled scan, and the updated
    // rows land as ONE OCC-claimed upsert commit (the q219 INSERT
    // discipline on the reference's own ON-DUPLICATE-KEY-UPDATE verb,
    // now in its SQL spelling). Predicate on a NON-key measure, so the
    // statement exercises the full-snapshot read; the key-window
    // pruned spool, key-immutability refusal, zero-match no-op, and
    // metadata-only DELETE legs are spec-pinned (GraftLogTableSpec).
    "q223_log_table_sql_update" -> ((s, d) => {
      val path = AuditQueries.opsLog(s, d, "orders_ops_log_q223")
      GraftLogCatalog.register(s, "glog", "orders_ops_q223", path,
        Seq("o_orderkey"))
      s.sql("UPDATE glog.orders_ops_q223 " +
        "SET o_totalprice = o_totalprice + 250.0 WHERE o_custkey % 3 = 0")
      s.sql("SELECT * FROM glog.orders_ops_q223")
    }),

    // SQL MERGE INTO THE TABLE FORMAT — q196's merge law through pure
    // SQL strings: the same +700 source slice (keys ≡ 0 mod 6), the
    // matched ∧ ≡ 0 (mod 12) rows tombstoned, other matches updated,
    // unmatched non-delete rows inserted (resurrections), unmatched
    // delete-clause rows ignored (the NOT MATCHED guard — deleting an
    // absent key is a no-op). Spark's RewriteMergeIntoTable plans the
    // source join and clause alignment; the per-row verbs land as ONE
    // commit. Final state must hash-match q196's library-merge oracle
    // verbatim — the SQL spelling and the library verb converge.
    "q224_log_table_sql_merge" -> ((s, d) => {
      val path = AuditQueries.opsLog(s, d, "orders_ops_log_q224")
      GraftLogCatalog.register(s, "glog", "orders_ops_q224", path,
        Seq("o_orderkey"))
      AuditQueries.opsOrders(s, d)
        .filter(col("o_orderkey") % 6 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 700.0)
        .createOrReplaceTempView("merge_src_q224")
      s.sql("""MERGE INTO glog.orders_ops_q224 t
              |USING merge_src_q224 s
              |ON t.o_orderkey = s.o_orderkey
              |WHEN MATCHED AND s.o_orderkey % 12 = 0 THEN DELETE
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED AND s.o_orderkey % 12 <> 0 THEN INSERT *
              |""".stripMargin)
      s.sql("SELECT * FROM glog.orders_ops_q224")
    }),

    // STREAMING READ THROUGH THE TABLE IDENTITY — q200's CDC-consumer
    // IVM with the stream addressed BY NAME: a registered feed table
    // (`registerFeed`) serves `spark.readStream.table("glog.t")` via
    // MICRO_BATCH_READ delegating to the CDC source — one table
    // identity for the batch window read AND the live stream (Delta's
    // one-name-both-surfaces ergonomics). Same offsets, same admission
    // control, same converged rollup: q200's oracle verbatim. The
    // restart-from-checkpoint and batch/stream-equality legs are
    // spec-pinned (GraftLogTableSpec).
    "q225_stream_table_read" -> ((s, d) => {
      val path = AuditQueries.stagedOpsLog(s, d)
      val rollPath = Sinks.tmpPathFor("orders_tbl_stream_roll", d)
      val ckpt = Sinks.tmpPathFor("orders_tbl_stream_ckpt", d)
      Sinks.deleteRecursively(rollPath)
      Sinks.deleteRecursively(ckpt)
      GraftLogCatalog.registerFeed(s, "glog", "orders_changes_q225",
        path, Seq("o_orderkey"), Seq("o_totalprice", "o_custkey"))
      val q = s.readStream.table("glog.orders_changes_q225")
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           batchId: Long) =>
            Changelog.commitIdempotent(
              graft.streaming.StreamIvm.cdcDelta(batch,
                groupCol = "o_custkey", measure = "o_totalprice"),
              rollPath, batchId)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.streaming.StreamIvm.servedCdcRollup(s, rollPath, "o_custkey")
        .select(col("o_custkey"), col("n_rows").as("n_orders"),
          col("sum_measure").as("sum_price"))
    }),

    // DESCRIBE HISTORY AT THE SQL PROMPT — the commit log addressed as
    // a METADATA CHILD TABLE (`SELECT * FROM glog.t.history`, Delta's
    // ergonomics): one row per landed commit with the recorded verb /
    // writer / footer-derived row count, served through a LocalScan
    // (the history IS driver-listable metadata — the same O(commits)
    // marker listing describeHistory does, never a distributed scan
    // pretending otherwise). The oracle derives every line from the
    // three-commit fixture's closed form, so a mis-recorded verb or a
    // torn count breaks the audit exactly where an operator would look
    // — q180's discipline, reached through a pure SQL string.
    "q226_log_table_sql_history" -> ((s, d) => {
      val path = AuditQueries.stagedOpsLog(s, d)
      GraftLogCatalog.register(s, "glog", "orders_ops_q226", path,
        Seq("o_orderkey"))
      s.sql("SELECT * FROM glog.orders_ops_q226.history")
    }),

    // MAINTENANCE AS A DSv2 PROCEDURE — `CALL glog.system.checkpoint
    // ('t', 1)` runs the engine's checkpoint verb (fold commits ≤ 1
    // into a live base, advance the horizon, vacuum) through Spark 4's
    // procedure contract, under the SAME maintenance mutex the library
    // call holds (second-actor refusal spec-pinned at the SQL surface).
    // The read AS OF 2 afterwards must still serve the full live state
    // — q189's oracle verbatim, the whole cycle in SQL strings.
    "q227_sql_call_checkpoint" -> ((s, d) => {
      val path = AuditQueries.opsLog(s, d, "orders_ops_log_q227")
      GraftLogCatalog.register(s, "glog", "orders_ops_q227", path,
        Seq("o_orderkey"))
      val r = s.sql("CALL glog.system.checkpoint('orders_ops_q227', 1)")
        .collect()
      require(r.length == 1 && r(0).getString(1) == "checkpoint",
        s"CALL must return its summary row, got ${r.mkString(", ")}")
      s.sql("SELECT * FROM glog.orders_ops_q227 VERSION AS OF 2")
    }),

    // OPTIMIZE AS A DSv2 PROCEDURE — q199's head-rewrite verb through
    // CALL: the full live state lands as ONE clustered base commit
    // (id 3, arithmetic key-range files + stats marker) while commits
    // 0–2 stay readable. The three AS OF reads — all SQL — must
    // reproduce q199's oracle verbatim: history below the base
    // untouched, the base a pure rewrite.
    "q228_sql_call_optimize" -> ((s, d) => {
      val path = AuditQueries.opsLog(s, d, "orders_ops_log_q228")
      GraftLogCatalog.register(s, "glog", "orders_ops_q228", path,
        Seq("o_orderkey"))
      val dom = AuditQueries.opsOrders(s, d)
        .agg(max(col("o_orderkey"))).head().getLong(0) + 1L
      s.sql("CALL glog.system.optimize('orders_ops_q228', 3, " +
        s"'o_orderkey', ${dom}L, 8)").collect()
      s.sql("""SELECT *, CAST(1 AS BIGINT) AS asof
              |FROM glog.orders_ops_q228 VERSION AS OF 1
              |UNION ALL
              |SELECT *, CAST(2 AS BIGINT)
              |FROM glog.orders_ops_q228 VERSION AS OF 2
              |UNION ALL
              |SELECT *, CAST(3 AS BIGINT)
              |FROM glog.orders_ops_q228 VERSION AS OF 3""".stripMargin)
    }),

    // STRUCT AND DECIMAL(38,10) THROUGH THE STREAMING TABLE FORMAT —
    // the round-16 type widening on the oracle-backed surface: a
    // struct payload (the q121 CDC shape) and a 38-digit decimal whose
    // unscaled value exceeds any long (the FIXED_LEN_BYTE_ARRAY money
    // shape, negatives included) ride writeStream(LogSink) as three
    // mtime-ordered deliveries (full upsert; every-6th tombstone;
    // every-8th re-upsert with lang || '!x', n + 9, and the decimal
    // NEGATED — exact, no rounding anywhere). Verify form flattens the
    // struct and renders the decimal as its full-scale string (the
    // exactness proof: one wrong unscaled bit breaks the hash);
    // byte-level pins incl. null structs, null fields, and the
    // sign-extension boundary live in StreamTypesSpec.
    "q229_stream_sink_struct_dec38" -> ((s, d) => {
      val landing = stagedWideLanding(s, d)
      val path = Sinks.tmpPathFor("wide_docs_sink_log", d)
      val ckpt = Sinks.tmpPathFor("wide_docs_sink_ckpt", d)
      Sinks.deleteRecursively(path)
      Sinks.deleteRecursively(ckpt)
      val q = s.readStream.schema(WideLandingSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .withColumnRenamed("op", Changelog.OpCol)
        .writeStream.format(classOf[graft.streaming.LogSink].getName)
        .option("path", path)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Changelog.snapshotAt(s, path, Seq("doc_id"), Long.MaxValue)
        .select(col("doc_id"), col("meta.lang").as("lang"),
          col("meta.n").as("n"), col("big").cast("string").as("big_str"))
    }),

    // CBO THROUGH THE SPLICE — statistics must FLOW from the spliced
    // snapshot plan's parquet relations up through the exprId-aliased
    // Project, or every join against a changelog table degrades to
    // sort-merge at scale: a NATION-sized glog dim (25 rows, two
    // commits — base + an even-key rename) joined to the customer fact
    // must plan a BroadcastHashJoin with the DIM as the build side.
    // The require() is the plan proof (an oracle sees rows, never join
    // strategies); the values then hash against the closed-form law —
    // the dim at its HEAD state, names rewritten by commit 1.
    "q230_log_table_broadcast_cbo" -> ((s, d) => {
      val path = Sinks.tmpPathFor("nation_ops_log_q230", d)
      Sinks.deleteRecursively(path)
      val nation = Tables.nation(s, d).select("n_nationkey", "n_name")
      Changelog.commitUpsert(nation, path, 0L)
      Changelog.commitUpsert(
        nation.filter(col("n_nationkey") % 2 === 0)
          .withColumn("n_name", concat(col("n_name"), lit("_v2"))),
        path, 1L)
      val dim = s.read.format(fmt)
        .option("path", path).option("keys", "n_nationkey")
        .load()
      val fact = Tables.customer(s, d)
        .select("c_nationkey", "c_acctbal")
      val joined = fact
        .join(dim, fact("c_nationkey") === dim("n_nationkey"))
        .groupBy(col("n_name").as("nation"))
        .agg(count(lit(1)).as("n_cust"),
          (sum(round(col("c_acctbal") * 100).cast("long"))
            .cast("double") / 100.0).as("sum_bal"))
      val physical = joined.queryExecution.executedPlan.toString
      require(physical.contains("BroadcastHashJoin") ||
        physical.contains("BroadcastNestedLoopJoin"),
        s"the glog dim must broadcast (stats flow through the " +
          s"splice) — planned:\n$physical")
      require(!physical.contains("SortMergeJoin"),
        "the 25-row dim must never sort-merge against the fact")
      joined
    }),

    // COMMIT SKIPPING UNDER UPDATE — the q215 discipline on the WRITE
    // path: on the disjoint-range log (commit 0 the lower half, 1 the
    // upper, 2 a +100 rewrite of the lowest quarter, stats markers on
    // all three), `UPDATE … WHERE o_orderkey > 3m/4` must (a) extract
    // the key window and route the snapshot spool through the
    // stats-skipping lookup — commits whose ranges exclude the probe
    // never open — and (b) stage EXACTLY the matched rows (the pushed
    // filter prunes the spool). Both proven structurally in-query
    // (window + footer row count — an oracle sees the final state,
    // never what was staged); the final state then hashes against the
    // closed form.
    "q231_log_table_update_skipping" -> ((s, d) => {
      val (path, m) = disjointOpsLog(s, d, "orders_ops_log_q231")
      GraftLogCatalog.register(s, "glog", "orders_ops_q231", path,
        Seq("o_orderkey"))
      val t = 3L * m / 4L
      val matched = AuditQueries.opsOrders(s, d)
        .filter(col("o_orderkey") > t).count()
      graft.sources.GraftRowLevel.lastSpoolRows.set(-1L)
      graft.sources.GraftRowLevel.lastWindow.set(None)
      s.sql("UPDATE glog.orders_ops_q231 " +
        s"SET o_totalprice = o_totalprice + 77.0 WHERE o_orderkey > $t")
      require(graft.sources.GraftRowLevel.lastWindow.get().isDefined,
        "the UPDATE's key conjunct must extract a spool window")
      val spooled = graft.sources.GraftRowLevel.lastSpoolRows.get()
      require(spooled == matched,
        s"the spool must stage exactly the $matched matched rows, " +
          s"staged $spooled")
      s.sql("SELECT * FROM glog.orders_ops_q231")
    }),

    // THE SNAPSHOT TABLE'S OWN STREAM — `readStream.table("glog.t")`
    // on the MAIN table (the first thing a lakehouse user types):
    // each micro-batch is one commit's EFFECTIVE UPSERTS in the
    // table's shape — new row values, tombstones and no-op rewrites
    // excluded (deletes are not row-shaped; the FEED serves them).
    // Strictly better than Delta's ignoreChanges (which replays whole
    // rewritten files, duplicating untouched rows): the per-commit
    // diff is exact. The materialized union must equal the closed
    // form: base inserts ∪ resurrections at +1000 ∪ the held-out tail
    // ∪ the mod-7 updates at +500 — the delete-only commit contributes
    // NOTHING (its batch is empty, spec-pinned), and the no-op rewrite
    // branch is suppressed by the feed's own hygiene.
    "q232_stream_table_upserts" -> ((s, d) => {
      val path = AuditQueries.stagedOpsLog(s, d)
      val out = Sinks.tmpPathFor("orders_tbl_upserts_out", d)
      val ckpt = Sinks.tmpPathFor("orders_tbl_upserts_ckpt", d)
      Sinks.deleteRecursively(out)
      Sinks.deleteRecursively(ckpt)
      GraftLogCatalog.register(s, "glog", "orders_ops_q232", path,
        Seq("o_orderkey"))
      val q = s.readStream.table("glog.orders_ops_q232")
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           batchId: Long) =>
            batch.write.mode("append").parquet(out)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(out)
    }),

    // TIME TRAVEL COMPOSES IN ONE SQL STATEMENT — two VERSION AS OF
    // clauses of ONE table, joined: the price drift every key gained
    // between v0 and the head, written exactly the way a SQL user
    // would ask it. Each clause loads its own pinned table and the
    // rule rewrites both relations independently (exprId-aliased
    // splices — the self-join independence leg of GraftLogTableSpec,
    // here oracle-backed); inserts (absent at v0) and deletes (absent
    // at head) fall out of the inner join, drift arithmetic is the
    // same IEEE ops in both engines.
    "q221_log_table_sql_drift" -> ((s, d) => {
      val path = AuditQueries.stagedOpsLog(s, d)
      GraftLogCatalog.register(s, "glog", "orders_ops_q221", path,
        Seq("o_orderkey"))
      s.sql("""SELECT o_orderkey,
              |  n.o_totalprice - o.o_totalprice AS drift
              |FROM glog.orders_ops_q221 VERSION AS OF 2 n
              |JOIN glog.orders_ops_q221 VERSION AS OF 0 o
              |USING (o_orderkey)
              |WHERE n.o_totalprice <> o.o_totalprice""".stripMargin)
    }),

    // GENERIC ARRAY / MAP / FLOAT THROUGH THE STREAMING TABLE FORMAT —
    // the second round-16 type widening on the oracle surface: a token
    // list (array<string>), an id list (array<long>), a feature map
    // (map<string,double>) and a FLOAT ratio ride writeStream(LogSink)
    // as three mtime-ordered deliveries (full upsert; every-6th
    // tombstone; every-9th re-upsert that APPENDS to both arrays,
    // CHANGES THE MAP'S KEY SET — {len,mod} → {len,upd}, the no-op
    // detector now canonicalizes maps to sorted entries because SQL
    // cannot order maps — and negates the ratio). Verify form renders
    // arrays joined and the map as sorted key=4×value pairs
    // (quarter-precision values, so ×4 is integral — one wrong entry
    // breaks the hash); null/empty/nested-element byte pins live in
    // StreamTypesSpec.
    "q233_stream_sink_array_map" -> ((s, d) => {
      val landing = stagedGenLanding(s, d)
      val path = Sinks.tmpPathFor("gen_docs_sink_log", d)
      val ckpt = Sinks.tmpPathFor("gen_docs_sink_ckpt", d)
      Sinks.deleteRecursively(path)
      Sinks.deleteRecursively(ckpt)
      val q = s.readStream.schema(GenLandingSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .withColumnRenamed("op", Changelog.OpCol)
        .writeStream.format(classOf[graft.streaming.LogSink].getName)
        .option("path", path)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Changelog.snapshotAt(s, path, Seq("doc_id"), Long.MaxValue)
        .select(col("doc_id"),
          array_join(col("toks"), "|").as("toks_str"),
          array_join(transform(col("ids"), _.cast("string")), ",")
            .as("ids_str"),
          array_join(transform(sort_array(map_entries(col("feats"))),
            e => concat(e.getField("key"), lit("="),
              round(e.getField("value") * 4).cast("long").cast("string"))),
            ";").as("feats_str"),
          round(col("ratio").cast("double") * 4).cast("long")
            .as("ratio_q"))
    }),

    // STREAMING WRITE THROUGH THE TABLE IDENTITY — `writeStream
    // .toTable("glog.t")`: the last surface the one-table-name story
    // needed (batch read/write, SQL DML, streaming READ all resolve by
    // name; now the streaming WRITE does too). Every epoch lands as
    // ONE table-shaped upsert commit appended after the head (the
    // sink's base-marker exactly-once discipline, reached through the
    // catalog), here two mtime-ordered deliveries — the held-out
    // insert tail, then the mod-7 price updates — landed onto a seeded
    // base; the SELECT through the SAME name must serve the closed
    // form. In-query structural require: the two epochs recorded as
    // stream-epoch commits 1 and 2.
    "q234_stream_write_table" -> ((s, d) => {
      val path = Sinks.tmpPathFor("orders_tbl_write_log", d)
      val landing = Sinks.tmpPathFor("orders_tbl_write_landing", d)
      val ckpt = Sinks.tmpPathFor("orders_tbl_write_ckpt", d)
      Seq(path, landing, ckpt).foreach(Sinks.deleteRecursively)
      val o = AuditQueries.opsOrders(s, d)
      val k = col("o_orderkey")
      Changelog.commitUpsert(o.filter(k % 4 =!= 3), path, 0L)
      GraftLogCatalog.register(s, "glog", "orders_tblw_q234", path,
        Seq("o_orderkey"))
      val days = Seq(
        o.filter(k % 4 === 3),
        o.filter(k % 4 =!= 3 && k % 7 === 1)
          .withColumn("o_totalprice", col("o_totalprice") + 500.0))
      def files() = Option(new java.io.File(landing).listFiles()).fold(
        Set.empty[java.io.File])(
        _.filter(_.getName.endsWith(".parquet")).toSet)
      var mtime = System.currentTimeMillis() - (days.length + 2) * 2000L
      days.foreach { day =>
        val before = files()
        day.coalesce(1).write.mode("append").parquet(landing)
        (files() -- before).foreach(f =>
          require(f.setLastModified(mtime), s"setLastModified failed on $f"))
        mtime += 2000L
      }
      val q = s.readStream.schema(o.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .writeStream
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable("glog.orders_tblw_q234")
      q.awaitTermination()
      val infos = Changelog.commitInfos(path)
      require(infos.get(1L).exists(_._1 == "stream-epoch") &&
        infos.get(2L).exists(_._1 == "stream-epoch"),
        s"the two epochs must land as stream-epoch commits 1 and 2, " +
          s"got $infos")
      s.sql("SELECT * FROM glog.orders_tblw_q234")
    }),

    // CLONE AS A DSv2 PROCEDURE — `CALL glog.system.clone(t, 1, dest)`
    // branches the log at version 1 into a fresh path (zero-copy where
    // the filesystem allows), the branch is registered and read BY
    // NAME like any table, and a post-clone commit on the ORIGIN must
    // not leak into it (in-query require: the branch's head stays 1).
    // The branch at 1 is commit 0 minus commit 1's tombstones — the
    // as-of-1 law through a SQL CALL + a second registration.
    "q235_sql_call_clone" -> ((s, d) => {
      val path = AuditQueries.opsLog(s, d, "orders_ops_log_q235")
      val dest = Sinks.tmpPathFor("orders_ops_clone_q235", d)
      Sinks.deleteRecursively(dest)
      GraftLogCatalog.register(s, "glog", "orders_ops_q235", path,
        Seq("o_orderkey"))
      val r = s.sql(
        s"CALL glog.system.clone('orders_ops_q235', 1, '$dest')").collect()
      require(r.length == 1 && r(0).getString(1) == "clone",
        s"CALL must return its summary row, got ${r.mkString(", ")}")
      // a post-clone commit on the ORIGIN: the branch must not see it
      Changelog.commitUpsert(
        AuditQueries.opsOrders(s, d)
          .withColumn("o_totalprice", lit(0.0)), path, 3L)
      require(Changelog.headVersion(dest).contains(1L),
        s"the branch's head must stay 1, got ${Changelog.headVersion(dest)}")
      GraftLogCatalog.register(s, "glog", "orders_clone_q235", dest,
        Seq("o_orderkey"))
      s.sql("SELECT * FROM glog.orders_clone_q235")
    }),

    // ANALYZE AS A DSv2 PROCEDURE — the checkpoint fold REWRITES
    // `_commit=1` with the full live state, so its pre-fold stats
    // marker is dropped (a stale range would wrong-skip); `CALL
    // glog.system.analyze(t, 1, 'o_orderkey')` re-records min/max on
    // the folded base and RE-ARMS the skipping: an out-of-range probe
    // then opens NOTHING (in-query require: zero inputFiles), and the
    // in-range probe admits exactly the base while commit 2's
    // surviving marker skips it (q215's discipline on a folded log).
    "q236_sql_call_analyze" -> ((s, d) => {
      val (path, m) = disjointOpsLog(s, d, "orders_ops_log_q236")
      GraftLogCatalog.register(s, "glog", "orders_ops_q236", path,
        Seq("o_orderkey"))
      s.sql("CALL glog.system.checkpoint('orders_ops_q236', 1)").collect()
      s.sql("CALL glog.system.analyze('orders_ops_q236', 1, " +
        "'o_orderkey')").collect()
      def dirsOf(df: DataFrame) = df.inputFiles.map(f =>
        f.split("/").find(_.startsWith(s"${Changelog.CommitCol}="))
          .getOrElse("?")).distinct.sorted.toSeq
      // a probe beyond the recorded max admits NO commit: the kernel
      // serves the empty shape through filter(false), which the
      // optimizer prunes to a LocalTableScan — no parquet scan plans
      // at all (inputFiles inspects the pre-pruned relation, so the
      // proof reads the EXECUTED plan)
      val none = s.sql(
        s"SELECT * FROM glog.orders_ops_q236 WHERE o_orderkey > $m")
      val nonePlan = none.queryExecution.executedPlan.toString
      require(!nonePlan.toLowerCase.contains("parquet"),
        s"the re-armed marker must skip the folded base for a probe " +
          s"beyond its max — no parquet scan may plan, got:\n$nonePlan")
      require(none.isEmpty, "the beyond-max probe must be empty")
      val t = 3L * m / 4L
      val df = s.sql(
        s"SELECT * FROM glog.orders_ops_q236 WHERE o_orderkey > $t")
      require(dirsOf(df) == Seq(s"${Changelog.CommitCol}=1"),
        s"the probe must admit exactly the folded base " +
          s"(commit 2's marker skips it), got ${dirsOf(df)}")
      df
    }),

    // THE FULL SQL LIFECYCLE — `CREATE TABLE … LOCATION … TBLPROPERTIES
    // ('keys'='…')` initializes a fresh log (one empty genesis commit,
    // verb `create` — in-query require on the history) and registers
    // the name; then pure SQL drives the whole DML story against it:
    // INSERT the non-tail keys, UPDATE the mod-7 branch, DELETE the
    // mod-10 keys, SELECT the result. Nothing but SQL strings touches
    // the table after the fixture view lands.
    "q237_sql_create_table" -> ((s, d) => {
      val loc = Sinks.tmpPathFor("orders_ddl_q237", d)
      s.conf.set("spark.sql.catalog.glog",
        classOf[GraftLogCatalog].getName)
      s.sql("DROP TABLE IF EXISTS glog.orders_ddl_q237")
      Sinks.deleteRecursively(loc)
      AuditQueries.opsOrders(s, d).createOrReplaceTempView("orders_src_q237")
      s.sql(s"""CREATE TABLE glog.orders_ddl_q237 (
               |  o_orderkey BIGINT, o_custkey BIGINT,
               |  o_totalprice DOUBLE)
               |LOCATION '$loc'
               |TBLPROPERTIES ('keys' = 'o_orderkey')""".stripMargin)
      require(Changelog.commitInfos(loc).get(0L).exists(_._1 == "create"),
        "the genesis commit must record verb 'create'")
      require(s.sql("SELECT * FROM glog.orders_ddl_q237").isEmpty,
        "a freshly created table reads empty")
      s.sql("INSERT INTO glog.orders_ddl_q237 " +
        "SELECT * FROM orders_src_q237 WHERE o_orderkey % 4 <> 3")
      s.sql("UPDATE glog.orders_ddl_q237 " +
        "SET o_totalprice = o_totalprice + 500.0 WHERE o_orderkey % 7 = 1")
      s.sql("DELETE FROM glog.orders_ddl_q237 WHERE o_orderkey % 10 = 0")
      s.sql("SELECT * FROM glog.orders_ddl_q237")
    }),

    // CTAS — `CREATE TABLE … LOCATION … TBLPROPERTIES(…) AS SELECT …`
    // composes from the DDL and the batch append with no extra code:
    // Spark creates the table (genesis commit 0) and drives the
    // ordinary OCC-claimed upsert append (commit 1). One SQL statement,
    // a fully-populated changelog table.
    "q238_sql_ctas" -> ((s, d) => {
      val loc = Sinks.tmpPathFor("orders_ctas_q238", d)
      s.conf.set("spark.sql.catalog.glog",
        classOf[GraftLogCatalog].getName)
      s.sql("DROP TABLE IF EXISTS glog.orders_ctas_q238")
      Sinks.deleteRecursively(loc)
      AuditQueries.opsOrders(s, d).createOrReplaceTempView("orders_src_q238")
      s.sql(s"""CREATE TABLE glog.orders_ctas_q238
               |LOCATION '$loc'
               |TBLPROPERTIES ('keys' = 'o_orderkey')
               |AS SELECT * FROM orders_src_q238
               |WHERE o_orderkey % 3 = 0""".stripMargin)
      val infos = Changelog.commitInfos(loc)
      require(infos.get(0L).exists(_._1 == "create") &&
        infos.get(1L).exists(_._1 == "upsert"),
        s"CTAS = genesis + one appended upsert commit, got $infos")
      s.sql("SELECT * FROM glog.orders_ctas_q238")
    }),

    // THE FULLY BY-NAME DECLARATIVE MATERIALIZED VIEW — the round-16
    // capstone: q207's MV pipeline with ZERO paths and ZERO format
    // strings anywhere in the flow. SQL CREATE TABLE makes the MV
    // table (genesis commit), readStream.table serves the upstream
    // CDC feed, an UPDATE-mode aggregation's changed groups land
    // through writeStream.toTable as upserts, and a SQL SELECT reads
    // the converged view — five surfaces, one table identity each,
    // q207's oracle verbatim.
    "q240_mv_by_name" -> ((s, d) => {
      val upstream = AuditQueries.stagedOpsLog(s, d)
      val viewLog = Sinks.tmpPathFor("orders_mv_byname", d)
      val ckpt = Sinks.tmpPathFor("orders_mv_byname_ckpt", d)
      Seq(viewLog, ckpt).foreach(Sinks.deleteRecursively)
      s.conf.set("spark.sql.catalog.glog",
        classOf[GraftLogCatalog].getName)
      s.sql("DROP TABLE IF EXISTS glog.mv_q240")
      s.sql(s"""CREATE TABLE glog.mv_q240 (
               |  o_custkey BIGINT, n_orders BIGINT, cents BIGINT)
               |LOCATION '$viewLog'
               |TBLPROPERTIES ('keys' = 'o_custkey')""".stripMargin)
      GraftLogCatalog.registerFeed(s, "glog", "changes_q240", upstream,
        Seq("o_orderkey"), trackCols = Seq("o_custkey", "o_totalprice"))
      val feed = s.readStream.table("glog.changes_q240")
      val contrib = feed.select(explode(array(
          struct(col("old_o_custkey").as("o_custkey"),
            lit(-1L).as("sgn"),
            (-round(col("old_o_totalprice") * 100)).cast("long")
              .as("cents"),
            col("change_type").isin("update", "delete").as("live")),
          struct(col("new_o_custkey").as("o_custkey"),
            lit(1L).as("sgn"),
            round(col("new_o_totalprice") * 100).cast("long").as("cents"),
            col("change_type").isin("update", "insert").as("live"))))
          .as("c"))
        .filter(col("c.live"))
        .select(col("c.o_custkey").as("o_custkey"),
          col("c.sgn").as("sgn"), col("c.cents").as("cents"))
      // state partitions sized to the input, not the core count
      graft.Tuning.withStreamShuffle(s, upstream) {
        val q = contrib.groupBy("o_custkey")
          .agg(sum(col("sgn")).as("n_orders"), sum(col("cents")).as("cents"))
          .writeStream.outputMode("update")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable("glog.mv_q240")
        q.awaitTermination()
      }
      s.sql("""SELECT o_custkey, n_orders,
              |  CAST(cents AS DOUBLE) / 100.0 AS sum_price
              |FROM glog.mv_q240 WHERE n_orders > 0""".stripMargin)
    }),

    // CHANGE FEED AS A TABLE-VALUED FUNCTION — `SELECT … FROM
    // table_changes('glog.t', 0, 2)` (Delta's spelling; the window
    // here is EXCLUSIVE-start (0, 2] — the engine's feed law — where
    // Delta includes changes AT the start version): an AD-HOC CDF
    // window over the registered SNAPSHOT table, no feed
    // registration per window; the TVF builder returns the engine's
    // own feed plan, resolved through the same conf-backed
    // registration. The (0, 2] window over the standard ops log is
    // q214's net-feed law verbatim (tracked columns are the full row —
    // Delta's CDF semantics — projected here to the law's shape).
    "q239_table_changes_tvf" -> ((s, d) => {
      val path = AuditQueries.stagedOpsLog(s, d)
      GraftLogCatalog.register(s, "glog", "orders_ops_q239", path,
        Seq("o_orderkey"))
      s.sql("""SELECT o_orderkey, change_type,
              |  old_o_totalprice, new_o_totalprice
              |FROM table_changes('glog.orders_ops_q239', 0, 2)"""
        .stripMargin)
    }),

    // SQL `ALTER TABLE … ADD COLUMNS` — schema evolution as what it IS
    // in this format: ONE empty schema-bearing commit (the q143/q185
    // law at the DDL surface; in-query require pins the `add_columns`
    // verb in the history) plus mergeSchema reads. The mod-3 slice
    // lands PRE-evolution, the even keys land POST-evolution carrying
    // the new provenance column at +10000 — the union snapshot
    // null-fills `src` on every key only the first insert touched,
    // and LWW resolves the overlap (multiples of 6) to the evolved
    // rows. Retype/key-rename/property ALTERs stay refused loudly
    // (rename/drop of DATA columns are now column-mapping verbs —
    // q251 owns that surface).
    "q241_sql_alter_add_columns" -> ((s, d) => {
      val loc = Sinks.tmpPathFor("orders_alter_q241", d)
      s.conf.set("spark.sql.catalog.glog",
        classOf[GraftLogCatalog].getName)
      s.sql("DROP TABLE IF EXISTS glog.orders_alter_q241")
      Sinks.deleteRecursively(loc)
      AuditQueries.opsOrders(s, d)
        .createOrReplaceTempView("orders_src_q241")
      s.sql(s"""CREATE TABLE glog.orders_alter_q241 (
               |  o_orderkey BIGINT, o_totalprice DOUBLE)
               |LOCATION '$loc'
               |TBLPROPERTIES ('keys' = 'o_orderkey')""".stripMargin)
      s.sql("INSERT INTO glog.orders_alter_q241 " +
        "SELECT o_orderkey, o_totalprice FROM orders_src_q241 " +
        "WHERE o_orderkey % 3 = 0")
      s.sql("ALTER TABLE glog.orders_alter_q241 ADD COLUMNS (src STRING)")
      require(Changelog.commitInfos(loc).get(2L)
          .exists(_._1 == "add_columns"),
        "evolution must land as ONE commit recording verb 'add_columns'")
      // schema verbs beyond add/rename/drop refuse loudly — a retype
      // rewrites the schema out from under the pinned footers
      val retype = scala.util.Try(
        s.sql("ALTER TABLE glog.orders_alter_q241 " +
          "ALTER COLUMN src TYPE INT"))
      require(retype.isFailure && retype.failed.get.getMessage != null,
        "ALTER COLUMN TYPE must refuse")
      // ...and the KEY column never renames (the key set is the
      // table's row identity, held by the registration, not the log)
      require(scala.util.Try(s.sql(
          "ALTER TABLE glog.orders_alter_q241 " +
            "RENAME COLUMN o_orderkey TO k"))
        .isFailure, "RENAME of a KEY column must refuse")
      require(scala.util.Try(s.sql(
          "ALTER TABLE glog.orders_alter_q241 " +
            "SET TBLPROPERTIES ('x'='y')"))
        .isFailure, "SET TBLPROPERTIES must refuse")
      s.sql("INSERT INTO glog.orders_alter_q241 " +
        "SELECT o_orderkey, o_totalprice + 10000.0, 'late' " +
        "FROM orders_src_q241 WHERE o_orderkey % 2 = 0")
      s.sql("SELECT * FROM glog.orders_alter_q241")
    }),

    // MERGE WITH SCHEMA EVOLUTION — Spark's own resolution
    // (AUTOMATIC_SCHEMA_EVOLUTION capability) computes the
    // source-only columns and drives them through the SAME evolved
    // commit the ALTER verb lands (in-query require pins the
    // `add_columns` commit BELOW the merge commit), then the
    // statement's UPDATE SET * / INSERT * carry the new provenance
    // column: q224's source slice (+700, keys ≡ 0 mod 6) stamped
    // `src='m'` on every row the merge touched; every untouched live
    // row null-fills. The plain-MERGE non-evolution contract is
    // spec-pinned (GraftLogTableSpec).
    "q242_sql_merge_schema_evolution" -> ((s, d) => {
      val path = AuditQueries.opsLog(s, d, "orders_ops_log_q242")
      GraftLogCatalog.register(s, "glog", "orders_ops_q242", path,
        Seq("o_orderkey"))
      AuditQueries.opsOrders(s, d)
        .filter(col("o_orderkey") % 6 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 700.0)
        .withColumn("src", lit("m"))
        .createOrReplaceTempView("merge_src_q242")
      s.sql("""MERGE WITH SCHEMA EVOLUTION INTO glog.orders_ops_q242 t
              |USING merge_src_q242 s
              |ON t.o_orderkey = s.o_orderkey
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED THEN INSERT *
              |""".stripMargin)
      // RELATIVE asserts (fixture-count-independent): exactly one
      // add_columns commit landed, strictly BELOW the statement's own
      // merge commit — the evolution precedes the DML it enables
      val infos = Changelog.commitInfos(path)
      val addIds = infos.collect {
        case (id, ("add_columns", _, _)) => id }
      val mergeIds = infos.collect { case (id, ("merge", _, _)) => id }
      require(addIds.size == 1 && mergeIds.nonEmpty &&
        addIds.head < mergeIds.max,
        s"evolved MERGE = ONE add_columns commit strictly below the " +
          s"merge commit, got $infos")
      s.sql("SELECT * FROM glog.orders_ops_q242")
    }),

    // THE TVF ADDRESSED BY THE CLOCK — `table_changes('glog.t',
    // '<t0>', '<t1>')` with TIMESTAMP-STRING endpoints (UTC), each
    // resolved through the commit clock (latest stamp ≤ t — the
    // q190/q192 law): stamps at 1000/2000/3000 ms, the window
    // ('…:01', '…:03'] resolves to (version 0, version 2] — q192's
    // feed and oracle verbatim, reached through the TVF's clock
    // spelling. Two instants resolving to the SAME commit refuse
    // loudly (in-query require).
    "q243_tvf_by_timestamp" -> ((s, d) => {
      val path = AuditQueries.opsLog(s, d, "orders_ops_log_q243")
      Changelog.stampCommit(path, 0L, 1000L)
      Changelog.stampCommit(path, 1L, 2000L)
      Changelog.stampCommit(path, 2L, 3000L)
      GraftLogCatalog.register(s, "glog", "orders_ops_q243", path,
        Seq("o_orderkey"))
      require(scala.util.Try(s.sql(
          "SELECT * FROM table_changes('glog.orders_ops_q243', " +
            "'1970-01-01 00:00:01', '1970-01-01 00:00:01.500')"))
        .isFailure,
        "an equal-resolution clock window must refuse loudly")
      s.sql("""SELECT o_orderkey, change_type,
              |  old_o_totalprice, new_o_totalprice
              |FROM table_changes('glog.orders_ops_q243',
              |  '1970-01-01 00:00:01', '1970-01-01 00:00:03')"""
        .stripMargin)
    }),

    // STANDALONE `CALL glog.system.vacuum` — Delta's OPTIMIZE-then-
    // VACUUM decomposition at the SQL surface: optimize lands the live
    // fold as base commit 3 while commits 0–2 stay readable (in-query
    // require reads AS OF 1), then vacuum reclaims the history below
    // the base — NO fold of its own. Refusal legs in-query:
    // retain_version above the head, and vacuum on a log whose window
    // holds no base. After the vacuum: the below-base directories are
    // physically gone, reads below the horizon refuse loudly, and the
    // head snapshot is byte-identical (the oracle — q191's live-state
    // law verbatim).
    "q245_sql_call_vacuum" -> ((s, d) => {
      val path = AuditQueries.opsLog(s, d, "orders_ops_log_q245")
      s.conf.set("spark.sql.catalog.glog",
        classOf[GraftLogCatalog].getName)
      GraftLogCatalog.register(s, "glog", "orders_ops_q245", path,
        Seq("o_orderkey"))
      // vacuum with no base anywhere refuses — un-folded history is
      // live state, never reclaimable
      require(scala.util.Try(s.sql(
          "CALL glog.system.vacuum('orders_ops_q245', 2)").collect())
        .isFailure, "vacuum without a base must refuse loudly")
      val dom = AuditQueries.opsOrders(s, d)
        .agg(max(col("o_orderkey"))).head().getLong(0) + 1L
      s.sql("CALL glog.system.optimize('orders_ops_q245', 3, " +
        s"'o_orderkey', $dom, 8)").collect()
      require(s.sql(
          "SELECT * FROM glog.orders_ops_q245 VERSION AS OF 1")
        .count() > 0, "history below the base must stay readable " +
          "until vacuum reclaims it")
      // retain_version above the head refuses
      require(scala.util.Try(s.sql(
          "CALL glog.system.vacuum('orders_ops_q245', 99)").collect())
        .isFailure, "retain_version above the head must refuse loudly")
      s.sql("CALL glog.system.vacuum('orders_ops_q245', 3)").collect()
      require(!LogFs.exists(Changelog.commitDir(path, 0L)) &&
        !LogFs.exists(Changelog.commitDir(path, 2L)),
        "directories below the base must be physically gone")
      require(scala.util.Try(s.sql(
          "SELECT * FROM glog.orders_ops_q245 VERSION AS OF 1")
          .collect()).isFailure,
        "reads below the horizon must refuse loudly after vacuum")
      s.sql("SELECT * FROM glog.orders_ops_q245")
    }),

    // RETENTION BY THE CLOCK — `CALL glog.system.vacuum_at(t, '<ts>')`
    // composes q243's commit clock with q245's reclaim: the instant
    // resolves through versionAtTimestamp (latest stamp ≤ t) to the
    // newest base at/below it, then the versioned vacuum runs with
    // every guard. Refusal legs in-query: an instant before the first
    // stamp, an instant resolving below any base, and vacuum_at with
    // no base anywhere. After the vacuum: below-base directories
    // physically gone, below-horizon reads refuse, head snapshot
    // byte-identical (q245's oracle law verbatim).
    "q254_sql_vacuum_by_timestamp" -> ((s, d) => {
      val path = AuditQueries.opsLog(s, d, "orders_ops_log_q254")
      Changelog.stampCommit(path, 0L, 1000L)
      Changelog.stampCommit(path, 1L, 2000L)
      Changelog.stampCommit(path, 2L, 3000L)
      s.conf.set("spark.sql.catalog.glog",
        classOf[GraftLogCatalog].getName)
      GraftLogCatalog.register(s, "glog", "orders_ops_q254", path,
        Seq("o_orderkey"))
      // no base anywhere: un-folded history is live state
      require(scala.util.Try(s.sql(
          "CALL glog.system.vacuum_at('orders_ops_q254', " +
            "'1970-01-01 00:00:03')").collect()).isFailure,
        "vacuum_at without a base must refuse loudly")
      val dom = AuditQueries.opsOrders(s, d)
        .agg(max(col("o_orderkey"))).head().getLong(0) + 1L
      s.sql("CALL glog.system.optimize('orders_ops_q254', 3, " +
        s"'o_orderkey', $dom, 8)").collect()
      Changelog.stampCommit(path, 3L, 4000L)
      // an instant before the log's first stamp refuses
      require(scala.util.Try(s.sql(
          "CALL glog.system.vacuum_at('orders_ops_q254', " +
            "'1970-01-01 00:00:00.500')").collect()).isFailure,
        "an instant before the first stamp must refuse loudly")
      // an instant resolving BELOW the base refuses (version 1 holds
      // no fold — reclaiming under it would destroy live state)
      require(scala.util.Try(s.sql(
          "CALL glog.system.vacuum_at('orders_ops_q254', " +
            "'1970-01-01 00:00:02')").collect()).isFailure,
        "an instant resolving below every base must refuse loudly")
      // the real reclaim: t=4.25s resolves to the base (commit 3)
      s.sql("CALL glog.system.vacuum_at('orders_ops_q254', " +
        "'1970-01-01 00:00:04.250')").collect()
      require(!LogFs.exists(Changelog.commitDir(path, 0L)) &&
        !LogFs.exists(Changelog.commitDir(path, 2L)),
        "directories below the base must be physically gone")
      require(scala.util.Try(s.sql(
          "SELECT * FROM glog.orders_ops_q254 VERSION AS OF 1")
          .collect()).isFailure,
        "reads below the horizon must refuse loudly after vacuum_at")
      s.sql("SELECT * FROM glog.orders_ops_q254")
    }),

    // THE MAPPED FEED — the change-data-feed window over a RENAMED
    // column: the rename lands (one empty commit + mapping marker),
    // a post-rename upsert touches the mod-9 slice at +222, and the
    // feed window STARTING AT the rename commit tracks the LOGICAL
    // name `price` — the diff runs over the physical footers, the
    // old_/new_ outputs surface the logical name, and liveness at the
    // window start labels update-vs-insert (a tombstoned key's
    // re-upsert is an insert). A window SPANNING the rename refuses
    // (in-query require — the window-stability law).
    "q258_mapped_feed_window" -> ((s, d) => {
      val path = AuditQueries.opsLog(s, d, "orders_ops_log_q258")
      val renameId = Changelog.commitRenameColumn(s, path,
        Seq("o_orderkey"), "o_totalprice", "price")
      Changelog.commitUpsert(
        AuditQueries.opsOrders(s, d)
          .filter(col("o_orderkey") % 9 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 222.0),
        path, renameId + 1)
      require(scala.util.Try(
          s.read.format(fmt)
            .option("path", path).option("keys", "o_orderkey")
            .option("readChangeFeed", "true")
            .option("startingVersion", renameId - 1)
            .option("trackCols", "price").load()).isFailure,
        "a feed window spanning the rename commit must refuse loudly")
      s.read.format(fmt)
        .option("path", path).option("keys", "o_orderkey")
        .option("readChangeFeed", "true")
        .option("startingVersion", renameId)
        .option("trackCols", "price").load()
    }),

    // THE MAPPED FEED **STREAM** — the last column-mapping surface:
    // `readStream … readChangeFeed` over a RENAMED log serves the
    // full-label feed under the LOGICAL old_/new_ names (tracked
    // columns translate logical→physical for the diff, the spool
    // renames back, and the mapping fingerprint is pinned per run —
    // q258's law on the streaming surface). Drift-refusal leg
    // in-query: after a SECOND rename lands, restarting the stream
    // with the original startingVersion refuses loudly at load (the
    // window now spans a mapping commit — re-pin by starting at/after
    // it). The drained feed is q258's closed form verbatim.
    "q259_mapped_feed_stream" -> ((s, d) => {
      val path = AuditQueries.opsLog(s, d, "orders_ops_log_q259")
      val out = Sinks.tmpPathFor("mapped_feed_stream_out", d)
      val ckpt = Sinks.tmpPathFor("mapped_feed_stream_ckpt", d)
      Seq(out, ckpt).foreach(Sinks.deleteRecursively)
      val renameId = Changelog.commitRenameColumn(s, path,
        Seq("o_orderkey"), "o_totalprice", "price")
      Changelog.commitUpsert(
        AuditQueries.opsOrders(s, d)
          .filter(col("o_orderkey") % 9 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 222.0),
        path, renameId + 1)
      val q = s.readStream.format(fmt)
        .option("path", path).option("keys", "o_orderkey")
        .option("readChangeFeed", "true")
        .option("startingVersion", renameId)
        .option("trackCols", "price").load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           batchId: Long) =>
            batch.write.mode("append").parquet(out)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // a second rename moves the mapping: the original registration
      // now names a window spanning a mapping commit — restart must
      // refuse loudly (re-pin by bumping startingVersion past it)
      Changelog.commitRenameColumn(s, path, Seq("o_orderkey"),
        "price", "price2")
      require(scala.util.Try(
          s.readStream.format(fmt)
            .option("path", path).option("keys", "o_orderkey")
            .option("readChangeFeed", "true")
            .option("startingVersion", renameId)
            .option("trackCols", "price").load()).isFailure,
        "restarting a mapped feed stream across a later rename must " +
          "refuse loudly at load")
      s.read.parquet(out).select(col("o_orderkey"), col("new_price"),
        col("old_price"), col("change_type"))
    }),

    // TABLE CHECK CONSTRAINTS — Delta's constraint discipline at the
    // SQL prompt: `ALTER TABLE … ADD CONSTRAINT <n> CHECK (<expr>)`
    // lands ONE properties commit + one marker (never a data
    // operation beyond the one-time validation of existing rows), and
    // the predicate then guards EVERY write. Refusal legs in-query: a
    // constraint the existing rows violate refuses at ADD; a
    // violating INSERT and a violating UPDATE refuse loudly and land
    // NOTHING (head pinned before/after); DELETE stays exempt (a
    // tombstone names a row, it does not write one). DROP CONSTRAINT
    // stops enforcement — the formerly-refused row then lands. The
    // final snapshot is the closed form the oracle recomputes.
    "q260_sql_check_constraints" -> ((s, d) => {
      val loc = Sinks.tmpPathFor("orders_check_q260", d)
      s.conf.set("spark.sql.catalog.glog",
        classOf[GraftLogCatalog].getName)
      s.sql("DROP TABLE IF EXISTS glog.orders_check_q260")
      Sinks.deleteRecursively(loc)
      AuditQueries.opsOrders(s, d)
        .createOrReplaceTempView("orders_src_q260")
      s.sql(s"""CREATE TABLE glog.orders_check_q260 (
               |  o_orderkey BIGINT, o_totalprice DOUBLE, status STRING)
               |LOCATION '$loc'
               |TBLPROPERTIES ('keys' = 'o_orderkey')""".stripMargin)
      s.sql("INSERT INTO glog.orders_check_q260 " +
        "SELECT o_orderkey, o_totalprice, 'ok' FROM orders_src_q260 " +
        "WHERE o_orderkey % 3 = 0")
      s.sql("ALTER TABLE glog.orders_check_q260 " +
        "ADD CONSTRAINT price_nonneg CHECK (o_totalprice >= 0)")
      require(Changelog.commitInfos(loc).values
          .count(_._1 == "add_constraint") == 1,
        "ADD CONSTRAINT must land ONE properties commit")
      // a constraint the existing rows violate refuses at ADD
      require(scala.util.Try(s.sql(
          "ALTER TABLE glog.orders_check_q260 " +
            "ADD CONSTRAINT no_ok CHECK (status <> 'ok')")).isFailure,
        "a constraint violated by existing rows must refuse at ADD")
      // a violating INSERT refuses loudly and lands nothing
      val headBefore = Changelog.commitInfos(loc).keys.max
      require(scala.util.Try(s.sql(
          "INSERT INTO glog.orders_check_q260 " +
            "VALUES (2000000002, -5.0, 'bad')")).isFailure,
        "a violating INSERT must refuse loudly")
      require(Changelog.commitInfos(loc).keys.max == headBefore,
        "a refused INSERT must land nothing")
      s.sql("INSERT INTO glog.orders_check_q260 " +
        "SELECT o_orderkey, o_totalprice + 5000.0, 'late' " +
        "FROM orders_src_q260 WHERE o_orderkey % 2 = 0")
      // a violating UPDATE refuses (Spark's own CheckInvariant over
      // the row-level delta); the head stays pinned
      val headBefore2 = Changelog.commitInfos(loc).keys.max
      require(scala.util.Try(s.sql(
          "UPDATE glog.orders_check_q260 SET o_totalprice = -1.0 " +
            "WHERE o_orderkey % 30 = 0")).isFailure,
        "a violating UPDATE must refuse loudly")
      require(Changelog.commitInfos(loc).keys.max == headBefore2,
        "a refused UPDATE must land nothing")
      // DELETE is exempt — a tombstone names a row, never writes one
      s.sql("DELETE FROM glog.orders_check_q260 WHERE o_orderkey % 7 = 0")
      // DROP CONSTRAINT stops enforcement
      s.sql("ALTER TABLE glog.orders_check_q260 " +
        "DROP CONSTRAINT price_nonneg")
      require(Changelog.checkConstraints(loc).isEmpty,
        "DROP CONSTRAINT must clear the marker")
      s.sql("INSERT INTO glog.orders_check_q260 " +
        "VALUES (2000000001, -1.0, 'neg')")
      s.sql("SELECT * FROM glog.orders_check_q260")
    }),

    // EVERY VERB SPEAKS TIME — `CALL glog.system.restore_at(t, '<ts>',
    // n)` / `clone_at(t, '<ts>', dest)` complete the commit-clock
    // story (q190 stamps → q243 TVF → q254 vacuum_at → now restore
    // and clone): the instant resolves through versionAtTimestamp
    // (latest stamp ≤ t) and the versioned verb runs with every
    // guard. Refusal legs in-query: an instant before the first
    // stamp, and a restore whose new_version is not above the head.
    // The clone at the same instant must equal the restored head
    // exactly (in-query symmetric-difference require); the final
    // snapshot is the as-of-2.5s law (q213's oracle verbatim).
    "q261_sql_restore_clone_by_timestamp" -> ((s, d) => {
      val path = AuditQueries.opsLog(s, d, "orders_ops_log_q261")
      Changelog.stampCommit(path, 0L, 1000L)
      Changelog.stampCommit(path, 1L, 2000L)
      Changelog.stampCommit(path, 2L, 3000L)
      s.conf.set("spark.sql.catalog.glog",
        classOf[GraftLogCatalog].getName)
      GraftLogCatalog.register(s, "glog", "orders_ops_q261", path,
        Seq("o_orderkey"))
      // an instant before the log's first stamp refuses
      require(scala.util.Try(s.sql(
          "CALL glog.system.restore_at('orders_ops_q261', " +
            "'1970-01-01 00:00:00.500', 3)").collect()).isFailure,
        "an instant before the first stamp must refuse loudly")
      // a restore landing at/below the head refuses (versions are the
      // order of history; a restore is one more commit on top)
      require(scala.util.Try(s.sql(
          "CALL glog.system.restore_at('orders_ops_q261', " +
            "'1970-01-01 00:00:02.500', 2)").collect()).isFailure,
        "restore_at must land as a NEW commit above the head")
      // the clone at 2.5s is the as-of state, branched zero-copy
      val dest = Sinks.tmpPathFor("orders_clone_q261", d)
      Sinks.deleteRecursively(dest)
      s.sql("CALL glog.system.clone_at('orders_ops_q261', " +
        s"'1970-01-01 00:00:02.500', '$dest')").collect()
      // the restore to the same instant lands as commit 3
      s.sql("CALL glog.system.restore_at('orders_ops_q261', " +
        "'1970-01-01 00:00:02.500', 3)").collect()
      GraftLogCatalog.register(s, "glog", "orders_clone_q261", dest,
        Seq("o_orderkey"))
      val restored = s.sql("SELECT * FROM glog.orders_ops_q261")
      val cloned = s.sql("SELECT * FROM glog.orders_clone_q261")
      // multiset equality in ONE pass over each snapshot (±1-signed
      // union, grouped on the full row, any nonzero sum = a difference)
      // — the previous symmetric difference (two exceptAll passes) read
      // and shuffled both snapshots twice for the same assertion
      val diff = restored.withColumn("_s", lit(1L))
        .unionByName(cloned.withColumn("_s", lit(-1L)))
        .groupBy(restored.columns.map(col): _*)
        .agg(sum(col("_s")).as("_d"))
        .filter(col("_d") =!= 0L)
      require(diff.isEmpty,
        "the clock-addressed clone and the clock-addressed restore " +
          "must serve the identical state")
      // history stays fully readable below the restore
      require(s.sql("SELECT * FROM glog.orders_ops_q261 VERSION AS OF 2")
        .count() > 0, "history below a restore must stay readable")
      restored
    }),

    // COLUMN MAPPING — `ALTER TABLE … RENAME COLUMN` / `DROP COLUMN`
    // as METADATA (Delta's columnMapping discipline on this format's
    // marker primitive): each verb is one empty commit + one mapping
    // marker, never a data rewrite. The flow: insert under the birth
    // names → RENAME o_totalprice→price → insert through the NEW name
    // (in-query require proves the commit's footer still carries the
    // PHYSICAL name — pinned footers never change) → DROP note.
    // Time travel below the rename serves the OLD names (in-query
    // requires on both sides); rename-to-existing, retype, and
    // key-rename all refuse loudly. The final snapshot is the mapped
    // closed form the oracle recomputes.
    "q251_sql_rename_drop_column" -> ((s, d) => {
      val loc = Sinks.tmpPathFor("orders_colmap_q251", d)
      s.conf.set("spark.sql.catalog.glog",
        classOf[GraftLogCatalog].getName)
      s.sql("DROP TABLE IF EXISTS glog.orders_colmap_q251")
      Sinks.deleteRecursively(loc)
      AuditQueries.opsOrders(s, d)
        .createOrReplaceTempView("orders_src_q251")
      s.sql(s"""CREATE TABLE glog.orders_colmap_q251 (
               |  o_orderkey BIGINT, o_totalprice DOUBLE, note STRING)
               |LOCATION '$loc'
               |TBLPROPERTIES ('keys' = 'o_orderkey')""".stripMargin)
      s.sql("INSERT INTO glog.orders_colmap_q251 " +
        "SELECT o_orderkey, o_totalprice, 'early' FROM orders_src_q251 " +
        "WHERE o_orderkey % 3 = 0")
      s.sql("ALTER TABLE glog.orders_colmap_q251 " +
        "RENAME COLUMN o_totalprice TO price")
      require(Changelog.commitInfos(loc).values
          .count(_._1 == "rename_column") == 1,
        "the rename must land as ONE commit recording 'rename_column'")
      // the statement resolves the NEW name; the landed footer keeps
      // the PHYSICAL (birth) name — metadata-only, proven on disk
      s.sql("INSERT INTO glog.orders_colmap_q251 " +
        "SELECT o_orderkey, o_totalprice + 10000.0, 'late' " +
        "FROM orders_src_q251 WHERE o_orderkey % 2 = 0")
      val lateCommit = Changelog.commitInfos(loc).keys.max
      require(s.read.parquet(Changelog.commitDir(loc, lateCommit)).columns
          .contains("o_totalprice"),
        "post-rename commits must land under the PHYSICAL column name")
      // renaming onto an existing logical name refuses
      require(scala.util.Try(s.sql(
          "ALTER TABLE glog.orders_colmap_q251 " +
            "RENAME COLUMN price TO note")).isFailure,
        "RENAME onto an existing logical column must refuse")
      // time travel below the rename serves the OLD names
      require(s.sql("SELECT * FROM glog.orders_colmap_q251 " +
          "VERSION AS OF 1").columns.toSeq ==
          Seq("o_orderkey", "o_totalprice", "note"),
        "reads below the rename must serve the pre-rename names")
      s.sql("ALTER TABLE glog.orders_colmap_q251 DROP COLUMN note")
      require(Changelog.commitInfos(loc).values
          .count(_._1 == "drop_column") == 1,
        "the drop must land as ONE commit recording 'drop_column'")
      // below the drop (above the rename): new price name, note alive
      require(s.sql("SELECT * FROM glog.orders_colmap_q251 " +
          s"VERSION AS OF $lateCommit").columns.toSeq ==
          Seq("o_orderkey", "price", "note"),
        "reads below the drop must still serve the dropped column")
      // retype and KEY rename stay refused
      require(scala.util.Try(s.sql(
          "ALTER TABLE glog.orders_colmap_q251 " +
            "ALTER COLUMN price TYPE INT")).isFailure,
        "ALTER COLUMN TYPE must refuse")
      require(scala.util.Try(s.sql(
          "ALTER TABLE glog.orders_colmap_q251 " +
            "RENAME COLUMN o_orderkey TO k")).isFailure,
        "RENAME of a KEY column must refuse")
      s.sql("SELECT * FROM glog.orders_colmap_q251")
    }))

  val oracles: Map[String, String] = Map(

    // q181's live-state law verbatim — the batch table serves the same
    // snapshot the library does
    "q211_log_table_snapshot" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |       WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |            AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 = 3
        |   OR o_orderkey % 10 <> 0
        |   OR o_orderkey % 20 = 0""".stripMargin,

    // same law through the SQL VERSION AS OF clause
    "q212_log_table_sql_version" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |       WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |            AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 = 3
        |   OR o_orderkey % 10 <> 0
        |   OR o_orderkey % 20 = 0""".stripMargin,

    // q190's as-of-2500 law verbatim through TIMESTAMP AS OF
    "q213_log_table_sql_timestamp" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 <> 3""".stripMargin,

    // q182's full-label net feed verbatim through the reader options:
    // inserts (the held-out tail + resurrections collapse), updates
    // (mod-7 branch), deletes (tombstoned non-resurrected 10ths,
    // olds carried), no-ops suppressed
    "q214_log_table_cdf" ->
      """SELECT o_orderkey, 'delete' AS change_type,
        |  o_totalprice AS old_o_totalprice,
        |  CAST(NULL AS DOUBLE) AS new_o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 <> 3 AND o_orderkey % 10 = 0
        |  AND o_orderkey % 20 <> 0
        |UNION ALL
        |SELECT o_orderkey, 'update', o_totalprice,
        |  o_totalprice + 1000.0
        |FROM orders WHERE o_orderkey % 20 = 0
        |UNION ALL
        |SELECT o_orderkey, 'update', o_totalprice,
        |  o_totalprice + 500.0
        |FROM orders
        |WHERE o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |  AND o_orderkey % 7 = 1
        |UNION ALL
        |SELECT o_orderkey, 'insert', CAST(NULL AS DOUBLE),
        |  o_totalprice
        |FROM orders WHERE o_orderkey % 4 = 3""".stripMargin,

    // the upper-quarter slice at base prices (commit 1 never updated)
    "q215_log_table_skipping" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_orderkey > (SELECT 3 * max(o_orderkey) // 4 FROM orders)"""
        .stripMargin,

    // the typed live state: every-7th key dead unless resurrected by
    // the every-10th re-upsert (payload || '!v2', +100, +1 day, ×2);
    // binary verified as its UTF-8 string + byte length, embedding as
    // the exact-ppm flatten with both engines forced through double
    "q216_stream_sink_types" ->
      """WITH base AS (
        |  SELECT d.doc_id, d.lang, d.text, d.n_chars,
        |    e.embedding AS emb
        |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
        |live AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 10 = 0
        |         THEN DATE '2024-01-01' + CAST(doc_id % 365 AS INT) + 1
        |         ELSE DATE '2024-01-01' + CAST(doc_id % 365 AS INT)
        |    END AS added,
        |    CASE WHEN doc_id % 10 = 0 THEN n_chars + 100.25
        |         ELSE n_chars + 0.25 END AS scoreval,
        |    CASE WHEN doc_id % 10 = 0 THEN text || '!v2'
        |         ELSE text END AS ptext,
        |    CASE WHEN doc_id % 10 = 0
        |         THEN list_transform(emb,
        |                x -> CAST(CAST(x AS DOUBLE) * 2 AS FLOAT))
        |         ELSE emb END AS emb
        |  FROM base
        |  WHERE doc_id % 7 <> 0 OR doc_id % 10 = 0)
        |SELECT doc_id, lang, added,
        |  CAST(CAST(scoreval AS DECIMAL(12,2)) AS DOUBLE) AS score,
        |  ptext AS payload_str,
        |  CAST(octet_length(encode(ptext)) AS BIGINT) AS n_bytes,
        |  array_to_string(list_transform(emb,
        |    x -> CAST(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
        |              AS VARCHAR)), ',') AS emb_ppm
        |FROM live""".stripMargin,

    // the per-commit feed union: an insert per base key, an update per
    // mod-9 key (olds carried), a delete per mod-11 non-updated key
    "q217_cdc_source_types" ->
      """WITH base AS (
        |  SELECT d.doc_id, d.text, d.n_chars, e.embedding AS emb,
        |    DATE '2024-01-01' + CAST(d.doc_id % 365 AS INT) AS added0
        |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
        |f AS (
        |  SELECT doc_id, 'insert' AS change_type,
        |    added0 AS new_added, CAST(NULL AS DATE) AS old_added,
        |    CAST(n_chars + 0.25 AS DECIMAL(12,2)) AS new_score,
        |    CAST(NULL AS DECIMAL(12,2)) AS old_score,
        |    text AS new_p, CAST(NULL AS VARCHAR) AS old_p,
        |    emb AS new_e, CAST(NULL AS FLOAT[]) AS old_e
        |  FROM base
        |  UNION ALL
        |  SELECT doc_id, 'update', added0 + 1, added0,
        |    CAST(n_chars + 5.25 AS DECIMAL(12,2)),
        |    CAST(n_chars + 0.25 AS DECIMAL(12,2)),
        |    text || '!u', text,
        |    list_transform(emb, x -> CAST(CAST(x AS DOUBLE) * 2 AS FLOAT)),
        |    emb
        |  FROM base WHERE doc_id % 9 = 0
        |  UNION ALL
        |  SELECT doc_id, 'delete', CAST(NULL AS DATE), added0,
        |    CAST(NULL AS DECIMAL(12,2)),
        |    CAST(n_chars + 0.25 AS DECIMAL(12,2)),
        |    CAST(NULL AS VARCHAR), text,
        |    CAST(NULL AS FLOAT[]), emb
        |  FROM base WHERE doc_id % 11 = 0 AND doc_id % 9 <> 0)
        |SELECT doc_id, change_type, new_added, old_added,
        |  CAST(new_score AS DOUBLE) AS new_score,
        |  CAST(old_score AS DOUBLE) AS old_score,
        |  new_p AS new_payload_str, old_p AS old_payload_str,
        |  array_to_string(list_transform(new_e,
        |    x -> CAST(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
        |              AS VARCHAR)), ',') AS new_emb_ppm,
        |  array_to_string(list_transform(old_e,
        |    x -> CAST(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
        |              AS VARCHAR)), ',') AS old_emb_ppm
        |FROM f""".stripMargin,

    // the documents live-state law (base; every-10th tombstoned;
    // every-20th resurrected at +1000; mod-7 non-tombstoned updated at
    // +500) — OPTIMIZE is a pure rewrite, so the post-optimize read
    // must reproduce it exactly
    "q218_ops_optimize_string" ->
      """SELECT 'D' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS doc_key,
        |  lang,
        |  CASE WHEN doc_id % 20 = 0 THEN n_chars + 1000
        |       WHEN doc_id % 10 <> 0 AND doc_id % 7 = 1
        |         THEN n_chars + 500
        |       ELSE n_chars END AS n_chars
        |FROM documents
        |WHERE doc_id % 10 <> 0 OR doc_id % 20 = 0""".stripMargin,

    // q181's live law ∪ the inserted slice (keys shifted 2e9, +42)
    "q219_log_table_sql_insert" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |       WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |            AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 = 3
        |   OR o_orderkey % 10 <> 0
        |   OR o_orderkey % 20 = 0
        |UNION ALL
        |SELECT o_orderkey + 2000000000, o_custkey, o_totalprice + 42.0
        |FROM orders WHERE o_orderkey % 13 = 0""".stripMargin,

    // q181's live law minus every CURRENT row the predicate selects
    "q220_log_table_sql_delete" ->
      """WITH live AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |         WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |              AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  WHERE o_orderkey % 4 = 3
        |     OR o_orderkey % 10 <> 0
        |     OR o_orderkey % 20 = 0)
        |SELECT o_orderkey, o_custkey, o_totalprice
        |FROM live
        |WHERE NOT (o_totalprice > 150000.0 OR o_orderkey % 5 = 0)"""
        .stripMargin,

    // q200's converged-rollup oracle verbatim — the split path must
    // reach the same fixed point (integer cents, HUGEINT→BIGINT cast)
    "q222_cdc_row_budget" ->
      """WITH live AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |         WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |              AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  WHERE o_orderkey % 4 = 3
        |     OR o_orderkey % 10 <> 0
        |     OR o_orderkey % 20 = 0)
        |SELECT o_custkey, count(*) AS n_orders,
        |  CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |       AS BIGINT) AS DOUBLE) / 100.0 AS sum_price
        |FROM live GROUP BY o_custkey""".stripMargin,

    // q181's live law with +250 wherever the CURRENT row's custkey is
    // divisible by 3 — the UPDATE reads the head state, so the bump
    // applies on top of whatever price the head law assigned
    "q223_log_table_sql_update" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |       WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |            AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |       ELSE o_totalprice END
        |  + CASE WHEN o_custkey % 3 = 0 THEN 250.0 ELSE 0.0 END
        |    AS o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 = 3
        |   OR o_orderkey % 10 <> 0
        |   OR o_orderkey % 20 = 0""".stripMargin,

    // q196's post-merge law verbatim — the SQL MERGE and the library
    // mergeIntoOps land the same fixed point
    "q224_log_table_sql_merge" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 6 = 0 THEN o_totalprice + 700.0
        |       WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |       WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |            AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE (o_orderkey % 6 = 0 AND o_orderkey % 12 <> 0)
        |   OR (o_orderkey % 6 <> 0 AND
        |       (o_orderkey % 4 = 3 OR o_orderkey % 10 <> 0
        |        OR o_orderkey % 20 = 0))""".stripMargin,

    // q200's converged-rollup oracle verbatim — the table-identity
    // stream must reach the same fixed point the by-path stream does
    "q225_stream_table_read" ->
      """WITH live AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |         WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |              AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  WHERE o_orderkey % 4 = 3
        |     OR o_orderkey % 10 <> 0
        |     OR o_orderkey % 20 = 0)
        |SELECT o_custkey, count(*) AS n_orders,
        |  CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |       AS BIGINT) AS DOUBLE) / 100.0 AS sum_price
        |FROM live GROUP BY o_custkey""".stripMargin,

    // every audit line from the fixture's closed form: c0 = the base
    // upsert (non-mod-4-3 keys), c1 = the tombstone slice, c2 = the
    // resurrections + held-out tail + both mod-7 branches; writer is
    // the solo default, stamps were never written
    "q226_log_table_sql_history" ->
      """SELECT CAST(0 AS BIGINT) AS commit, 'upsert' AS verb,
        |  'solo' AS writer,
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 4 <> 3)
        |    AS info_rows,
        |  CAST(NULL AS BIGINT) AS ts_millis
        |UNION ALL
        |SELECT 1, 'delete', 'solo',
        |  (SELECT count(*) FROM orders
        |   WHERE o_orderkey % 4 <> 3 AND o_orderkey % 10 = 0),
        |  NULL
        |UNION ALL
        |SELECT 2, 'upsert', 'solo',
        |  (SELECT count(*) FROM orders WHERE o_orderkey % 20 = 0)
        |  + (SELECT count(*) FROM orders WHERE o_orderkey % 4 = 3)
        |  + (SELECT count(*) FROM orders
        |     WHERE o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |       AND o_orderkey % 7 IN (1, 2)),
        |  NULL""".stripMargin,

    // q189's post-checkpoint law verbatim: the read AS OF 2 serves the
    // full live state (the fold kept every live row; commit 2's
    // resurrections still LWW-beat the folded base)
    "q227_sql_call_checkpoint" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |       WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |            AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 = 3
        |   OR o_orderkey % 10 <> 0
        |   OR o_orderkey % 20 = 0""".stripMargin,

    // q199's three-snapshot law verbatim — OPTIMIZE through CALL is
    // the same pure rewrite
    "q228_sql_call_optimize" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(1 AS BIGINT) AS asof
        |FROM orders
        |WHERE o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |       WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |            AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |       ELSE o_totalprice END AS o_totalprice,
        |  CAST(v.asof AS BIGINT) AS asof
        |FROM orders CROSS JOIN (SELECT unnest([2, 3]) AS asof) v
        |WHERE o_orderkey % 4 = 3
        |   OR o_orderkey % 10 <> 0
        |   OR o_orderkey % 20 = 0""".stripMargin,

    // the wide live state: every-6th key dead unless resurrected by
    // the every-8th re-upsert; the decimal is the same concatenated
    // STRING literal both engines parse (negated on re-upserts),
    // rendered at full scale — character-exact or the hash breaks
    "q229_stream_sink_struct_dec38" ->
      """WITH b AS (
        |  SELECT doc_id, lang, n_chars,
        |    CAST((CASE WHEN doc_id % 3 = 0 THEN '-' ELSE '' END
        |      || CAST(doc_id AS VARCHAR) || '12345678901' || '.'
        |      || lpad(CAST(doc_id % 997 AS VARCHAR), 10, '0'))
        |      AS DECIMAL(38,10)) AS big
        |  FROM documents),
        |live AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 8 = 0 THEN lang || '!x' ELSE lang END
        |      AS lang,
        |    CAST(CASE WHEN doc_id % 8 = 0 THEN n_chars + 9
        |         ELSE n_chars END AS BIGINT) AS n,
        |    CASE WHEN doc_id % 8 = 0 THEN -big ELSE big END AS big
        |  FROM b
        |  WHERE doc_id % 6 <> 0 OR doc_id % 8 = 0)
        |SELECT doc_id, lang, n, CAST(big AS VARCHAR) AS big_str
        |FROM live""".stripMargin,

    // the head-state dim law: commit 1 renamed the even keys; the
    // aggregate sums integer cents (order-free cross-engine)
    "q230_log_table_broadcast_cbo" ->
      """SELECT CASE WHEN n.n_nationkey % 2 = 0 THEN n.n_name || '_v2'
        |       ELSE n.n_name END AS nation,
        |  count(*) AS n_cust,
        |  CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS DOUBLE)
        |    / 100.0 AS sum_bal
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY 1""".stripMargin,

    // the disjoint-range live law with the UPDATE applied: +100 on the
    // lowest quarter (commit 2), +77 on the probed top quarter — each
    // a single IEEE add, ranges disjoint so nothing composes
    "q231_log_table_update_skipping" ->
      """SELECT o_orderkey, o_custkey,
        |  o_totalprice
        |  + CASE WHEN o_orderkey <=
        |      (SELECT max(o_orderkey) // 4 FROM orders)
        |    THEN 100.0 ELSE 0.0 END
        |  + CASE WHEN o_orderkey >
        |      (SELECT 3 * max(o_orderkey) // 4 FROM orders)
        |    THEN 77.0 ELSE 0.0 END AS o_totalprice
        |FROM orders""".stripMargin,

    // the three commits' effective upserts, new values only: the base
    // insert set; then (commit 1 streams nothing — deletes only);
    // then commit 2's resurrections, held-out inserts, and the real
    // mod-7 updates (the identical rewrite branch suppressed)
    "q232_stream_table_upserts" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_orderkey % 4 <> 3
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice + 1000.0
        |FROM orders WHERE o_orderkey % 20 = 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_orderkey % 4 = 3
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice + 500.0
        |FROM orders
        |WHERE o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |  AND o_orderkey % 7 = 1""".stripMargin,

    // the drift law: +1000 for resurrected 20ths (present at v0 —
    // every 20th is % 4 = 0), +500 for the mod-7 update branch; the
    // same IEEE (p + delta) − p both engines compute
    "q221_log_table_sql_drift" ->
      """SELECT o_orderkey,
        |  (o_totalprice + 1000.0) - o_totalprice AS drift
        |FROM orders WHERE o_orderkey % 20 = 0
        |UNION ALL
        |SELECT o_orderkey,
        |  (o_totalprice + 500.0) - o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |  AND o_orderkey % 7 = 1""".stripMargin,

    // the generic-collections live state: every-6th key dead unless
    // resurrected by the every-9th re-upsert; arrays rendered joined,
    // the map as sorted key=4×value pairs computed directly from the
    // base columns (the oracle never needs map support — the law IS
    // scalar), ratio as its exact ×4 integer
    "q233_stream_sink_array_map" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 9 = 0
        |       THEN lang || '|t' || CAST(doc_id % 5 AS VARCHAR) || '|!x'
        |       ELSE lang || '|t' || CAST(doc_id % 5 AS VARCHAR)
        |  END AS toks_str,
        |  CASE WHEN doc_id % 9 = 0
        |       THEN CAST(doc_id AS VARCHAR) || ','
        |            || CAST(doc_id % 97 AS VARCHAR) || ','
        |            || CAST(doc_id + 1 AS VARCHAR)
        |       ELSE CAST(doc_id AS VARCHAR) || ','
        |            || CAST(doc_id % 97 AS VARCHAR)
        |  END AS ids_str,
        |  CASE WHEN doc_id % 9 = 0
        |       THEN 'len=' || CAST((n_chars + 100) * 4 AS VARCHAR)
        |            || ';upd=5'
        |       ELSE 'len=' || CAST(n_chars * 4 AS VARCHAR)
        |            || ';mod=' || CAST((doc_id % 7) * 4 + 1 AS VARCHAR)
        |  END AS feats_str,
        |  CASE WHEN doc_id % 9 = 0 THEN -(doc_id % 128)
        |       ELSE doc_id % 128 END AS ratio_q
        |FROM documents
        |WHERE doc_id % 6 <> 0 OR doc_id % 9 = 0""".stripMargin,

    // the streamed-table live state: every key present (the tail was
    // streamed in), the mod-7 non-tail branch at +500 (the later
    // epoch's upsert wins)
    "q234_stream_write_table" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 4 <> 3 AND o_orderkey % 7 = 1
        |       THEN o_totalprice + 500.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders""".stripMargin,

    // the branch at version 1: commit 0's keys minus commit 1's
    // tombstones, at base prices — the post-clone origin commit
    // invisible by construction
    "q235_sql_call_clone" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0""".stripMargin,

    // q215's upper-quarter law on the folded log: the base serves the
    // full live state, the probe slices the quarter commit 2 never
    // touched
    "q236_sql_call_analyze" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_orderkey > (SELECT 3 * max(o_orderkey) // 4 FROM orders)"""
        .stripMargin,

    // the lifecycle's closed form: inserted non-tail keys, the mod-7
    // update, the mod-10 delete
    "q237_sql_create_table" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0""".stripMargin,

    // CTAS: exactly the selected slice
    "q238_sql_ctas" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_orderkey % 3 = 0""".stripMargin,

    // q207's MV law verbatim, reached with zero paths in the pipeline
    "q240_mv_by_name" ->
      """WITH live AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |         WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |              AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  WHERE o_orderkey % 4 = 3
        |     OR o_orderkey % 10 <> 0
        |     OR o_orderkey % 20 = 0)
        |SELECT o_custkey, count(*) AS n_orders,
        |  CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |       AS BIGINT) AS DOUBLE) / 100.0 AS sum_price
        |FROM live GROUP BY o_custkey""".stripMargin,

    // q214's net-feed law verbatim, reached through the TVF: deletes
    // (tombstoned non-resurrected 10ths, olds carried), updates
    // (resurrections +1000, the mod-7 branch +500), inserts (the
    // held-out tail), no-ops suppressed
    "q239_table_changes_tvf" ->
      """SELECT o_orderkey, 'delete' AS change_type,
        |  o_totalprice AS old_o_totalprice,
        |  CAST(NULL AS DOUBLE) AS new_o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 <> 3 AND o_orderkey % 10 = 0
        |  AND o_orderkey % 20 <> 0
        |UNION ALL
        |SELECT o_orderkey, 'update', o_totalprice,
        |  o_totalprice + 1000.0
        |FROM orders WHERE o_orderkey % 20 = 0
        |UNION ALL
        |SELECT o_orderkey, 'update', o_totalprice,
        |  o_totalprice + 500.0
        |FROM orders
        |WHERE o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |  AND o_orderkey % 7 = 1
        |UNION ALL
        |SELECT o_orderkey, 'insert', CAST(NULL AS DOUBLE),
        |  o_totalprice
        |FROM orders WHERE o_orderkey % 4 = 3""".stripMargin,

    // the evolved-table closed form: keys from either insert; even
    // keys carry the post-evolution values (+10000, src='late' — LWW
    // over the mod-6 overlap), everything else keeps the pre-evolution
    // price with src null-filled by the union read
    "q241_sql_alter_add_columns" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 10000.0
        |       ELSE o_totalprice END AS o_totalprice,
        |  CASE WHEN o_orderkey % 2 = 0 THEN 'late' END AS src
        |FROM orders
        |WHERE o_orderkey % 3 = 0 OR o_orderkey % 2 = 0""".stripMargin,

    // the evolved-merge closed form: q224's live state with the mod-6
    // slice updated-or-inserted at +700 and stamped 'm'; every row the
    // merge never touched null-fills the evolved column. (mod-6 keys
    // are even, so the %4=3 branch never overlaps; inserts are the
    // non-live mod-6 keys — odd multiples of 30.)
    "q242_sql_merge_schema_evolution" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 6 = 0 THEN o_totalprice + 700.0
        |       WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |       WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |            AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |       ELSE o_totalprice END AS o_totalprice,
        |  CASE WHEN o_orderkey % 6 = 0 THEN 'm' END AS src
        |FROM orders
        |WHERE o_orderkey % 6 = 0
        |   OR o_orderkey % 4 = 3
        |   OR o_orderkey % 10 <> 0
        |   OR o_orderkey % 20 = 0""".stripMargin,

    // q192's clock-window oracle verbatim — the TVF's timestamp
    // spelling and the library's changesBetweenTimestamps converge
    "q243_tvf_by_timestamp" ->
      """SELECT o_orderkey, 'delete' AS change_type,
        |  o_totalprice AS old_o_totalprice,
        |  CAST(NULL AS DOUBLE) AS new_o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 <> 3 AND o_orderkey % 10 = 0
        |  AND o_orderkey % 20 <> 0
        |UNION ALL
        |SELECT o_orderkey, 'update', o_totalprice,
        |  o_totalprice + 1000.0
        |FROM orders WHERE o_orderkey % 20 = 0
        |UNION ALL
        |SELECT o_orderkey, 'update', o_totalprice,
        |  o_totalprice + 500.0
        |FROM orders
        |WHERE o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |  AND o_orderkey % 7 = 1
        |UNION ALL
        |SELECT o_orderkey, 'insert', CAST(NULL AS DOUBLE),
        |  o_totalprice
        |FROM orders WHERE o_orderkey % 4 = 3""".stripMargin,

    // the head snapshot is untouched by retention — q191's live-state
    // law verbatim, served from the base alone after the vacuum
    "q245_sql_call_vacuum" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |       WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |            AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 = 3
        |   OR o_orderkey % 10 <> 0
        |   OR o_orderkey % 20 = 0""".stripMargin,

    // the mapped-feed closed form: every mod-9 key lands +222 in the
    // window; keys LIVE at the window start (q191's live set) label
    // update and carry their q191 value as old_price; dead keys
    // (tombstoned, never resurrected) label insert with null old
    "q258_mapped_feed_window" ->
      """SELECT o_orderkey,
        |  o_totalprice + 222.0 AS new_price,
        |  CASE WHEN (o_orderkey % 4 = 3 OR o_orderkey % 10 <> 0
        |             OR o_orderkey % 20 = 0) THEN
        |    CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |         WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |              AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |         ELSE o_totalprice END
        |  END AS old_price,
        |  CASE WHEN (o_orderkey % 4 = 3 OR o_orderkey % 10 <> 0
        |             OR o_orderkey % 20 = 0) THEN 'update'
        |       ELSE 'insert' END AS change_type
        |FROM orders
        |WHERE o_orderkey % 9 = 0""".stripMargin,

    // q258's closed form verbatim — the STREAMING surface drains the
    // same mapped window ((renameId, renameId+1]) it serves in batch
    "q259_mapped_feed_stream" ->
      """SELECT o_orderkey,
        |  o_totalprice + 222.0 AS new_price,
        |  CASE WHEN (o_orderkey % 4 = 3 OR o_orderkey % 10 <> 0
        |             OR o_orderkey % 20 = 0) THEN
        |    CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |         WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |              AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |         ELSE o_totalprice END
        |  END AS old_price,
        |  CASE WHEN (o_orderkey % 4 = 3 OR o_orderkey % 10 <> 0
        |             OR o_orderkey % 20 = 0) THEN 'update'
        |       ELSE 'insert' END AS change_type
        |FROM orders
        |WHERE o_orderkey % 9 = 0""".stripMargin,

    // the constrained closed form: mod-3 'ok' base ∪ mod-2 'late'
    // (+5000, LWW over the mod-6 overlap), minus the exempt mod-7
    // delete, plus the post-drop negative row — every refused write
    // contributed NOTHING
    "q260_sql_check_constraints" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 5000.0
        |       ELSE o_totalprice END AS o_totalprice,
        |  CASE WHEN o_orderkey % 2 = 0 THEN 'late'
        |       ELSE 'ok' END AS status
        |FROM orders
        |WHERE (o_orderkey % 3 = 0 OR o_orderkey % 2 = 0)
        |  AND o_orderkey % 7 <> 0
        |UNION ALL
        |SELECT 2000000001, -1.0, 'neg'""".stripMargin,

    // q245's live-state law verbatim — retention by the clock leaves
    // the head snapshot untouched, served from the base alone
    "q254_sql_vacuum_by_timestamp" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |       WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |            AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 = 3
        |   OR o_orderkey % 10 <> 0
        |   OR o_orderkey % 20 = 0""".stripMargin,

    // the as-of-2.5s (commit-1) law: the base upsert minus the mod-10
    // delete, at base prices — the clock-addressed restore rolls the
    // head back to it (and the clone served the identical frame,
    // required in-query)
    "q261_sql_restore_clone_by_timestamp" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0""".stripMargin,

    // the mapped closed form: keys from either insert; even keys carry
    // the post-rename insert's values (+10000 — LWW over the mod-6
    // overlap) under the LOGICAL name `price`; `note` is dropped
    "q251_sql_rename_drop_column" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice + 10000.0
        |       ELSE o_totalprice END AS price
        |FROM orders
        |WHERE o_orderkey % 3 = 0 OR o_orderkey % 2 = 0""".stripMargin)
}
