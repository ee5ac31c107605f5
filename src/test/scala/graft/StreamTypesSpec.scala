package graft

import java.sql.Date

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.sources.{Changelog, Sinks}
import graft.streaming.{CdcSource, LogSink}

/** Round-15 type widening of the streaming table format: DATE, DECIMAL,
  * BINARY, and ARRAY<FLOAT> through BOTH halves — LogSink's staged
  * parquet writer (read back by Spark's own reader) and CdcSource's
  * spool decoder (reading Spark-written parquet) — byte-/value-exact,
  * including nulls, empty arrays, and null array elements. This is what
  * lets the documents (binary media) and embeddings shapes ride the
  * streaming surface (q216/q217's laws, pinned here at the byte level
  * where an oracle cannot look).
  */
class StreamTypesSpec extends SparkSpec {

  private val op = Changelog.OpCol

  private val schema = StructType(Seq(
    StructField("k", LongType),
    StructField("added", DateType),
    StructField("score", DecimalType(12, 2)),
    StructField("payload", BinaryType),
    StructField("emb", ArrayType(FloatType)),
    StructField(op, StringType)))

  private def dec(s: String): java.math.BigDecimal =
    new java.math.BigDecimal(s).setScale(2)

  private def row(k: Long, d: String, sc: String, p: Array[Byte],
                  e: Seq[java.lang.Float], o: String): Row =
    Row(k, if (d == null) null else Date.valueOf(d),
      if (sc == null) null else dec(sc), p,
      if (e == null) null else e, o)

  private def df(rows: Seq[Row]) =
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)

  private val b0 = df(Seq(
    row(1L, "2024-01-01", "10.25", Array[Byte](1, 2, -128),
      Seq(1.5f, -2.25f, 0.0f), "u"),
    row(2L, "2024-02-15", "20.50", "ascii".getBytes("UTF-8"),
      Seq(3.75f), "u"),
    // the null battery: every widened column null, plus empty array
    row(3L, null, null, null, null, "u"),
    row(4L, "2024-03-01", "0.01", Array.empty[Byte],
      Seq.empty[java.lang.Float], "u")))

  private val b1 = df(Seq(
    row(1L, null, null, null, null, "d"),
    // null ELEMENT inside the array + a byte-identical payload update
    row(2L, "2024-02-16", "21.75", Array[Byte](0, 127, -1),
      Seq(9.5f, null, 1.25f), "u")))

  private def stage(landing: String,
                    dfs: Seq[org.apache.spark.sql.DataFrame]): Unit = {
    def files() = Option(new java.io.File(landing).listFiles()).fold(
      Set.empty[java.io.File])(_.filter(_.getName.endsWith(".parquet")).toSet)
    var mtime = System.currentTimeMillis() - (dfs.length + 2) * 2000L
    dfs.foreach { d =>
      val before = files()
      d.coalesce(1).write.mode("append").parquet(landing)
      (files() -- before).foreach(f =>
        require(f.setLastModified(mtime), s"setLastModified failed on $f"))
      mtime += 2000L
    }
  }

  /** Canonical comparable form: bytes → vector, floats kept exact. */
  private def canon(r: Row): (Long, Any, Any, Any, Any) =
    (r.getLong(0), r.get(1),
      r.get(2),
      Option(r.get(3)).map(_.asInstanceOf[Array[Byte]].toVector).orNull,
      Option(r.get(4)).map(_.asInstanceOf[scala.collection.Seq[Any]]
        .toVector).orNull)

  test("LogSink stages date/decimal/binary/array<float> byte-exactly " +
       "(nulls, empty array, null element included)") {
    val landing = Sinks.tmpPath("types_sink_landing")
    val log = Sinks.tmpPath("types_sink_log")
    val ckpt = Sinks.tmpPath("types_sink_ckpt")
    Seq(landing, log, ckpt).foreach(Sinks.deleteRecursively)
    stage(landing, Seq(b0, b1))
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(landing)
      .writeStream.format(classOf[LogSink].getName)
      .option("path", log)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = Changelog.snapshotAt(spark, log, Seq("k"), Long.MaxValue)
      .orderBy("k").collect().toSeq.map(canon)
    // the control: the same frames batch-committed (Spark's own writer)
    val ctl = Sinks.tmpPath("types_sink_ctl")
    Sinks.deleteRecursively(ctl)
    Seq(b0, b1).zipWithIndex.foreach { case (d, i) =>
      Changelog.commit(d, ctl, i.toLong) }
    val want = Changelog.snapshotAt(spark, ctl, Seq("k"), Long.MaxValue)
      .orderBy("k").collect().toSeq.map(canon)
    assert(got == want)
    // value pins (independent of the control path): the update's bytes,
    // the tombstone's absence, the empty shapes surviving
    val byK = got.map(r => r._1 -> r).toMap
    assert(!byK.contains(1L), "tombstoned key must be gone")
    assert(byK(2L)._4 == Vector[Byte](0, 127, -1))
    assert(byK(2L)._5 == Vector(9.5f, null, 1.25f))
    assert(byK(2L)._2 == Date.valueOf("2024-02-16"))
    assert(byK(2L)._3 == dec("21.75"))
    assert(byK(3L) == ((3L, null, null, null, null)))
    assert(byK(4L)._4 == Vector.empty[Byte])
    assert(byK(4L)._5 == Vector.empty)
  }

  // ---- round-16 widening: STRUCT and DECIMAL(p > 18) -----------------

  private val wideSchema = StructType(Seq(
    StructField("k", LongType),
    StructField("meta", StructType(Seq(
      StructField("lang", StringType), StructField("n", LongType)))),
    StructField("big", DecimalType(38, 10)),
    StructField(op, StringType)))

  private def dec38(s: String): java.math.BigDecimal =
    new java.math.BigDecimal(s).setScale(10)

  private def wideDf(rows: Seq[Row]) =
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), wideSchema)

  // boundary battery: unscaled > Long.Max (forces the fixed-binary
  // layout), negative with sign extension, ±10^27 magnitudes, a null
  // struct, a struct with a null FIELD, and a null decimal
  private val w0 = wideDf(Seq(
    Row(1L, Row("en", 10L), dec38("123456789012345678901234567.8901234567"), "u"),
    Row(2L, Row("de", 20L), dec38("-123456789012345678901234567.8901234567"), "u"),
    Row(3L, null, dec38("-0.0000000001"), "u"),
    Row(4L, Row(null, 40L), null, "u"),
    Row(5L, Row("fr", null), dec38("9999999999999999999999999999.9999999999"), "u")))

  private val w1 = wideDf(Seq(
    Row(1L, null, null, "d"),
    Row(2L, Row("dk", 21L), dec38("0.0000000001"), "u")))

  test("STRUCT and DECIMAL(38,10) ride the streaming sink byte-exactly " +
       "(null struct, null field, sign-extended fixed decimals)") {
    val landing = Sinks.tmpPath("types_wide_landing")
    val log = Sinks.tmpPath("types_wide_log")
    val ckpt = Sinks.tmpPath("types_wide_ckpt")
    Seq(landing, log, ckpt).foreach(Sinks.deleteRecursively)
    stage(landing, Seq(w0, w1))
    val q = spark.readStream.schema(wideSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(landing)
      .writeStream.format(classOf[LogSink].getName)
      .option("path", log)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = Changelog.snapshotAt(spark, log, Seq("k"), Long.MaxValue)
      .orderBy("k").collect().toSeq
    // the control: the same frames batch-committed (Spark's writer)
    val ctl = Sinks.tmpPath("types_wide_ctl")
    Sinks.deleteRecursively(ctl)
    Seq(w0, w1).zipWithIndex.foreach { case (d, i) =>
      Changelog.commit(d, ctl, i.toLong) }
    val want = Changelog.snapshotAt(spark, ctl, Seq("k"), Long.MaxValue)
      .orderBy("k").collect().toSeq
    assert(got == want)
    val byK = got.map(r => r.getLong(0) -> r).toMap
    assert(!byK.contains(1L), "tombstoned key must be gone")
    assert(byK(2L).getStruct(1) == Row("dk", 21L))
    assert(byK(2L).getDecimal(2) == dec38("0.0000000001"))
    assert(byK(3L).getStruct(1) == null)
    assert(byK(3L).getDecimal(2) == dec38("-0.0000000001"))
    assert(byK(4L).getStruct(1) == Row(null, 40L))
    assert(byK(4L).getDecimal(2) == null)
    assert(byK(5L).getDecimal(2) ==
      dec38("9999999999999999999999999999.9999999999"))
  }

  test("STRUCT and DECIMAL(38,10) ride the CDC feed: the spool decoder " +
       "reproduces the batch feed value-for-value") {
    val log = Sinks.tmpPath("types_wide_cdc_log")
    val out = Sinks.tmpPath("types_wide_cdc_out")
    val ckpt = Sinks.tmpPath("types_wide_cdc_ckpt")
    Seq(log, out, ckpt).foreach(Sinks.deleteRecursively)
    Changelog.commit(w0, log, 0L)
    Changelog.commit(w1, log, 1L)
    val q = spark.readStream.format(classOf[CdcSource].getName)
      .option("path", log)
      .option("keys", "k")
      .option("trackCols", "meta,big")
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
          batch.write.mode("append").parquet(out)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val cols = Seq(col("k"), col("new_meta"), col("old_meta"),
      col("new_big"), col("old_big"), col("change_type"))
    val streamed = spark.read.parquet(out).select(cols: _*)
      .orderBy("k", "change_type").collect().toSeq
    val batchFeed =
      Changelog.changesBetween(spark, log, Seq("k"), -1L, 0L,
          Seq("meta", "big"))
        .unionByName(Changelog.changesBetween(spark, log, Seq("k"),
          0L, 1L, Seq("meta", "big")))
        .select(cols: _*).orderBy("k", "change_type").collect().toSeq
    assert(streamed.nonEmpty && streamed == batchFeed)
    // NESTED timestamps ride the feed too (the round-16 recursive
    // spool representation): struct fields, array elements, and map
    // values all rewrite to epoch-micros before the spool and decode
    // back exactly — null structs/elements/values preserved
    val tsLog = Sinks.tmpPath("types_wide_cdc_tslog")
    val tsOut = Sinks.tmpPath("types_wide_cdc_tsout")
    val tsCkpt = Sinks.tmpPath("types_wide_cdc_tsckpt")
    Seq(tsLog, tsOut, tsCkpt).foreach(Sinks.deleteRecursively)
    def tsRow(k: Long, base: String) = spark.sql(
      s"SELECT ${k}L AS k, named_struct('at', " +
        s"CAST('$base' AS TIMESTAMP), 'tag', 'x$k') AS meta, " +
        s"array(CAST('$base' AS TIMESTAMP), NULL) AS times, " +
        s"map('t0', CAST('$base' AS TIMESTAMP), 't1', " +
        s"CAST(NULL AS TIMESTAMP)) AS byname, 'u' AS `$op`")
    Changelog.commit(
      tsRow(1L, "2024-03-01 10:11:12.123456")
        .unionByName(spark.sql("SELECT 2L AS k, " +
          "CAST(NULL AS STRUCT<at: TIMESTAMP, tag: STRING>) AS meta, " +
          "CAST(NULL AS ARRAY<TIMESTAMP>) AS times, " +
          "CAST(NULL AS MAP<STRING, TIMESTAMP>) AS byname, " +
          s"'u' AS `$op`")),
      tsLog, 0L)
    Changelog.commit(tsRow(1L, "2025-06-07 01:02:03.000009"), tsLog, 1L)
    val tq = spark.readStream.format(classOf[CdcSource].getName)
      .option("path", tsLog).option("keys", "k")
      .option("trackCols", "meta,times,byname").load()
      .writeStream.option("checkpointLocation", tsCkpt)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
          batch.write.mode("append").parquet(tsOut)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    tq.awaitTermination()
    val tsCols = Seq(col("k"), col("new_meta"), col("old_meta"),
      col("new_times"), col("old_times"), col("new_byname"),
      col("old_byname"), col("change_type"))
    def canonTs(d: org.apache.spark.sql.DataFrame) =
      d.select(tsCols: _*).orderBy("k", "change_type")
        .collect().toSeq.map(_.toSeq.map {
          case s: scala.collection.Seq[_] => s.toVector
          case m: scala.collection.Map[_, _] => m.toMap
          case other => other
        })
    val tsStreamed = canonTs(spark.read.parquet(tsOut))
    val tsBatch = canonTs(
      Changelog.changesBetween(spark, tsLog, Seq("k"), -1L, 0L,
          Seq("meta", "times", "byname"))
        .unionByName(Changelog.changesBetween(spark, tsLog, Seq("k"),
          0L, 1L, Seq("meta", "times", "byname"))))
    assert(tsStreamed.nonEmpty && tsStreamed == tsBatch)
  }

  // ---- round-16 widening #2: generic ARRAY, MAP, and FLOAT ----------

  private val genSchema = StructType(Seq(
    StructField("k", LongType),
    StructField("toks", ArrayType(StringType)),
    StructField("ids", ArrayType(LongType)),
    StructField("feats", MapType(StringType, DoubleType)),
    StructField("ratio", FloatType),
    StructField("spans", ArrayType(StructType(Seq(
      StructField("s", LongType), StructField("e", LongType))))),
    StructField("flag", ByteType),
    StructField("ord", ShortType),
    StructField(op, StringType)))

  private def genDf(rows: Seq[Row]) =
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), genSchema)

  // battery: null arrays/maps, EMPTY array/map, null elements, null
  // map VALUES, an array of structs (one null element, one null field)
  private val g0 = genDf(Seq(
    Row(1L, Seq("a", null, "c"), Seq(7L, null), Map("x" -> 1.5, "y" -> null),
      0.25f, Seq(Row(1L, 2L), null, Row(3L, null)),
      (-128).toByte, Short.MinValue, "u"),
    Row(2L, Seq.empty[String], Seq.empty[Long], Map.empty[String, Double],
      null, Seq.empty[Row], null, null, "u"),
    Row(3L, null, null, null, 1.75f, null, 127.toByte, Short.MaxValue, "u")))

  private val g1 = genDf(Seq(
    Row(3L, null, null, null, null, null, null, null, "d"),
    Row(1L, Seq("z"), Seq(-1L, 0L), Map("only" -> -2.5), -0.5f,
      Seq(Row(9L, 10L)), 7.toByte, (-9).toShort, "u")))

  test("generic ARRAY / MAP / FLOAT ride the streaming sink exactly " +
       "(nulls, empties, null elements, null map values, struct elements)") {
    val landing = Sinks.tmpPath("types_gen_landing")
    val log = Sinks.tmpPath("types_gen_log")
    val ckpt = Sinks.tmpPath("types_gen_ckpt")
    Seq(landing, log, ckpt).foreach(Sinks.deleteRecursively)
    stage(landing, Seq(g0, g1))
    val q = spark.readStream.schema(genSchema)
      .option("maxFilesPerTrigger", 1)
      .parquet(landing)
      .writeStream.format(classOf[LogSink].getName)
      .option("path", log)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // canonical comparable form: WrappedArray → Vector, Map stays Map
    def canonG(r: Row): Seq[Any] = r.toSeq.map {
      case s: scala.collection.Seq[_] => s.toVector
      case m: scala.collection.Map[_, _] => m.toMap
      case other => other
    }
    val got = Changelog.snapshotAt(spark, log, Seq("k"), Long.MaxValue)
      .orderBy("k").collect().toSeq.map(canonG)
    // the control: the same frames batch-committed (Spark's own writer)
    val ctl = Sinks.tmpPath("types_gen_ctl")
    Sinks.deleteRecursively(ctl)
    Seq(g0, g1).zipWithIndex.foreach { case (d, i) =>
      Changelog.commit(d, ctl, i.toLong) }
    val want = Changelog.snapshotAt(spark, ctl, Seq("k"), Long.MaxValue)
      .orderBy("k").collect().toSeq.map(canonG)
    assert(got == want)
    val byK = got.map(r => r.head.asInstanceOf[Long] -> r).toMap
    assert(!byK.contains(3L), "tombstoned key must be gone")
    assert(byK(1L)(1) == Vector("z"))
    assert(byK(1L)(2) == Vector(-1L, 0L))
    assert(byK(1L)(3) == Map("only" -> -2.5))
    assert(byK(1L)(4) == -0.5f)
    assert(byK(1L)(5) == Vector(Row(9L, 10L)))
    assert(byK(1L)(6) == 7.toByte && byK(1L)(7) == (-9).toShort)
    assert(byK(2L)(6) == null && byK(2L)(7) == null)
    assert(byK(2L)(1) == Vector.empty)
    assert(byK(2L)(3) == Map.empty[String, Double])
    assert(byK(2L)(4) == null)
  }

  test("generic ARRAY / MAP / FLOAT ride the CDC feed: the spool " +
       "decoder reproduces the batch feed value-for-value") {
    val log = Sinks.tmpPath("types_gen_cdc_log")
    val out = Sinks.tmpPath("types_gen_cdc_out")
    val ckpt = Sinks.tmpPath("types_gen_cdc_ckpt")
    Seq(log, out, ckpt).foreach(Sinks.deleteRecursively)
    Changelog.commit(g0, log, 0L)
    Changelog.commit(g1, log, 1L)
    val tracked = Seq("toks", "ids", "feats", "ratio", "spans", "flag",
      "ord")
    val q = spark.readStream.format(classOf[CdcSource].getName)
      .option("path", log)
      .option("keys", "k")
      .option("trackCols", tracked.mkString(","))
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
          batch.write.mode("append").parquet(out)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def canonFeed(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("k", "change_type").collect().toSeq.map { r =>
        r.toSeq.map {
          case s: scala.collection.Seq[_] => s.toVector
          case m: scala.collection.Map[_, _] => m.toMap
          case other => other
        }
      }
    val cols = col("k") +: tracked.flatMap(c =>
      Seq(col(s"new_$c"), col(s"old_$c"))) :+ col("change_type")
    val streamed = canonFeed(spark.read.parquet(out).select(cols: _*))
    val batchFeed = canonFeed(
      Changelog.changesBetween(spark, log, Seq("k"), -1L, 0L, tracked)
        .unionByName(Changelog.changesBetween(spark, log, Seq("k"),
          0L, 1L, tracked))
        .select(cols: _*))
    assert(streamed.nonEmpty && streamed == batchFeed)
    // map keys stay atomic, loudly: a struct-keyed map is refused at
    // the sink's planning bound
    val badSchema = StructType(Seq(
      StructField("k", LongType),
      StructField("bad", MapType(
        StructType(Seq(StructField("a", LongType))), LongType)),
      StructField(op, StringType)))
    assert(!LogSink.supportedType(badSchema("bad").dataType))
  }

  test("an EVOLVED stream schema lands through the sink; the " +
       "mergeSchema table read serves the union schema") {
    val landing = Sinks.tmpPath("types_evo_landing")
    val log = Sinks.tmpPath("types_evo_log")
    val ckpt = Sinks.tmpPath("types_evo_ckpt")
    Seq(landing, log, ckpt).foreach(Sinks.deleteRecursively)
    // commit 0: the narrow shape (k, v)
    val narrow = spark.range(0, 10).selectExpr("id AS k",
      "CAST(id * 1.5 AS DOUBLE) AS v", s"'u' AS `$op`")
    Changelog.commit(narrow, log, 0L)
    // the stream then lands a WIDER shape (k, v, w)
    val wide = spark.range(5, 15).selectExpr("id AS k",
      "CAST(id * 2.0 AS DOUBLE) AS v", "CAST(id AS STRING) AS w",
      s"'u' AS `$op`")
    stage(landing, Seq(wide))
    val q = spark.readStream.schema(wide.schema)
      .parquet(landing)
      .writeStream.format(classOf[LogSink].getName)
      .option("path", log)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the evolved read serves the union: old rows carry null w
    val got = Changelog.snapshotAt(spark, log, Seq("k"),
        Long.MaxValue, mergeSchema = true)
      .orderBy("k").collect().toSeq.map(r =>
        (r.getLong(r.fieldIndex("k")),
          r.getDouble(r.fieldIndex("v")),
          Option(r.get(r.fieldIndex("w"))).map(_.toString).orNull))
    val want = (0L until 5L).map(k => (k, k * 1.5, null)) ++
      (5L until 15L).map(k => (k, k * 2.0, k.toString))
    assert(got == want)
    // the table surface reaches the same union via mergeSchema=true
    val viaTable = spark.read.format(classOf[graft.sources.GraftLog]
        .getName)
      .option("path", log).option("keys", "k")
      .option("mergeSchema", "true").load()
      .orderBy("k").collect().toSeq.map(r =>
        (r.getLong(r.fieldIndex("k")),
          r.getDouble(r.fieldIndex("v")),
          Option(r.get(r.fieldIndex("w"))).map(_.toString).orNull))
    assert(viaTable == want)
  }

  test("CdcSource spools and decodes the widened types: the streamed " +
       "feed equals the batch feed value-for-value") {
    val log = Sinks.tmpPath("types_cdc_log")
    val out = Sinks.tmpPath("types_cdc_out")
    val ckpt = Sinks.tmpPath("types_cdc_ckpt")
    Seq(log, out, ckpt).foreach(Sinks.deleteRecursively)
    Changelog.commit(b0, log, 0L)
    Changelog.commit(b1, log, 1L)
    val q = spark.readStream.format(classOf[CdcSource].getName)
      .option("path", log)
      .option("keys", "k")
      .option("trackCols", "added,score,payload,emb")
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
          batch.write.mode("append").parquet(out)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def canonFeed(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("k", "change_type").collect().toSeq.map { r =>
        r.toSeq.map {
          case b: Array[Byte] => b.toVector
          case s: scala.collection.Seq[_] => s.toVector
          case other => other
        }
      }
    val streamed = canonFeed(spark.read.parquet(out)
      .select(b0.columns.filter(_ != op).flatMap(c =>
        if (c == "k") Seq(col("k")) else Seq(col(s"new_$c"), col(s"old_$c")))
        :+ col("change_type"): _*))
    // the stream serves ONE window per commit from the initial offset
    // (-1): batch 0 = (-1, 0] (the inserts), batch 1 = (0, 1]
    val batchFeed = canonFeed(
      Changelog.changesBetween(spark, log, Seq("k"), -1L, 0L,
          Seq("added", "score", "payload", "emb"))
        .unionByName(Changelog.changesBetween(spark, log, Seq("k"),
          0L, 1L, Seq("added", "score", "payload", "emb")))
      .select(b0.columns.filter(_ != op).flatMap(c =>
        if (c == "k") Seq(col("k")) else Seq(col(s"new_$c"), col(s"old_$c")))
        :+ col("change_type"): _*))
    assert(streamed.nonEmpty && streamed == batchFeed)
  }
}
