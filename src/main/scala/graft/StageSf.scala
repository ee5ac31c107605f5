package graft

import org.apache.spark.sql.functions._

import graft.queries.Tables
import graft.sources.Sinks

/** Stage a LARGER bench dataset dir from an existing testdata dir (dev
  * aid, not driver contract) — the round-12 sf1.0 bench row's input
  * builder: the flagship pipeline family (q38/q54/q128/q151) scales
  * purely off the DIR NAME (RawZoneGen parses `sf1.0` → 55,000 symbols
  * → a 79.2M-row fact build, generated distributed at run time), so
  * the only table that must physically exist at 10× is `events`
  * (q163's subject). This tool:
  *
  *  - replicates events.parquet `factor`× with event_id/user_id
  *    remapped into disjoint ranges (cardinalities scale with the
  *    data; value/event_type/ts distributions are preserved exactly,
  *    so per-type quantile work scales 10× without changing shape);
  *  - replicates orders.parquet `factor`× the same way (o_orderkey /
  *    o_custkey into disjoint ranges — the round-13 input for the
  *    delete/CDC family's sf1.0 row: q181–q186 build their ops logs
  *    over orders, so orders must PHYSICALLY exist at 10×; the key
  *    shift is a multiple of 2^20, preserving the small-modulus
  *    planted-law class shapes each copy carries);
  *  - hard-links every other table unchanged (only non-flagship
  *    queries read them; linking keeps per-JVM fixture staging from
  *    aborting — the BASELINE.md row documents which tables are
  *    genuinely at scale).
  *
  * Usage: runMain graft.StageSf <srcDir> <dstDir> [factor=10]
  * (dstDir's NAME must carry the target scale token, e.g.
  * /tmp/graft_sf1.0, because RawZoneGen.sfOf parses it).
  */
object StageSf {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: StageSf <srcDir> <dstDir> [factor]")
    val (src, dst) = (args(0), args(1))
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = Session.local(Session.cpus(32))

    Sinks.deleteRecursively(dst)
    new java.io.File(dst).mkdirs()
    val scaled = Set("events.parquet", "orders.parquet",
      "documents.parquet", "embeddings.parquet")
    Option(new java.io.File(src).listFiles()).toSeq.flatten
      .filter(f => f.getName.endsWith(".parquet") && !scaled(f.getName))
      .foreach { f =>
        if (f.isDirectory) Sinks.hardlinkTree(f.getAbsolutePath, s"$dst/${f.getName}")
        else java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst, f.getName), f.toPath): Unit
      }

    val ev = Tables.events(spark, src)
    val bounds = ev.agg(max("event_id"), max("user_id")).collect().head
    val (idSpan, userSpan) = (bounds.getLong(0) + 1, bounds.getLong(1) + 1)
    val copies = (0 until factor).map { i =>
      ev.withColumn("event_id", col("event_id") + lit(i * idSpan))
        .withColumn("user_id", col("user_id") + lit(i * userSpan))
    }
    copies.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/events.parquet")
    val n = spark.read.parquet(s"$dst/events.parquet").count()

    // orders ×factor: key spans rounded up to a 2^20 multiple so each
    // copy's shifted keys keep the base copy's residues mod the small
    // planted-law divisors' power-of-two parts, and customer
    // cardinality scales WITH the rows (per-customer group sizes stay
    // realistic instead of deepening 10×)
    val ord = Tables.orders(spark, src)
    val ob = ord.agg(max("o_orderkey"), max("o_custkey")).collect().head
    def spanUp(x: Long): Long = ((x + (1L << 20)) >> 20) << 20
    val (okSpan, ocSpan) = (spanUp(ob.getLong(0)), spanUp(ob.getLong(1)))
    (0 until factor).map { i =>
      ord.withColumn("o_orderkey", col("o_orderkey") + lit(i * okSpan))
        .withColumn("o_custkey", col("o_custkey") + lit(i * ocSpan))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/orders.parquet")
    val no = spark.read.parquet(s"$dst/orders.parquet").count()

    // documents ×factor (round-14: the string-keyed ops-log family
    // q202/q203 builds over documents, so documents must physically
    // exist at scale too) — same disjoint-range doc_id shift; text
    // and metadata replicate unchanged, so per-doc size distribution
    // is preserved exactly
    val docs = Tables.documents(spark, src)
    val db = docs.agg(max("doc_id")).collect().head
    val docSpan = spanUp(db.getLong(0))
    (0 until factor).map { i =>
      docs.withColumn("doc_id", col("doc_id") + lit(i * docSpan))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    val nd = spark.read.parquet(s"$dst/documents.parquet").count()

    // embeddings ×factor (round-15: the widened-type streaming family
    // q216/q217 joins embeddings to documents ON vec_id = doc_id, so
    // the vector side must shift by the SAME span as documents or the
    // scaled copies would silently drop out of the join) — vectors
    // replicate unchanged, preserving the similarity structure per copy
    val emb = Tables.embeddings(spark, src)
    (0 until factor).map { i =>
      emb.withColumn("vec_id", col("vec_id") + lit(i * docSpan))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    val ne = spark.read.parquet(s"$dst/embeddings.parquet").count()
    println(s"[stagesf] $dst staged: events x$factor = $n rows; " +
      s"orders x$factor = $no rows; documents x$factor = $nd rows; " +
      s"embeddings x$factor = $ne rows; " +
      "other tables hard-linked from " + src)
    spark.stop()
  }
}
