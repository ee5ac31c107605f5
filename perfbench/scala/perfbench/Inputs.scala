package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.sources.Sinks

/** Seeded inputs, the reference state they imply, and state digests. */
object Inputs {
  val RowsPerSymbol = 1440
  val FactCols: Seq[String] = Seq("stock", "yf_name", "statement_type", "metric",
    "stockcurrency", "financialcurrency", "calendar_year", "period", "value", "date")

  def sym(i: Int): String = f"S$i%05d"

  /** A fixture made by `make(dir)` once per build of the program and kept
    * under `cache`: the raw zone, which does not depend on the seed, and
    * the table and log the maintenance workloads start from.
    */
  def cached(cache: String, name: String)(make: String => Unit): String = {
    val dir = s"$cache/$name"
    val done = new File(s"$dir.ok")
    if (!done.isFile) {
      val tmp = s"$dir.tmp${ProcessHandle.current().pid()}"
      make(tmp)
      Sinks.deleteRecursively(dir)
      require(new File(tmp).renameTo(new File(dir)), s"cannot move $tmp to $dir")
      done.createNewFile()
    }
    dir
  }

  /** A working copy of a cached fixture: hard links, so no data is copied
    * and the writers, which never rewrite a file in place, leave the
    * cached one intact.
    */
  def copyOf(fixture: String, dst: String): String = {
    Sinks.hardlinkTree(fixture, dst)
    dst
  }

  /** Raw zone restricted to the first `n` symbols of a larger one. */
  def rawSubset(spark: SparkSession, rawDir: String, n: Int): DataFrame =
    spark.read.parquet(rawDir).filter(col("symbol") < sym(n))

  /** Row count and an order-independent checksum over the fact columns. */
  def digest(df: DataFrame): (Long, String) = {
    val r = df.select(count(lit(1)),
      sum(xxhash64(FactCols.map(col): _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  /** The increment's delta: every fact row of `syms` with its value raised
    * by the increment number `j`. Materialized before the clock starts.
    */
  def delta(base: DataFrame, syms: Seq[String], j: Int): DataFrame =
    base.filter(col("stock").isin(syms: _*))
      .withColumn("value", col("value") + lit(j)).localCheckpoint()

  /** Digest of the state the base reaches after the given bumps, computed
    * from the base alone: the reference the maintained table is held to.
    */
  def expectedDigest(spark: SparkSession, base: DataFrame,
                     bumps: Map[String, Int]): (Long, String) = {
    val b = spark.createDataFrame(
      bumps.toSeq.map { case (s, j) => Row(s, j) }.asJava,
      StructType(Seq(StructField("stock", StringType), StructField("bump", IntegerType))))
    digest(base.join(broadcast(b), Seq("stock"), "left")
      .withColumn("value",
        when(col("bump").isNull, col("value")).otherwise(col("value") + col("bump"))))
  }

  /** The `k` rows `Financials.latestFacts` returns for each stock of the
    * base, with their rank in `_rn`.
    */
  def topFacts(base: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("stock")
      .orderBy(col("date").desc, col("statement_type"), col("metric"))
    base.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= k)
      .select((FactCols :+ "_rn").map(col): _*)
  }

  /** [[topFacts]] rows by stock, in rank order: the expected lookups. */
  def byStock(top: DataFrame): Map[String, Seq[Row]] =
    top.collect().toSeq.groupBy(_.getString(0))
      .map { case (s, rows) => s -> rows.sortBy(_.getAs[Int]("_rn")) }

  def dirBytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum else f.length()
    walk(new File(path))
  }
}

/** The symbols of each increment: `count` distinct symbols drawn uniformly
  * from the universe, the same sequence for the same seed in every workload.
  */
final class Deltas(seed: Long, universe: Int, count: Int) {
  private val rnd = new Random(seed * 1000003L + 17)
  private val made = ArrayBuffer[Seq[String]]()

  def apply(j: Int): Seq[String] = {
    while (made.size < j)
      made += rnd.shuffle((0 until universe).toVector).take(count).sorted.map(Inputs.sym)
    made(j - 1)
  }

  /** The last increment that touched each symbol, over increments 1..k. */
  def bumpsAfter(k: Int): Map[String, Int] =
    (1 to k).flatMap(j => apply(j).map(_ -> j)).toMap
}

/** Zipf(s) over the universe, ranked through a seeded permutation. */
final class Zipf(universe: Int, rnd: Random, s: Double = 1.1) {
  private val order = rnd.shuffle((0 until universe).toVector)
  private val cdf = {
    val w = (1 to universe).map(r => 1 / math.pow(r, s))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  def next(): String = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble()) match {
      case i if i >= 0 => i
      case i           => -i - 1
    }
    Inputs.sym(order(i min (universe - 1)))
  }
}

/** Output checks shared by the workloads and the self-test. */
object Checks {
  private def key(r: Row): String =
    Seq("stock", "statement_type", "metric", "date")
      .map(c => String.valueOf(r.getAs[Any](c))).mkString("|")

  private def value(r: Row): Option[Double] = {
    val i = r.fieldIndex("value")
    if (r.isNullAt(i)) None else Some(r.getDouble(i))
  }

  /** Problems of a lookup against the expected rows with `bump` added to
    * every non-null value; empty when the lookup is right.
    */
  def lookupProblems(symbol: String, got: Seq[Row], expected: Seq[Row],
                     bump: Int): Seq[String] =
    if (got.size != expected.size)
      Seq(s"$symbol: ${got.size} rows, expected ${expected.size}")
    else got.zip(expected).flatMap { case (g, e) =>
      val want = value(e).map(_ + bump)
      if (key(g) != key(e)) Some(s"$symbol: row ${key(g)} where ${key(e)} was expected")
      else if (value(g) != want) Some(s"$symbol ${key(g)}: value ${value(g)}, expected $want")
      else None
    }.take(3)
}
