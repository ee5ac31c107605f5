import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row

import graft.transform.Financials
import perfbench.{Main, Workloads}

/** Interleaved A/B of the reference's verify lookup in one JVM, on the
  * benchmark's 220-symbol, 32-bucket table fixture:
  *
  *  - `infer`: `latestFacts(spark.read.parquet(table), s)`, the read
  *    `latestFactsAt` made before `Sinks.readLayout` (schema inference
  *    as a Spark job, then the pruned scan);
  *  - `footer`: `latestFactsAt(spark, table, s)` (schema from one
  *    part-file footer, then the same scan).
  *
  * Each round looks up 40 symbols, one of each kind per symbol in turn,
  * checks that both return the same rows, and prints the median wall
  * time and the jobs per lookup of each kind. Compiled against the
  * benchmark's `app.jar`; see README.md.
  *
  *   LookupAB CACHE WORK
  */
object LookupAB {
  def main(args: Array[String]): Unit = {
    val Array(cache, work) = args
    val spark = Main.session(trace = false, work)
    spark.sparkContext.setLogLevel("WARN")
    val table = Workloads.tableFixture(spark, cache)
    val jobs = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    })
    def infer(s: String): Seq[Row] = Financials.latestFacts(
      spark.read.parquet(table), s, 10, Workloads.Buckets).collect().toSeq
    def footer(s: String): Seq[Row] =
      Financials.latestFactsAt(spark, table, s).collect().toSeq
    /** (wall ms, jobs, rows) of one lookup. */
    def run(f: String => Seq[Row], s: String): (Double, Int, Seq[Row]) = {
      PerfbenchBus.drain(spark.sparkContext)
      val j0 = jobs.get
      val t0 = System.nanoTime()
      val rows = f(s)
      val ms = (System.nanoTime() - t0) / 1e6
      PerfbenchBus.drain(spark.sparkContext)
      (ms, jobs.get - j0, rows)
    }
    val syms = (0 until 40).map(i => f"S${i * 5}%05d")
    def median(v: Seq[Double]) = v.sorted.apply(v.size / 2)
    for (round <- 1 to 3) {
      val pairs = syms.map { s =>
        val a = run(infer, s)
        val b = run(footer, s)
        require(a._3 == b._3 && a._3.size == 10, s"$s: lookups differ")
        (a, b)
      }
      val (a, b) = pairs.unzip
      println(f"round $round: infer ${median(a.map(_._1))}%.1f ms " +
        f"(${a.map(_._2).distinct.mkString("/")} jobs), footer " +
        f"${median(b.map(_._1))}%.1f ms (${b.map(_._2).distinct.mkString("/")} jobs), " +
        s"${syms.size} symbols, rows equal")
    }
    spark.stop()
  }
}
