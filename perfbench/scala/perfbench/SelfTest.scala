package perfbench

import java.util.concurrent.CountDownLatch

import org.apache.spark.sql.functions._

import graft.sources.Sinks
import graft.transform.Financials

/** Tests of the benchmark's Scala side: listener attribution by span id
  * and the read-after-write check. Run with `python3 perfbench/run.py
  * --selftest`; prints one `selftest ok|FAIL <name>` line per test and
  * exits non-zero on any failure.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val spark = Main.session(trace = true, work)
    spark.sparkContext.setLogLevel("WARN")
    var failures = 0
    def check(name: String)(ok: => Boolean): Unit = {
      val passed = try ok catch { case e: Exception => println(s"selftest $name: $e"); false }
      println(s"selftest ${if (passed) "ok  " else "FAIL"} $name")
      if (!passed) failures += 1
    }

    val tracer = new Tracer(true)
    tracer.attach(spark)
    val sc = spark.sparkContext
    // created before any span opens, so its jobs carry no span id
    val go, done = new CountDownLatch(1)
    val untagged = new Thread(() => {
      go.await(); sc.parallelize(1 to 10, 2).count(); done.countDown()
    })
    untagged.start()
    tracer.span("a")(sc.parallelize(1 to 100, 3).count())
    tracer.span("b") {
      sc.parallelize(1 to 100, 5).count()
      go.countDown()
      done.await()
    }
    untagged.join()
    val byName = tracer.spans.map(s => s.name -> s).toMap
    check("a job is attributed to the span whose id it carries") {
      byName("a").count("jobs") == 1 && byName("a").count("tasks") == 3
    }
    check("a job without a span id falls back to the span open when it started") {
      byName("b").count("jobs") == 2 && byName("b").count("tasks") == 7
    }

    import spark.implicits._
    val facts = (for (i <- 0 until 12; m <- 0 until 15) yield (Inputs.sym(i), "Synth", "BS",
      f"BS_M$m%02d", "USD", "USD", 2024, "FY", (i * 100 + m) + 0.25,
      java.sql.Date.valueOf(f"2024-${1 + m % 9}%02d-01"))).toDF(Inputs.FactCols: _*)
    val table = s"$work/selftest_table"
    Sinks.writeFactPartitioned(facts, table, 4)
    val base = spark.read.parquet(table).drop("bucket").localCheckpoint()
    val expected = Inputs.byStock(Inputs.topFacts(base, 10))
    val s = Inputs.sym(3)
    def lookup() = Financials.latestFactsAt(spark, table, s).collect().toSeq

    Sinks.upsertFactDelta(spark, table, Inputs.delta(base, Seq(s), 1), 4)
    check("read-after-write passes after a correct delta") {
      Checks.lookupProblems(s, lookup(), expected(s), 1).isEmpty
    }
    check("the table digest equals the one derived from the base") {
      Inputs.digest(spark.read.parquet(table)) ==
        Inputs.expectedDigest(spark, base, Map(s -> 1))
    }
    // increment 2 whose values were bumped by 3 instead of 2
    Sinks.upsertFactDelta(spark, table,
      base.filter(col("stock") === s).withColumn("value", col("value") + 3), 4)
    check("read-after-write fails after a corrupted delta") {
      Checks.lookupProblems(s, lookup(), expected(s), 2).nonEmpty
    }

    spark.stop()
    sys.exit(if (failures == 0) 0 else 1)
  }
}
