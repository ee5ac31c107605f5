package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.ingest.RawZoneGen
import graft.sources.Sinks

/** One benchmark run in one JVM:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *  --work DIR --cache DIR --out FILE`.
  * Writes the run's raw samples, checks, spans and host facts as JSON to
  * FILE; `perfbench/run.py` turns them into the result line.
  * `perfbench.Main --prepare 1 --work DIR --cache DIR` makes the cached
  * fixtures instead.
  */
object Main {
  def session(trace: Boolean, work: String): SparkSession = {
    var b = graft.Tuning.localIo(SparkSession.builder())
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (trace)
      b = b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    b.getOrCreate()
  }

  private def memTotalMb: Long =
    scala.util.Try(scala.io.Source.fromFile("/proc/meminfo").getLines()
      .collectFirst { case l if l.startsWith("MemTotal:") =>
        l.split("\\s+")(1).toLong / 1024 }.getOrElse(0L)).getOrElse(0L)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opt.contains("prepare")) {
      val spark = session(trace = false, opt("work"))
      spark.sparkContext.setLogLevel("WARN")
      Workloads.prepare(spark, opt("cache"))
      spark.stop()
      return
    }
    val workload = opt("workload")
    val trace = opt("trace") == "1"
    val tracer = new Tracer(trace)
    val spark = tracer.span("session.start")(session(trace, opt("work")))
    spark.sparkContext.setLogLevel("WARN")
    graft.Quiet.shutdownNoise()
    tracer.attach(spark)
    val run = new Run(spark, tracer, opt("seed").toLong, opt("seconds").toDouble,
      opt("work"), opt("cache"))
    def guarded(what: String)(body: => Unit): Unit =
      try body catch { case e: Exception => run.attempted += 1; run.fail(s"$what: $e") }
    guarded("workload aborted")(Workloads.byName(workload)(run))
    val peakHeapMb = run.peakHeapMb
    if (trace) guarded("ingest.raw_zone") { // after the measured operations
      tracer.span("ingest.raw_zone")(Sinks.writeRawZone(
        RawZoneGen.payloads(spark, Workloads.BuildSymbols), s"${opt("work")}/raw_traced"))
    }
    val out = Map(
      "workload" -> workload,
      "setup_s" -> run.setupS,
      "samples" -> run.samples.map { case (k, v) => k -> v.toSeq },
      "facts" -> run.facts,
      "peak_heap_mb" -> peakHeapMb,
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "failures" -> run.failures.toSeq,
      "host" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "mem_total_mb" -> memTotalMb,
        "jdk" -> s"${System.getProperty("java.vendor")} ${System.getProperty("java.version")}",
        "spark" -> spark.version),
      "spans" -> tracer.spans.map(_.toJson))
    Files.write(Paths.get(opt("out")), Json.write(out).getBytes(UTF_8))
    graft.Quiet.stopNoise()
    spark.stop()
  }
}
