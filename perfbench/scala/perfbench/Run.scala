package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: raw timing samples, failures and facts.
  * Percentiles are computed by the Python side from the raw samples.
  */
final class Run(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val seconds: Double, val work: String, val cache: String) {
  val samples = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  val facts = mutable.LinkedHashMap[String, Any]()
  val failures = ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L
  var setupS: Double = Double.NaN
  private var peakOldGen = 0L
  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getType == MemoryType.HEAP && p.getName.matches(".*(Old|Tenured).*"))

  /** Collects garbage outside the clock, between operations, and samples
    * the old generation right after: the peak of these samples is the
    * workload's retained heap, taken at the same points in every run and
    * free of the young collector's timing. The collection also keeps one
    * operation's garbage from pausing the next.
    */
  def settle(): Unit = {
    System.gc()
    for (p <- oldGen; u <- Option(p.getCollectionUsage)) peakOldGen = peakOldGen max u.getUsed
  }

  def peakHeapMb: Double = {
    settle()
    peakOldGen / 1048576.0
  }

  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg
    System.err.println(s"perfbench: FAILED $msg")
  }

  /** Runs one operation under `span` (no span when empty), which is marked
    * timed or not like the operation. A timed operation adds its wall time
    * to `metric` (seconds, or milliseconds when the name ends in `_ms`).
    * `check` runs after the clock stops; an
    * operation that throws or fails its check counts as failed and adds
    * no sample, so a failure never changes a timing.
    */
  def op[A](metric: String, span: String, timed: Boolean)(body: => A)
           (check: A => Seq[String]): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    val result =
      try Right(if (span.isEmpty) body else tracer.span(span, timed)(body))
      catch { case e: Exception => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    result match {
      case Left(e) =>
        fail(s"${if (span.isEmpty) metric else span} threw $e")
        None
      case Right(a) =>
        val problems =
          try check(a) catch { case e: Exception => Seq(s"check threw $e") }
        if (problems.nonEmpty)
          fail(s"${if (span.isEmpty) metric else span}: ${problems.mkString("; ")}")
        else if (timed)
          samples.getOrElseUpdate(metric, ArrayBuffer()) +=
            (if (metric.endsWith("_ms")) secs * 1000 else secs)
        Some(a)
    }
  }

  /** A check that belongs to no single operation, such as the final state. */
  def verify(what: String)(problems: => Seq[String]): Unit = {
    attempted += 1
    val found = try problems catch { case e: Exception => Seq(s"threw $e") }
    if (found.nonEmpty) fail(s"$what: ${found.mkString("; ")}")
  }

  /** Set-up ends here: wall time since the JVM started. */
  def endSetup(): Unit =
    setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  /** How many timed operations fill `seconds` at `nominalS` each (their
    * cost on the 4-core reference host), and at least `least`. A fixed count
    * rather than a deadline: every run then takes its samples at the same
    * points of JIT warm-up and of the seeded input sequence.
    */
  def opsFor(nominalS: Double, least: Int): Int =
    math.max(least, math.round(seconds / nominalS).toInt)

  /** Runs the timed phase and records how long it took. */
  def measure(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    facts("measured_s") = (System.nanoTime() - t0) / 1e9
  }
}
