package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.sources.Sinks
import graft.streaming.EventStream

/** Scale-evidence harness for the STREAMING stack (dev aid, not driver
  * contract) — the q37 tumbling-count shape and the q109
  * transformWithState timer-sessionization shape (RocksDB state store)
  * at 10⁷ events, completing the measured-curve trio (Scale.scala:
  * batch/layout; ScaleDedup.scala: dedup/ANN). The sf0.1 gate runs
  * these pipelines at ~10⁴ events where the ~3 s micro-batch
  * coordination floor dominates; this harness runs the SAME library
  * calls (EventStream.runTumblingStream / runSessionStream) on a
  * multi-file landing dir with `maxFilesPerTrigger = 1`, so the
  * watermark advances batch by batch and the two 100-TB claims become
  * measurable:
  *
  *  1. THROUGHPUT — rows/s across micro-batches once the per-batch
  *     floor is amortized (the number that scales with executors), and
  *  2. BOUNDED STATE — per-batch state-store rows from
  *     StreamingQueryProgress must PLATEAU under watermark eviction
  *     (dedup state ≈ one event-time-hour of ids; session state ≈ open
  *     sessions = live users) while total input grows without bound —
  *     the property that decides whether the operator survives an
  *     unbounded source, which no end-state correctness check can see.
  *
  * Event laws are pure column arithmetic (RawZoneGen discipline — no
  * RNG), so every output is law-checkable:
  *  - tumbling: one event per 3600 µs of event time (exactly 10⁶
  *    events/event-hour), unique event_id ⇒ dedup drops nothing,
  *    Σ n == N and each FULL hour's window sums to exactly 10⁶;
  *  - sessions: U users × R rounds, one event per (user, round), 5 min
  *    of event time between rounds and a 1 h jump after every K-th
  *    round ⇒ with a 30 min gap every user closes exactly R/K sessions
  *    of exactly K events (5 < 30 < 65 — strict-> break law, q50).
  *
  * Usage: runMain graft.ScaleStream [nTumbling] [nSessionUsers]
  * (defaults 10,000,000 and 50,000 × 200 rounds = 10,000,000).
  */
object ScaleStream {

  private val StepUs = 3600L // tumbling: event-time µs per event
  private val Rounds = 200
  private val RoundsPerBlock = 10 // K: rounds per session block
  private val RoundStepUs = 5L * 60L * 1000000L // 5 min between rounds
  private val BlockSkipUs = 60L * 60L * 1000000L // +1 h after each block
  private val T0Us = 1735689600L * 1000000L // 2025-01-01T00:00Z

  /** Tumbling-law events: strictly increasing ts, unique ids, 5 types.
    * `stepUs` sets event-time density (3600 µs → 10⁶ events/hour; the
    * chained-daily scenario uses 86400 µs → 10⁶ events/day).
    */
  def tumblingEvents(s: SparkSession, n: Long,
                     stepUs: Long = StepUs): DataFrame =
    s.range(n).select(
      col("id").as("event_id"),
      ((col("id") * stepUs + T0Us) * 1000L).as("ts"), // ns on disk
      pmod(hash(col("id"), lit(1)), lit(100000)).as("user_id"),
      element_at(array(Seq("view", "click", "purchase", "refund", "scroll")
        .map(lit): _*), pmod(hash(col("id"), lit(2)), lit(5)).cast("int") + 1)
        .as("event_type"),
      (pmod(col("id") * 7, lit(1000)).cast("double") / 4.0).as("value"),
      lit(null).cast("string").as("props"))

  /** Session-law events: id = round · U + user; ts jumps 1 h after
    * every K-th round so sessions close deterministically.
    */
  def sessionEvents(s: SparkSession, users: Long): DataFrame = {
    val r = expr(s"id div ${users}L") // round index (integral div)
    val u = col("id") % users
    val tsUs = lit(T0Us) + r * RoundStepUs +
      expr(s"(id div ${users}L) div $RoundsPerBlock") * BlockSkipUs +
      u // +u µs: unique timestamps
    s.range(users * Rounds).select(
      col("id").as("event_id"),
      (tsUs * 1000L).as("ts"),
      u.as("user_id"),
      lit("view").as("event_type"),
      lit(0.0).as("value"),
      lit(null).cast("string").as("props"))
  }

  /** Stage `df` (ordered by id = event time) into `chunks` landing
    * files with strictly increasing mtimes — the file source orders
    * batches by mtime, and same-granule commits can swap (the
    * stageOutOfOrder lesson). Optionally append a far-future flush
    * sentinel as the final file (sessions need it; see
    * stageWithSentinel).
    */
  def stageChunked(s: SparkSession, df: DataFrame, path: String,
                   chunks: Int, total: Long, sentinel: Boolean,
                   sentinelHours: Long = 3L): String = {
    Sinks.deleteRecursively(path)
    def files() = Option(new java.io.File(path).listFiles()).fold(
      Set.empty[java.io.File])(_.filter(_.getName.endsWith(".parquet")).toSet)
    val per = (total + chunks - 1) / chunks
    var mtime = System.currentTimeMillis() - (chunks + 2) * 2000L
    (0 until chunks).foreach { c =>
      val before = files()
      df.filter(col("event_id") >= c * per && col("event_id") < (c + 1) * per)
        .coalesce(1).write.mode("append").parquet(path)
      (files() -- before).foreach(_.setLastModified(mtime))
      mtime += 2000L
    }
    if (sentinel) {
      val before = files()
      val maxNs = df.agg(max(col("ts"))).head().getLong(0)
      s.range(1).select(lit(-1L).as("event_id"),
          lit(maxNs + sentinelHours * 3600L * 1000000000L).as("ts"),
          lit(-1L).as("user_id"), lit("flush").as("event_type"),
          lit(0.0).as("value"), lit(null).cast("string").as("props"))
        .coalesce(1).write.mode("append").parquet(path)
      (files() -- before).foreach(_.setLastModified(mtime))
    }
    path
  }

  /** Per-batch (batchId, inputRows, state rows per operator) captured
    * via a listener — progress objects are the engine's own telemetry,
    * the same numbers a production monitor alerts on.
    */
  private final class ProgressCapture extends StreamingQueryListener {
    val batches = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Seq[Long])]
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      batches.synchronized {
        batches += ((e.progress.batchId, e.progress.numInputRows,
          e.progress.stateOperators.toSeq.map(_.numRowsTotal)))
      }
  }

  private def withCapture(s: SparkSession)(run: => DataFrame)
      : (DataFrame, Seq[(Long, Long, Seq[Long])], Double) = {
    val cap = new ProgressCapture
    s.streams.addListener(cap)
    val t0 = System.nanoTime()
    try {
      val out = run
      val secs = (System.nanoTime() - t0) / 1e9
      // terminal listener events are delivered asynchronously; the
      // per-batch progress rows all precede query termination
      (out, cap.batches.synchronized(cap.batches.toSeq).sortBy(_._1), secs)
    } finally s.streams.removeListener(cap)
  }

  def main(args: Array[String]): Unit = {
    val nTumbling = args.headOption.map(_.toLong).getOrElse(10000000L)
    val nUsers = args.drop(1).headOption.map(_.toLong).getOrElse(50000L)
    val spark = Session.local(Session.cpus(32))

    // ---- tumbling counts (q37 shape): dedup + windowed agg ----
    val tumbleDir = Sinks.tmpPath(s"scale_stream_tumble_$nTumbling")
    val ev = tumblingEvents(spark, nTumbling)
    stageChunked(spark, ev, tumbleDir, chunks = 20, total = nTumbling,
      sentinel = false)
    val (counts, tumbleBatches, tumbleSecs) = withCapture(spark) {
      EventStream.runTumblingStream(spark, tumbleDir,
          s"scale_tumble_$nTumbling", maxFilesPerTrigger = Some(1))
        .localCheckpoint()
    }
    tumbleBatches.foreach { case (b, rows, st) =>
      println(s"[scale-stream] tumble batch=$b rows=$rows " +
        s"stateRows=${st.mkString("/")}")
    }
    val sumN = counts.agg(sum("n")).head().getLong(0)
    val fullHours = counts.groupBy("win_start").agg(sum("n").as("h"))
      .filter(col("h") === 1000000L).count()
    val expectFull = nTumbling / 1000000L
    println(f"[scale-stream] tumble n=$nTumbling total=$tumbleSecs%.1f s " +
      f"(${nTumbling / tumbleSecs}%.0f rows/s) sumN=$sumN " +
      s"fullHours=$fullHours expect=$expectFull " +
      s"lawOk=${sumN == nTumbling && fullHours == expectFull}")
    // dropDuplicatesWithinWatermark keeps an id until the watermark
    // passes ts + delay — steady-state retention is TWO watermark
    // horizons of event time (2 h here = 2M ids), constant in total
    // input. That 2x-horizon constant, not "one horizon", is the real
    // bound a capacity plan must use.
    val dedupPeak = tumbleBatches.flatMap(_._3).max
    println(s"[scale-stream] tumble max-operator state peak=$dedupPeak " +
      "(dedup bound: 2 watermark-horizons of ids = 2000000 + in-flight)")

    // ---- timer sessions (q109 shape): transformWithState, RocksDB ----
    val nSess = nUsers * Rounds
    val sessDir = Sinks.tmpPath(s"scale_stream_sess_$nUsers")
    stageChunked(spark, sessionEvents(spark, nUsers), sessDir,
      chunks = 20, total = nSess, sentinel = true)
    val (sessions, sessBatches, sessSecs) = withCapture(spark) {
      EventStream.runSessionStream(spark, sessDir,
          s"scale_sess_$nUsers", gapMinutes = 30,
          maxFilesPerTrigger = Some(1))
        .localCheckpoint()
    }
    sessBatches.foreach { case (b, rows, st) =>
      println(s"[scale-stream] sess batch=$b rows=$rows " +
        s"stateRows=${st.mkString("/")}")
    }
    val nSessions = sessions.count()
    val badSizes = sessions.filter(col("n_events") =!=
      RoundsPerBlock.toLong).count()
    val expectSessions = nUsers * (Rounds / RoundsPerBlock)
    println(f"[scale-stream] sess n=$nSess total=$sessSecs%.1f s " +
      f"(${nSess / sessSecs}%.0f rows/s) sessions=$nSessions " +
      s"expect=$expectSessions badSizes=$badSizes " +
      s"lawOk=${nSessions == expectSessions && badSizes == 0}")
    val sessPeak = sessBatches.flatMap(_._3).max
    println(s"[scale-stream] sess state peak=$sessPeak " +
      s"(bound: open sessions = live users = $nUsers)")

    // ---- chained hourly→daily (q138 shape): stacked stateful aggs ----
    // 86400 µs step → 10⁶ events/day; 10M events span 10 full days, so
    // the day stage genuinely closes windows across micro-batches. The
    // sentinel sits 50 h out (past the last day close + 1 h delay).
    val chainDir = Sinks.tmpPath(s"scale_stream_chain_$nTumbling")
    stageChunked(spark, tumblingEvents(spark, nTumbling, stepUs = 86400L),
      chainDir, chunks = 20, total = nTumbling, sentinel = true,
      sentinelHours = 50L)
    val (daily, chainBatches, chainSecs) = withCapture(spark) {
      EventStream.runDailyChainStream(spark, chainDir,
          s"scale_chain_$nTumbling", maxFilesPerTrigger = Some(1))
        .localCheckpoint()
    }
    chainBatches.foreach { case (b, rows, st) =>
      println(s"[scale-stream] chain batch=$b rows=$rows " +
        s"stateRows=${st.mkString("/")}")
    }
    val sumDaily = daily.agg(sum("n")).head().getLong(0)
    val fullDays = daily.groupBy("day_start").agg(sum("n").as("d"))
      .filter(col("d") === 1000000L).count()
    val expectDays = nTumbling / 1000000L
    println(f"[scale-stream] chain n=$nTumbling total=$chainSecs%.1f s " +
      f"(${nTumbling / chainSecs}%.0f rows/s) sumN=$sumDaily " +
      s"fullDays=$fullDays expect=$expectDays " +
      s"lawOk=${sumDaily == nTumbling && fullDays == expectDays}")
    // state per stage: dedup ids (watermark-bounded), open hours
    // (≤ horizon hours × types), open days (≤ 2 days × types) — the
    // day stage's state is PARTIALS, three orders smaller than inputs
    val chainPeaks = chainBatches.map(_._3).filter(_.nonEmpty)
      .reduceOption((a, b) => a.zipAll(b, 0L, 0L).map(t => t._1 max t._2))
      .getOrElse(Seq.empty)
    println(s"[scale-stream] chain per-operator state peaks=" +
      s"${chainPeaks.mkString("/")}")
    spark.stop()
  }
}
