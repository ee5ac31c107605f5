package graft

import org.apache.spark.sql.SparkSession

/** Session-level I/O tuning shared by every entry point: [[Session.local]]
  * (Bench, Verify, Explain, StageSf, the Scale harnesses and the test
  * base) and the perfbench session. Two measured
  * fixes from the round-19 optimization pass (guide §1/§7.3 evidence in
  * OPTIMIZATION_r19.md):
  *
  *  1. Fork-free local chmod: without libhadoop.so, Hadoop's
  *     RawLocalFileSystem shells out `/bin/chmod` on EVERY local file
  *     create and mkdir (4–10 ms per file measured) — taxing every
  *     parquet part file, every streaming checkpoint file and every
  *     state-store delta, and serializing stream-stream joins behind
  *     the global StateStore provider lock. `graft.sources.NioLocalFs*`
  *     applies the identical permission bits via java.nio in-process —
  *     what a production Hadoop deployment gets from the native
  *     library. Checksum (.crc) behavior is unchanged.
  *
  *  2. Checkpoint file checksums (Spark 4.1's
  *     ChecksumCheckpointFileManager) write an extra sidecar per
  *     checkpoint file and AWAIT that async write on every close —
  *     thread dumps showed all 32 join tasks parked in its awaitResult.
  *     Default off here (= pre-4.1 checkpoint semantics, no result
  *     change; storage-level integrity still applies); re-enable for
  *     deployments that want double-write integrity via
  *     SPARK_GRAFT_CKPT_CHECKSUM=true.
  *
  * Both fixes are environment remedies, not workload tuning: they change
  * no plan, no result, and no scale posture, and they help MORE at
  * higher core counts (the serialization they remove grows with
  * parallelism), so the driver's lower-core scaling run is conservative.
  */
object Tuning {
  def localIo(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.hadoop.fs.file.impl", "graft.sources.NioLocalFileSystem")
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      "graft.sources.NioLocalFs")
    .config("spark.sql.streaming.checkpoint.fileChecksum.enabled",
      sys.env.getOrElse("SPARK_GRAFT_CKPT_CHECKSUM", "false"))
    // RocksDB state stores (the transformWithState family) default to
    // uploading a FULL snapshot per micro-batch; changelog
    // checkpointing is the upstream-documented incremental mode —
    // measured 2x on the timer-driven session/alert streams (q110
    // exec 17.0 -> 8.6 s). Checkpoint mechanics only; results and
    // state contents are unchanged. Overridable for A/B adjudication
    // at different core counts (r19 shipped this un-benched at 32c).
    .config(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      sys.env.getOrElse("SPARK_GRAFT_ROCKSDB_CHANGELOG", "true"))

  /** Per-partition input-byte target for STATEFUL streaming queries —
    * overridable for deployments whose state-to-input ratio differs
    * (SPARK_GRAFT_STREAM_PARTITION_BYTES).
    */
  val StreamPartitionBytes: Long =
    sys.env.get("SPARK_GRAFT_STREAM_PARTITION_BYTES").map(_.toLong)
      .getOrElse(32L * 1024 * 1024)

  private def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk(_)).sum
      else f.length()
    val f = new java.io.File(path)
    if (f.exists()) walk(f) else 0L
  }

  /** Shuffle-partition count for a STATEFUL streaming query reading the
    * local landing dir at `inputPath`. A stateful operator instantiates
    * one state store PER shuffle partition PER micro-batch (stream-
    * stream joins: four), and the partition count is pinned into the
    * checkpoint at first start — so it must be sized to the STATE/INPUT
    * volume, not to the session's core count (guide §2: derive
    * partitioning from input size, never a constant tuned for one
    * deployment). A few MB of session/join state spread over 32 stores
    * is pure per-store overhead (open/load/commit/maintenance files)
    * that GROWS with core count — measured 2–2.6× on the stream-stream
    * joins and window aggregations at local[32] (OPTIMIZATION_r20.md).
    * At scale the same rule yields core-count partitions as soon as the
    * input exceeds cores × StreamPartitionBytes. Restart-safe: Spark
    * pins the count from the checkpoint's own metadata on resume.
    */
  def streamStatePartitions(s: SparkSession, inputPath: String): Int = {
    val cores = s.sparkContext.defaultParallelism.max(1)
    val parts = (dirBytes(inputPath) + StreamPartitionBytes - 1) /
      StreamPartitionBytes
    parts.max(1L).min(cores.toLong).toInt
  }

  /** Run two INDEPENDENT write jobs concurrently (guide §2.6: actions
    * are only sequential because driver code calls them sequentially —
    * the second job's tasks back-fill executors freed by the first
    * job's task tail). Callers must guarantee independence: disjoint
    * output paths and all shared inputs already materialized.
    */
  def inParallel(a: => Unit, b: => Unit): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fa = Future(a)
    val fb = Future(b)
    Await.result(fa, Duration.Inf)
    Await.result(fb, Duration.Inf)
  }

  /** Run `body` (a stateful stream's start + awaitTermination) with
    * `spark.sql.shuffle.partitions` sized by [[streamStatePartitions]],
    * restoring the session value afterwards.
    */
  def withStreamShuffle[T](s: SparkSession, inputPath: String)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.getOption(key)
    s.conf.set(key, streamStatePartitions(s, inputPath).toString)
    try body finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }
}
