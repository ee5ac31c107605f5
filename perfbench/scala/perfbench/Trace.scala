package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedDeque, CopyOnWriteArrayList}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer: its wall interval and the counts attributed to
  * it. Counters are keyed by name (`jobs`, `tasks`, `cpu_ns`, `fs_ops`, ...)
  * so that the Python side can derive every per-layer metric from them.
  * `timed` is false for a warm-up call, which the per-layer medians skip so
  * that they cover the same operations as the end-to-end ones.
  */
final class Span(val id: Int, val name: String, val parent: Int, val timed: Boolean) {
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  @volatile var endNs: Long = -1L
  @volatile var endMs: Long = Long.MaxValue
  private val counts = new ConcurrentHashMap[String, AtomicLong]()
  /** Distinct parquet data files opened and `bucket=K` directories written. */
  val filesRead: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  val bucketsWritten: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  /** Facts the caller knows about the call, such as the delta's row count. */
  val facts = new ConcurrentHashMap[String, java.lang.Double]()

  def add(key: String, v: Long): Unit =
    counts.computeIfAbsent(key, _ => new AtomicLong()).addAndGet(v): Unit
  def count(key: String): Long = Option(counts.get(key)).map(_.get).getOrElse(0L)
  def covers(ms: Long): Boolean = startMs <= ms && ms <= endMs

  def toJson: Map[String, Any] = Map(
    "id" -> id, "name" -> name, "parent" -> parent, "timed" -> timed,
    "start_ns" -> startNs, "end_ns" -> endNs,
    "counts" -> (counts.asScala.map { case (k, v) => k -> v.get }.toMap ++ Map(
      "files_read" -> filesRead.size.toLong,
      "buckets_touched" -> bucketsWritten.size.toLong)),
    "facts" -> facts.asScala.map { case (k, v) => k -> v.doubleValue }.toMap)
}

/** Spans around the benchmark's calls into each layer. When disabled every
  * method is a pass-through, so untraced runs install no listener and no
  * counting filesystem.
  *
  * Attribution: a job carries the id of the innermost open span in a local
  * property set on the calling thread. A job started from a thread that has
  * no such property (for example a `Future` created before the span opened)
  * falls back to the innermost span whose interval covers the job's start.
  * Planning time and filesystem operations carry no thread identity that
  * survives to the listener, so they use the time window too.
  */
final class Tracer(val enabled: Boolean) {
  private val all = new CopyOnWriteArrayList[Span]()
  private val open = new ConcurrentLinkedDeque[Span]()
  private val byId = new ConcurrentHashMap[Integer, Span]()
  @volatile private var sc: Option[SparkContext] = None

  def span[A](name: String, timed: Boolean = true)(body: => A): A =
    if (!enabled) body
    else {
      val s = new Span(all.size + 1, name, Option(open.peekFirst()).map(_.id).getOrElse(0), timed)
      all.add(s)
      byId.put(s.id, s)
      open.push(s)
      val prev = sc.map(_.getLocalProperty(Tracer.SpanProperty)).orNull
      sc.foreach(_.setLocalProperty(Tracer.SpanProperty, s.id.toString))
      val codegen0 = CodeGenerator.compileTime
      try body
      finally {
        s.add("codegen_ns", CodeGenerator.compileTime - codegen0)
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open.remove(s)
        sc.foreach(_.setLocalProperty(Tracer.SpanProperty, prev))
      }
    }

  /** Records a fact about the innermost open span (no-op when disabled). */
  def note(key: String, v: Double): Unit =
    Option(open.peekFirst()).foreach(_.facts.put(key, v))

  private[perfbench] def innermostOpen: Option[Span] = Option(open.peekFirst())
  private[perfbench] def byTag(tag: String): Option[Span] =
    scala.util.Try(tag.toInt).toOption.flatMap(id => Option(byId.get(id)))
  private[perfbench] def spanAt(ms: Long): Option[Span] =
    all.asScala.filter(_.covers(ms)).maxByOption(_.startNs)

  /** Installs the listeners on a running session. */
  def attach(spark: SparkSession): Unit = if (enabled) {
    sc = Some(spark.sparkContext)
    spark.sparkContext.addSparkListener(new JobListener(this))
    spark.listenerManager.register(new PlanListener(this))
    Tracer.active = this
  }

  /** Every span so far, after the listener bus has delivered all events. */
  def spans: Seq[Span] = {
    sc.foreach(PerfbenchBus.drain)
    all.asScala.toSeq
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
  @volatile private[perfbench] var active: Tracer = _
  private val BucketDir = "bucket=(\\d+)".r.unanchored

  private def isData(p: Path): Boolean = p.getName.endsWith(".parquet")

  /** Called by [[CountingLocalFileSystem]] from any thread. */
  def fsOp(kind: String, p: Path): Unit =
    Option(active).flatMap(_.innermostOpen).foreach { s =>
      s.add("fs_ops", 1)
      kind match {
        case "list" => s.add("fs_list_ops", 1)
        case "open" =>
          s.add("fs_open_ops", 1)
          if (isData(p)) s.filesRead.add(p.toString): Unit
        case "create" if isData(p) =>
          s.add("output_files", 1)
          p.toString match {
            case BucketDir(b) => s.bucketsWritten.add(b): Unit
            case _            =>
          }
        case _ =>
      }
    }
}

/** Attributes jobs and task metrics to spans. */
private final class JobListener(t: Tracer) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Integer, Span]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tagged = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProperty))).flatMap(t.byTag)
    tagged.orElse(t.spanAt(e.time)).foreach { s =>
      s.add("jobs", 1)
      // a stage reused by a later job keeps the span of the job that ran it
      e.stageIds.foreach(id => stageSpan.putIfAbsent(id, s))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (s <- Option(stageSpan.get(e.stageId)); m <- Option(e.taskMetrics)) {
      s.add("tasks", 1)
      s.add("cpu_ns", m.executorCpuTime)
      s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      s.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      s.add("input_rows", m.inputMetrics.recordsRead)
      s.add("output_rows", m.outputMetrics.recordsWritten)
      s.add("output_bytes", m.outputMetrics.bytesWritten)
    }
}

/** Attributes analysis + optimization + planning time to spans. */
private final class PlanListener(t: Tracer) extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      t.spanAt(phases.map(_.startTimeMs).min)
        .foreach(_.add("planning_ms", phases.map(_.durationMs).sum))
  }
}

/** The repo's fork-free local filesystem with every call counted. The
  * traced run installs it as `fs.file.impl`; Hadoop's local filesystem
  * keeps no per-operation counts of its own.
  */
class CountingLocalFileSystem extends graft.sources.NioLocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    Tracer.fsOp("open", f); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    Tracer.fsOp("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    Tracer.fsOp("list", f); super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    Tracer.fsOp("list", f); super.listLocatedStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    Tracer.fsOp("stat", f); super.getFileStatus(f)
  }
  override def mkdirs(f: Path): Boolean = {
    Tracer.fsOp("mkdirs", f); super.mkdirs(f)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    Tracer.fsOp("mkdirs", f); super.mkdirs(f, permission)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    Tracer.fsOp("delete", f); super.delete(f, recursive)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    Tracer.fsOp("rename", src); super.rename(src, dst)
  }
}
