package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileStatus, FileSystem, Options, Path}
import org.apache.spark.sql.SparkSession

/** Hadoop-FileSystem access for the changelog's METADATA side-effects —
  * horizon/stamp/stats/claim markers, vacuum, commit-directory
  * listings, clone materialization. The parquet data always went
  * through Spark's own FileSystem layer; before this, the metadata
  * went through `java.io.File`, which silently binds the whole
  * time-travel/retention/skipping machinery to the local filesystem —
  * on HDFS/S3-style stores (where a 100 TB deployment lives) none of
  * it would function. Everything here resolves the filesystem FROM the
  * path (`Path.getFileSystem`), so `file:/...`, `hdfs://...`, and
  * plain local paths all route correctly, and the local round-trip is
  * byte-identical to the old behavior.
  *
  * Atomicity contracts:
  *  - [[writeAtomic]] = tmp sibling + rename-with-overwrite via
  *    `FileContext` (atomic on HDFS and on the local fs; object stores
  *    without atomic rename need a locking layer — the same caveat
  *    every lakehouse format documents);
  *  - [[claimExclusive]] = tmp sibling + rename-WITHOUT-overwrite:
  *    exactly one concurrent claimant's rename lands, and because the
  *    content is written BEFORE the rename, a losing claimant always
  *    reads the winner's complete content (a bare create-exclusive +
  *    write would expose an empty-claim window).
  */
private[graft] object LogFs {

  // `newHadoopConf()` CLONES the full session conf per call, and the
  // marker-heavy verbs (claim listings, stamp walks, conflict windows)
  // call through here once per marker — measured as the r14 FS-port's
  // residual drag on the changelog family (q129/q143 sat ~1.2× above
  // band on a quiet host). The clone is cached per session: the keys a
  // FileSystem resolution reads (fs.defaultFS, fs.<scheme>.impl,
  // security bits) are fixed at session build, so reusing one snapshot
  // is behavior-identical; a NEW session (tests build several) gets its
  // own entry, and sessions are weakly keyed so the cache can never
  // outlive them.
  //
  // DOCUMENTED LIMIT: the snapshot is taken at the session's FIRST log
  // operation, so `spark.conf.set("spark.hadoop.fs.s3a...")` made
  // AFTER that is not seen by later marker/footer access (the previous
  // per-call clone would have picked it up). Hadoop-level conf is
  // session-build configuration; a caller who must re-point mid-session
  // calls [[invalidateConfCache]] after the conf change.
  private val confCache =
    new java.util.WeakHashMap[SparkSession, Configuration]()

  /** Drop the active session's cached Hadoop conf snapshot — the next
    * log operation re-derives it from the CURRENT session conf. For the
    * rare mid-session `spark.conf.set("spark.hadoop.*", ...)` re-point;
    * see the cache comment above.
    */
  def invalidateConfCache(): Unit =
    SparkSession.getActiveSession.foreach { s =>
      confCache.synchronized { confCache.remove(s): Unit }
    }

  private def conf: Configuration =
    SparkSession.getActiveSession match {
      case Some(s) => confCache.synchronized {
        var c = confCache.get(s)
        if (c == null) { c = s.sessionState.newHadoopConf()
          confCache.put(s, c) }
        c
      }
      case None => new Configuration()
    }

  def fs(path: String): FileSystem = new Path(path).getFileSystem(conf)

  /** The session-cached Hadoop conf, for metadata readers (parquet
    * footer opens) that need one alongside the FileSystem.
    */
  private[graft] def hadoopConf: Configuration = conf

  /** `dir/name` in the path algebra of the dir's own filesystem. */
  def child(dir: String, name: String): String =
    new Path(dir, name).toString

  def exists(path: String): Boolean = fs(path).exists(new Path(path))

  def isDirectory(path: String): Boolean = {
    val f = fs(path)
    val p = new Path(path)
    f.exists(p) && f.getFileStatus(p).isDirectory
  }

  /** Children of `dir` (empty if the dir does not exist). */
  def list(dir: String): Seq[FileStatus] = {
    listCounter.get()(dir)
    val f = fs(dir)
    val p = new Path(dir)
    if (!f.exists(p)) Seq.empty else f.listStatus(p).toSeq
  }

  def mkdirs(path: String): Unit = { fs(path).mkdirs(new Path(path)): Unit }

  def delete(path: String): Unit = {
    fs(path).delete(new Path(path), true): Unit
  }

  /** Content reads performed through [[readString]] — a TEST hook for
    * load-path cost pins (e.g. "the evolution probe of a fresh table
    * load opens zero marker contents"); never consulted by the engine.
    */
  private[graft] val contentReads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Each [[list]] call hands its dir to this counter — a TEST hook
    * for listing-count pins; a no-op by default, never read by the engine.
    */
  private[graft] val listCounter =
    new java.util.concurrent.atomic.AtomicReference[String => Unit](_ => ())

  def readString(path: String): String = {
    contentReads.incrementAndGet()
    val in = fs(path).open(new Path(path))
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
      new String(out.toByteArray, UTF_8)
    } finally in.close()
  }

  /** Atomic full-content marker write: tmp sibling + overwrite rename.
    * A reader never observes a torn marker.
    */
  def writeAtomic(path: String, content: String): Unit = {
    val target = new Path(path)
    val f = fs(path)
    val tmp = new Path(target.getParent, s".${target.getName}.tmp")
    val out = f.create(tmp, true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
    val fc = FileContext.getFileContext(target.toUri, conf)
    fc.rename(tmp, target, Options.Rename.OVERWRITE)
  }

  /** Atomically create `path` with `content` iff it does not exist.
    * Returns true when THIS caller's marker landed; false when another
    * writer's marker already holds (or lands first — the concurrent
    * rename race resolves to exactly one winner on the namenode /
    * local rename). The content is complete before the rename, so a
    * loser reading the path always sees the winner's full content.
    */
  def claimExclusive(path: String, content: String): Boolean = {
    val target = new Path(path)
    val f = fs(path)
    if (f.exists(target)) return false
    // tmp name unique per claimant: two concurrent losers must not
    // clobber each other's staging bytes mid-write
    val tmp = new Path(target.getParent,
      s".${target.getName}.claim.${java.util.UUID.randomUUID()}.tmp")
    val out = f.create(tmp, true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
    if (isLocal(path)) {
      // POSIX rename REPLACES an existing target, and Hadoop's local
      // rename-without-overwrite is check-then-act — two concurrent
      // claimants could both "win" in the microsecond window between
      // the check and the rename (caught by the mutex race spec). The
      // kernel's atomic create-if-absent primitive is link(2): exactly
      // one hardlink lands, every other claimant gets EEXIST. ONLY
      // EEXIST means "lost the race" — a genuine IO fault (disk full,
      // permissions, cross-device link) must surface as itself, never
      // masquerade as a phantom claimant the operator then hunts for.
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(target.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        f.delete(tmp, false)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          f.delete(tmp, false)
          false
        case e: java.io.IOException =>
          f.delete(tmp, false)
          // some JDK/FS combinations report EEXIST as a bare
          // FileSystemException — the claim is lost iff the target
          // landed; anything else is a real fault, rethrown with the
          // claim context
          if (f.exists(target)) false
          else throw new java.io.IOException(
            s"claimExclusive($path) failed on an IO fault (NOT a " +
              "lost race — no competing marker exists)", e)
      }
    } else try {
      // HDFS / object stores arbitrate rename-without-overwrite
      // server-side (namenode-atomic) — the rename IS the claim
      val fc = FileContext.getFileContext(target.toUri, conf)
      fc.rename(tmp, target) // NO overwrite: loses atomically if taken
      true
    } catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.nio.file.FileAlreadyExistsException =>
        f.delete(tmp, false)
        false
      case e: java.io.IOException =>
        f.delete(tmp, false)
        // same honesty remotely: a store may surface the taken target
        // as a generic rename IOException — lost iff the target exists
        if (f.exists(target)) false
        else throw new java.io.IOException(
          s"claimExclusive($path) failed on an IO fault (NOT a " +
            "lost race — no competing marker exists)", e)
    }
  }

  /** True when `path` resolves to a filesystem with local-inode
    * semantics (hardlinks available) — the shallow-clone fast path.
    */
  def isLocal(path: String): Boolean = {
    val scheme = Option(fs(path).getUri.getScheme).getOrElse("file")
    scheme == "file"
  }

  /** The raw OS path of a local filesystem path (for the hardlink
    * walk). Callers must check [[isLocal]] first.
    */
  def localPath(path: String): String = {
    val uri = new Path(path).toUri
    if (uri.getScheme == null) path else uri.getPath
  }

  /** Recursive copy `src` → `dst` through the FileSystem API — the
    * shallow clone's documented fallback on stores without hardlinks
    * (object stores, HDFS): the clone is then a DEEP copy of commits
    * ≤ v; independence still holds (separate bytes), only the
    * zero-copy cost profile is lost. Server-side copy (e.g. S3
    * CopyObject) is a store-specific optimization out of scope here.
    */
  def copyTree(src: String, dst: String): Unit = {
    val sf = fs(src)
    val df = fs(dst)
    org.apache.hadoop.fs.FileUtil.copy(
      sf, new Path(src), df, new Path(dst),
      /* deleteSource = */ false, /* overwrite = */ false, conf): Unit
  }
}
