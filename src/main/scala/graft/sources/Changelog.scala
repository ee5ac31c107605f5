package graft.sources

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Versioned keyed changelog with time travel — "read the table AS OF
  * commit v". The table is a commit-partitioned parquet changelog: each
  * commit APPENDS its delta rows stamped with a monotonically
  * increasing commit id (the transaction-log discipline of a lakehouse
  * table format, reduced to its queryable core), and a snapshot at any
  * commit is the keyed last-write-wins compaction of all commits up to
  * it. Nothing is ever rewritten in place, so every historical snapshot
  * stays readable forever — the audit/reproducibility property
  * ("exactly what did the model train on at release 12?") that an
  * overwrite-in-place upsert destroys.
  *
  * The read and fold surface is five verbs — [[snapshotAt]],
  * [[snapshotAsOf]], [[changesBetween]], [[changesBetweenTimestamps]]
  * and [[checkpoint]] — and each serves both log shapes: a PLAIN log
  * (every row an upsert, [[commit]]) and an OPS log (rows carry
  * [[OpCol]], so deletes are tombstones — [[commitUpsert]] /
  * [[commitDelete]]). The shape is read from the log's own schema,
  * never chosen by the caller (see "Reads" below).
  *
  * Scale:
  *  - a commit is O(delta): one append of the delta rows into a new
  *    `_commit=<v>` partition directory — no read, no merge, no lock
  *    window beyond the atomic directory add;
  *  - `snapshotAt` PARTITION-PRUNES to commits ≤ v (the `_commit <=
  *    v` filter is a partition filter — later commits are never read),
  *    then compacts with a top-1 window per key: one hash shuffle on
  *    the key, then one sort per reduce task ([[compact]]). The
  *    streaming sinks' `max_by` aggregate would sort every row on both
  *    sides of the shuffle here, for a partial combine that a log of
  *    about one version per key cannot use;
  *  - history growth is bounded operationally by `checkpoint`: fold
  *    commits ≤ v into a base commit written as v's replacement and
  *    drop the olds — same math as the streaming compaction,
  *    deliberately not automated here.
  */
object Changelog {

  val CommitCol = "_commit"

  // ---- The log's names: one listing ---------------------------------
  //
  // The log root holds `_commit=<id>` commit directories and
  // `_graft_<kind>_<key>` marker files (underscore-prefixed, so Spark's
  // file index skips them), parsed in [[Listing]] and nowhere else. A
  // verb takes ONE listing where it first needs the root and passes it
  // down; a read that must see its own write, or a racing writer's,
  // takes a fresh one.

  /** A marker class: `prefix + key`, the key a commit id, or a
    * free-form name for [[Marker.Check]] and [[Marker.SinkMap]].
    */
  private[graft] final case class Marker(prefix: String) {
    def at(path: String, key: Any): String = LogFs.child(path, s"$prefix$key")
  }

  private[graft] object Marker {
    val Stamp = Marker("_graft_ts_")
    val Claim = Marker("_graft_claim_")
    val Info = Marker("_graft_info_")
    val Base = Marker("_graft_base_")
    val Stats = Marker("_graft_stats_")
    val Mapping = Marker("_graft_mapping_")
    val Check = Marker("_graft_check_")
    /** Streaming-sink epoch→commit map markers (multi-writer mode),
      * `_graft_sinkmap_<queryId>_<epoch>` holding the commit id the
      * epoch landed at, and idempotent-append txn markers
      * (`_graft_sinkmap_txn_<writer>_<version>`). [[vacuumBelow]]
      * sweeps them by the commit id in their content.
      */
    val SinkMap = Marker("_graft_sinkmap_")
    val all: Seq[Marker] =
      Seq(Stamp, Claim, Info, Base, Stats, Mapping, Check, SinkMap)
    /** The classes [[vacuumBelow]] deletes with the commits they
      * describe. Stamps outlive a fold on purpose.
      */
    val sweptBelow: Seq[Marker] = Seq(Claim, Info, Base, Stats)
    /** The classes [[cloneAt]] copies at or below the clone version. */
    val cloned: Seq[Marker] = Seq(Stamp, Claim, Info, Base, Stats, Mapping)
  }

  private val CommitPrefix = s"$CommitCol="

  /** Commit `id`'s directory under the log root. */
  private[graft] def commitDir(path: String, id: Long): String =
    LogFs.child(path, s"$CommitPrefix$id")

  /** One `LogFs.list` of the log root ([[Listing.of]]), parsed: the
    * commit directories and the marker files by class. A name of no
    * class (`_SUCCESS`, the horizon, an unknown `_graft_` file) is
    * ignored.
    */
  private[graft] final class Listing private (val path: String,
                                              entries: Seq[FileStatus]) {
    private val named = entries.map(s => s.getPath.getName -> s)

    /** The landed commits as (id, directory) in NAME order, the order
      * a directory walk visits: `_commit=10` before `_commit=2`.
      */
    val commitDirs: Seq[(Long, String)] = named.sortBy(_._1).collect {
      case (n, s) if n.startsWith(CommitPrefix) =>
        n.stripPrefix(CommitPrefix).toLong -> s.getPath.toString
    }

    /** The landed commit ids, ascending. */
    val commitIds: Seq[Long] = commitDirs.map(_._1).sorted

    def head: Option[Long] = commitIds.lastOption

    private val markers: Map[Marker, Seq[(String, FileStatus)]] =
      named.filter(_._2.isFile).flatMap { case (n, s) =>
        Marker.all.find(m => n.startsWith(m.prefix))
          .map(m => m -> (n.stripPrefix(m.prefix) -> s))
      }.groupMap(_._1)(_._2)

    /** The markers of class `m` as (key, file). */
    def keyed(m: Marker): Seq[(String, FileStatus)] =
      markers.getOrElse(m, Nil)

    /** The id-keyed markers of class `m` as (id, file), id ascending. */
    def ids(m: Marker): Seq[(Long, FileStatus)] =
      keyed(m).map { case (k, s) => k.toLong -> s }.sortBy(_._1)

    /** Whether the root-level file `name` is listed. */
    def has(name: String): Boolean = named.exists(_._1 == name)

    /** The newest base at or below `v` (reads at v start there). */
    def baseFloor(v: Long): Long =
      ids(Marker.Base).map(_._1).filter(_ <= v)
        .foldLeft(Long.MinValue)(math.max)

    /** The log's first data file in name order, listing only the
      * commit directories on the way to it.
      */
    def firstDataFile: Option[FileStatus] =
      commitDirs.iterator.flatMap(d => ParquetMeta.dataFiles(d._2))
        .nextOption()
  }

  private[graft] object Listing {
    def of(path: String): Listing = new Listing(path, LogFs.list(path))
  }

  // ---- Checkpoint horizon -------------------------------------------
  //
  // `checkpoint` ERASES history below the fold version.
  // A snapshot below the horizon would read empty, and — worse — a
  // change feed whose v0 sits below the horizon would see stateAt(v0)
  // as empty and label EVERY surviving key `insert` with null olds,
  // silently double-counting in any CDF-driven maintenance consumer
  // (the q169/q183 contract). The horizon is therefore recorded in a
  // `_graft_horizon` marker file (underscore-prefixed: Spark's file
  // index skips it) written AFTER the folded base lands and BEFORE the
  // vacuum destroys anything, and every versioned read fails loudly
  // below it. A marker — not the min commit-dir id — because a fresh
  // log whose first commit id is c0 > 0 legitimately has empty state
  // below c0 (nothing ever existed), while below a checkpoint horizon
  // state DID exist and was folded away; only the marker can tell the
  // two apart.

  private val HorizonMarker = "_graft_horizon"

  // All marker/listing side-effects go through the Hadoop FileSystem
  // API (LogFs) — resolved from the path itself, so the time-travel /
  // retention / skipping machinery works unchanged on file:/ URIs,
  // HDFS, and S3-style stores, not just bare local paths. Spark's own
  // parquet IO always did; the metadata now matches it.

  private def horizonPath(path: String): String =
    LogFs.child(path, HorizonMarker)

  /** The log's checkpoint horizon: versioned reads below this fail
    * loudly. `Long.MinValue` for a never-checkpointed log.
    */
  def horizonOf(path: String): Long = {
    val p = horizonPath(path)
    if (!LogFs.exists(p)) Long.MinValue
    else LogFs.readString(p).trim.toLong
  }

  /** Record horizon `v` (monotonic max; atomic rename so a torn write
    * can never produce a silently-wrong horizon).
    */
  private def writeHorizon(path: String, v: Long): Unit = {
    if (v > horizonOf(path)) {
      LogFs.writeAtomic(horizonPath(path), v.toString)
    }
  }

  /** Loud when `v` is below the horizon; returns the horizon. */
  private def requireAboveHorizon(path: String, v: Long, what: String): Long = {
    val h = horizonOf(path)
    require(v >= h,
      s"$what $v is below the checkpoint horizon $h of $path — history " +
        "below the horizon was folded away; a snapshot there would read " +
        "empty and a change feed would mislabel every surviving key as " +
        "insert. Re-base the reader at or above the horizon.")
    h
  }

  // ---- Commit timestamps: AS OF TIMESTAMP ---------------------------
  //
  // Commit ids order the log; TIMESTAMPS are how consumers address it
  // ("the table as of last night 02:00"). Every lakehouse format maps
  // AS OF TIMESTAMP onto the commit sequence the same way: resolve the
  // LATEST commit whose timestamp is <= the requested instant, then
  // read that version. Timestamps here are CALLER-PROVIDED (the
  // ingest's own clock — reproducible and testable, where a wall-clock
  // stamp would make every run a different table), recorded as one
  // `_graft_ts_<commitId>` marker file per commit (underscore-prefixed
  // so Spark's file index skips them; atomic rename so a torn write
  // can never mis-resolve), and REQUIRED non-decreasing in commit-id
  // order — an out-of-order stamp would make "as of t" ambiguous, so
  // the write fails loudly instead. Stamps are immutable: re-stamping
  // with the same value is an idempotent no-op (the retry contract),
  // a different value is refused. Checkpoints keep stamps intact —
  // the folded base at v still answers "as of" any instant in
  // [ts(v), next stamp), and an instant that resolves BELOW the
  // horizon fails through the same loud horizon guard as a versioned
  // read (retention applies to clock addressing too, never silently).

  /** All recorded (commitId, tsMillis) stamps, commit-id ascending. */
  def commitTimestamps(path: String): Seq[(Long, Long)] =
    commitTimestamps(Listing.of(path))

  private def commitTimestamps(l: Listing): Seq[(Long, Long)] =
    l.ids(Marker.Stamp).map { case (id, s) =>
      id -> LogFs.readString(s.getPath.toString).trim.toLong
    }

  /** Record commit `commitId`'s timestamp. Must stamp an EXISTING
    * commit (stamp after the commit lands — a stamp for data that
    * never arrived would resolve reads onto nothing), must keep the
    * stamp sequence monotone with commit ids, and is immutable once
    * written (equal re-stamp = idempotent no-op).
    */
  def stampCommit(path: String, commitId: Long, tsMillis: Long): Unit = {
    val l = Listing.of(path)
    require(l.commitIds.contains(commitId),
      s"cannot stamp commit $commitId of $path — no $CommitCol=$commitId " +
        "directory exists; stamp AFTER the commit lands")
    val stamps = commitTimestamps(l)
    stamps.find(_._1 == commitId) match {
      case Some((_, t)) =>
        require(t == tsMillis,
          s"commit $commitId of $path is already stamped $t and stamps " +
            s"are immutable — got $tsMillis; a changed commit time would " +
            "silently re-aim every AS OF TIMESTAMP read")
      case None =>
        stamps.foreach { case (cid, t) =>
          require(cid > commitId || t <= tsMillis,
            s"non-monotone stamp: commit $commitId at $tsMillis would " +
              s"precede earlier commit $cid stamped $t — AS OF TIMESTAMP " +
              "needs stamps non-decreasing in commit order")
          require(cid < commitId || t >= tsMillis,
            s"non-monotone stamp: commit $commitId at $tsMillis would " +
              s"follow later commit $cid stamped $t — AS OF TIMESTAMP " +
              "needs stamps non-decreasing in commit order")
        }
        LogFs.writeAtomic(Marker.Stamp.at(path, commitId), tsMillis.toString)
    }
  }

  /** [[commit]] + [[stampCommit]] in the order the stamp contract
    * requires (data first, then the clock entry that makes it
    * addressable).
    */
  def commitStamped(delta: DataFrame, path: String, commitId: Long,
                    tsMillis: Long): Unit = {
    commit(delta, path, commitId)
    stampCommit(path, commitId, tsMillis)
  }

  /** Every commit's stamp, commit-id ascending — loud on a log with
    * no stamps and on a LIVE commit that was never stamped (a clock
    * read would silently skip it). `use` names the clock read,
    * `otherwise` its versioned alternative.
    */
  private def clockOf(l: Listing, use: String,
                      otherwise: String): Seq[(Long, Long)] = {
    val stamps = commitTimestamps(l)
    require(stamps.nonEmpty, s"${l.path} has no stamped commits — " +
      s"stampCommit each commit to enable $use")
    val unstamped = l.commitIds.filterNot(stamps.map(_._1).toSet)
    require(unstamped.isEmpty,
      s"commits [${unstamped.mkString(", ")}] of ${l.path} are " +
        s"unstamped — $use cannot place them on the clock; stamp them " +
        s"or use $otherwise")
    stamps
  }

  /** The stream-start coordinate for "serve commits stamped AT or
    * AFTER `tsMillis`" (Delta's `startingTimestamp` semantics): the
    * latest commit id stamped strictly BEFORE the instant — the feed
    * window (that id, …] then begins with the first commit at/after
    * it — or (min commit − 1) when every commit is at/after. Same
    * all-stamped guard as [[versionAtTimestamp]]: an unstamped commit
    * cannot be placed on the clock.
    */
  def versionBeforeTimestamp(path: String, tsMillis: Long): Long = {
    val stamps = clockOf(Listing.of(path), "timestamp-addressed streams",
      "startingVersion")
    val before = stamps.filter(_._2 < tsMillis).map(_._1)
    if (before.nonEmpty) before.max else stamps.map(_._1).min - 1
  }

  /** Resolve "as of `tsMillis`" to a commit id: the latest stamped
    * commit at or before the instant. Loud on the three silent-wrong
    * paths: a log with no stamps, a LIVE commit directory that was
    * never stamped (resolution would silently skip it), and an
    * instant before the first commit (nothing existed — an empty
    * read would masquerade as an empty table).
    */
  def versionAtTimestamp(path: String, tsMillis: Long): Long =
    versionAtTimestamp(Listing.of(path), tsMillis)

  private[graft] def versionAtTimestamp(l: Listing, tsMillis: Long): Long = {
    val stamps = clockOf(l, "AS OF TIMESTAMP reads", "versioned reads")
    require(tsMillis >= stamps.head._2,
      s"timestamp $tsMillis predates the log's first commit " +
        s"(${stamps.head._1} stamped ${stamps.head._2}) — nothing " +
        "existed yet; an empty read here would masquerade as an " +
        "empty table")
    stamps.filter(_._2 <= tsMillis).map(_._1).max
  }

  /** The table AS OF TIMESTAMP — resolve, then [[snapshotAt]] (whose
    * horizon guard keeps retention loud on the clock path too).
    */
  def snapshotAsOf(spark: SparkSession, path: String, keys: Seq[String],
                   tsMillis: Long): DataFrame =
    snapshotAt(spark, path, keys, versionAtTimestamp(path, tsMillis))

  /** [[changesBetween]] addressed by the clock — "every change
    * between last night's run and tonight's": both endpoints resolve
    * through [[versionAtTimestamp]] (latest commit stamped ≤ t), then
    * the versioned feed runs unchanged, so the window is
    * `(version(t0), version(t1)]` — exactly the commits a consumer
    * who last read at instant t0 has not seen. Inherits every guard:
    * unresolvable instants, a start below the horizon, and t0/t1
    * resolving to the same commit (an empty window is `v0 < v1`
    * violated — loud, because a consumer polling faster than commits
    * land should skip the cycle, not process a silently-empty feed).
    */
  def changesBetweenTimestamps(spark: SparkSession, path: String,
                               keys: Seq[String], t0Millis: Long,
                               t1Millis: Long,
                               trackCols: Seq[String]): DataFrame =
    changesBetween(spark, path, keys,
      versionAtTimestamp(path, t0Millis),
      versionAtTimestamp(path, t1Millis), trackCols)

  /** The head commit id of the log, if any commits have landed — the
    * version a "latest" read pins itself to ([[GraftLog]] resolves its
    * default `versionAsOf` here ONCE at load, so a query planned
    * against the head stays on that head even if commits land before
    * the action runs).
    */
  def headVersion(path: String): Option[Long] = Listing.of(path).head

  /** Whether the log's rows carry [[OpCol]], from the footer of its
    * first data file in name order — ONE file decides the log's shape
    * (every commit carries _op or none does, by induction on
    * [[requireMatchingShape]]). The walk lists the directories down to
    * that file, never the whole log, so its cost does not grow with
    * history. None on a log with no landed data.
    */
  private def logHasOp(l: Listing): Option[Boolean] =
    l.firstDataFile
      .map(f => ParquetMeta.schema(f.getPath).columns.contains(OpCol))

  /** Whether the log is OPS-shaped (rows carry [[OpCol]]) — ONE
    * driver-side footer read, the same probe [[requireMatchingShape]]
    * uses; loud on an empty log (shape is undefined there). Table
    * metadata and write routing only: the read and fold verbs take the
    * shape from the schema Spark already inferred for their own scan.
    */
  private[graft] def isOpsLog(path: String): Boolean =
    isOpsLog(Listing.of(path))

  private def isOpsLog(l: Listing): Boolean = {
    val hasOp = logHasOp(l)
    require(hasOp.nonEmpty,
      s"${l.path} has no landed commit data — the log's shape is undefined")
    hasOp.get
  }

  // ---- Write-path shape guard ---------------------------------------

  /** Commits must not silently flip a log between plain and ops shape:
    * a plain delta appended into an ops log gets `_op` null and the
    * liveness filter classifies every such row DEAD (a mis-routed
    * upsert vanishes from every snapshot); an ops delta into a plain
    * log would surface tombstones as data rows. The read verbs trust
    * the shape this guard keeps uniform — one driver-side footer read,
    * no Spark job, only when the log already exists.
    */
  private[graft] def requireMatchingShape(delta: DataFrame,
                                         l: Listing): Unit = {
    val path = l.path
    logHasOp(l).foreach { logOp =>
      val deltaHasOp = delta.columns.contains(OpCol)
      require(!logOp || deltaHasOp,
        s"$path is an OPS log but the delta carries no $OpCol — such rows " +
          "would compact as DEAD (liveness filter is _op = 'u'); use " +
          "commitUpsert/commitDelete, or carry _op explicitly")
      require(logOp || !deltaHasOp,
        s"$path is a PLAIN log but the delta carries $OpCol — tombstones " +
          "would read as ordinary rows; start an ops log at a fresh path")
    }
  }

  // ---- Optimistic concurrency: commit claims ------------------------
  //
  // Commit ids are caller-assigned (they ARE the version order), and
  // without arbitration two INDEPENDENT writers that both compute
  // "head + 1" would land DIFFERENT deltas under one id — `commit`
  // appends interleave silently, `commitIdempotent`'s dynamic
  // overwrites can interleave to a mixed directory. The claim marker
  // closes this the way Delta/Iceberg do, reduced to its primitive:
  // landing commit id v first ATOMICALLY creates `_graft_claim_<v>`
  // naming the WRITER (LogFs.claimExclusive — rename-without-
  // overwrite, exactly one concurrent claimant wins). The same writer
  // re-claiming its own id is a no-op — that is the at-least-once
  // REDELIVERY contract (a retried foreachBatch, a re-appended
  // mixed-op delivery under one batch id) and it must keep working —
  // while a DIFFERENT writer gets a loud conflict naming the holder.
  // Single-writer callers never see any of this: they share the
  // default writer identity, so every existing call is unchanged.
  // MULTI-writer deployments must give each writer a distinct id
  // (Delta's txnAppId contract) and route contended appends through
  // [[commitWithRetry]].

  /** The default writer identity: all claims by unnamed callers are
    * one logical writer (the single-writer deployment), preserving
    * every pre-OCC behavior including same-id redelivery.
    */
  val SoloWriter = "solo"

  /** The writer holding commit `commitId`'s claim, if any. */
  def claimHolder(path: String, commitId: Long): Option[String] = {
    val p = Marker.Claim.at(path, commitId)
    if (LogFs.exists(p)) Some(LogFs.readString(p).trim) else None
  }

  /** Claim commit `commitId` for `writer`, or fail LOUDLY naming the
    * holder. First-writer-wins is atomic (rename-without-overwrite);
    * a writer re-claiming its own id succeeds (redelivery).
    */
  private[graft] def claimCommit(path: String, commitId: Long,
                          writer: String): Unit = {
    val p = Marker.Claim.at(path, commitId)
    if (!LogFs.claimExclusive(p, writer)) {
      val holder = LogFs.readString(p).trim
      require(holder == writer,
        s"commit $commitId of $path is already claimed by writer " +
          s"'$holder' — writer '$writer' lost the race for this id; " +
          "re-read the head and retry at the next id (commitWithRetry " +
          "automates exactly that)")
    }
  }

  /** Claim the NEXT free commit id for `writer` — the blind-append leg
    * of the OCC loop: [[commitWithRetry]] minus conflict detection,
    * because a pure APPEND to an LWW log serializes cleanly in any
    * order (Delta's "blind append never conflicts" rule — the reader's
    * per-key compaction orders by commit id, and the appender by
    * definition derived nothing from a read version). Scans
    * commits ∪ claims for the head, claims head+1 atomically, retries
    * past lost claims. The caller MUST land data into the returned id;
    * a crash between claim and landing leaves an orphaned claim — the
    * same operator-visible state as any writer crashing mid-commit
    * (cleared manually, exactly the [[commitWithRetry]] contract).
    */
  private[graft] def claimNextId(path: String, writer: String,
                                 maxAttempts: Int = 50,
                                 after: Long = -1L): Long = {
    val l = Listing.of(path)
    var floor = (l.commitIds ++ l.ids(Marker.Claim).map(_._1))
      .foldLeft(after)(math.max)
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val target = floor + 1
      if (LogFs.claimExclusive(Marker.Claim.at(path, target), writer))
        return target
      floor = target
    }
    throw new IllegalStateException(
      s"writer '$writer' lost the commit claim $maxAttempts times in a " +
        s"row on $path — contention is pathological; back off and retry")
  }

  /** The SERIALIZABLE claim of [[commitWithRetry]] and the row-level
    * DML writes: claim the next free id above `readVersion`, then run
    * [[conflictingCommits]] over the window since the read. A commit
    * landed there that touches `deltaKeys`' keys means the delta was
    * derived from state that has since changed: the claim is released
    * and the failure is loud, naming `reader` and the caller's `fix`.
    * Returns the claimed id, which the caller must land.
    */
  private[graft] def claimSerializable(spark: SparkSession, path: String,
      keys: Seq[String], deltaKeys: DataFrame, readVersion: Long,
      writer: String, reader: String, fix: String,
      maxAttempts: Int = 50): Long = {
    val id = claimNextId(path, writer, maxAttempts, after = readVersion)
    val clash = conflictingCommits(spark, path, keys, deltaKeys,
      readVersion, id)
    if (clash.nonEmpty) releaseClaim(path, id)
    require(clash.isEmpty,
      s"conflict: commits [${clash.mkString(", ")}] landed since $reader " +
        s"read version $readVersion of $path and touch this delta's keys " +
        s"— blind landing would lose those updates; $fix")
    id
  }

  // ---- Maintenance mutex: ONE maintenance actor per log -------------
  //
  // checkpoint/optimizeOps/vacuumRetain/resolveStaleTxn rewrite
  // shared state (the staging dir, the folded base, the horizon, the
  // vacuum) that the claim-per-commit protocol does not arbitrate —
  // before round 15 "one maintenance actor" was an ASSUMPTION. It is
  // now an enforced contract: every maintenance verb atomically
  // acquires `_graft_mx_maintenance` (rename-without-overwrite, the
  // claim primitive) and releases it on completion; a second concurrent
  // actor fails LOUDLY naming the holder instead of interleaving folds.
  // Ordinary writers (commit*/commitWithRetry) and readers never touch
  // it — writer-vs-maintenance safety is the horizon ordering, raced in
  // TopKChangelogSpec. A crash mid-maintenance leaves the marker
  // orphaned — the same operator-visible state as a crashed writer's
  // claim (clear it, re-run; every maintenance verb is re-runnable).

  private val MaintenanceMutex = "_graft_mx_maintenance"

  private def withMaintenanceMutex[T](path: String, actor: String)
      (body: => T): T = {
    val p = LogFs.child(path, MaintenanceMutex)
    require(LogFs.claimExclusive(p, actor), {
      val holder = scala.util.Try(LogFs.readString(p).trim)
        .getOrElse("<unknown>")
      s"maintenance mutex of $path is held by '$holder' — checkpoint/" +
        "OPTIMIZE are one-actor-at-a-time verbs; wait for it to finish, " +
        s"or clear the orphaned $MaintenanceMutex marker if its actor " +
        "crashed (every maintenance verb is safely re-runnable)"
    })
    try body finally LogFs.delete(p)
  }

  // ---- Operation metadata: commitInfo --------------------------------
  //
  // Commits record stats/stamps/claims but — before round 15 — not the
  // VERB or the writer: an operator could not ask "was commit 7 a
  // restore or a merge, and who wrote it?" (Delta's commitInfo). One
  // more marker closes it: `_graft_info_<id>`, content = verb, writer,
  // and the commit's ROW COUNT — the count read from the landed
  // directory's parquet FOOTERS (metadata-only, no data scan, and
  // derived from the final on-disk content so a torn write can never
  // record a count its files don't hold), counted through any
  // sub-partition directories (`_commit=v/bucket=K/`, from
  // [[commitIdempotent]]'s `alsoPartitionBy`). Written AFTER the data
  // lands by every verb; re-landing a deterministic delta recomputes
  // the identical marker (the redelivery contract). Markers are
  // OBSERVABILITY, never the read path: a commit without one reads
  // fine and surfaces null verb/writer in DESCRIBE HISTORY.

  /** The landed commit directory's exact row count and total
    * UNCOMPRESSED byte size, from parquet footer metadata only (one
    * open per data file, through any sub-partition directories, no
    * column IO). The bytes are the row groups' total_byte_size — the
    * number that bounds a consumer's in-memory batch, which is why the
    * CDC byte-budget admission reads this and not the file sizes.
    */
  def commitDirStats(path: String, commitId: Long): (Long, Long) =
    ParquetMeta.dirStats(commitDir(path, commitId))

  /** Record commit `commitId`'s operation metadata (verb, writer, and
    * the footer-derived row count). Public so custom landing paths
    * (the streaming sink) record their epochs too.
    */
  def writeCommitInfo(path: String, commitId: Long, verb: String,
                      writer: String): Unit = {
    // the marker is tab-delimited and line-oriented; a writer id is a
    // FREE-FORM caller option (LogSink / INSERT), so a tab or newline
    // in it would corrupt the marker and break commitInfos/DESCRIBE
    // HISTORY for the whole log — refuse at write time, loudly
    Seq("verb" -> verb, "writer" -> writer).foreach { case (what, v) =>
      require(!v.exists(c => c == '\t' || c == '\n' || c == '\r'),
        s"commitInfo $what '$v' contains a tab/newline — the info " +
          "marker is tab-delimited; use a flat identifier")
    }
    LogFs.writeAtomic(Marker.Info.at(path, commitId),
      s"v1\n$verb\t$writer\t${commitDirStats(path, commitId)._1}")
  }

  /** Land staged parquet files as commit `id` — the one landing of the
    * staged writers (the streaming sink's epochs, SQL INSERT, row-level
    * DML): the commit directory is replaced (a redelivered epoch
    * overwrites any complete or partial earlier attempt), each staged
    * file is renamed in as `part-%05d.parquet` in message order, a
    * failed rename fails loudly, and the info marker is written last.
    * No staged file leaves no directory, only the marker.
    */
  private[graft] def landStaged(path: String, id: Long, staged: Seq[String],
                                verb: String, writer: String): Unit = {
    val dir = commitDir(path, id)
    LogFs.delete(dir)
    if (staged.nonEmpty) LogFs.mkdirs(dir)
    staged.zipWithIndex.foreach { case (f, i) =>
      require(LogFs.fs(path).rename(new org.apache.hadoop.fs.Path(f),
          new org.apache.hadoop.fs.Path(dir, f"part-$i%05d.parquet")),
        s"failed to land staged $verb file $f into $dir")
    }
    writeCommitInfo(path, id, verb, writer)
  }

  /** All recorded operation metadata: commitId → (verb, writer, rows). */
  def commitInfos(path: String): Map[Long, (String, String, Long)] =
    commitInfos(Listing.of(path))

  private def commitInfos(l: Listing): Map[Long, (String, String, Long)] =
    l.ids(Marker.Info).map { case (id, s) =>
      val lines = LogFs.readString(s.getPath.toString).split("\n")
      require(lines.headOption.contains("v1"),
        s"unrecognized info marker format in ${s.getPath}")
      // bounded split: exactly (verb, writer, rows) — a malformed
      // marker (too few fields) still fails loudly on p(2)
      val p = lines(1).split("\t", 3)
      (id, (p(0), p(1), p(2).toLong))
    }.toMap

  /** [[describeHistory]]'s schema — shared with the SQL-addressable
    * history child table ([[GraftLogCatalog]]'s `cat.t.history`).
    */
  val HistorySchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("commit", LongType, nullable = false),
      StructField("verb", StringType), StructField("writer", StringType),
      StructField("info_rows", LongType),
      StructField("ts_millis", LongType)))
  }

  /** DESCRIBE HISTORY — one row per landed commit: id, the recorded
    * verb/writer/row-count (null where a commit predates the info
    * markers), and the commit's stamp when the log is clock-addressed.
    * Driver-side metadata assembly from one root listing plus the
    * markers' contents, O(commits).
    */
  def describeHistory(spark: SparkSession, path: String): DataFrame = {
    val l = Listing.of(path)
    val stamps = commitTimestamps(l).toMap
    val infos = commitInfos(l)
    val rows = l.commitIds.map { id =>
      org.apache.spark.sql.Row(id,
        infos.get(id).map(_._1).orNull,
        infos.get(id).map(_._2).orNull,
        infos.get(id).map(i => java.lang.Long.valueOf(i._3)).orNull,
        stamps.get(id).map(java.lang.Long.valueOf).orNull)
    }
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, HistorySchema)
  }

  /** [[describeDetail]]'s schema — shared with the SQL-addressable
    * detail child table ([[GraftLogCatalog]]'s `cat.t.detail`).
    */
  val DetailSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("keys", StringType),
      StructField("shape", StringType),
      StructField("head_version", LongType),
      StructField("horizon", LongType),
      StructField("num_commits", LongType),
      StructField("num_bases", LongType),
      StructField("num_data_files", LongType),
      StructField("size_bytes", LongType),
      StructField("evolved", BooleanType, nullable = false),
      StructField("renamed_columns", StringType),
      StructField("dropped_columns", StringType),
      StructField("check_constraints", StringType)))
  }

  /** DESCRIBE DETAIL — one row of table-level facts (Delta's
    * ergonomics): physical coordinates, shape, head/horizon, commit
    * and base counts, data-file count + on-disk bytes, and the
    * evolution state (union-read forced? renamed/dropped columns?).
    * Driver-side metadata assembly: one root listing plus one
    * recursive file listing of the commit directories — O(files),
    * the same order as any maintenance verb's sweep, never a data
    * job. Null horizon = nothing folded yet.
    */
  def describeDetail(spark: SparkSession, path: String,
                     keys: Seq[String]): DataFrame = {
    val l = Listing.of(path)
    val ids = l.commitIds
    require(ids.nonEmpty, s"$path has no commits — nothing to describe")
    val files = l.commitDirs.flatMap(d => ParquetMeta.dataFiles(d._2))
    val h = horizonOf(path)
    val m = mappingAt(l, Long.MaxValue).getOrElse(NoMapping)
    val row = org.apache.spark.sql.Row(
      path, keys.mkString(","),
      if (isOpsLog(l)) "ops" else "plain",
      java.lang.Long.valueOf(ids.max),
      if (h == Long.MinValue) null else java.lang.Long.valueOf(h),
      java.lang.Long.valueOf(ids.size.toLong),
      java.lang.Long.valueOf(l.ids(Marker.Base).size.toLong),
      java.lang.Long.valueOf(files.size.toLong),
      java.lang.Long.valueOf(files.map(_.getLen).sum),
      java.lang.Boolean.valueOf(isEvolvedLog(l)),
      m.renames.toSeq.sortBy(_._1)
        .map { case (p, lg) => s"$lg<-$p" }.mkString(","),
      m.dropped.toSeq.sorted.mkString(","),
      checkConstraints(l).toSeq.sortBy(_._1)
        .map { case (n, sql) => s"$n: CHECK ($sql)" }.mkString("; "))
    spark.createDataFrame(java.util.List.of(row), DetailSchema)
  }

  /** The dynamic-overwrite write itself, claim-free — the checkpoint
    * fold lands through this (it REWRITES an id that is legitimately
    * claimed by whoever committed it; its own guard is the horizon
    * ordering).
    */
  private def overwriteCommit(delta: DataFrame, path: String, commitId: Long,
                              alsoPartitionBy: Seq[String]): Unit =
    delta.withColumn(CommitCol, lit(commitId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(CommitCol +: alsoPartitionBy: _*).parquet(path)

  /** Append `delta` as commit `commitId`. Commit ids must be issued
    * monotonically by the caller (they are the version order); row-level
    * semantics are last-write-wins per key at read time, so a commit may
    * freely mix brand-new and replacing rows. The id is CLAIMED for
    * `writer` first — a different writer holding it fails loudly (see
    * the claim contract above; unnamed callers all share [[SoloWriter]]
    * and are unaffected).
    */
  def commit(delta: DataFrame, path: String, commitId: Long,
             writer: String = SoloWriter): Unit =
    commitVerbed(delta, path, commitId, writer, "append")

  /** Create a FRESH log at `path` with `tableSchema` and no rows: one
    * empty genesis commit (id 0, verb `create`) whose parquet footer
    * carries the declared schema — the first commit IS the schema
    * declaration, by the same induction [[requireMatchingShape]] runs
    * on. `ops = true` (the default, the table format's real shape)
    * appends the `_op` column; plain logs take the schema as-is. The
    * empty frame cannot ride [[commit]]'s dynamic partition overwrite
    * (zero rows land zero partitions — the [[checkpoint]] empty-fold
    * special case, shared here), so the genesis lands as an empty
    * schema commit pinned at id 0. Loud when `path` already holds
    * commits — CREATE makes a table; an existing log is ADOPTED by
    * registration, never re-created over.
    */
  def createLog(spark: SparkSession, path: String,
                tableSchema: org.apache.spark.sql.types.StructType,
                ops: Boolean = true, writer: String = SoloWriter): Unit = {
    require(!tableSchema.fieldNames.exists(n =>
      n.toLowerCase == CommitCol || n.toLowerCase == OpCol),
      s"the table schema carries a reserved column ($CommitCol/$OpCol)")
    require(Listing.of(path).commitIds.isEmpty,
      s"$path already holds commits — CREATE makes a fresh log; adopt " +
        "an existing one by registering it")
    val shape =
      if (ops) tableSchema.add(OpCol, org.apache.spark.sql.types.StringType)
      else tableSchema
    landEmptySchemaCommit(spark, path, shape, "create", writer,
      at = Some(0L)): Unit
  }

  /** SCHEMA EVOLUTION as a COMMIT (the q143/q185 law, packaged as a
    * verb): land ONE empty schema-bearing commit whose parquet footer
    * carries the union of the log's current column set and
    * `newFields` appended at the end. History is untouched — every
    * pinned footer below stays byte-identical, versioned reads below
    * the evolution see the old shape, and a mergeSchema read folds
    * the union with pre-evolution rows null-filling the new columns.
    * Columns can only be ADDED, nullable, top-level — a drop, rename,
    * or retype is a NEW TABLE (the rule every lakehouse format
    * without column-mapping metadata enforces), refused loudly.
    * Planning cost is one mergeSchema footer listing plus one empty
    * parquet write — no data is read or rewritten at any scale.
    * Returns the landed commit id.
    */
  def commitAddColumns(spark: SparkSession, path: String,
                       newFields: Seq[org.apache.spark.sql.types.StructField],
                       writer: String = SoloWriter): Long = {
    require(newFields.nonEmpty, "ADD COLUMNS needs at least one column")
    val current = unionSchema(spark, path).fields
    val existing = current.map(_.name.toLowerCase).toSet
    newFields.foreach { f =>
      // case-INSENSITIVE like the duplicate check below: under Spark's
      // default resolution `_COMMIT` collides with the `_commit`
      // partition column — a case-variant reserved name must refuse
      // just as loudly as the exact spelling
      require(f.name.toLowerCase != CommitCol &&
        f.name.toLowerCase != OpCol,
        s"column ${f.name} is a reserved changelog column")
      require(!existing.contains(f.name.toLowerCase),
        s"column ${f.name} already exists in the log at $path — " +
          "evolution only ADDS columns")
      require(f.nullable,
        s"added column ${f.name} must be NULLABLE — every " +
          "pre-evolution row null-fills it under the union read")
      require(graft.streaming.LogSink.supportedType(f.dataType),
        s"added column ${f.name} has type ${f.dataType} — outside " +
          "the log's supported type surface")
    }
    // on a COLUMN-MAPPED log the new name must also clear the LOGICAL
    // namespace: a physical footer check alone would admit a column
    // whose name collides with a renamed column's current logical
    // name, and the mapped read would then project two columns to one
    currentMapping(path).foreach { m =>
      val logical = current.map(f => m.logicalOf(f.name).toLowerCase)
        .toSet
      val retired = m.dropped.map(_.toLowerCase)
      newFields.foreach { f =>
        require(!logical.contains(f.name.toLowerCase),
          s"column ${f.name} collides with a LOGICAL (renamed) column " +
            s"of the mapped log at $path")
        // a DROPPED column's physical name is retired FOREVER — the
        // footer-union check holds it while pre-drop footers survive,
        // and this holds it after a checkpoint physically reclaimed
        // them (re-admitting the name would resurrect the dropped
        // column for time travel between the drop and the re-add)
        require(!retired.contains(f.name.toLowerCase),
          s"column ${f.name} is a RETIRED (dropped) column of the " +
            s"mapped log at $path — a dropped physical name never " +
            "comes back; pick a fresh name")
      }
    }
    // keep _op LAST (the ops-shape induction reads it as the final
    // field of every commit footer): new columns slot in before it
    val (ops, data) = current.partition(_.name == OpCol)
    val evolved = org.apache.spark.sql.types.StructType(
      data ++ newFields ++ ops)
    // the evolution marker lands FIRST (see EvolvedMarker: a
    // false-positive is a harmless mergeSchema read; the inverse
    // order risks silent column loss on a fresh registration)
    LogFs.writeAtomic(LogFs.child(path, EvolvedMarker), "v1")
    val id = landEmptySchemaCommit(spark, path, evolved, "add_columns",
      writer)
    id
  }

  /** The union (mergeSchema) schema of the log's footers, `_commit`
    * excluded — the shape every metadata-only schema verb lands.
    */
  private def unionSchema(spark: SparkSession, path: String)
      : org.apache.spark.sql.types.StructType =
    withoutCommitCol(readLog(spark, path, mergeSchema = true))

  private def withoutCommitCol(log: DataFrame)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      log.schema.filter(_.name != CommitCol))

  /** Land ONE empty commit whose parquet footer carries `shape` —
    * the shared substrate of every metadata-only schema verb
    * (create / add_columns / rename_column / drop_column): claims the
    * next id (or `at`), writes a zero-row parquet directory, records
    * the verb. No data is read or rewritten at any scale.
    */
  private def landEmptySchemaCommit(spark: SparkSession, path: String,
      shape: org.apache.spark.sql.types.StructType, verb: String,
      writer: String, markerFor: Option[Long => (String, String)] = None,
      at: Option[Long] = None): Long = {
    val id = at.fold(claimNextId(path, writer)) { id =>
      claimCommit(path, id, writer); id }
    val dir = commitDir(path, id)
    LogFs.delete(dir)
    spark.createDataFrame(java.util.List.of[org.apache.spark.sql.Row](),
      shape).write.mode("overwrite").parquet(dir)
    // the verb's state marker (mapping / constraint) lands BEFORE the
    // info marker: a crash between the two leaves the state ACTIVE
    // with a null verb in DESCRIBE HISTORY — a visible anomaly on an
    // already-recognized state (commits without info read fine) —
    // never the inverse (a recorded 'rename_column' whose mapping
    // silently never changed, which no reader could detect)
    markerFor.foreach { f =>
      val (marker, content) = f(id)
      LogFs.writeAtomic(marker, content)
    }
    writeCommitInfo(path, id, verb, writer)
    id
  }

  /** The SINGLETON evolution marker: written (idempotently) by the
    * first `add_columns` verb, BEFORE its commit lands — a crash
    * between the two leaves a false-positive marker, which is
    * harmless (the union read of a never-evolved log is still
    * correct, it merely pays mergeSchema planning), while the
    * inverse order could leave an evolved log that a fresh session
    * reads through one arbitrary footer, silently dropping columns.
    * Monotone by design — evolution is never un-happened — so
    * maintenance must NEVER sweep it (after a fold past the
    * evolution the union read stays correct; the marker then only
    * costs mergeSchema planning, the price of a provably-safe load).
    */
  private[graft] val EvolvedMarker = "_graft_evolved"

  /** True when the log's commit footers may carry DIFFERENT column
    * sets — an `add_columns` commit landed (the singleton
    * [[EvolvedMarker]]) or a mapped DROP is in force (commits landed
    * after the drop omit the dropped physical column). The table
    * surface reads this at EVERY load and FORCES the union
    * (mergeSchema) read on an evolved log, so a fresh session that
    * re-registers the table without remembering to pass mergeSchema
    * can never have Spark infer the schema from an arbitrary
    * pre-evolution footer and silently drop the added columns (the
    * registration flag becomes a no-op the log itself subsumes).
    * Load-path cost: the load's one root listing (the marker's
    * presence, and the mapping markers) — never a content read per
    * commit (the pre-marker implementation opened every
    * `_graft_info_*` marker at every load: a per-query GET storm at
    * object-store commit counts; spec-pinned at zero content reads
    * now). A log evolved
    * by a PRE-MARKER build of this library carries no marker — one
    * re-run of any evolving verb (or writing the marker by hand)
    * migrates it; this library's own verbs have always landed
    * through [[commitAddColumns]].
    */
  def isEvolvedLog(path: String): Boolean = isEvolvedLog(Listing.of(path))

  private[graft] def isEvolvedLog(l: Listing): Boolean =
    l.has(EvolvedMarker) ||
      mappingAt(l, Long.MaxValue).exists(_.dropped.nonEmpty)

  // ---- Column mapping: RENAME/DROP COLUMN as metadata ----------------
  //
  // Delta's columnMapping discipline, reduced to this format's marker
  // primitive: the parquet footers keep each column's PHYSICAL name
  // (its name at birth — create/add_columns time), and a tiny mapping
  // marker records the logical↔physical correspondence, so a rename
  // or drop is ONE empty commit + ONE marker — never a data rewrite,
  // at any scale. `_graft_mapping_<id>` carries the FULL mapping
  // state in force from commit `<id>` on (line-oriented:
  // `r<TAB>physical<TAB>logical` per renamed column, `d<TAB>physical`
  // per dropped column); a read at version v resolves through the
  // NEWEST marker ≤ v — no fold, and time travel below the rename
  // sees the old names for free. Mapping markers are never swept by
  // maintenance (they are the log's live name state, O(renames)
  // bytes); clones copy them like every other marker.
  //
  // Boundaries, all loud:
  //  - KEY columns never rename/drop — the key set is the table's row
  //    identity and lives in the REGISTRATION (session conf), not the
  //    log; renaming it would desynchronize every registered reader.
  //  - retype stays refused (a type change is a new table).
  //  - the change FEED maps when the mapping is STABLE across its
  //    window (tracked columns translate logical→physical for the
  //    diff, outputs rename back); a mapping commit strictly inside
  //    the window refuses loudly (one physical column, two names —
  //    ambiguous), whether or not the end-of-window mapping is empty
  //    (a rename-and-back still changed names mid-window). BOTH
  //    streams map — the TABLE's own stream and the FEED stream
  //    (physical diff, logical old_/new_ output, fingerprint-pinned
  //    per run — drift fails the batch, restart re-pins; historical
  //    mapping commits become batch boundaries in the source);
  //    streaming WRITES map like batch writes.
  //  - a dropped column's bytes remain in pre-drop footers until a
  //    checkpoint rewrite — Delta's semantics exactly; logical drop
  //    now, physical reclaim with maintenance.

  /** The logical↔physical name state of a mapped log. `renames` maps
    * PHYSICAL → LOGICAL (identity entries never stored); `dropped`
    * holds physical names whose column is logically deleted.
    */
  final case class ColumnMapping(renames: Map[String, String],
                                 dropped: Set[String]) {
    def logicalOf(physical: String): String =
      renames.getOrElse(physical, physical)
    lazy val physicalByLogical: Map[String, String] =
      renames.map(_.swap)
    def physicalOf(logical: String): String =
      physicalByLogical.getOrElse(logical, logical)
    def isEmpty: Boolean = renames.isEmpty && dropped.isEmpty
  }

  private val NoMapping = ColumnMapping(Map.empty, Set.empty)

  private def serializeMapping(m: ColumnMapping): String = {
    val rs = m.renames.toSeq.sortBy(_._1)
      .map { case (p, l) => s"r\t$p\t$l" }
    val ds = m.dropped.toSeq.sorted.map(p => s"d\t$p")
    ("v1" +: (rs ++ ds)).mkString("\n")
  }

  private def parseMapping(content: String): ColumnMapping = {
    val lines = content.split("\n")
    require(lines.headOption.contains("v1"),
      "unrecognized mapping marker format")
    val entries = lines.drop(1).filter(_.nonEmpty).map(_.split("\t", 3))
    ColumnMapping(
      entries.collect { case Array("r", p, l) => p -> l }.toMap,
      entries.collect { case Array("d", p) => p }.toSet)
  }

  /** The mapping in force at version `v` — the newest marker ≤ v;
    * None when the log has never been renamed/dropped below v.
    */
  def mappingAt(path: String, v: Long): Option[ColumnMapping] =
    mappingAt(Listing.of(path), v)

  private[graft] def mappingAt(l: Listing, v: Long): Option[ColumnMapping] =
    l.ids(Marker.Mapping).filter(_._1 <= v).lastOption
      .map(m => parseMapping(LogFs.readString(m._2.getPath.toString)))

  /** The mapping in force at the head (write-side coordinate). */
  def currentMapping(path: String): Option[ColumnMapping] =
    mappingAt(path, Long.MaxValue)

  /** Canonical fingerprint of the CURRENT mapping state — what a
    * mapped stream pins at start and re-checks per batch (drift =
    * restart). Empty string = no mapping.
    */
  def mappingFingerprint(path: String): String =
    mappingFingerprint(Listing.of(path))

  private[graft] def mappingFingerprint(l: Listing): String =
    mappingAt(l, Long.MaxValue).map(serializeMapping).getOrElse("")

  /** Whether a mapping commit lies in `(v0, v1]` — the feed's
    * window-stability probe (the names changed mid-window).
    */
  private[graft] def mappingMovedIn(l: Listing, v0: Long, v1: Long): Boolean =
    l.ids(Marker.Mapping).exists { case (id, _) => id > v0 && id <= v1 }

  /** Project a PHYSICAL-name frame to its LOGICAL shape under `m`:
    * dropped columns vanish, renamed columns surface their logical
    * name, everything else (including `_op`/`_commit` if present —
    * reserved names can never be mapped) passes through. Pure
    * projection — zero shuffle, participates in column pruning.
    */
  def applyMapping(df: DataFrame, m: ColumnMapping): DataFrame =
    df.select(df.columns.filterNot(m.dropped.contains)
      .map(c => col(c).as(m.logicalOf(c))).toIndexedSeq: _*)

  /** [[applyMapping]] for an optional mapping — the read-path form. */
  def applyMapping(df: DataFrame,
                   m: Option[ColumnMapping]): DataFrame =
    m.fold(df)(applyMapping(df, _))

  /** Rename every field of a LOGICAL-shape schema to its physical
    * name — the write-path inverse of [[applyMapping]] (positional:
    * the rows are untouched, only the staged parquet field names
    * change).
    */
  def toPhysicalSchema(schema: org.apache.spark.sql.types.StructType,
                       m: Option[ColumnMapping])
      : org.apache.spark.sql.types.StructType =
    m.fold(schema)(mm => org.apache.spark.sql.types.StructType(
      schema.fields.map(f => f.copy(name = mm.physicalOf(f.name)))))

  /** The log's current LOGICAL data columns (mapped names, dropped
    * columns excluded, reserved columns excluded) — the schema a SQL
    * user of the table sees, minus nothing. One footer-union listing.
    */
  def logicalColumns(spark: SparkSession, path: String): Seq[String] = {
    val m = currentMapping(path).getOrElse(NoMapping)
    unionSchema(spark, path).fieldNames.filter(_ != OpCol)
      .filterNot(m.dropped.contains).map(m.logicalOf).toSeq
  }

  /** Shared validation: resolve logical column `name` on the mapped
    * log (case-insensitive, the session default), refusing reserved
    * and KEY columns. Returns the column's PHYSICAL name with the
    * mapping and union schema it resolved against — the verb's one
    * mapping read and one union read.
    */
  private def resolveMappedColumn(spark: SparkSession, path: String,
      keys: Seq[String], name: String, verb: String)
      : (String, ColumnMapping, org.apache.spark.sql.types.StructType) = {
    require(!name.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"$verb column name '$name' contains a tab/newline — mapping " +
        "markers are tab-delimited; use a flat identifier")
    require(name.toLowerCase != CommitCol && name.toLowerCase != OpCol,
      s"$verb ${name}: reserved changelog column")
    require(!keys.exists(_.equalsIgnoreCase(name)),
      s"$verb $name: it is a KEY column — the key set is the table's " +
        "row identity and lives in the registration, not the log; " +
        "renaming or dropping it would desynchronize every registered " +
        "reader (re-key by writing a new table)")
    val m = currentMapping(path).getOrElse(NoMapping)
    val union = unionSchema(spark, path)
    val physical = union.fieldNames
      .filter(_ != OpCol).filterNot(m.dropped.contains)
    val hits = physical.filter(p =>
      m.logicalOf(p).equalsIgnoreCase(name))
    require(hits.nonEmpty,
      s"$verb $name: no such column on the log at $path — logical " +
        s"columns: [${physical.map(m.logicalOf).mkString(", ")}]")
    require(hits.length == 1,
      s"$verb $name: ambiguous under case-insensitive resolution " +
        s"(physical candidates: [${hits.mkString(", ")}])")
    (hits.head, m, union)
  }

  /** RENAME COLUMN as metadata: one empty commit (verb
    * `rename_column`, footers untouched — same physical union shape)
    * plus one mapping marker at that id. Reads at/above the commit
    * serve the new name; time travel below it serves the old; pinned
    * footers keep their physical names forever. Returns the landed
    * commit id.
    */
  def commitRenameColumn(spark: SparkSession, path: String,
      keys: Seq[String], oldName: String, newName: String,
      writer: String = SoloWriter): Long = {
    val (physical, m, union) = resolveMappedColumn(spark, path, keys,
      oldName, "RENAME COLUMN")
    require(!newName.exists(c => c == '\t' || c == '\n' || c == '\r'),
      s"RENAME COLUMN to '$newName' — mapping markers are " +
        "tab-delimited; use a flat identifier")
    require(newName.trim.nonEmpty, "RENAME COLUMN to an empty name")
    require(newName.toLowerCase != CommitCol &&
      newName.toLowerCase != OpCol,
      s"RENAME COLUMN to $newName: reserved changelog column")
    val otherLogical = union.map(_.name)
      .filter(n => n != OpCol && n != physical)
      .filterNot(m.dropped.contains).map(m.logicalOf)
    require(!otherLogical.exists(_.equalsIgnoreCase(newName)),
      s"RENAME COLUMN to $newName: collides with an existing logical " +
        s"column of the log at $path")
    val renamed =
      if (physical.equalsIgnoreCase(newName) && physical == newName)
        m.renames - physical // renamed back to its birth name
      else m.renames.updated(physical, newName)
    val next = m.copy(renames = renamed)
    landEmptySchemaCommit(spark, path, union, "rename_column",
      writer, markerFor = Some(id =>
        (Marker.Mapping.at(path, id), serializeMapping(next))))
  }

  /** DROP COLUMN as metadata: one empty commit (verb `drop_column`)
    * plus one mapping marker whose state retires the column's
    * physical name. The bytes in pre-drop footers remain until a
    * checkpoint rewrite (Delta's semantics — logical drop now,
    * physical reclaim with maintenance); commits landed after the
    * drop simply omit the column, which is why a mapped-drop log
    * reads through the union path ([[isEvolvedLog]]). The retired
    * physical name can never be re-added (the footer-union collision
    * check in [[commitAddColumns]] holds it). Returns the landed
    * commit id.
    */
  def commitDropColumn(spark: SparkSession, path: String,
      keys: Seq[String], name: String,
      writer: String = SoloWriter): Long = {
    val (physical, m, union) = resolveMappedColumn(spark, path, keys,
      name, "DROP COLUMN")
    val next = ColumnMapping(m.renames - physical, m.dropped + physical)
    landEmptySchemaCommit(spark, path, union, "drop_column", writer,
      markerFor = Some(id =>
        (Marker.Mapping.at(path, id), serializeMapping(next))))
  }

  // ---- Table CHECK constraints ---------------------------------------
  //
  // Delta's constraint discipline on this format's marker primitive:
  // `_graft_check_<name>` carries one constraint's predicate SQL
  // (spoken in the table's CURRENT LOGICAL column names), and adding/
  // dropping one is an empty properties commit (verbs
  // `add_constraint`/`drop_constraint` in DESCRIBE HISTORY) plus the
  // marker — never a data operation beyond the one-time validation of
  // existing rows at ADD time. Enforcement is everywhere a row can
  // land:
  //  - SQL writes (INSERT / UPDATE / MERGE / df.writeTo) ride Spark's
  //    OWN analyzer rule — LogTable.constraints() surfaces these as
  //    enforced Check constraints and ResolveTableConstraints injects
  //    the CheckInvariant filter into every V2WriteCommand/WriteDelta;
  //  - library verbs (commit/commitUpsert/commitIdempotent/
  //    commitWithRetry/restore) wrap the delta in
  //    [[withConstraintChecks]] — a guard PROJECTION inside the write
  //    job itself (raise_error on violation: no second scan, the
  //    write fails before landing a file);
  //  - streaming epochs validate their staged files at the driver's
  //    epoch commit, BEFORE any rename lands them.
  // Null semantics are SQL CHECK semantics: a predicate evaluating to
  // NULL passes. Tombstones (`_op = 'd'`, data columns all null) are
  // EXEMPT — a delete names a row, it does not write one. Maintenance
  // folds are pure rewrites of already-validated state and skip the
  // guard. RESTORE validates: rolling back to data that predates the
  // constraint refuses loudly (drop the constraint first) — stricter
  // than Delta's RESTORE, which silently resurrects violating rows.

  /** The log's CHECK constraints: name → predicate SQL (logical
    * column names). One tiny content read per constraint, from the
    * caller's listing — only ever paid on logs that declared one.
    */
  def checkConstraints(path: String): Map[String, String] =
    checkConstraints(Listing.of(path))

  private def checkConstraints(l: Listing): Map[String, String] =
    l.keyed(Marker.Check).map { case (name, s) =>
      val parts = LogFs.readString(s.getPath.toString).split("\n", 2)
      require(parts.headOption.contains("v1") && parts.length == 2,
        s"unrecognized constraint marker format in ${s.getPath}")
      (name, parts(1))
    }.toMap

  /** ADD CONSTRAINT <name> CHECK (<predicateSql>): validates the
    * predicate against the current LOGICAL schema AND the existing
    * rows (head snapshot — Delta's ADD CONSTRAINT discipline: a
    * constraint the data already violates refuses, naming the count),
    * then lands one empty properties commit + the marker. Returns the
    * landed commit id.
    */
  def addCheckConstraint(spark: SparkSession, path: String,
      keys: Seq[String], name: String, predicateSql: String,
      writer: String = SoloWriter, validated: Boolean = false): Long = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"constraint name '$name' must use only [A-Za-z0-9._-] — it " +
        "names the on-disk marker")
    require(predicateSql.trim.nonEmpty, "empty CHECK predicate")
    // one listing for the constraints, the head and the mapping, and
    // one union read for the head frame and the landed shape
    val l = Listing.of(path)
    require(!checkConstraints(l).contains(name),
      s"constraint $name already exists on $path — DROP it first")
    val head = l.head.getOrElse(
      throw new IllegalArgumentException(
        s"$path has no commits — create the log before constraining it"))
    val log = readLog(spark, path, mergeSchema = true)
    // resolve against the LOGICAL head frame: unknown/reserved names
    // and type errors refuse here, loudly, before anything lands
    val snap = applyMapping(snapshotOf(log, l, keys, head),
      mappingAt(l, Long.MaxValue))
    val pred = org.apache.spark.sql.functions.expr(predicateSql)
    require(snap.select(pred.cast("boolean")).schema.head.dataType ==
      org.apache.spark.sql.types.BooleanType, // analysis forced here
      s"CHECK ($predicateSql) is not a boolean predicate")
    // `validated = true` (the SQL path: AddCheckConstraintExec already
    // ran the violation count against the resolved snapshot) skips
    // the data scan — the schema/type resolution above still ran
    if (!validated) {
      val violating = snap.filter(!coalesce(pred, lit(true))).count()
      require(violating == 0L,
        s"cannot ADD CONSTRAINT $name CHECK ($predicateSql) on $path " +
          s"— $violating existing row(s) violate it")
    }
    landEmptySchemaCommit(spark, path, withoutCommitCol(log),
      "add_constraint",
      writer, markerFor = Some(_ =>
        (Marker.Check.at(path, name), s"v1\n$predicateSql")))
  }

  /** DROP CONSTRAINT: removes the marker (enforcement stops), then
    * records the verb as an empty commit — effect before record, like
    * every state verb here (a crash between the two leaves a dropped
    * constraint with no history line, never a recorded drop that
    * still enforces). Returns the landed commit id.
    */
  def dropCheckConstraint(spark: SparkSession, path: String,
      name: String, writer: String = SoloWriter): Long = {
    val declared = checkConstraints(path)
    require(declared.contains(name),
      s"no constraint named $name on $path — declared: " +
        s"[${declared.keys.toSeq.sorted.mkString(", ")}]")
    LogFs.delete(Marker.Check.at(path, name))
    landEmptySchemaCommit(spark, path, unionSchema(spark, path),
      "drop_constraint", writer)
  }

  /** Wrap a PHYSICAL-name delta in the log's constraint guards: each
    * row either passes every CHECK (null = pass, SQL semantics), is a
    * tombstone (exempt), or THROWS inside the write job itself —
    * raise_error in a guard projection, so enforcement adds no second
    * scan and no file lands. Constraint predicates speak LOGICAL
    * names; their column references translate to the delta's physical
    * spelling here. Zero-cost on unconstrained logs (no IO beyond the
    * caller's listing).
    */
  private def withConstraintChecks(delta: DataFrame,
                                   l: Listing): DataFrame = {
    val cs = checkConstraints(l)
    if (cs.isEmpty) return delta
    val m = mappingAt(l, Long.MaxValue).getOrElse(NoMapping)
    // guard in the LOGICAL namespace (the predicates' own): rename
    // every present column logical-ward, filter, rename back — two
    // pure projections bracketing the guard, zero shuffle, and
    // `expr(sql)` resolves the predicate exactly as the SQL surface
    // would (dropped columns, if a legacy delta still carries one,
    // pass through under their physical spelling — unreferencable by
    // any predicate, never lost)
    val logical = delta.select(delta.columns.map(c =>
      col(c).as(m.logicalOf(c))).toIndexedSeq: _*)
    val exempt =
      if (logical.columns.contains(OpCol)) col(OpCol) === "d"
      else lit(false)
    val rowJson = org.apache.spark.sql.functions.to_json(
      org.apache.spark.sql.functions.struct(
        logical.columns.filterNot(_ == OpCol).map(col).toIndexedSeq: _*))
    val guards = cs.toSeq.sortBy(_._1).map { case (name, sql) =>
      val pred = org.apache.spark.sql.functions.expr(sql)
      when(exempt || coalesce(pred, lit(true)), lit(true))
        .otherwise(org.apache.spark.sql.functions.raise_error(
          org.apache.spark.sql.functions.concat(
            lit(s"CHECK constraint $name ($sql) violated by row: "),
            coalesce(rowJson, lit("<row>")))).cast("boolean"))
    }
    logical.filter(guards.reduce(_ && _))
      .select(delta.columns.map(c =>
        col(m.logicalOf(c)).as(c)).toIndexedSeq: _*)
  }

  /** Driver-side validation of a streaming epoch's STAGED files
    * before any of them land — the stream-sink leg of constraint
    * enforcement (the epoch's rows exist only as staged parquet by
    * the time the driver commits it). One read of the epoch's own
    * files on the schema they were staged with, only on constrained
    * logs.
    */
  private[graft] def validateStagedConstraints(spark: SparkSession,
      path: String, stagedFiles: Seq[String],
      stagedSchema: org.apache.spark.sql.types.StructType): Unit = {
    if (stagedFiles.isEmpty) return
    val l = Listing.of(path)
    if (checkConstraints(l).isEmpty) return
    val staged = spark.read.schema(stagedSchema).parquet(stagedFiles: _*)
    // the guard throws inside the count job on the first violation
    withConstraintChecks(staged, l).count(): Unit
  }

  /** [[commit]] with the verb the info marker records — the internal
    * entry every higher verb (upsert/delete/merge/restore) routes
    * through so DESCRIBE HISTORY names the operation, not the plumbing.
    * `overwrite` (the sub-partition columns) lands it as
    * [[commitIdempotent]]'s dynamic overwrite instead of an append.
    */
  private def commitVerbed(delta: DataFrame, path: String, commitId: Long,
                           writer: String, verb: String,
                           overwrite: Option[Seq[String]] = None): Unit = {
    require(commitId >= 0, s"commitId must be >= 0, got $commitId")
    require(!delta.columns.contains(CommitCol),
      s"Changelog reserves column name $CommitCol; rename it on the input")
    val l = Listing.of(path)
    requireMatchingShape(delta, l)
    claimCommit(path, commitId, writer)
    val checked = withConstraintChecks(delta, l)
    overwrite match {
      case Some(by) => overwriteCommit(checked, path, commitId, by)
      case None => checked.withColumn(CommitCol, lit(commitId))
        .write.partitionBy(CommitCol).mode("append").parquet(path)
    }
    writeCommitInfo(path, commitId, verb, writer)
  }

  /** Append-or-replace commit `commitId` IDEMPOTENTLY: a dynamic
    * partition overwrite of this commit's own `_commit=<v>` directory
    * (plus any `alsoPartitionBy` sub-dirs present in the delta). A
    * re-delivered write of the SAME deterministic delta — the
    * Structured Streaming foreachBatch retry contract — lands
    * byte-identically on top of any complete or partial earlier
    * attempt, while every other commit's directory is untouched. This
    * is what makes a changelog the exactly-once substrate: the writer
    * keys physical placement by the commit id it was told, so the
    * storage layer absorbs at-least-once delivery. The claim makes the
    * "same writer" premise of that contract EXPLICIT: redelivery is
    * the same writer re-landing its own id (allowed, byte-identical);
    * a DIFFERENT writer overwriting a held id is a conflict and fails
    * loudly before touching any file.
    */
  def commitIdempotent(delta: DataFrame, path: String, commitId: Long,
                       alsoPartitionBy: Seq[String] = Nil,
                       writer: String = SoloWriter): Unit =
    commitVerbed(delta, path, commitId, writer, "append",
      Some(alsoPartitionBy))

  /** The OCC conflict window of [[claimSerializable]]: the landed
    * commits in `(readVersion, target)` whose rows intersect
    * `deltaKeys` — empty means the claimed `target` serializes cleanly
    * after the read. The window is every id CLAIMED OR LANDED since
    * the read: a claimed-but-still-writing commit's keys are
    * unknowable, so each in-flight window id is awaited until its
    * data lands (direct landings finish with
    * `_SUCCESS`; append landings show their data files at job commit)
    * or its claim is released (a refused writer deletes its claim). A
    * claimant that crashed before landing blocks the window — bounded
    * wait, then loud failure naming the id (the operator clears the
    * orphaned claim; silently skipping it could lose a conflict).
    * Base commits are pure rewrites — they conflict with nothing.
    * Driver-side listing + ONE key-semi-join over only the window's
    * directories: O(commits landed since the read), never O(table).
    */
  private def conflictingCommits(spark: SparkSession, path: String,
                                 keys: Seq[String], deltaKeys: DataFrame,
                                 readVersion: Long,
                                 target: Long): Seq[Long] = {
    val l = Listing.of(path)
    val bases = l.ids(Marker.Base).map(_._1).toSet
    val windowIds = (l.commitIds ++ l.ids(Marker.Claim).map(_._1))
      .filter(id => id > readVersion && id < target &&
        !bases.contains(id))
      .distinct.sorted
    def landed(id: Long): Boolean = {
      val dir = commitDir(path, id)
      LogFs.exists(LogFs.child(dir, "_SUCCESS")) ||
        ParquetMeta.dataFiles(dir).hasNext
    }
    val landedSince = windowIds.filter { id =>
      val deadline = System.currentTimeMillis() + 60000L
      var in = landed(id)
      var claimed = claimHolder(path, id).isDefined
      while (!in && claimed) {
        require(System.currentTimeMillis() < deadline,
          s"commit $id of $path has been claimed but unlanded for " +
            "60s — its writer likely crashed mid-commit; clear the " +
            s"orphaned ${Marker.Claim.prefix}$id marker to unblock writers")
        Thread.sleep(25L)
        in = landed(id)
        claimed = claimHolder(path, id).isDefined
      }
      in
    }
    if (landedSince.isEmpty) Nil
    else {
      val landedDf = spark.read.option("basePath", path).parquet(
        landedSince.map(commitDir(path, _)): _*)
      val clash = landedDf.select(keys.map(col): _*)
        .join(deltaKeys.select(keys.map(col): _*), keys, "left_semi")
      if (clash.isEmpty) Nil else landedSince
    }
  }

  /** Release a claim marker whose id was never landed — the refused
    * writer's cleanup (leaving it would poison the id for every later
    * writer).
    */
  private[graft] def releaseClaim(path: String, commitId: Long): Unit =
    LogFs.delete(Marker.Claim.at(path, commitId))

  /** OPTIMISTIC MULTI-WRITER COMMIT — the Delta/Iceberg commit loop on
    * the claim primitive. The caller computed `delta` against the log
    * state AS OF `readVersion` (pass the head it read; −1 for a fresh
    * log) and wants it landed at the next free id:
    *
    *  1. [[claimSerializable]] claims the next id above every landed
    *     or claimed commit and `readVersion` for `writer` — a lost
    *     claim race advances past the id (bounded by `maxAttempts`) —
    *     and, holding it, runs CONFLICT DETECTION: any commit landed
    *     in (readVersion, target) whose keys intersect this delta's
    *     keys means the state this delta was derived from has changed
    *     underneath it — blind landing would silently lose that
    *     writer's update (write skew). The claim is RELEASED and the
    *     failure is loud: the caller must re-derive against the new
    *     head (an automatic retry cannot — only the caller knows how
    *     to recompute the delta). Key-DISJOINT concurrent commits
    *     serialize cleanly in either order, so they simply land —
    *     the same serializability contract Delta documents;
    *  2. land the delta (a direct write) and return the landed id.
    *
    * Scale: the claim is one marker create; conflict detection lists
    * the (readVersion, target) window driver-side and key-joins ONLY
    * those commit directories against the delta's keys — O(commits
    * landed since the read), never O(table).
    */
  def commitWithRetry(spark: SparkSession, path: String, keys: Seq[String],
                      delta: DataFrame, readVersion: Long, writer: String,
                      maxAttempts: Int = 5): Long = {
    require(maxAttempts >= 1, s"maxAttempts must be >= 1, got $maxAttempts")
    require(!delta.columns.contains(CommitCol),
      s"Changelog reserves column name $CommitCol; rename it on the input")
    val l = Listing.of(path)
    requireMatchingShape(delta, l)
    val target = claimSerializable(spark, path, keys,
      delta.select(keys.map(col): _*), readVersion, writer,
      s"writer '$writer'",
      "re-derive the delta against the new head and commit again",
      maxAttempts)
    // land DIRECTLY into the claimed commit directory (partition value
    // rides on the dir name, like every partitioned write): the claim
    // guarantees this writer owns the dir, and a direct write gives
    // each concurrent writer its OWN job-staging namespace — a
    // shared-root append would collide in the committer's
    // `_temporary/0` under exactly the concurrency this method exists
    // for
    withConstraintChecks(delta, l).write.mode("overwrite")
      .parquet(commitDir(path, target))
    writeCommitInfo(path, target, "occ-append", writer)
    target
  }

  // ---- Reads: one snapshot, one feed, one fold -----------------------
  //
  // A log has one of two shapes, fixed by its first commit and kept
  // uniform by [[requireMatchingShape]]: PLAIN rows are all upserts,
  // OPS rows carry [[OpCol]] (`u` upsert / `d` tombstone). A plain log
  // reads as an ops log whose `_op` column is missing and reads as
  // `u`, so [[snapshotAt]], [[changesBetween]] and [[checkpoint]] take
  // the shape from the schema Spark inferred for their own scan
  // (`columns.contains(OpCol)` — no extra IO) and pick:
  //  - the version order: `_commit` (plain) or [[opsVersion]] (ops —
  //    a tombstone wins an equal-commit tie);
  //  - the window: commits ≤ v (plain — the bare partition filter) or
  //    `[newest base ≤ v, v]` (ops — base commits are OPTIMIZE
  //    rewrites, which only ops logs land);
  //  - liveness: none (plain) or `_op = 'u'` AFTER the per-key
  //    reduction (ops), so a key deleted then re-inserted resolves
  //    purely by commit order.
  // Callers never choose an entry point by shape.

  private def isOps(df: DataFrame): Boolean = df.columns.contains(OpCol)

  /** The log's scan: `mergeSchema` folds every commit's footer into
    * the union schema (an EVOLVED log — pre-evolution rows null-fill
    * the later columns); the default infers from one footer, the
    * planning cost the fixed-schema hot path must not silently pay.
    */
  private def readLog(spark: SparkSession, path: String,
                      mergeSchema: Boolean): DataFrame =
    if (mergeSchema) spark.read.option("mergeSchema", "true").parquet(path)
    else spark.read.parquet(path)

  /** `log` pruned to the commits a read AS OF `v` must consider — both
    * partition filters, so later (and, on an ops log, pre-base) commit
    * directories are never opened. Only an ops log needs the listing.
    */
  private def window(log: DataFrame, l: => Listing, v: Long): DataFrame = {
    val upTo = log.filter(col(CommitCol) <= v)
    val floor = if (isOps(log)) l.baseFloor(v) else Long.MinValue
    if (floor == Long.MinValue) upTo
    else upTo.filter(col(CommitCol) >= floor)
  }

  /** [[compact]]'s per-key rank; never in its output. */
  private val RankCol = "_graft_rank"

  /** Keyed last-write-wins in the shape's version order: the keys, then
    * the other columns in log order, `_commit` and `_op` kept for the
    * caller. Plans as Exchange → Sort → WindowGroupLimit → Window →
    * Filter: one hash shuffle on the keys, then one sort per reduce
    * task, each key keeping its newest row. The explicit repartition
    * keeps that sort after the shuffle (without it the partial group
    * limit sorts the scan map-side); it is elided when the input is
    * already hash-partitioned on the keys (the feed's sort-merge
    * semi-join). A partial combine before the shuffle (`max_by`, as in
    * [[graft.transform.Upsert.latestByKey]]) pays off only when many
    * versions of a key share one input partition; a log holds about
    * one version per key, and on Spark 4.1 that aggregate sorts every
    * row on both sides of the exchange. Two rows of one key in one
    * commit tie, and the tie picks an arbitrary row, as `max_by` did;
    * on an ops log [[opsVersion]] breaks a tombstone/upsert tie.
    */
  private def compact(rows: DataFrame, keys: Seq[String]): DataFrame = {
    val version = if (isOps(rows)) opsVersion else col(CommitCol)
    val newest = Window.partitionBy(keys.map(col): _*).orderBy(version.desc)
    rows.repartition(keys.map(col): _*)
      .withColumn(RankCol, row_number().over(newest))
      .filter(col(RankCol) === 1)
      .select((keys ++ rows.columns.filterNot(keys.contains)).map(col): _*)
  }

  /** A compaction's LIVE rows, data columns only. */
  private def live(state: DataFrame): DataFrame =
    if (isOps(state)) state.filter(col(OpCol) === "u").drop(CommitCol, OpCol)
    else state.drop(CommitCol)

  /** The table as of commit `v` (inclusive): keyed last-write-wins over
    * the partition-pruned commits ≤ v, tombstoned keys removed on an
    * ops log. Returns the data columns only — `_commit` is the log's
    * coordinate, not the table's. `mergeSchema` reads an EVOLVED log
    * (columns added over its life, [[commitAddColumns]]) through the
    * union of its footers; columns can only be ADDED — a type change
    * or rename is a new table (or a column mapping, applied above this
    * physical read).
    */
  def snapshotAt(spark: SparkSession, path: String, keys: Seq[String],
                 v: Long, mergeSchema: Boolean = false): DataFrame = {
    requireAboveHorizon(path, v, "snapshot version")
    snapshotOf(readLog(spark, path, mergeSchema), Listing.of(path), keys, v)
  }

  /** [[snapshotAt]] over a log scan the caller already holds. */
  private def snapshotOf(log: DataFrame, l: => Listing, keys: Seq[String],
                         v: Long): DataFrame =
    live(compact(window(log, l, v), keys))

  /** CHANGE DATA FEED between two snapshots — every key whose state
    * differs between AS OF `v0` and AS OF `v1`, labeled `insert`,
    * `update` or `delete` (ops logs only — a plain log has no
    * tombstones), with old/new values side by side. NET semantics: a
    * key deleted AND re-inserted inside the window reports as one
    * update/insert, the churn every CDC consumer wants collapsed.
    * Computed the changelog-native way: O(delta), never two full
    * snapshots diffed.
    *
    *  - candidate keys come ONLY from commits in (v0, v1] (partition-
    *    pruned — a key untouched in the window cannot have changed and
    *    is never read; base commits are pure rewrites and excluded);
    *  - both endpoint states are the keyed compaction over the window
    *    ≤ v SEMI-JOINED to the candidates first, so it runs on
    *    O(touched × history-per-key), not the table;
    *  - old live → new live with tracked columns differing →
    *    `update`; equal → SUPPRESSED (the no-op-churn filter, null-
    *    safe: null→x and x→null are changes, null→null is not);
    *  - old absent-or-tombstoned → new live → `insert`;
    *  - old live → new tombstoned → `delete` (old values carried, new
    *    side null — the downstream retraction needs the olds).
    *
    * `trackCols` scopes the diff to the measures the consumer cares
    * about; pass all non-key columns for a whole-row feed. Three
    * pruned passes over the log, deliberately NOT materialized between
    * them: the read is side-effect-free, and keeping the plan lazy
    * lets AQE size each pass independently.
    */
  def changesBetween(spark: SparkSession, path: String,
                     keys: Seq[String], v0: Long, v1: Long,
                     trackCols: Seq[String],
                     keyFilter: Option[String] = None): DataFrame = {
    require(v0 < v1, s"need v0 < v1, got $v0 >= $v1")
    requireAboveHorizon(path, v0, "change-feed start version v0")
    // loud contract on generated names (the strideOrder discipline):
    // a key named change_type / _old_live, or a tracked column whose
    // old_/new_ form collides with a key, would silently clobber
    val generated = Set("change_type", "_old_live", "_new_live") ++
      trackCols.flatMap(c => Seq(s"old_$c", s"new_$c"))
    require(keys.forall(!generated.contains(_)),
      s"key columns collide with generated feed columns: " +
        keys.filter(generated.contains).mkString(", "))
    val log = spark.read.parquet(path)
    val ops = isOps(log)
    lazy val l = Listing.of(path)
    // base commits are pure rewrites (zero changes): excluding them
    // from the candidate scan keeps the feed O(delta) across an
    // OPTIMIZE — without it, a window containing a base would treat
    // the whole table as touched (then suppress every no-op: correct
    // but O(table))
    val basesInWindow =
      if (ops) l.ids(Marker.Base).map(_._1).filter(id => id > v0 && id <= v1)
      else Nil
    val candidateCommits = {
      val inWindow = col(CommitCol) > v0 && col(CommitCol) <= v1
      if (basesInWindow.isEmpty) inWindow
      else inWindow && !col(CommitCol).isin(basesInWindow: _*)
    }
    // keyFilter is the SELECTIVE-feed knob (one tenant's keys out of a
    // shared log): a boolean SQL expression over the KEY columns,
    // applied to the touched-key set BEFORE the two endpoint
    // compactions — both left_semi joins then carry only matching
    // keys, so a consumer of an f-fraction slice pays O(f · delta),
    // not O(delta)-then-filter. Equivalent to filtering the full feed
    // (each key's labels are independent of other keys) — spec-pinned.
    // The key-columns-only precondition is checked by PARSING the
    // expression's references, not by trusting analysis: Spark's
    // ResolveMissingReferences would happily resolve a non-key column
    // back THROUGH the projection and filter by pre-compaction row
    // values — silently wrong (which version of the key's value?).
    keyFilter.foreach { f =>
      val refs = spark.sessionState.sqlParser.parseExpression(f)
        .collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.name
        }
      require(refs.nonEmpty && refs.forall(keys.contains),
        s"keyFilter may reference only the key columns " +
          s"[${keys.mkString(", ")}]; got [${refs.mkString(", ")}] — a " +
          "non-key column has no single value per key before the " +
          "compaction, so pruning by it would be silently wrong")
    }
    val touchedAll = log.filter(candidateCommits)
      .select(keys.map(col): _*).distinct()
    val touched = keyFilter.fold(touchedAll)(f => touchedAll.filter(expr(f)))
    def stateAt(v: Long) =
      compact(window(log, l, v).join(touched, keys, "left_semi"), keys)
    // a plain row is always an upsert
    val isLive = if (ops) col(OpCol) === "u" else lit(true)
    val newSide = stateAt(v1).select(
      keys.map(col) ++ trackCols.map(c => col(c).as(s"new_$c")) :+
        isLive.as("_new_live"): _*)
    val oldSide = stateAt(v0).select(
      keys.map(col) ++ trackCols.map(c => col(c).as(s"old_$c")) :+
        isLive.as("_old_live"): _*)
    val changed = trackCols
      .map(c => differsNullSafe(col(s"old_$c"), col(s"new_$c"),
        log.schema(c).dataType))
      .reduce(_ || _)
    val oldLive = coalesce(col("_old_live"), lit(false))
    val newLive = coalesce(col("_new_live"), lit(false))
    // without tombstones every candidate is live at v1, so the plain
    // feed's left join IS the full outer join
    newSide.join(oldSide, keys, if (ops) "full_outer" else "left")
      .withColumn("change_type",
        when(oldLive && newLive && changed, lit("update"))
          .when(!oldLive && newLive, lit("insert"))
          .when(oldLive && !newLive, lit("delete")))
      .filter(col("change_type").isNotNull)
      .drop("_old_live", "_new_live")
  }

  // ---- Ops log: the DELETE path (tombstones) ------------------------
  //
  // A plain changelog is append-only last-write-wins — deletes cannot
  // occur (its feed is insert/update only). The OPS log closes that
  // hole the way every lakehouse format does: each row carries an
  // operation column (`_op` = "u" upsert / "d" delete tombstone), a
  // snapshot is the keyed LWW compaction with tombstoned keys
  // filtered OUT, and the change feed gains the `delete` label.
  // Tombstones are ordinary rows — a delete commit is still O(delta)
  // appended metadata+keys, and snapshots still partition-prune and
  // compact with the same top-1 window. Checkpointing PHYSICALLY
  // ERASES tombstoned history: the fold keeps only live rows, so after
  // `checkpoint(v)` no file below the horizon holds the deleted rows'
  // data — the right-to-be-forgotten guarantee a logical tombstone
  // alone never gives.

  val OpCol = "_op"

  /** Ops-compaction version order: (commit id, op rank) with the
    * TOMBSTONE ranked ABOVE the upsert at equal commit id. A single
    * commit carrying both an upsert and a tombstone for one key is a
    * realistic interleave (a streaming CDC micro-batch mixing an
    * update and a later delete of the same key, landed under one
    * batchId) and the commit id alone would tie arbitrarily — whether
    * the key survived would be nondeterministic. Precedence is DELETE
    * WINS: deterministic, and the conservative reading of "the batch's
    * last word on this key included a delete". Callers who need
    * intra-commit ordering finer than that must split the commit.
    */
  private def opsVersion: org.apache.spark.sql.Column =
    struct(col(CommitCol),
      when(col(OpCol) === "d", lit(1)).otherwise(lit(0)))

  /** Append `delta` as UPSERT rows of ops-commit `commitId`. */
  def commitUpsert(delta: DataFrame, path: String, commitId: Long,
                   writer: String = SoloWriter): Unit = {
    require(!delta.columns.contains(OpCol),
      s"Changelog reserves column name $OpCol; rename it on the input")
    commitVerbed(delta.withColumn(OpCol, lit("u")), path, commitId, writer,
      "upsert")
  }

  /** Append TOMBSTONES for `keys` as ops-commit `commitId`. The keys
    * frame must hold exactly the key columns; every data column is
    * null-filled from the log's OWN schema (footer-only planning — a
    * delete can only target an existing log, and deriving the schema
    * from the log means a caller cannot commit tombstones whose shape
    * silently diverges from the table's).
    */
  def commitDelete(spark: SparkSession, keys: DataFrame, path: String,
                   commitId: Long): Unit = {
    // union schema on purpose: after evolution a single-footer read
    // could derive a pre-evolution tombstone shape; deletes are rare
    // enough that the footer-merge planning cost is the right trade
    val schema = spark.read.option("mergeSchema", "true").parquet(path).schema
    require(schema.fieldNames.contains(OpCol),
      s"$path is not an ops log (no $OpCol column) — deletes need " +
        "commitUpsert/commitDelete from the start")
    val keyCols = keys.columns.toSet
    require(keyCols.subsetOf(schema.fieldNames.toSet),
      s"tombstone keys [${keys.columns.mkString(", ")}] not all present " +
        s"in the log schema [${schema.fieldNames.mkString(", ")}]")
    // type equality is part of the contract: a diverging key type
    // (IntegerType keys into a LongType log) would append a commit
    // whose parquet physical type differs from the rest of the log,
    // silently poisoning later single-footer reads — fail loudly, the
    // caller casts
    keys.schema.fields.foreach { kf =>
      val logType = schema(kf.name).dataType
      require(kf.dataType == logType,
        s"tombstone key ${kf.name} has type ${kf.dataType} but the log " +
          s"stores $logType — cast the keys frame to the log's type")
    }
    val full = schema.fields
      .filter(f => f.name != CommitCol && f.name != OpCol)
      .map { f =>
        if (keyCols.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }
    commitVerbed(keys.select(full.toIndexedSeq: _*)
      .withColumn(OpCol, lit("d")), path, commitId, SoloWriter, "delete")
  }

  // ---- Base commits: OPTIMIZE without losing history ----------------
  //
  // A `_graft_base_<id>` marker declares commit id a SELF-CONTAINED
  // base: the commit holds the COMPLETE live state as of itself (a
  // pure rewrite — zero logical changes, Delta's dataChange=false).
  // Three read-path consequences, each sound because the base is
  // complete and change-free:
  //  - snapshots/lookups at w ≥ base need only commits in [base, w] —
  //    every key untouched since the base has its row IN the base, and
  //    a key dead at the base is absent from it and stays dead unless
  //    re-inserted later (partition-pruned: at a 10k-commit log the
  //    post-OPTIMIZE read cost is O(commits since the base));
  //  - change feeds EXCLUDE base ids from the candidate scan — a pure
  //    rewrite contains no changes, and without the exclusion a window
  //    crossing the base would scan the whole table as "touched"
  //    (every candidate then suppressed: correct, but O(table));
  //  - commitWithRetry's conflict detection ignores base ids — a
  //    rewrite conflicts with nothing.
  // Markers are swept with their commits by the vacuum and travel with
  // clones, like stats markers.

  /** All base-commit ids of the log, ascending. */
  def baseIds(path: String): Seq[Long] =
    Listing.of(path).ids(Marker.Base).map(_._1)

  /** OPTIMIZE AT HEAD WITHOUT LOSING HISTORY — what a clustered
    * [[checkpoint]] deliberately is not: recluster the
    * current live state into ONE new commit `newCommitId` (landed via
    * [[ZOrderLayout.rangeClustered]]: `numFiles` files placed by the
    * arithmetic range of `clusterCol`, sorted within each), marked as
    * a BASE, with its commit-stats marker written — while EVERY
    * historical version stays readable (no horizon advance, no
    * vacuum; a later [[checkpoint]] reclaims the superseded
    * history when retention allows). The base is a pure rewrite:
    * snapshots at any w (before or after `newCommitId`) are
    * value-identical to pre-OPTIMIZE reads, feeds skip it, and reads
    * at the optimized head prune to `[newCommitId, head]` commits and
    * then to the key-range files within the base — commit skipping,
    * base pruning, and parquet row-group skipping compose.
    *
    * Lands under `writer`'s claim like any commit (the id is NEW —
    * a concurrent writer racing it loses or wins the claim loudly).
    * `clusterCol` must be a key column (the stats precondition) with
    * non-negative long values in `[0, domain)` on every live row.
    */
  def optimizeOps(spark: SparkSession, path: String, keys: Seq[String],
                  newCommitId: Long, clusterCol: String, domain: Long,
                  numFiles: Int, writer: String = SoloWriter): Unit = {
    optimizeLanding(spark, path, keys, newCommitId, writer,
      statsCols = Seq(clusterCol))(
      ZOrderLayout.rangeClustered(_, clusterCol, domain, numFiles))
  }

  /** [[optimizeOps]] for a STRING cluster key — the documents-log shape
    * (q218): placement is exact equal-depth in UTF-8 key order via the
    * q188 bucketed-prefix rank kernel
    * ([[ZOrderLayout.rankClusteredString]] — no single-task sort, no
    * sampling), the remaining key columns break ties so the order is
    * total, and the base's multi-column stats marker records the
    * string min/max that [[lookup]] skips by. Same
    * contract as the numeric form: a pure rewrite under the
    * maintenance mutex, history intact, snapshots value-identical.
    */
  def optimizeOpsString(spark: SparkSession, path: String,
                        keys: Seq[String], newCommitId: Long,
                        clusterCol: String, numFiles: Int,
                        writer: String = SoloWriter): Unit = {
    optimizeLanding(spark, path, keys, newCommitId, writer,
      statsCols = Seq(clusterCol))(
      ZOrderLayout.rankClusteredString(_, clusterCol, numFiles,
        tieBreakCols = keys.filterNot(_ == clusterCol)))
  }

  /** [[optimizeOps]] on TWO cluster dimensions — the 2-D
    * [[ZOrderLayout]] placement wired into the ops-log base fold: the
    * live state lands as `numFiles` files placed by the arithmetic
    * range of the Morton interleave of (xCol, yCol), so box predicates
    * over BOTH dimensions prune files (the q73 slice law, now on the
    * table format's base), and the base's stats marker records BOTH
    * columns' min/max (the q202 multi-column form) so commit-level
    * skipping works on either dimension. Both columns must be key
    * columns (non-null by construction; the skipping soundness rule)
    * with values in `[0, 2^bits)`.
    */
  def optimizeOpsZOrder(spark: SparkSession, path: String,
                        keys: Seq[String], newCommitId: Long,
                        xCol: String, yCol: String, bits: Int,
                        numFiles: Int, writer: String = SoloWriter): Unit =
    optimizeLanding(spark, path, keys, newCommitId, writer,
      statsCols = Seq(xCol, yCol))(
      ZOrderLayout.zClustered(_, xCol, yCol, bits, numFiles))

  /** The shared OPTIMIZE landing: fold the live head state, place it
    * with `place`, land under the claim + maintenance mutex, record
    * the stats/base/info markers. Every stats column must be a key
    * column: the base's marker feeds [[lookup]], whose skipping is
    * only sound on key columns. Marker ORDER is the crash-safety
    * law: stats before base. A crash after the data landed but before
    * the markers leaves an ordinary (unmarked) commit — reads stay
    * correct, only un-pruned; re-run under the same id to finish (the
    * claim is held by this writer).
    */
  private def optimizeLanding(spark: SparkSession, path: String,
                              keys: Seq[String], newCommitId: Long,
                              writer: String, statsCols: Seq[String])
                             (place: DataFrame => DataFrame): Unit = {
    statsCols.foreach(c => require(keys.contains(c),
      s"cluster column $c must be one of the key columns " +
        s"[${keys.mkString(", ")}] — the base's stats marker feeds " +
        "lookup, whose skipping is only sound on key columns"))
    withMaintenanceMutex(path, s"optimize@$newCommitId:$writer") {
      val l = Listing.of(path)
      val head = l.head.getOrElse(throw new IllegalArgumentException(
        s"$path has no commits to optimize"))
      require(newCommitId > head,
        s"optimize must land as a NEW commit above the head $head of " +
          s"$path, got $newCommitId — rewriting an existing commit would " +
          "destroy the changes it carried")
      claimCommit(path, newCommitId, writer)
      val staging = s"${path.stripSuffix("/")}__opt_staging_v$newCommitId"
      LogFs.delete(staging)
      // the base is a pure rewrite of the live state — logically-dropped
      // columns are projected out of it (the checkpoint fold's reclaim
      // law: every read served FROM the base is at/above the base, and
      // drops only accumulate, so no reachable read wants those bytes;
      // reads below the base open the original commits, untouched)
      val folded = compact(
        window(readLog(spark, path, mergeSchema = true), l, head), keys)
      require(isOps(folded),
        s"$path is a PLAIN log — an OPTIMIZE base is an ops rewrite; " +
          "cluster a plain log's fold with checkpoint(..., cluster)")
      reclaimDropped(live(folded), l, head)
        .withColumn(OpCol, lit("u"))
        .write.mode("overwrite").parquet(staging)
      val staged = spark.read.parquet(staging)
      val dir = commitDir(path, newCommitId)
      if (staged.isEmpty) staged.write.mode("overwrite").parquet(dir)
      else place(staged).write.mode("overwrite").parquet(dir)
      if (!staged.isEmpty) writeCommitStatsMulti(spark, path, newCommitId,
        statsCols)
      LogFs.writeAtomic(Marker.Base.at(path, newCommitId),
        newCommitId.toString)
      writeCommitInfo(path, newCommitId, "optimize", writer)
      LogFs.delete(staging)
    }
  }

  /** `!(a <=> b)` for a column of type `dt`, with MAP types
    * canonicalized first: `<=>` cannot order maps (SQL defines no map
    * ordering), but a map's entries sorted by key are a faithful
    * orderable image (keys are unique), so equality on the image IS
    * map equality. Recurses through array elements, struct fields,
    * and map values, so nested maps compare too; map-free types pass
    * through untouched (zero plan change on every pre-existing
    * schema). Null maps stay null under `map_entries`/`transform`/
    * `sort_array`, so the null-safe semantics are preserved.
    */
  private[graft] def differsNullSafe(a: Column, b: Column,
                                     dt: org.apache.spark.sql.types.DataType)
      : Column = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    def hasMap(t: org.apache.spark.sql.types.DataType): Boolean = t match {
      case _: MapType => true
      case ArrayType(et, _) => hasMap(et)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    def canon(c: Column,
              t: org.apache.spark.sql.types.DataType): Column = t match {
      case MapType(kt, vt, _) =>
        sort_array(transform(map_entries(c), e =>
          struct(canon(e.getField("key"), kt).as("key"),
            canon(e.getField("value"), vt).as("value"))))
      case ArrayType(et, _) if hasMap(et) =>
        transform(c, x => canon(x, et))
      case s: StructType if s.fields.exists(f => hasMap(f.dataType)) =>
        struct(s.fields.toIndexedSeq.map(f =>
          canon(c.getField(f.name), f.dataType).as(f.name)): _*)
      case _ => c
    }
    if (hasMap(dt)) !(canon(a, dt) <=> canon(b, dt)) else !(a <=> b)
  }

  // ---- Checkpoint: fold, horizon, vacuum -----------------------------

  /** PHYSICAL reclaim of logically-dropped columns at the fold
    * boundary — the DROP COLUMN half of the right-to-be-forgotten
    * contract the checkpoint already gives tombstones: a column
    * dropped at/below the fold version is PROJECTED OUT of the base,
    * so after the vacuum no surviving file below the horizon holds
    * its bytes (Delta needs an explicit REWRITE/purge pass; here the
    * fold IS the rewrite, so the reclaim is free). Sound because
    * drops only accumulate: every readable version ≥ the fold applies
    * a mapping whose dropped set contains these columns — the
    * projection removes only bytes no surviving read can reach.
    * Pre-drop commits ABOVE the fold keep their bytes (time travel
    * still owns them) until a later fold passes the drop.
    */
  private def reclaimDropped(folded: DataFrame, l: Listing,
                             v: Long): DataFrame =
    mappingAt(l, v).map(_.dropped).filter(_.nonEmpty) match {
      case Some(dropped) =>
        folded.drop(dropped.toSeq.filter(folded.columns.contains): _*)
      case None => folded
    }

  /** Test-only interleave point, invoked right after the checkpoint's
    * phase-1 fold lands (the fold and the not-yet-vacuumed commits
    * coexist): a spec reads here to pin deterministically that a
    * concurrent snapshot over the MIXED listing is correct — the
    * tombstones carried by the phase-1 fold are what prevent deleted
    * keys from resurrecting. No-op in production.
    */
  private[graft] val testAfterFold =
    new java.util.concurrent.atomic.AtomicReference[() => Unit](() => ())

  /** Test-only interleave point, invoked after the checkpoint's vacuum
    * and before the phase-2 erasure rewrite: a spec throws here to
    * SIMULATE the crash leg (a value-clean, tombstone-carrying base
    * that stays correct to read and whose re-run finishes the
    * erasure). No-op in production.
    */
  private[graft] val testAfterVacuum =
    new java.util.concurrent.atomic.AtomicReference[() => Unit](() => ())

  /** The lakehouse OPTIMIZE pass fused into [[checkpoint]]: the live
    * fold lands as `numFiles` files placed by the arithmetic range of
    * `clusterCol` in `[0, domain)` ([[ZOrderLayout.rangeClustered]] —
    * seed-free, no sampling pass), sorted on it within each, so
    * key-range reads over the base prune to the files whose min/max
    * span the range instead of touching every file. `clusterCol` must
    * be a non-negative long, non-null on every live row (a key column
    * always is). Clustering moves rows between files, never changes
    * them; and because placement is arithmetic, successive checkpoints
    * put the same key ranges in the same file slots, so downstream
    * caches stay warm across maintenance cycles.
    */
  final case class RangeCluster(clusterCol: String, domain: Long,
                                numFiles: Int)

  /** Checkpoint the log at commit `v`: fold every commit ≤ v into ONE
    * base commit written as `v` itself, then VACUUM the superseded
    * commit directories. Cost is O(live keys ≤ v) — one compaction —
    * plus directory deletes; commits > v are never read or touched, so
    * maintenance cost is independent of how much history sits ABOVE
    * the horizon. `cluster` lays the base out by key range.
    *
    * Contract (the same retention trade every compacting log makes —
    * Kafka compacted topics, lakehouse VACUUM):
    *  - `snapshotAt(w)` for any w ≥ v is value-identical before and
    *    after (the base holds exactly the state at v);
    *  - reads BELOW the horizon (w < v, or a change feed whose v0 < v)
    *    FAIL LOUDLY — the log no longer distinguishes pre-v states, a
    *    silent empty read would be wrong, and a feed would mislabel
    *    every surviving key `insert`; the horizon marker records v so
    *    the guard survives restarts. Pick v to match the time-travel
    *    retention you owe readers;
    *  - on an ops log the base holds ONLY THE LIVE ROWS: after it, no
    *    surviving file holds a deleted row's data (physical erasure —
    *    what a deletion-compliance clock actually measures), and
    *    columns dropped at/below v are projected out on either shape.
    *
    * Crash-safety law: the base LANDS before anything is destroyed.
    * (1) Stage the window's full compaction in a dir that is a SIBLING
    * of the log — same filesystem, durable across a JVM exit, never
    * the PID-scoped scratch root whose shutdown hook would delete the
    * only copy mid-sequence; outside the log because Spark's file
    * index skips `_`-prefixed dirs even when addressed directly, and
    * any non-`_commit=` child would corrupt partition discovery. An
    * ops fold keeps the window's surviving TOMBSTONES, partitioned by
    * `_op` (tombstone presence is then a directory fact): between the
    * fold landing and the vacuum a concurrent reader lists BOTH, and
    * without the tombstones its per-key LWW would pick a deleted key's
    * latest surviving upsert from a pre-vacuum commit and silently
    * resurrect it. (2) Dynamic-overwrite `_commit=v` with the fold,
    * which swaps at job commit — the log is then already correct.
    * (3) Horizon, then vacuum strictly below v. (4) Ops only, when the
    * window had deletes: with history gone the tombstones are inert —
    * rewrite the base LIVE-ONLY. A crash anywhere leaves a readable
    * log; re-run `checkpoint(v)` to finish (a crash before (4) leaves
    * a value-clean base whose tombstones delete exactly like a
    * tombstone in a delta).
    *
    * The fold reads with `mergeSchema=true`: commits ≤ v may carry
    * evolved schemas, and a single-footer read would silently drop
    * later-added columns from the base — with the vacuum then
    * destroying the only copy. The footer-merge planning cost is the
    * price of deleting data safely; the hot read path never pays it.
    */
  def checkpoint(spark: SparkSession, path: String, keys: Seq[String],
                 v: Long, cluster: Option[RangeCluster] = None): Unit =
      withMaintenanceMutex(path, s"checkpoint@$v") {
    requireAboveHorizon(path, v, "checkpoint version")
    val staging = s"${path.stripSuffix("/")}__ckpt_staging_v$v"
    LogFs.delete(staging)
    val log = readLog(spark, path, mergeSchema = true)
    val ops = isOps(log)
    val l = Listing.of(path)
    val fold = reclaimDropped(
      compact(window(log, l, v), keys).drop(CommitCol), l, v)
    (if (ops) fold.write.partitionBy(OpCol) else fold.write)
      .mode("overwrite").parquet(staging)
    val hasLive = !ops || LogFs.exists(LogFs.child(staging, s"$OpCol=u"))
    val hasDead = ops && LogFs.exists(LogFs.child(staging, s"$OpCol=d"))
    def staged(op: String): DataFrame = spark.read
      .option("basePath", staging).parquet(LogFs.child(staging, s"$OpCol=$op"))
    // the zero-row case writes the schema-bearing empty directory
    // directly: a zero-row dynamic overwrite is a silent no-op that
    // would leave the pre-fold directory to survive the vacuum (and
    // commit v's own deleted rows with it)
    def land(df: DataFrame, layout: Option[RangeCluster]): Unit =
      if (df.isEmpty) {
        val dir = commitDir(path, v)
        LogFs.delete(dir)
        df.write.mode("overwrite").parquet(dir)
      } else overwriteCommit(layout.fold(df)(c => ZOrderLayout
        .rangeClustered(df, c.clusterCol, c.domain, c.numFiles)), path, v, Nil)
    // phase 1. An ops window with no rows at all stages no partition
    // dirs — land the empty base from the log's own schema. A fold
    // with tombstones lands unclustered: phase 2 is its clustered,
    // live-only landing.
    if (!hasLive && !hasDead)
      land(reclaimDropped(log.drop(CommitCol).limit(0), l, v), None)
    else land(spark.read.parquet(staging), if (hasDead) None else cluster)
    testAfterFold.get()()
    // the fold REWROTE _commit=v: its pre-fold info marker no longer
    // describes the directory — re-record as the checkpoint's own verb
    writeCommitInfo(path, v, "checkpoint", SoloWriter)
    // horizon lands AFTER the base and BEFORE the vacuum: a crash here
    // leaves reads below v failing loudly over still-intact history
    // (re-run to finish) — never erased history with a silent read path
    writeHorizon(path, v)
    vacuumBelow(path, v)
    testAfterVacuum.get()()
    // phase 2 (erasure), skipped when the window had no deletes (a
    // directory fact — zero extra cost on the delete-free checkpoint)
    if (hasDead) {
      land(if (hasLive) staged("u") else staged("d").limit(0), cluster)
      writeCommitInfo(path, v, "checkpoint", SoloWriter)
    }
    LogFs.delete(staging)
  }

  /** STANDALONE RETENTION — the second half of Delta's
    * OPTIMIZE-then-VACUUM decomposition: [[optimizeOps]] (or any
    * base-marked rewrite) lands the live fold as a NEW commit while
    * every historical version stays readable; this verb later
    * RECLAIMS that history when retention allows — horizon + vacuum
    * below the newest base ≤ `retainVersion`, with NO fold of its own
    * (the base IS the fold, so nothing is read or rewritten — cost is
    * O(reclaimed directories), zero data jobs at any scale). Refuses
    * loudly when `retainVersion` exceeds the head, and when no base
    * exists at or below it — vacuuming un-folded history would
    * destroy live state (land an optimize first, or use
    * [[checkpoint]] which folds and vacuums in one pass). After
    * it: snapshots at/above the base are byte-identical (reads there
    * start at the base floor and never opened the reclaimed
    * directories), reads below fail loudly through the horizon guard,
    * and the reclaimed directories are physically gone. The base's
    * own stats marker SURVIVES (the directory was not rewritten — its
    * ranges still bound it, so lookup pruning stays armed).
    * Idempotent: a re-run finds nothing left to sweep. Runs under the
    * maintenance mutex like every verb that rewrites shared state.
    */
  def vacuumRetain(path: String, retainVersion: Long): Unit =
      withMaintenanceMutex(path, s"vacuumRetain@$retainVersion") {
    val l = Listing.of(path)
    val head = l.head.getOrElse(
      throw new IllegalArgumentException(
        s"$path has no commits — nothing to vacuum"))
    require(retainVersion <= head,
      s"retain_version $retainVersion exceeds the head $head of $path " +
        "— retention cannot be promised above versions that exist")
    val b = l.baseFloor(retainVersion)
    require(b != Long.MinValue,
      s"no base commit at or below $retainVersion of $path — vacuum " +
        "reclaims history BELOW a fold, never un-folded commits " +
        "(deleting them would destroy live state); land a base first " +
        "(optimizeOps / CALL system.optimize keeps history readable " +
        "until this verb reclaims it) or use checkpoint, which " +
        "folds and vacuums in one pass")
    writeHorizon(path, b)
    vacuumBelow(path, b, statsAtVStale = false)
  }

  /** OPERATOR recovery for a txn slot poisoned by a crashed writer —
    * the actionable form of the loud marker-without-commit refusal in
    * the idempotent-append path: a writer that died between claiming
    * its (writer, txnVersion) marker and landing the commit leaves
    * every replay refusing until the slot is cleared. This verb
    * clears it SAFELY for each crash window:
    *  - marker still `pending:<writer>` (died before or just after
    *    claiming a commit id): retire the marker (a commit id the
    *    writer may have claimed but never recorded stays claimed —
    *    a leaked id is skipped forever, which is harmless; landing
    *    over it is what would not be);
    *  - marker records a commit id with NO landed directory (died
    *    between recording and landing): release that claim iff THIS
    *    writer holds it, then retire the marker;
    *  - the commit LANDED: refuse — a completed transaction is never
    *    resolved away (undo is `restoreOps`, not marker surgery).
    *
    * DELIBERATELY an explicit verb, never automatic: no lease or
    * marker age can PROVE a writer dead (a stalled-but-alive writer
    * past any timeout would land over a reused id — the exact
    * double-landing the exclusive claim exists to prevent), so the
    * liveness judgment belongs to the operator who can see the
    * writer's process. Runs under the maintenance mutex.
    */
  def resolveStaleTxn(path: String, writer: String,
                      txnVersion: Long): Unit =
      withMaintenanceMutex(path, s"resolveStaleTxn@${writer}_$txnVersion") {
    val marker = Marker.SinkMap.at(path, s"txn_${writer}_$txnVersion")
    require(LogFs.exists(marker),
      s"no txn marker for (writer=$writer, txnVersion=$txnVersion) on " +
        s"$path — nothing to resolve")
    val content = LogFs.readString(marker).trim
    content.toLongOption match {
      case Some(id) =>
        require(!LogFs.exists(commitDir(path, id)),
          s"txn (writer=$writer, txnVersion=$txnVersion) LANDED as " +
            s"commit $id — a completed transaction is never resolved " +
            "away; roll the TABLE back with restoreOps if you must " +
            "undo it")
        claimHolder(path, id).foreach { h =>
          require(h == writer,
            s"commit $id's claim is held by '$h', not txn writer " +
              s"'$writer' — refusing to release someone else's claim")
          releaseClaim(path, id)
        }
        LogFs.delete(marker)
      case None =>
        require(content == s"pending:$writer",
          s"unrecognized txn marker content '$content' for " +
            s"(writer=$writer, txnVersion=$txnVersion) — refusing")
        LogFs.delete(marker)
    }
  }

  /** `'yyyy-MM-dd HH:mm:ss[.SSS]'` (UTC) → epoch millis — the commit
    * clock's string spelling, shared by the table_changes TVF and the
    * timestamp-addressed maintenance verbs. Loud on anything else.
    */
  def parseUtcTimestamp(raw: String, what: String): Long =
    try java.time.LocalDateTime.parse(raw.replace(' ', 'T'))
      .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    catch {
      case _: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException(
          s"$what '$raw' is not a timestamp — use " +
            "'yyyy-MM-dd HH:mm:ss[.SSS]' (UTC)")
    }

  /** [[vacuumRetain]] addressed by the CLOCK — Delta's VACUUM speaks
    * time, not versions: retain every version readable at/after
    * instant `tsMillis`, reclaim below. The instant resolves through
    * [[versionAtTimestamp]] (latest commit stamped ≤ t — the q190/
    * q243 law), then the versioned verb runs unchanged, inheriting
    * every guard: unstamped commits, instants before the first stamp,
    * no base at/below the resolved version, and the head bound. The
    * resolved version is the correct retention floor exactly because
    * a reader addressing the clock at any instant ≥ t resolves to a
    * version ≥ it.
    */
  def vacuumRetainAt(path: String, tsMillis: Long): Unit =
    vacuumRetain(path, versionAtTimestamp(path, tsMillis))

  /** Zero-copy SHALLOW CLONE of the log at version `v` — the lakehouse
    * "CREATE TABLE ... CLONE ... AS OF v" / branch primitive: `dest`
    * becomes an independent log holding exactly the commits ≤ v,
    * materialized as HARDLINKS (no data bytes copied or moved — cost
    * is O(files ≤ v) directory entries, however large the table).
    * Works for both shapes (the clone is directory-level; plain and
    * ops logs clone identically), and independence is physical:
    *  - new commits on either side land in new directories the other
    *    never reads;
    *  - a checkpoint's vacuum on either side only UNLINKS its own
    *    references — the inode survives while the other side still
    *    links it (hardlink refcounting IS the shallow-clone retention
    *    contract: neither side can destroy bytes the other needs);
    *  - `commitIdempotent`'s dynamic overwrite on the origin replaces
    *    directory entries, never rewrites linked bytes in place, so a
    *    clone can never observe a torn origin rewrite.
    * The clone inherits the origin's horizon (history the origin
    * folded away is as unreadable through the clone — the guard
    * travels) and the commit stamps ≤ v (clock addressing keeps
    * working on the branch). Loud when `dest` already exists —
    * cloning over a live log would interleave two histories.
    */
  def cloneAt(spark: SparkSession, path: String, dest: String,
              v: Long): Unit = {
    val h0 = requireAboveHorizon(path, v, "clone version")
    require(!LogFs.exists(dest),
      s"clone destination $dest already exists — cloning over a live " +
        "log would interleave two histories; pick a fresh path")
    val l = Listing.of(path)
    val src = l.commitDirs.filter(_._1 <= v)
    require(src.nonEmpty,
      s"$path has no commits <= $v to clone")
    LogFs.mkdirs(dest)
    // ZERO-COPY only where the store can express it: hardlinks need
    // local-inode semantics, so the fast path requires BOTH sides on a
    // local filesystem. Anywhere else (HDFS, object stores — no
    // hardlink primitive) the documented fallback is a recursive COPY
    // of commits ≤ v: independence still holds (separate bytes on
    // both sides), only the O(directory entries) cost profile becomes
    // O(bytes) — the same trade Delta's CLONE makes between shallow
    // (metadata-only) and deep (copied) clones.
    val zeroCopy = LogFs.isLocal(path) && LogFs.isLocal(dest)
    // any failure from here on removes the partial clone
    try {
      src.foreach { case (id, dir) =>
        if (zeroCopy) Sinks.hardlinkTree(LogFs.localPath(dir),
          LogFs.localPath(commitDir(dest, id)))
        else LogFs.copyTree(dir, commitDir(dest, id))
      }
      // a vacuum racing the walk may EMPTY a directory between our
      // listing and its walk (zero files linked, no error). Every vacuum
      // advances the horizon FIRST, so a moved horizon means a possibly
      // torn clone: fail loudly (a re-run past the fold now refuses).
      val h1 = horizonOf(path)
      require(h1 == h0,
        s"a checkpoint raced this clone of $path (horizon moved $h0 -> " +
          s"$h1) — the linked commits may be torn; the partial clone " +
          "was removed, re-run against the folded log")
      if (h0 != Long.MinValue) writeHorizon(dest, h0)
      // the markers of the commits ≤ v travel verbatim (writeAtomic: no
      // torn marker). Stamps are already monotone; stats and bases stay
      // valid on immutable, byte-identical directories; claims keep a
      // new writer from "winning" an id that already holds data.
      Marker.cloned.foreach { m =>
        l.ids(m).filter(_._1 <= v).foreach { case (id, s) =>
          LogFs.writeAtomic(m.at(dest, id),
            LogFs.readString(s.getPath.toString))
        }
      }
      // the evolution marker travels unconditionally: a false positive
      // below the evolution is a harmless mergeSchema read, a loss above
      // it would drop the added columns from a fresh registration
      if (l.has(EvolvedMarker))
        LogFs.writeAtomic(LogFs.child(dest, EvolvedMarker), "v1")
    } catch { case t: Throwable =>
      LogFs.delete(dest)
      throw t
    }
  }

  /** RESTORE the ops table to its state at version `v`, landed as NEW
    * commit `newCommitId` — roll back the data without rolling back
    * the log (Delta's RESTORE): history stays fully readable (every
    * snapshot ≤ the old head is untouched; the restore is one more
    * commit on top), and the commit is the MINIMAL diff between the
    * current head and the target state — an upsert per key whose
    * value changed or vanished after v, a tombstone per key created
    * after v; keys untouched since v contribute NOTHING (the
    * restore's write cost is O(changed keys), not O(table); the diff
    * computation is one full-outer join of the two compacted states,
    * the q88 snapshot-diff shape). Ops-log only by design: restoring
    * past a later insert requires a DELETE, which the plain
    * append-only log cannot express.
    *
    * Both states read through the EVOLVED (mergeSchema) path — like
    * [[checkpoint]]'s fold, a single-footer read on an evolved log
    * would silently drop later-added columns from the restore commit;
    * restore is rare maintenance, so it pays the footer-merge
    * planning cost the hot snapshot path must not.
    */
  def restoreOps(spark: SparkSession, path: String, keys: Seq[String],
                 v: Long, newCommitId: Long): Unit = {
    requireAboveHorizon(path, v, "restore target version")
    val l = Listing.of(path)
    val head = l.head.getOrElse(throw new IllegalArgumentException(
      s"$path has no commits to restore"))
    require(v <= head,
      s"restore target $v is beyond the head commit $head of $path")
    require(newCommitId > head,
      s"restore must land as a NEW commit above the head $head of " +
        s"$path, got $newCommitId — commit ids are the version order")
    val target = snapshotAt(spark, path, keys, v, mergeSchema = true)
    val current = snapshotAt(spark, path, keys, head, mergeSchema = true)
    // columns DROPPED as of the head never ride the restore commit:
    // the drop contract says new commits omit retired bytes — a
    // restore below the drop that re-materialized the dropped
    // column's values would re-write them into a fresh post-drop
    // commit (invisible to mapped reads, but deferring their
    // physical reclaim past the next fold)
    val droppedNow = mappingAt(l, head)
      .map(_.dropped).getOrElse(Set.empty[String])
    val dataCols = target.columns.filterNot(keys.contains)
      .filterNot(droppedNow.contains).toSeq
    val generated = Set("_in_t", "_in_c") ++
      dataCols.flatMap(c => Seq(s"_t_$c", s"_c_$c"))
    require((keys ++ dataCols).forall(!generated.contains(_)),
      s"column names collide with restore's working columns: " +
        (keys ++ dataCols).filter(generated.contains).mkString(", "))
    val t = target.select(keys.map(col) ++
      dataCols.map(c => col(c).as(s"_t_$c")) :+ lit(true).as("_in_t"): _*)
    val c = current.select(keys.map(col) ++
      dataCols.map(c2 => col(c2).as(s"_c_$c2")) :+ lit(true).as("_in_c"): _*)
    val j = t.join(c, keys, "full_outer")
    val differs = dataCols
      .map(cc => differsNullSafe(col(s"_t_$cc"), col(s"_c_$cc"),
        target.schema(cc).dataType))
      .reduceOption(_ || _).getOrElse(lit(false))
    val ups = j.filter(col("_in_t").isNotNull &&
        (col("_in_c").isNull || differs))
      .select(keys.map(col) ++ dataCols.map(cc => col(s"_t_$cc").as(cc)): _*)
      .withColumn(OpCol, lit("u"))
    val tombstoneShape = target.schema
    val dels = j.filter(col("_in_t").isNull && col("_in_c").isNotNull)
      .select(keys.map(col) ++ dataCols.map(cc =>
        lit(null).cast(tombstoneShape(cc).dataType).as(cc)): _*)
      .withColumn(OpCol, lit("d"))
    commitVerbed(ups.unionByName(dels), path, newCommitId, SoloWriter,
      "restore")
  }

  // ---- Commit statistics: data skipping at the log level ------------
  //
  // A long-lived log accumulates thousands of commits, and a point
  // read through snapshotAt must consider every commit ≤ v because
  // any of them COULD touch the key — at minimum one parquet footer
  // per commit. Per-commit key-range statistics close that gap the
  // way lakehouse file statistics do: an opt-in marker records each
  // commit's [min, max] over one long key column, and the stats-aware
  // point read skips — driver-side, before any footer is opened —
  // every commit whose recorded range excludes the key. Commits
  // WITHOUT a marker are conservatively INCLUDED: stats are an
  // optimization, never the correctness path, so mixed logs stay
  // exact. Markers are sound because commits are immutable once
  // landed (the append-only discipline) and the stats are computed
  // from the commit directory's own final content.

  /** Per-column commit statistics: the null count plus `[min, max]`
    * over the non-null values (absent when the column is all-null in
    * the commit — which soundly SKIPS any non-null value probe).
    * String order is UNSIGNED UTF-8 BYTE order — exactly Spark's
    * min/max (UTF8String) ordering, and the driver-side probes
    * compare the same way, so a skip decision can never disagree with
    * the scan. Null counts make `IS NULL` probes skippable and feed
    * quality audits without a scan.
    */
  sealed trait ColStats { def nulls: Long }
  final case class LongColStats(min: Long, max: Long,
                                nulls: Long) extends ColStats
  final case class StringColStats(min: String, max: String,
                                  nulls: Long) extends ColStats
  final case class AllNullColStats(nulls: Long) extends ColStats

  /** Spark's string min/max order on the driver: unsigned UTF-8 byte
    * compare (UTF8String.compareTo). Java's String.compareTo differs
    * on supplementary characters — using it here could wrong-skip.
    */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s),
      java.nio.charset.StandardCharsets.UTF_8)

  /** Record commit `commitId`'s per-column statistics over `cols` —
    * min/max/null-count per column, ONE aggregate scan over the
    * commit's own directory however many columns are asked, written
    * atomically as one marker. Long/int and string columns supported
    * (string min/max base64-wrapped in the marker: values may carry
    * tabs/newlines). Re-running recomputes identical values (the
    * commit is immutable), so the overwrite is idempotent.
    */
  def writeCommitStatsMulti(spark: SparkSession, path: String,
                            commitId: Long, rawCols: Seq[String]): Unit = {
    require(rawCols.nonEmpty, "writeCommitStatsMulti needs at least one column")
    val dir = commitDir(path, commitId)
    require(LogFs.isDirectory(dir),
      s"cannot write stats for commit $commitId of $path — no " +
        s"$CommitCol=$commitId directory exists")
    val df = spark.read.parquet(dir)
    val schema = df.schema
    // on a MAPPED log the caller speaks the CURRENT logical namespace
    // (the names `CALL analyze` users see at the SQL prompt); resolve
    // each name to the footer's PHYSICAL spelling — the namespace the
    // marker records and the lookups consult (keys, the only
    // probe-able stats columns, never map, so lookups are unaffected;
    // this makes the RECORDING surface speak both spellings)
    val mapping = currentMapping(path).getOrElse(NoMapping)
    val cols = rawCols.map { c =>
      if (schema.fieldNames.contains(c)) c
      else {
        val phys = mapping.physicalOf(c)
        require(schema.fieldNames.contains(phys),
          s"stats column $c not in commit $commitId's schema " +
            s"[${schema.fieldNames.mkString(", ")}]" +
            (if (phys != c) s" (resolved physical name $phys)" else ""))
        phys
      }
    }
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    cols.foreach { c =>
      val dt = schema(c).dataType
      require(dt == LongType || dt == IntegerType || dt == StringType,
        s"stats column $c has type $dt — only long/int/string columns " +
          "have a total order the skipping contract covers")
    }
    val aggs = cols.flatMap { c =>
      val (mn, mx) = schema(c).dataType match {
        case StringType => (min(col(c)), max(col(c)))
        case _ => (min(col(c)).cast("long"), max(col(c)).cast("long"))
      }
      Seq(mn, mx, sum(when(col(c).isNull, 1L).otherwise(0L)))
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val lines = cols.zipWithIndex.map { case (c, i) =>
      val (mi, ma, nu) = (i * 3, i * 3 + 1, i * 3 + 2)
      val nulls = if (row.isNullAt(nu)) 0L else row.getLong(nu)
      if (row.isNullAt(mi)) s"$c\tallnull\t$nulls"
      else schema(c).dataType match {
        case StringType =>
          s"$c\tstring\t$nulls\t${b64(row.getString(mi))}\t" +
            b64(row.getString(ma))
        case _ => s"$c\tlong\t$nulls\t${row.getLong(mi)}\t${row.getLong(ma)}"
      }
    }
    LogFs.writeAtomic(Marker.Stats.at(path, commitId),
      ("v2" +: lines).mkString("\n"))
  }

  /** Single-column convenience form of [[writeCommitStatsMulti]]. */
  def writeCommitStats(spark: SparkSession, path: String, commitId: Long,
                       statsCol: String): Unit =
    writeCommitStatsMulti(spark, path, commitId, Seq(statsCol))

  /** All recorded commit statistics: commitId → column → stats. */
  def commitColumnStats(path: String): Map[Long, Map[String, ColStats]] =
    commitColumnStats(Listing.of(path))

  private def commitColumnStats(l: Listing)
      : Map[Long, Map[String, ColStats]] =
    l.ids(Marker.Stats).map { case (id, s) =>
      val lines = LogFs.readString(s.getPath.toString).split("\n").toSeq
      require(lines.headOption.contains("v2"),
        s"unrecognized stats marker format in ${s.getPath} — " +
          s"expected a v2 header, got '${lines.headOption.getOrElse("")}'")
      id -> lines.tail.filter(_.nonEmpty).map { ln =>
        val p = ln.split("\t")
        p(1) match {
          case "long" =>
            p(0) -> (LongColStats(p(3).toLong, p(4).toLong,
              p(2).toLong): ColStats)
          case "string" =>
            p(0) -> (StringColStats(unb64(p(3)), unb64(p(4)),
              p(2).toLong): ColStats)
          case "allnull" => p(0) -> (AllNullColStats(p(2).toLong): ColStats)
          case other => throw new IllegalArgumentException(
            s"unrecognized stats kind '$other' in ${s.getPath}")
        }
      }.toMap
    }.toMap

  /** An inclusive range on one KEY column — what a stats-skipping
    * [[lookup]] prunes by. Each case carries its driver-side admit test
    * over a commit's recorded [[ColStats]] and its in-scan probe; a
    * missing marker, or a marker of another type, admits (be exact,
    * not clever), an all-null marker never does. A point is a range
    * with `lo == hi`. `toString` is the rendering spool observability
    * reports (`k in [1, 5]`, `s = 'x'`, `s in ['a', 'b']`).
    */
  sealed trait KeyRange {
    def key: String
    def admits(stats: ColStats): Boolean
    def probe: Column
  }

  object KeyRange {
    final case class LongRange(key: String, lo: Long, hi: Long)
        extends KeyRange {
      require(lo <= hi, s"need lo <= hi on $key, got $lo > $hi")
      def admits(stats: ColStats): Boolean = stats match {
        case LongColStats(mn, mx, _) => mx >= lo && mn <= hi
        case _: AllNullColStats      => false
        case _                       => true
      }
      def probe: Column = col(key) >= lo && col(key) <= hi
      override def toString: String = s"$key in [$lo, $hi]"
    }

    /** Bounds compare in unsigned UTF-8 byte order — the order the
      * recorded min/max were computed in (Spark's UTF8String), so skip
      * and scan can never disagree.
      */
    final case class StringRange(key: String, lo: String, hi: String)
        extends KeyRange {
      require(utf8Compare(lo, hi) <= 0,
        s"need lo <= hi (UTF-8 order) on $key, got '$lo' > '$hi'")
      def admits(stats: ColStats): Boolean = stats match {
        case StringColStats(mn, mx, _) =>
          utf8Compare(mx, lo) >= 0 && utf8Compare(mn, hi) <= 0
        case _: AllNullColStats => false
        case _                  => true
      }
      def probe: Column = col(key) >= lo && col(key) <= hi
      override def toString: String =
        if (lo == hi) s"$key = '$lo'" else s"$key in ['$lo', '$hi']"
    }

    /** The ranges pushed conjuncts imply — one per key column any of
      * them constrains, to be INTERSECTED by [[lookup]] (a commit
      * outside any one column's range cannot hold a row satisfying the
      * conjunction). Every range is a superset of the conjuncts'
      * satisfying set:
      *  - `And` splits; any other composite contributes nothing;
      *  - strict integral bounds TIGHTEN to the adjacent integer
      *    (`k > 5` → lo 6), saturating at Long.Min/Max, and open sides
      *    take Long.Min/Max;
      *  - a string key needs both bounds (an equality or a closed
      *    range: no greatest string closes an open side), picked in
      *    UTF-8 order; strict string bounds stay inclusive;
      *  - a contradictory window (`k = 5 AND k = 9`) yields no range.
      * Callers keep the original condition on top, so pruning may only
      * drop rows the condition drops anyway.
      */
    def extract(keys: Seq[String],
                filters: Seq[org.apache.spark.sql.sources.Filter])
        : Seq[KeyRange] = {
      import org.apache.spark.sql.sources._
      def conjuncts(f: Filter): Seq[Filter] = f match {
        case And(l, r) => conjuncts(l) ++ conjuncts(r)
        case other     => Seq(other)
      }
      val flat = filters.flatMap(conjuncts)
      def longOf(v: Any): Option[Long] = v match {
        case l: Long => Some(l)
        case i: Int  => Some(i.toLong)
        case _       => None
      }
      def up(x: Long) = if (x == Long.MaxValue) x else x + 1
      def down(x: Long) = if (x == Long.MinValue) x else x - 1
      keys.flatMap { key =>
        var lo: Option[Long] = None
        var hi: Option[Long] = None
        var slo: Option[String] = None
        var shi: Option[String] = None
        def raise(x: Long): Unit = lo = Some(lo.fold(x)(math.max(_, x)))
        def lower(x: Long): Unit = hi = Some(hi.fold(x)(math.min(_, x)))
        def raiseS(x: String): Unit =
          slo = Some(slo.fold(x)(s => if (utf8Compare(s, x) >= 0) s else x))
        def lowerS(x: String): Unit =
          shi = Some(shi.fold(x)(s => if (utf8Compare(s, x) <= 0) s else x))
        flat.foreach {
          case EqualTo(`key`, s: String) => raiseS(s); lowerS(s)
          case EqualTo(`key`, v) =>
            longOf(v).foreach { x => raise(x); lower(x) }
          case GreaterThan(`key`, s: String) => raiseS(s)
          case GreaterThan(`key`, v) => longOf(v).map(up).foreach(raise)
          case GreaterThanOrEqual(`key`, s: String) => raiseS(s)
          case GreaterThanOrEqual(`key`, v) => longOf(v).foreach(raise)
          case LessThan(`key`, s: String) => lowerS(s)
          case LessThan(`key`, v) => longOf(v).map(down).foreach(lower)
          case LessThanOrEqual(`key`, s: String) => lowerS(s)
          case LessThanOrEqual(`key`, v) => longOf(v).foreach(lower)
          case _ => ()
        }
        (slo, shi, lo, hi) match {
          case (Some(l), Some(h), _, _) =>
            if (utf8Compare(l, h) <= 0) Some(StringRange(key, l, h)) else None
          case (_, _, None, None) => None
          case (_, _, l, h) =>
            val a = l.getOrElse(Long.MinValue)
            val b = h.getOrElse(Long.MaxValue)
            if (a <= b) Some(LongRange(key, a, b)) else None
        }
      }
    }
  }

  /** The state AS OF `v` of every key inside ALL of `ranges`,
    * compacting ONLY the commits whose recorded stats admit every
    * range (plus every unstamped commit, conservatively). At a
    * 10k-commit log where the key was touched in 3 commits, the lookup
    * reads 3 commit directories instead of opening 10k footers — the
    * Delta data-skipping story at the commit level. The probes are
    * also pushed into the scan, so within an admitted commit parquet
    * row-group stats prune further. Result is identical to
    * `snapshotAt(...)` filtered to the ranges (spec-pinned, including
    * through tombstones and resurrections). `mergeSchema` folds the
    * admitted commits' footers into their union (an EVOLVED log's
    * lookup must not let one footer's column set drop later-added
    * columns).
    */
  def lookup(spark: SparkSession, path: String, keys: Seq[String], v: Long,
             ranges: Seq[KeyRange], mergeSchema: Boolean = false)
      : DataFrame = {
    require(ranges.nonEmpty, "a lookup needs at least one key range")
    // every range must be on a KEY column (value constant across a
    // key's versions): on a non-key column, pushing the probe BEFORE
    // the LWW compaction would resurrect a stale version whenever the
    // key's latest value moved out of range in a stats-skipped commit,
    // and tombstones (null data columns) would be filtered out,
    // un-deleting keys — silently violating the snapshot contract.
    // COLUMN MAPPING never reaches this path: key columns refuse to
    // rename/drop (resolveMappedColumn), so a probe-able stats
    // column's logical and physical spellings coincide by
    // construction. The RECORDING surface (writeCommitStatsMulti /
    // CALL analyze) does resolve logical spellings for non-key audit
    // columns.
    ranges.foreach(r => require(keys.contains(r.key),
      s"range column ${r.key} must be one of the key columns " +
        s"[${keys.mkString(", ")}] — a non-key stats column changes " +
        "across a key's versions, making the pre-compaction range " +
        "filter (and the commit skipping) silently wrong"))
    requireAboveHorizon(path, v, "lookup version")
    val l = Listing.of(path)
    val stats = commitColumnStats(l)
    val floor = l.baseFloor(v)
    val selected = l.commitDirs.collect {
      case (id, dir) if id <= v && id >= floor && ranges.forall(r =>
          stats.get(id).forall(_.get(r.key).forall(r.admits))) => dir
    }
    val ms = mergeSchema.toString
    val log =
      if (selected.nonEmpty)
        spark.read.option("basePath", path).option("mergeSchema", ms)
          .parquet(selected: _*)
      // nothing admits the ranges: one commit's footer (or, for the
      // union, every footer) gives the shape, and the false filter the
      // empty result without a scan
      else if (mergeSchema)
        spark.read.option("mergeSchema", ms).parquet(path).filter(lit(false))
      else ParquetMeta.read(spark, path, l.firstDataFile).filter(lit(false))
    live(compact(log.filter(col(CommitCol) <= v &&
      ranges.map(_.probe).reduce(_ && _)), keys))
  }

  /** MERGE INTO the ops log — the lakehouse three-clause merge,
    * landed as ONE commit computed from a source frame joined against
    * the current head state:
    *  - WHEN MATCHED AND `deleteWhen` THEN DELETE (tombstone);
    *  - WHEN MATCHED (otherwise) AND any column differs THEN UPDATE
    *    (take the source row); a source row IDENTICAL to the current
    *    state is SUPPRESSED (the no-op hygiene the CDC feed relies
    *    on — and what keeps the commit minimal);
    *  - WHEN NOT MATCHED THEN INSERT — unless `deleteWhen` selects
    *    the row, in which case it is IGNORED (deleting an absent key
    *    is a no-op, the idempotent-delete reading; callers who want
    *    Delta's insert-even-when-delete-matches split their source).
    * `deleteWhen` is evaluated against the SOURCE row's columns. The
    * source must carry exactly the table's columns and be key-unique
    * (two source rows for one key would land two rows in one commit
    * and resolve by the intra-commit tie-break, not by merge
    * semantics). Cost: one key-join of source against the
    * candidate-pruned head compaction; the commit is O(effective
    * changes), never O(table).
    */
  def mergeIntoOps(spark: SparkSession, path: String, keys: Seq[String],
                   source: DataFrame, newCommitId: Long,
                   deleteWhen: Option[org.apache.spark.sql.Column] = None)
      : Unit = {
    val head = headVersion(path).getOrElse(throw new IllegalArgumentException(
      s"$path has no commits to merge into"))
    require(newCommitId > head,
      s"merge must land as a NEW commit above the head $head of $path, " +
        s"got $newCommitId — commit ids are the version order")
    val current = snapshotAt(spark, path, keys, head, mergeSchema = true)
    require(source.columns.toSet == current.columns.toSet,
      s"merge source columns [${source.columns.sorted.mkString(", ")}] " +
        s"must equal the table's [${current.columns.sorted.mkString(", ")}]")
    val dataCols = current.columns.filterNot(keys.contains).toSeq
    val generated = Set("_in_c", "_del") ++ dataCols.map(c => s"_c_$c")
    require((keys ++ dataCols).forall(!generated.contains(_)),
      s"column names collide with merge's working columns: " +
        (keys ++ dataCols).filter(generated.contains).mkString(", "))
    // null-hardened: under three-valued logic a predicate evaluating
    // to NULL (e.g. col > 5 with null col) would fail BOTH the !_del
    // and the (_del && matched) branches — the row silently vanishes
    // from the merge (neither updated/inserted nor deleted). NULL
    // reads as "the delete condition did not hold", i.e. false.
    val s = source.select((keys ++ dataCols).map(col) :+
      coalesce(deleteWhen.getOrElse(lit(false)), lit(false)).as("_del"): _*)
    val c = current.select(keys.map(col) ++
      dataCols.map(cc => col(cc).as(s"_c_$cc")) :+ lit(true).as("_in_c"): _*)
    val j = s.join(c, keys, "left")
    val matched = col("_in_c").isNotNull
    val differs = dataCols
      .map(cc => differsNullSafe(col(cc), col(s"_c_$cc"),
        current.schema(cc).dataType))
      .reduceOption(_ || _).getOrElse(lit(false))
    val ups = j.filter(!col("_del") && (!matched || differs))
      .select((keys ++ dataCols).map(col): _*)
      .withColumn(OpCol, lit("u"))
    val dels = j.filter(col("_del") && matched)
      .select(keys.map(col) ++ dataCols.map(cc =>
        lit(null).cast(current.schema(cc).dataType).as(cc)): _*)
      .withColumn(OpCol, lit("d"))
    commitVerbed(ups.unionByName(dels), path, newCommitId, SoloWriter,
      "merge")
  }

  /** Drop every `_commit=<id>` directory with id strictly below `v` —
    * the vacuum step shared by all checkpoint flavors; callers must
    * have landed the folded base and the horizon first — and the
    * markers that described them. A stale stats marker AT v (the fold
    * REWROTE `_commit=v`) would make [[lookup]] silently wrong-skip;
    * commit STAMPS survive, the folded base still answers "as of" its
    * instant exactly.
    */
  private def vacuumBelow(path: String, v: Long,
                          statsAtVStale: Boolean = true): Unit = {
    // one listing serves every marker class: deleting a commit dir
    // never adds or removes a root-level marker file
    val l = Listing.of(path)
    def drop(s: FileStatus): Unit = LogFs.delete(s.getPath.toString)
    l.commitDirs.filter(_._1 < v).foreach(d => LogFs.delete(d._2))
    // no writer may land below the horizon again. At v the claim, base
    // and info stay (the fold is commit v, a complete base, re-recorded
    // as 'checkpoint'); the stats marker at v is stale when the caller
    // REWROTE the directory (`analyze` re-arms) but still load-bearing
    // below an INTACT base (vacuumRetain)
    Marker.sweptBelow.foreach { m =>
      l.ids(m).foreach { case (id, s) =>
        if (id < v || (m == Marker.Stats && statsAtVStale && id == v))
          drop(s)
      }
    }
    // sink epoch→commit map markers point at a commit id in their
    // CONTENT; one below the horizon maps a folded commit — a replayed
    // epoch can never legally re-land there (Spark only redelivers the
    // last uncommitted epoch, which is above any sane horizon), so the
    // marker is stale metadata and goes with the claims
    l.keyed(Marker.SinkMap).foreach { case (_, s) =>
      if (scala.util.Try(LogFs.readString(s.getPath.toString).trim.toLong)
          .toOption.exists(_ < v)) drop(s)
    }
  }
}
