package graft.sources

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Library write paths (reference S3/S5) plus the physical-layout policy
  * for the two big tables (SURVEY.md §4.3):
  *  - CSV sink: main.py:318–319 (stocks_full.csv emit) and
  *    details.py:301–303 (symbols_loaded.csv emit). Spark's default
  *    quoting is minimal-style, matching the reference's QUOTE_MINIMAL.
  *  - Raw-zone append sink: details.py:207–227 (per-symbol INSERT +
  *    COMMIT). Spark file-commit protocol gives task-level atomicity —
  *    the engine-side analogue of the reference's per-row transaction.
  *  - The bucket layout: the reference keeps one fact table clustered
  *    on its PK and maintained by `INSERT … ON DUPLICATE KEY UPDATE`
  *    (Financilas.py:28, 167–184). Its parquet analogue is `bucket=K/`
  *    directories of the stock hash ([[factBucket]]/[[bucketOf]], the
  *    only bucket law), files inside each sorted on the PK, and a
  *    `_graft_buckets` sidecar: scans get min/max pruning, per-stock
  *    work is co-located, and an increment rewrites only the buckets it
  *    touches. The fact build (`Financials.normalizeInto`,
  *    [[writeFactPartitioned]]), its increments ([[upsertFactDelta]],
  *    [[deleteFactKeys]]) and the q128 rollup (`Rollup.mergeDelta`) all
  *    write it through [[writeBuckets]], and the three increments guard
  *    the recorded count with [[requireBuckets]].
  */
object Sinks {

  /** Session-unique scratch root: same JVM reuses it (warmup + timed
    * bench pass hit the same staged data), concurrent suite runs in
    * separate JVMs never collide, and a shutdown hook removes the whole
    * tree so scratch never accumulates across runs.
    */
  private lazy val scratchRoot: String = {
    val root =
      s"${System.getProperty("java.io.tmpdir")}/graft_${ProcessHandle.current().pid()}"
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => deleteRecursively(root), "graft-scratch-cleanup"))
    root
  }

  def tmpPath(name: String): String = s"$scratchRoot/$name"

  /** Scratch path derived from a DATASET directory: basename for
    * readability plus a hash of the full path — two input dirs sharing
    * a basename (…/a/sf0.01 and …/b/sf0.01) must never clobber each
    * other's staged fixtures or sinks inside one JVM.
    */
  def tmpPathFor(prefix: String, dir: String): String = {
    val full = new File(dir).getAbsolutePath
    tmpPath(f"${prefix}_${new File(dir).getName}_${full.hashCode}%08x")
  }

  /** Local-filesystem recursive delete, for re-runnable scratch sinks. */
  def deleteRecursively(path: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    val f = new File(path)
    if (f.exists()) rm(f)
  }

  /** Hard-link copy of a directory tree (dirs created, files linked) —
    * the O(files) METADATA way to hand a mutating operation (retention
    * sweep, compaction test) a fresh working copy of a staged master
    * layout without rewriting a byte of data. Deleting the copy only
    * drops link counts; the master is untouched. Local-filesystem
    * scratch only (hard links do not cross filesystems) — on a real
    * lake the equivalent is a metadata-level shallow clone.
    */
  def hardlinkTree(src: String, dst: String): Unit = {
    val s = new File(src)
    require(s.isDirectory, s"no such dir to link-copy: $src")
    def walk(from: File, to: File): Unit = {
      to.mkdirs()
      Option(from.listFiles()).toSeq.flatten.foreach { f =>
        if (f.isDirectory) walk(f, new File(to, f.getName))
        else java.nio.file.Files.createLink(
          new File(to, f.getName).toPath, f.toPath): Unit
      }
    }
    walk(s, new File(dst))
  }

  /** RETENTION SWEEP over a partitioned layout: delete every
    * `<partitionCol>=<value>` directory with value < `keepFrom`
    * (lexicographic — chronological for ISO dates, the layout's
    * convention). This is the TTL/retention job every lake runs
    * nightly, and it is a pure METADATA operation: surviving
    * partition directories are never opened, let alone rewritten
    * (byte-identity spec-pinned in LayoutSpec) — at 100 TB the sweep
    * costs O(expired partitions) directory deletes, zero data IO.
    * Returns the expired partition values (the audit line the job
    * logs). Unknown-layout guard: a non-`col=`-prefixed child fails
    * loudly rather than being silently skipped or wrongly deleted.
    */
  def expirePartitions(path: String, partitionCol: String,
                       keepFrom: String): Seq[String] = {
    val prefix = s"$partitionCol="
    // the LAYOUT must exist (a typo'd path must not silently no-op)…
    require(new File(path).isDirectory, s"no such layout dir: $path")
    // non-directory children are commit markers (_SUCCESS, .crc) —
    // partitions are directories, and every directory must be one
    val children = Option(new File(path).listFiles()).toSeq.flatten
      .filter(_.isDirectory)
    // …but zero partition dirs is a legal state, not an error: an
    // earlier sweep (or a sweep racing this one) may have expired
    // every partition — the nightly job must no-op, not crash
    children.foreach { f =>
      require(f.getName.startsWith(prefix),
        s"unexpected child ${f.getName} — not a $prefix partition dir")
      // a NULL-valued partition has no position in the lexicographic
      // date order — comparing the sentinel string against the
      // horizon would expire (or keep) it by accident. Null-partition
      // retention is a policy decision; fail loudly until a caller
      // makes one.
      require(f.getName.stripPrefix(prefix) != "__HIVE_DEFAULT_PARTITION__",
        s"null-valued partition ${f.getName} under $path — retention " +
          "for the null partition is undefined (lexicographic compare " +
          "against the date horizon would classify it by accident); " +
          "drop or re-key it before sweeping")
    }
    val expired = children
      .filter(_.getName.stripPrefix(prefix) < keepFrom).sortBy(_.getName)
    expired.foreach(f => deleteRecursively(f.getAbsolutePath))
    expired.map(_.getName.stripPrefix(prefix))
  }

  /** S3 — header'd CSV directory sink (minimal quoting = Spark default). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** S5 — raw-zone append (parquet). Idempotence across reruns comes
    * from the downstream latest-per-key dedup (Upsert.latestByKey), not
    * from the sink — exactly the reference's skip-existing + upsert
    * layering.
    */
  def appendRawZone(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  /** Raw zone, laid out for 100 TB: partitioned by load date (SURVEY.md
    * §4.3), so incremental re-normalization prunes to the new day's
    * partition instead of rescanning the full history. Expects a
    * `loaded_at` timestamp column.
    */
  def writeRawZone(df: DataFrame, path: String): Unit =
    df.withColumn("load_date", to_date(col("loaded_at")))
      // zstd: ~30% faster to write than snappy on large JSON payload
      // strings (measured by stage timing) AND a better ratio — the right
      // trade for a cold raw zone at 100 TB
      .write.mode("overwrite").option("compression", "zstd")
      .partitionBy("load_date").parquet(path)

  /** Layout-metadata sidecar of the bucket layout: the bucket count is
    * part of the PHYSICAL layout (the [[factBucket]] law baked into the
    * directory structure), so it is recorded next to the data — readers
    * derive it instead of trusting a caller-supplied count, and the
    * rewriting verbs refuse a mismatched count ([[requireBuckets]])
    * instead of silently merging under the wrong bucket law.
    * Underscore-prefixed, so Spark's parquet reader ignores it.
    */
  private val BucketsFileName = "_graft_buckets"

  private def writeLayoutBuckets(path: String, buckets: Int): Unit = {
    new File(path).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, BucketsFileName), buckets.toString): Unit
  }

  def readLayoutBuckets(path: String): Option[Int] = {
    val f = new File(path, BucketsFileName)
    if (f.isFile)
      Some(java.nio.file.Files.readString(f.toPath).trim.toInt)
    else None
  }

  /** The guard of every verb that rewrites part of a bucket layout: a
    * count other than the recorded one would merge and overwrite under
    * the WRONG directories, so it fails loudly. A path with no sidecar
    * (no layout yet, or one written before the sidecar) passes.
    */
  private[graft] def requireBuckets(path: String, buckets: Int, verb: String): Unit =
    readLayoutBuckets(path).foreach { recorded =>
      require(recorded == buckets,
        s"$verb called with buckets=$buckets but the layout at $path was " +
          s"written with buckets=$recorded (see $BucketsFileName)")
    }

  /** Read a fact layout — the bucket layout, or a flat parquet dir of
    * facts — with the schema of its first part file's footer
    * ([[ParquetMeta.read]]): on a point lookup the inference job would
    * be one job of two, all metadata.
    */
  def readLayout(spark: SparkSession, path: String): DataFrame =
    ParquetMeta.read(spark, path, ParquetMeta.dataFiles(path).nextOption())

  /** Bucket `k` of the bucket layout alone: lists `path/bucket=k` only,
    * with the schema of its first part file's footer; `basePath` keeps
    * the `bucket` column. A bucket with no directory holds no rows: it
    * reads as an empty frame on the layout's schema, which plans as an
    * empty local relation and opens no data file.
    */
  def readBucket(spark: SparkSession, path: String, k: Int): DataFrame = {
    val dir = s"$path/bucket=$k"
    ParquetMeta.dataFiles(dir).nextOption() match {
      case Some(f) => ParquetMeta.read(spark, dir, Some(f), basePath = Some(path))
      case None    => readLayout(spark, path).limit(0)
    }
  }

  /** The stock-hash bucket of the bucket layout. `hash` is the same
    * Murmur3(seed 42) as `repartition(n, col)`'s HashPartitioning, so
    * `pmod(hash(stock), n)` equals the shuffle partition id — after a
    * repartition on `stock` every task holds exactly one bucket value
    * and the partitionBy write of [[writeBuckets]] emits one directory
    * per task with NO extra exchange. With [[bucketOf]], the only form
    * of the bucket law.
    */
  def factBucket(n: Int): org.apache.spark.sql.Column =
    pmod(hash(col("stock")), lit(n))

  /** [[factBucket]] of one stock, on the driver. */
  def bucketOf(stock: String, n: Int): Int = {
    val h = Murmur3HashFunction.hash(UTF8String.fromString(stock), StringType, 42L).toInt
    ((h % n) + n) % n
  }

  /** The one writer of the bucket layout (the fact table and the q128
    * rollup): `bucket=K/` directories, files inside each bucket sorted
    * on `keys`, and the `_graft_buckets` sidecar. `rows` must already
    * carry `bucket` ([[factBucket]] of `buckets`) and be hash-partitioned
    * on `stock` into `buckets` partitions — each caller's own plan has
    * done that — so every task holds one bucket and the `bucket +: keys`
    * sort prefix satisfies the writer's partition-column ordering: no
    * exchange or sort is added beyond the caller's.
    *
    * `touched = None` is a full build: the layout is overwritten.
    * `Some(bs)` rewrites buckets `bs` alone by dynamic partition
    * overwrite, and other bucket directories keep their files
    * byte-identical. Dynamic overwrite replaces only the directories
    * the output holds rows for, so a touched bucket the rows left empty
    * would keep its old files: such a bucket — one whose file names are
    * the same after the write as before (every write's part files carry
    * a fresh job id) — is deleted.
    */
  private[graft] def writeBuckets(rows: DataFrame, path: String, buckets: Int,
                                  keys: Seq[String],
                                  touched: Option[Seq[Int]] = None): Unit = {
    def names(b: Int): Set[String] =
      Option(new File(path, s"bucket=$b").list()).fold(Set.empty[String])(_.toSet)
    val before = touched.toSeq.flatten.map(b => b -> names(b))
    val writer = rows.sortWithinPartitions(("bucket" +: keys).map(col): _*)
      .write.mode("overwrite").partitionBy("bucket")
    touched.fold(writer)(_ => writer.option("partitionOverwriteMode", "dynamic"))
      .parquet(path)
    before.foreach { case (b, old) =>
      if (old.nonEmpty && names(b) == old) deleteRecursively(s"$path/bucket=$b")
    }
    writeLayoutBuckets(path, buckets)
  }

  /** Full build of the fact table in the bucket layout, from a logical
    * fact frame: bucket stamped, hash-partitioned on `stock`, written by
    * [[writeBuckets]]. The layout's read properties: co-located stocks,
    * min/max row-group pruning on the PK prefix, a lookup that lists one
    * bucket directory ([[readBucket]]), and an increment that rewrites
    * only the buckets it touches ([[upsertFactDelta]]) — O(delta), never
    * O(history).
    */
  def writeFactPartitioned(df: DataFrame, path: String,
                           buckets: Int = 32): Unit =
    writeBuckets(df.withColumn("bucket", factBucket(buckets))
      .repartition(buckets, col("stock")),
      path, buckets, graft.transform.Financials.Pk)

  /** O(delta) incremental fact upsert — the engine-scale analogue of the
    * reference's `INSERT … ON DUPLICATE KEY UPDATE`, which touches only
    * incoming rows (Financilas.py:167–184). Steps:
    *   1. bucket the (already PK-deduped) delta;
    *   2. read ONLY the buckets the delta touches from the existing
    *      layout (partition pruning — untouched buckets are never read);
    *   3. merge: existing rows whose PK collides with the delta are
    *      replaced (left-anti + union ≡ incoming-wins last-write-wins);
    *   4. rewrite ONLY the touched buckets ([[writeBuckets]]) —
    *      untouched bucket directories keep their files byte-identical.
    * Per-increment cost is O(touched buckets) ≈ delta keys × (history /
    * `buckets`) in read, shuffle and write. SIZE `buckets` WITH THE
    * TABLE — roughly one bucket per file-sized chunk of history (the
    * Scale harness uses 512 at 79M rows; a 100 TB table wants tens of
    * thousands): with too few buckets any moderate delta touches every
    * bucket and the rewrite degenerates to O(history). The
    * touched-bucket list is driver-side partition METADATA (≤ `buckets`
    * ints, same class of information as partition pruning), not data.
    *
    * Reading `path` while dynamically overwriting it is safe under the
    * file-commit protocol: the job stages new files under the output
    * path and deletes replaced partition directories only at job
    * COMMIT, after every (read+write) task has finished — verified by
    * the byte-identity test in LayoutSpec. (As with any multi-directory
    * dynamic overwrite, the commit itself is not atomic across buckets;
    * a production deployment would put a transactional table format
    * over the same layout.)
    *
    * @param deltaStocks optional ONE-column DataFrame of the stocks the
    *                     delta covers (a superset is fine — extra
    *                     buckets are read and rewritten unchanged). A
    *                     caller usually knows this cheaply — e.g. the
    *                     distinct symbols of the raw-zone partition it
    *                     just normalized, a column-pruned scan with no
    *                     payload parse. Without it the probe must run
    *                     the delta pipeline itself, so the delta is
    *                     materialized (localCheckpoint) to keep that
    *                     single-pass.
    * @param materialized the caller guarantees `incoming` is ALREADY
    *                     eagerly materialized (localCheckpoint or
    *                     equivalent). Skips the internal
    *                     re-materialization — an IVM day step that
    *                     checkpointed the delta for its own retraction
    *                     aggregate would otherwise pay a second full copy
    *                     of the same rows (guide §1.2: don't compute
    *                     things you throw away). The bucket is stamped
    *                     here from `buckets` either way.
    */
  def upsertFactDelta(spark: SparkSession,
                      path: String, incoming: DataFrame,
                      buckets: Int = 32,
                      deltaStocks: Option[DataFrame] = None,
                      materialized: Boolean = false): Unit = {
    requireBuckets(path, buckets, "upsertFactDelta")
    val pk = graft.transform.Financials.Pk
    // Materialize the delta ONCE up front: the stray guard below and
    // the merge job share a single run of the delta's upstream pipeline
    // (e.g. a day's parse+unpivot), and the merge never lazily re-reads
    // anything the dynamic overwrite is about to replace. The delta is
    // O(day), so the materialization is bounded by the increment, never
    // the table. With deltaStocks the touched-bucket probe still never
    // runs the pipeline — it scans the caller's key universe only.
    // Durability: losing these executor blocks mid-merge fails the JOB
    // before its single overwrite commits (the file-commit protocol
    // publishes at job commit only), so the caller's retry — a batch
    // scheduler rerun or foreachBatch redelivery — re-derives the
    // delta from its durable upstream (the raw-zone partition) and
    // re-applies; the localCheckpoint stages WORK, not the only copy
    // of any data, unlike deleteFactKeys' surviving set (which IS
    // durably staged below for exactly that reason).
    val stamped = incoming.withColumn("bucket", factBucket(buckets))
    val delta = if (materialized) stamped else stamped.localCheckpoint()
    val probe = deltaStocks match {
      case Some(ks) => ks.select(col(ks.columns.head).as("stock"))
        .select(factBucket(buckets).as("bucket"))
      case None => delta.select("bucket")
    }
    val touched = probe.distinct()
      .collect().map(_.getInt(0)).sorted.toIndexedSeq
    // Guard the deltaStocks contract BEFORE the write: a delta row
    // whose bucket is not in the touched set would land in the merged
    // output alone — dynamic overwrite would then replace that bucket
    // directory with delta-only rows, silently deleting its history.
    // Counting strays on the checkpointed delta costs one cheap scan
    // and throws before ANY rewrite, so a violation never touches the
    // layout at all. (A listener-based Observation can't serve here:
    // inside a streaming foreachBatch — StreamIvm's maintenance loop —
    // the write is a nested execution under the micro-batch's execution
    // id, QueryExecutionListener events never fire, and Observation.get
    // deadlocks.) When deltaStocks is None the probe IS the delta's own
    // bucket column, so every delta row is in the touched set by
    // construction — the guard scan is skipped outright (one fewer job
    // per increment).
    deltaStocks.foreach { _ =>
      val stray = delta.filter(!col("bucket").isin(touched: _*)).count()
      if (stray > 0)
        throw new IllegalStateException(
          s"upsertFactDelta: $stray delta row(s) fall outside the " +
            "deltaStocks key universe — nothing was applied (the rewrite " +
            "was refused before touching the layout, so no history was " +
            "lost). Pass a deltaStocks that covers every delta stock, " +
            "or None to derive the universe from the delta itself.")
    }
    val guarded = delta.filter(col("bucket").isin(touched: _*))
    val existing = readLayout(spark, path)
      .filter(col("bucket").isin(touched: _*))
    // ONE exchange for the whole merge+write (the q38 fusion, applied
    // to the touched subset): the tagged union repartitions on `stock`,
    // which satisfies the PK dedup's required distribution (stock ⊆ PK)
    // AND is the physical bucket layout — so the last-write-wins merge
    // runs co-located and the partitioned write adds no further shuffle
    // or sort (the `bucket` sort prefix satisfies the writer).
    val tagged = existing.withColumn("_gen", lit(0))
      .unionByName(guarded.withColumn("_gen", lit(1)))
      .repartition(buckets, col("stock"))
    // in the layout's column order: latestByKey puts the keys first, and
    // a rewritten bucket must not differ from its neighbours' files
    val merged = graft.transform.Upsert.latestByKey(tagged, pk, col("_gen"))
      .select(existing.columns.map(col): _*)
    writeBuckets(merged, path, buckets, pk, Some(touched))
  }

  /** Targeted DELETE on the bucketed fact layout — the
    * right-to-be-forgotten / contract-expiry operation: remove every
    * fact row of the given stocks while rewriting ONLY the hash
    * buckets those stocks live in. Cost is O(|keys| × history/buckets)
    * — the [[upsertFactDelta]] discipline with a broadcast anti-join
    * in place of the merge — never O(table): at 100 TB a deletion
    * request touches a handful of bucket directories, not the corpus.
    * A bucket whose every row is deleted is removed by [[writeBuckets]].
    *
    * The surviving set must be MATERIALIZED DURABLY before the
    * overwrite starts: it is derived by reading the very directories
    * the write replaces. A `localCheckpoint` is NOT enough on a real
    * cluster — it stores the only copy as executor-memory/disk blocks,
    * so an executor loss after the overwrite began would lose surviving
    * rows forever. Instead the surviving set is STAGED as a sibling
    * parquet dir on the layout's own filesystem (write + read-back +
    * swap): every failure point now leaves either the untouched source
    * buckets or a durable staged copy, and the overwrite job reads only
    * the staging dir — no read-your-own-overwrite race at all. The
    * read-back takes the schema the staging dir was written with, so
    * it runs no inference job.
    */
  def deleteFactKeys(spark: SparkSession,
                     path: String, stocks: DataFrame,
                     buckets: Int = 32): Unit = {
    require(stocks.columns.length == 1,
      s"deleteFactKeys expects a single-column keys frame (the stocks " +
        s"to delete); got columns [${stocks.columns.mkString(", ")}] — " +
        "select the key column explicitly so a malformed frame fails " +
        "loudly instead of deleting the wrong rows")
    requireBuckets(path, buckets, "deleteFactKeys")
    val keys = stocks.select(col(stocks.columns.head).as("stock"))
      .distinct().localCheckpoint() // bounded: the key list itself
    val touched = keys.select(factBucket(buckets).as("bucket"))
      .distinct().collect().map(_.getInt(0)).sorted.toIndexedSeq
    if (touched.nonEmpty) {
      val staging = s"${path.stripSuffix("/")}__delete_staging"
      deleteRecursively(staging)
      val survivors = readLayout(spark, path)
        .filter(col("bucket").isin(touched: _*))
        .join(broadcast(keys), Seq("stock"), "left_anti")
      survivors.write.mode("overwrite").parquet(staging)
      writeBuckets(spark.read.schema(survivors.schema).parquet(staging)
        .repartition(buckets, col("stock")),
        path, buckets, graft.transform.Financials.Pk, Some(touched))
      deleteRecursively(staging)
    }
  }
}
