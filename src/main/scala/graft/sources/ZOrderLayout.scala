package graft.sources

import org.apache.spark.Partitioner
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.ZOrderExpr

/** Z-order clustered parquet layout: range-partition + sort the table by
  * the Morton interleave of two filter columns, so 2-D box predicates
  * prune files AND row groups on both columns' min/max statistics.
  *
  * Complements the 1-D layouts in Sinks: bucket-by-key serves point
  * lookups (q57) and co-located joins (q56); PK-prefix sort serves range
  * scans on the leading key; Z-order serves the analytic slice "x in
  * [a,b] AND y in [c,d]" where neither column alone is selective enough
  * to lead a sort. At 100 TB this is the difference between scanning
  * ~(selectivity_x × selectivity_y) of the table and scanning
  * min(selectivity_x, 1) of it.
  *
  * File placement is ARITHMETIC, not sampled: the z domain is known
  * (2^(2·bits)), so file boundaries are `floor(z / ceil(domain/numFiles))`
  * — every run of the same input produces byte-identical file ranges.
  * `repartitionByRange` would instead sample with an RDD-id-dependent
  * seed, making boundaries (and therefore which file a row lands in)
  * depend on what ran earlier in the session; at 100 TB the sampling
  * pass is also a full extra scan. One shuffle, sorted on z within each
  * file; z is computed, used for placement, and dropped (it is
  * derivable, not schema).
  */
object ZOrderLayout {

  private val ZCol = "_graft_z"

  /** Write `df` z-clustered on (xCol, yCol) into `numFiles` files.
    * Coordinates must be non-negative and < 2^bits (ZOrderExpr throws
    * loudly otherwise); NULL coordinates are excluded from the layout —
    * callers with nullable filter columns should route nulls to a
    * separate partition (a null coordinate cannot be placed on, or
    * pruned by, the curve).
    */
  def write(df: DataFrame, xCol: String, yCol: String, bits: Int,
            numFiles: Int, path: String): Unit = {
    require(!df.columns.contains(ZCol), s"$ZCol is reserved by ZOrderLayout")
    val zdf = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .withColumn(ZCol,
        ZOrderExpr.zorder2(col(xCol).cast("long"), col(yCol).cast("long"), bits))
    writeRangeClustered(zdf, ZCol, 1L << (2 * bits), numFiles, path)
  }

  /** Deterministic range-clustered write: place rows into `numFiles`
    * files by the arithmetic range of `keyCol` (a non-negative long in
    * `[0, domain)`), sorted on the key within each file. File i holds
    * keys `[i·w, (i+1)·w)` with `w = ceil(domain/numFiles)` — exact,
    * seed-free placement (unlike `repartitionByRange`, which samples).
    * The key column is dropped before the write when it is the reserved
    * z column; other callers keep their key (it is real schema).
    */
  def writeRangeClustered(df: DataFrame, keyCol: String, domain: Long,
                          numFiles: Int, path: String): Unit = {
    val out = rangeClustered(df, keyCol, domain, numFiles)
    val dropped = if (keyCol == ZCol) out.drop(ZCol) else out
    dropped.write.mode("overwrite").parquet(path)
  }

  /** The clustering itself as a DataFrame transform: `numFiles`
    * partitions placed by the arithmetic key range, sorted on the key
    * within each — a plain write of the result produces one clustered
    * file per partition, and callers that need a different landing
    * (e.g. a changelog's dynamic-overwrite commit directory,
    * [[Changelog.checkpoint]]'s `cluster`) compose their own write on
    * top without losing the placement (no shuffle sits between this
    * and the write). RDD usage is the justified kind: per-partition
    * imperative placement with an arithmetic partitioner is exactly
    * what `repartitionAndSortWithinPartitions` exists for, and the
    * declarative alternative (`repartitionByRange`) samples with an
    * RDD-id-dependent seed.
    */
  /** Equal-depth clustering for a STRING key — the q188 bucketed-prefix
    * kernel repurposed as a file placer: each row's GLOBAL RANK in
    * UTF-8 key order is computed without a single-task sort
    * ([[graft.ext.Interleave.bucketedGroupRank]] with the bucket = the
    * key's first two UTF-8 bytes — a prefix of Spark's string order —
    * and a broadcast prefix-sum over the ≤65,536-row counts table),
    * then file i holds ranks `[i·N/numFiles, (i+1)·N/numFiles)` via the
    * same arithmetic [[rangeClustered]] placement on the rank. Exact
    * equal-depth boundaries, deterministic (ties broken by
    * `tieBreakCols` — pass the remaining key columns so the order is
    * total), seed-free, and the max per-task sort is one shared-prefix
    * slice. String min/max file statistics then prune key-range reads
    * exactly like the numeric layout's.
    */
  def rankClusteredString(df: DataFrame, keyCol: String, numFiles: Int,
                          tieBreakCols: Seq[String] = Nil): DataFrame = {
    val internal = Seq("_graft_rank", "_graft_pos")
    require(!df.columns.exists(internal.contains),
      s"${internal.mkString("/")} are reserved by rankClusteredString")
    val n = df.count()
    require(n > 0, "rankClusteredString needs a non-empty input")
    val bin = encode(col(keyCol), "UTF-8")
    def byteAt(i: Int) =
      when(length(substring(bin, i, 1)) === 1,
        conv(hex(substring(bin, i, 1)), 16, 10).cast("long"))
        .otherwise(lit(0L))
    val bucket = byteAt(1) * 256L + byteAt(2)
    val ranked = graft.ext.Interleave.bucketedGroupRank(df, Nil, bucket,
      1L, col(keyCol) +: tieBreakCols.map(col), "_graft_rank")
    rangeClustered(
      ranked.withColumn("_graft_pos", col("_graft_rank") - 1)
        .drop("_graft_rank"),
      "_graft_pos", n, numFiles).drop("_graft_pos")
  }

  /** 2-D z-order clustering as a transform (the [[write]] placement
    * without the write): rows placed into `numFiles` files by the
    * arithmetic range of the Morton interleave of (xCol, yCol), sorted
    * on z within each file, the z column derived and dropped.
    * Coordinates must be non-null non-negative longs < 2^bits (the
    * caller's key contract — [[graft.sources.Changelog.optimizeOpsZOrder]]
    * requires both to be key columns, which are non-null by
    * construction).
    */
  def zClustered(df: DataFrame, xCol: String, yCol: String, bits: Int,
                 numFiles: Int): DataFrame = {
    require(!df.columns.contains(ZCol), s"$ZCol is reserved by ZOrderLayout")
    val zdf = df.withColumn(ZCol,
      ZOrderExpr.zorder2(col(xCol).cast("long"), col(yCol).cast("long"),
        bits))
    rangeClustered(zdf, ZCol, 1L << (2 * bits), numFiles).drop(ZCol)
  }

  def rangeClustered(df: DataFrame, keyCol: String, domain: Long,
                     numFiles: Int): DataFrame = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    require(domain >= 1, s"domain must be >= 1, got $domain")
    val schema = df.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val width = math.max(1L, (domain + numFiles - 1) / numFiles)
    val nFiles = numFiles
    val part = new Partitioner {
      override def numPartitions: Int = nFiles
      override def getPartition(key: Any): Int = {
        val k = key.asInstanceOf[Long]
        require(k >= 0 && k < domain, s"clustering key $k out of [0, $domain)")
        math.min((k / width).toInt, nFiles - 1)
      }
    }
    val placed = df.rdd
      .map(r => (r.getLong(keyIdx), r))
      .repartitionAndSortWithinPartitions(part)
      .map(_._2)
    df.sparkSession.createDataFrame(placed, schema)
  }
}
