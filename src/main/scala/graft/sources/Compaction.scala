package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Small-file compaction — the OPTIMIZE/maintenance pass every
  * long-lived lake table needs: streaming appends, per-batch commits,
  * and incremental upserts (this library's own raw-zone and changelog
  * sinks included) accumulate many small files, and at cluster scale
  * the resulting task-per-tiny-file scheduling plus per-file open/footer
  * overhead dominates scan cost long before the data itself does.
  * Compaction rewrites the table into ~`targetBytes` files while
  * leaving CONTENT identical — it is a physical-layout operator with no
  * query semantics, which is exactly how it is verified (the oracle is
  * the plain table).
  *
  * Sizing law: output file count = ceil(input bytes / targetBytes),
  * from the filesystem's file metadata — a driver-side LISTING through
  * the Hadoop FileSystem API (any scheme: HDFS, S3A, local), never a
  * data scan. The rewrite itself is ONE round-robin exchange
  * (repartition(n) balances bytes across writers without any key
  * assumption; no sort, no skew exposure). At 100 TB this runs
  * per-partition/per-table-slice in a real deployment — the law is
  * per-directory, and nothing here depends on the whole table at once.
  */
object Compaction {

  /** Data bytes in `path` per the driver-side listing (data files
    * only — excludes _SUCCESS/metadata sidecars).
    */
  def dataBytes(path: String): Long =
    ParquetMeta.dataFiles(path).map(_.getLen).sum

  /** Data file count under `path` (sizing-law assertions). */
  def fileCount(path: String): Int =
    ParquetMeta.dataFiles(path).size

  /** Compact `inPath` into `outPath` at ~`targetBytes` per file.
    * Returns the file count written.
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetBytes: Long): Int = {
    require(targetBytes > 0, s"targetBytes must be > 0, got $targetBytes")
    val bytes = dataBytes(inPath)
    val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(inPath)
      .repartition(nFiles)
      .write.mode("overwrite").parquet(outPath)
    nFiles
  }

  /** Read back a compacted table. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
