package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.types.{DataType, StructType}

/** The engine's one reader of parquet METADATA: which files of a
  * parquet directory are data, and what their footers say. The fact
  * layout and the changelog both answer schema, shape, row-count and
  * size questions here, on the driver through [[LogFs]] — never with a
  * Spark job and never with a data scan.
  */
private[graft] object ParquetMeta {

  /** A footer's top-level column names in file order, and Spark's own
    * row-metadata schema when a Spark writer wrote the file (a file
    * staged by parquet-hadoop directly carries none).
    */
  final case class FooterSchema(columns: Seq[String],
                                sparkSchema: Option[StructType])

  /** The data files under `dir` in name order, through `col=value`
    * directories, lazily: a caller that stops at the first file lists
    * only the directories on the way to it. A `.` or `_` file is a
    * checksum, marker or sidecar, and a directory that is not
    * `col=value` (`_temporary`, staging) holds no data — Spark's
    * listing rule, except that a `_` FILE is never data even with a
    * `=` in its name (a marker named after a free-form writer id).
    * Empty when `dir` does not exist.
    */
  def dataFiles(dir: String): Iterator[FileStatus] =
    LogFs.list(dir).sortBy(_.getPath.getName).iterator.flatMap { s =>
      val name = s.getPath.getName
      if (name.startsWith(".")) Iterator.empty
      else if (s.isFile)
        if (name.startsWith("_")) Iterator.empty else Iterator.single(s)
      else if (name.contains("=")) dataFiles(s.getPath.toString)
      else Iterator.empty
    }

  /** One footer open, row groups skipped. */
  def schema(file: Path): FooterSchema = {
    val meta = footer(file, ParquetMetadataConverter.SKIP_ROW_GROUPS)
      .getFileMetaData
    FooterSchema(meta.getSchema.getFields.asScala.map(_.getName).toSeq,
      Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
        .map(DataType.fromJson(_).asInstanceOf[StructType]))
  }

  /** One footer open: (record count, uncompressed bytes). The bytes are
    * the row groups' `total_byte_size` — what bounds a reader's
    * in-memory batch, not the compressed file length.
    */
  def stats(file: Path): (Long, Long) = {
    val blocks = footer(file, ParquetMetadataConverter.NO_FILTER)
      .getBlocks.asScala
    (blocks.map(_.getRowCount).sum, blocks.map(_.getTotalByteSize).sum)
  }

  /** `spark.read.parquet(path)` without its schema-inference job (a
    * Spark job even for one footer): the schema is Spark's own row
    * metadata from `file`'s footer; partition columns are still
    * discovered from directory names. No file, or no row metadata:
    * the inferring read, loud on a missing or empty directory. A
    * `basePath` above `path` discovers the partition columns between
    * them.
    */
  def read(spark: SparkSession, path: String, file: Option[FileStatus],
           basePath: Option[String] = None): DataFrame = {
    val reader = basePath.foldLeft(spark.read)(_.option("basePath", _))
    file.flatMap(f => schema(f.getPath).sparkSchema) match {
      case Some(s) => reader.schema(s).parquet(path)
      case None    => reader.parquet(path)
    }
  }

  /** [[stats]] summed over every data file under `dir`. */
  def dirStats(dir: String): (Long, Long) =
    dataFiles(dir).map(s => stats(s.getPath))
      .foldLeft((0L, 0L)) { case ((r, b), (fr, fb)) => (r + fr, b + fb) }

  private def footer(file: Path,
                     filter: ParquetMetadataConverter.MetadataFilter)
      : ParquetMetadata = {
    val rd = ParquetFileReader.open(
      HadoopInputFile.fromPath(file, LogFs.hadoopConf),
      ParquetReadOptions.builder().withMetadataFilter(filter).build())
    try rd.getFooter finally rd.close()
  }
}
