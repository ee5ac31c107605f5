package graft

import java.io.File
import java.nio.file.Files

import graft.sources.{Changelog, ParquetMeta, Sinks}

/** The one parquet-metadata reader: which files of a directory are
  * data, and the counts and shape the table formats read from their
  * footers.
  */
class ParquetMetaSpec extends SparkSpec {
  import spark.implicits._

  test("dataFiles: name order through col=value dirs; hidden files, " +
       "hidden dirs and plain dirs skipped") {
    val root = Sinks.tmpPath("parquet_meta_walk")
    Sinks.deleteRecursively(root)
    Seq("b=2/part-1", "b=1/part-0", "b=1/_SUCCESS", "b=1/.part-0.crc",
      "a", "_SUCCESS", "_temporary/part-9", "plain/part-8",
      "_c=3/part-3", "_graft_sinkmap_txn_w=1_0").foreach { rel =>
      val f = new File(root, rel)
      f.getParentFile.mkdirs()
      Files.write(f.toPath, Array[Byte](1)): Unit
    }
    val rels = ParquetMeta.dataFiles(root).map(s =>
      new File(root).toURI.relativize(new File(s.getPath.toUri).toURI)
        .getPath).toSeq
    assert(rels == Seq("_c=3/part-3", "a", "b=1/part-0", "b=2/part-1"))
    assert(ParquetMeta.dataFiles(Sinks.tmpPath("parquet_meta_absent"))
      .isEmpty)
  }

  test("a sub-partitioned commit records its rows: commitIdempotent " +
       "with alsoPartitionBy counts the files under _commit=v/bucket=K") {
    val path = Sinks.tmpPath("parquet_meta_subpart")
    Sinks.deleteRecursively(path)
    val delta = (0L until 40L).map(k => (k, (k % 4).toInt, k * 1.5))
      .toDF("k", "bucket", "v")
    Changelog.commitIdempotent(delta, path, 0L,
      alsoPartitionBy = Seq("bucket"))
    Changelog.commitIdempotent(delta.filter($"k" < 10L), path, 1L,
      alsoPartitionBy = Seq("bucket"))
    assert(Changelog.commitInfos(path)(0L)._3 == 40L)
    assert(Changelog.commitInfos(path)(1L)._3 == 10L)
    val (rows, bytes) = Changelog.commitDirStats(path, 0L)
    assert(rows == 40L && bytes > 0L)
    val history = Changelog.describeHistory(spark, path)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(history == Map(0L -> 40L, 1L -> 10L))
  }

  test("a commit onto an existing log runs one Spark job: the shape " +
       "guard reads a footer, not a schema-inference job") {
    val plain = Sinks.tmpPath("parquet_meta_jobs_plain")
    val ops = Sinks.tmpPath("parquet_meta_jobs_ops")
    Seq(plain, ops).foreach(Sinks.deleteRecursively)
    val delta = (0L until 20L).map(k => (k, k * 2.0)).toDF("k", "v")
    Changelog.commit(delta, plain, 0L)
    Changelog.commitUpsert(delta, ops, 0L)
    assert(observe(Changelog.commit(delta, plain, 1L))._1 == 1)
    assert(observe(Changelog.commitUpsert(delta, ops, 1L))._1 == 1)
    assert(!Changelog.isOpsLog(plain) && Changelog.isOpsLog(ops))
  }
}
