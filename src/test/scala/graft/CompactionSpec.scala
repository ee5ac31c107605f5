package graft

import org.apache.spark.sql.functions._
import graft.sources.{Compaction, Sinks}

/** Compaction sizing law + content preservation, and the trigram-LM /
  * cohort operators' laws on hand-built fixtures.
  */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  test("compact: ceil(bytes/target) files out, content preserved") {
    val in = Sinks.tmpPath("compaction_spec_in")
    val out = Sinks.tmpPath("compaction_spec_out")
    // ~64 fragments of a small table — the small-file pathology
    val df = (0L until 20000L).map(i => (i, s"row_$i", i * 0.5))
      .toDF("id", "name", "v")
    df.repartition(64).write.mode("overwrite").parquet(in)
    assert(Compaction.fileCount(in) == 64)

    val bytes = Compaction.dataBytes(in)
    val target = bytes / 3 + 1 // expect ceil(bytes/target) = 3
    val n = Compaction.compact(spark, in, out, target)
    assert(n == 3)
    assert(Compaction.fileCount(out) == 3)
    // content identity (multiset)
    val a = Compaction.read(spark, out).as[(Long, String, Double)]
      .collect().sorted.toSeq
    val b = df.as[(Long, String, Double)].collect().sorted.toSeq
    assert(a == b)
  }

  test("compact: target larger than table collapses to one file") {
    val in = Sinks.tmpPath("compaction_spec_one_in")
    val out = Sinks.tmpPath("compaction_spec_one_out")
    (0L until 100L).toDF("id").repartition(8)
      .write.mode("overwrite").parquet(in)
    assert(Compaction.compact(spark, in, out, Long.MaxValue / 2) == 1)
    assert(Compaction.fileCount(out) == 1)
    assert(Compaction.read(spark, out).count() == 100L)
  }
}
