package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession factory behind every entry point (Bench,
  * Verify, Explain, StageSf, the Scale harnesses and the test base), so
  * they all run the same engine: [[Tuning.localIo]]'s I/O fixes, the
  * graft SQL extensions, UTC session time, the nanos-as-long parquet
  * read (Tables.events) and one shuffle partition per core.
  */
object Session {
  def local(cpus: Int): SparkSession = {
    val spark = Tuning.localIo(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The core count a main runs at: `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)
}
