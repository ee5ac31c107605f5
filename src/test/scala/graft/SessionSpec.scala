package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the engine contract of [[Session.local]], the one session every
  * entry point and spec runs on.
  */
class SessionSpec extends AnyFunSuite with SparkSpec {

  test("session confs: UTC, nanos-as-long parquet, 4 shuffle partitions") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("Tuning.localIo: fork-free local fs, checkpoint checksums off") {
    assert(spark.sparkContext.hadoopConfiguration.get("fs.file.impl") ==
      "graft.sources.NioLocalFileSystem")
    assert(spark.conf.get(
      "spark.sql.streaming.checkpoint.fileChecksum.enabled") == "false")
  }

  test("GraftExtensions functions resolve in spark.sql") {
    // a fresh session's function registry comes from the builtins plus
    // the session extensions only, so another suite's explicit
    // GraftSqlFunctions.register on the shared session cannot mask a
    // missing extension here
    val fresh = spark.newSession()
    assert(fresh.sql("SELECT parse_market_cap('2K') AS v")
      .head().getDouble(0) == 2000.0)
  }
}
