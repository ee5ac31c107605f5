package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, Test/fork=true),
  * from the same factory as Bench/Verify. Pinned at 4 cores and 4
  * shuffle partitions: specs never follow SPARK_GRAFT_CPUS.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4)
}
