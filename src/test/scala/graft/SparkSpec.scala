package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, Test/fork=true),
  * from the same factory as Bench/Verify. Pinned at 4 cores and 4
  * shuffle partitions: specs never follow SPARK_GRAFT_CPUS.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4)

  /** Run `f` with the session confs `kvs` set, then restore them: the
    * session is shared by every suite.
    */
  def withConfs[T](kvs: (String, String)*)(f: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
