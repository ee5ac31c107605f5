package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
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

  /** Run `f` and return the Spark jobs it started and the queries it
    * ran. Listener events arrive asynchronously, so a marker query runs
    * after `f`: once both listeners have seen it, every event of `f`
    * has been delivered before it.
    */
  def observe(f: => Unit): (Int, Seq[QueryExecution]) = {
    val markerProp = "graft.spec.observe.marker"
    val jobs = new AtomicInteger
    val queries = new ConcurrentLinkedQueue[QueryExecution]
    val marker = spark.range(1).toDF("observe_marker")
    val seen = new CountDownLatch(2)
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(markerProp) != null)
          seen.countDown()
        else jobs.incrementAndGet(): Unit
    }
    val queryListener = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
        if (qe eq marker.queryExecution) seen.countDown() else queries.add(qe): Unit
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
    try {
      f
      sc.setLocalProperty(markerProp, "1")
      try marker.collect() finally sc.setLocalProperty(markerProp, null)
      assert(seen.await(60, TimeUnit.SECONDS), "listener events never arrived")
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(queryListener)
    }
    (jobs.get, queries.asScala.toSeq)
  }
}
