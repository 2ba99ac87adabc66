package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ListenerBusBridge
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.atomic.AtomicInteger

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared across suites

  /** The testdata directory of scale factor `sf` (e.g. "0.001"). */
  def testData(sf: String): String = s"${SparkSpec.TestDataRoot}/sf$sf"

  /** The number of Spark jobs `body` starts on this thread. Only jobs in
    * this thread's job group count, so a query another suite left
    * running cannot leak into the figure.
    */
  def jobsOf(body: => Unit): Int = {
    val group = "graft-spec-job-count"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try {
      body
      // every job `body` started has posted its start event by now
      ListenerBusBridge.drain(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    jobs.get
  }
}

object SparkSpec {
  /** The session the product runs under ([[GraftSession]]), at 4 cores. */
  lazy val session: SparkSession = GraftSession.local(cores = 4)

  /** The one root of the generated test tables (TESTDATA.md):
    * `SPARK_GRAFT_TESTDATA`, else the documented location.
    */
  val TestDataRoot: String = sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata")
}
