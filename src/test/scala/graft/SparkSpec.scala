package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  /** The session the product runs under ([[GraftSession]]), at 4 cores. */
  lazy val session: SparkSession = GraftSession.local(cores = 4)
}
