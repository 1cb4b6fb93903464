package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs: the mains' bootstrap at a fixed
  * 4 cores (small shuffle fan-out for test speed, stable test plans). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  lazy val session: SparkSession = LocalSession(cpus = 4)
}
