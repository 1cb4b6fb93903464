package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs: the mains' bootstrap at a fixed
  * 4 cores (small shuffle fan-out for test speed, stable test plans). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared across suites

  /** `body` under `spark.sql.autoBroadcastJoinThreshold=-1`, the previous
    * value restored after: no relation counts as broadcast-small, so joins
    * shuffle and the self-FK subset closure takes its distributed path. */
  def withBroadcastOff[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      body
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  /** `run` twice: at the session's broadcast threshold, where a small
    * self-FK subset closes over driver arrays, and under
    * [[withBroadcastOff]], where each doubling round is a distributed
    * join. `run` consumes its result; the checkpoints it leaves are
    * released after each run. Both runs must return the same value after
    * the same number of `selfFkClosure` rounds. Returns the first run's
    * value and rounds. */
  def onBothSelfFkPaths[T](run: => T): (T, Int) = {
    def once(): (T, Int) = {
      val out = run
      val rounds = graft.plans.FixpointStats.last("selfFkClosure").get
      graft.plans.Checkpoints.releaseAll()
      (out, rounds)
    }
    val inMemory = once()
    val distributed = withBroadcastOff(once())
    assert(distributed == inMemory, s"in-memory path $inMemory, distributed path $distributed")
    inMemory
  }
}

object SparkSpec {
  lazy val session: SparkSession = LocalSession(cpus = 4)
}
