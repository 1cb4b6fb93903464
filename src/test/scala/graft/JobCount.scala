package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs one block of code starts. The block runs
  * under a fresh job group, so jobs of anything else sharing the session
  * are not counted; the listener bus is drained before reading. */
object JobCount {
  private val groups = new java.util.concurrent.atomic.AtomicLong()

  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobcount-${groups.incrementAndGet()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count")
      val out = try body finally sc.clearJobGroup()
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
