package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession bootstrap every main (and the test
  * harness) goes through: `local[cpus]` with as many shuffle partitions,
  * the UTC session time zone, TIMESTAMP(NANOS) parquet read as epoch
  * Long, no UI, WARN logging, and the checkpoint-unpersist warnings
  * silenced.
  *
  * `cpus` defaults to `SPARK_GRAFT_CPUS`, else the JVM's available
  * processors. */
object LocalSession {

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cpus: Int = LocalSession.cpus): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.plans.Checkpoints.quietUnpersistWarnings()
    s
  }
}
