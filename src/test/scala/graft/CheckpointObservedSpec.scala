package graft

import graft.plans.Checkpoints
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions._

/** `GraftBridge.checkpointObserved`, the eager checkpoint every fix-point
  * round goes through: it costs the jobs of a plain eager checkpoint, its
  * observed row is the aggregate a separate action would return, and its
  * leaf carries exact statistics that a self-joining loop cannot compound. */
class CheckpointObservedSpec extends SparkSpec {

  private def grouped(): DataFrame = spark.range(0, 2000, 1, 4)
    .groupBy((col("id") % 37).as("k"))
    .agg(count(lit(1)).as("n"), sum("id").as("s"))

  test("costs the jobs of localCheckpoint(eager = true) on a groupBy input") {
    val (plain, plainJobs) = JobCount(spark)(grouped().localCheckpoint(eager = true))
    val ((observed, row), observedJobs) = JobCount(spark)(
      GraftBridge.checkpointObserved(grouped(), max("n"), sum("s")))
    try {
      assert(plainJobs > 0)
      assert(observedJobs == plainJobs,
        s"checkpointObserved ran $observedJobs jobs, localCheckpoint(eager) ran $plainJobs")
      assert(row.getLong(0) == 37L)
      assert(observed.collect().toSet == plain.collect().toSet)
    } finally Seq(plain, observed).foreach(Checkpoints.unpersistCheckpoint)
  }

  test("the observed row equals df.agg(count(lit(1)), aggs...), empty inputs included") {
    val aggs = Seq(sum("s"), max("k"), count_if(col("n") > 54),
      sum(col("s").cast("decimal(38,0)")))
    val inputs = Seq(
      "groupBy" -> grouped(),
      "empty after a shuffle" -> grouped().filter(col("n") < 0),
      "empty before a shuffle" -> spark.range(0, 2000, 1, 4).filter(col("id") < 0)
        .groupBy((col("id") % 37).as("k"))
        .agg(count(lit(1)).as("n"), sum("id").as("s")))
    for ((label, df) <- inputs) {
      val expected = df.agg(count(lit(1)), aggs: _*).head()
      val (cp, row) = GraftBridge.checkpointObserved(df, aggs: _*)
      try assert(row == expected, s"$label: observed $row, agg $expected")
      finally Checkpoints.unpersistCheckpoint(cp)
    }
  }

  test("the leaf's rowCount is exact and its sizeInBytes stays bounded over 25 self-join rounds") {
    // every round joins the leaf with itself: estimated stats copied onto
    // each new leaf would multiply once per round
    var (leaf, _) = GraftBridge.checkpointObserved(
      spark.range(0, 64).select(col("id"), (col("id") / 2).cast("long").as("up")))
    for (round <- 1 to 25) {
      val next = leaf.as("a").join(leaf.as("b"), col("a.up") === col("b.id"))
        .select(col("a.id").as("id"), col("b.up").as("up"))
      val (cp, row) = GraftBridge.checkpointObserved(next)
      Checkpoints.unpersistCheckpoint(leaf)
      leaf = cp
      val stats = leaf.queryExecution.optimizedPlan.stats
      assert(row.getLong(0) == 64L)
      assert(stats.rowCount.contains(BigInt(64)), s"round $round: ${stats.rowCount}")
      assert(stats.sizeInBytes <= BigInt(64) * 64, s"round $round: ${stats.sizeInBytes}")
    }
    assert(leaf.filter(col("up") =!= 0).count() == 0L) // every chain reached the root
    Checkpoints.unpersistCheckpoint(leaf)
  }
}
