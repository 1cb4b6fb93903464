package graft

import graft.llm.{Dedup, TextOps}
import graft.ops.RecordLinkage
import graft.plans.Checkpoints
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** `GraftBridge.checkpointObserved`, the one eager checkpoint (and
  * `Checkpoints.materialize`, its registered form): it costs the jobs of a
  * plain eager checkpoint, its observed row is the aggregate a separate
  * action would return, its leaf carries exact statistics that a
  * self-joining loop cannot compound and that cover the bytes its rows
  * store, and the operators whose census reads a fresh checkpoint pay no
  * job beyond the checkpoint's own. */
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

  test("materialize(df, aggs*) returns the agg row and registers one checkpoint for releaseAll") {
    val aggs = Seq(sum("s"), max("k"), count_if(col("n") > 54))
    val expected = grouped().agg(count(lit(1)), aggs: _*).head()
    Checkpoints.releaseAll()
    val (cp, row) = Checkpoints.materialize(grouped(), aggs: _*)
    val rdd = cp.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
    assert(row == expected, s"materialize $row, agg $expected")
    assert(Checkpoints.trackedCount == 1)
    assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    Checkpoints.releaseAll()
    assert(Checkpoints.trackedCount == 0)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id))
  }

  test("the leaf's sizeInBytes covers the bytes its rows store: 1 KB text rows and 32-float arrays") {
    val ids = spark.range(0, 1000, 1, 4)
    val inputs = Seq(
      ("1 KB text", ids.select(col("id"), repeat(lit("x"), 1024).as("t")), 1024L),
      ("32-float arrays", ids.select(col("id"),
        array((0 until 32).map(i => (col("id") + i).cast("float")): _*).as("v")), 32L * 4))
    for ((label, df, payload) <- inputs) {
      val cp = Checkpoints.materialize(df)
      try {
        val stats = cp.queryExecution.optimizedPlan.stats
        assert(stats.rowCount.contains(BigInt(1000)), s"$label: ${stats.rowCount}")
        assert(stats.sizeInBytes >= BigInt(1000) * payload, s"$label: ${stats.sizeInBytes}")
      } finally Checkpoints.unpersistCheckpoint(cp)
    }
  }

  test("simhashHammingPairs and a capped fuzzyJoinReleasable run only their checkpoints' jobs") {
    import spark.implicits._
    val docs = (1L to 60L).map(i => (i, s"doc ${i % 7} alpha beta gamma ${i % 3}"))
      .toDF("id", "text")
    val (leaf, leafJobs) = JobCount(spark)(Checkpoints.materialize(
      docs.select(col("id"), TextOps.simhash60(col("text")).as("sh"))))
    Checkpoints.unpersistCheckpoint(leaf)
    val (_, pairJobs) = JobCount(spark)(Dedup.simhashHammingPairs(docs, "id", "text"))
    assert(leafJobs > 0)
    assert(pairJobs == leafJobs, s"simhashHammingPairs ran $pairJobs jobs, its leaf $leafJobs")

    val a = (1L to 30L).map(i => (i, s"name${i % 4}abc")).toDF("id", "t")
    val b = (101L to 120L).map(i => (i, s"nome${i % 5}abc")).toDF("id", "t")
    def census(df: DataFrame): DataFrame = df.select(RecordLinkage.suffixBlock(col("t")).as("__blk"))
      .groupBy("__blk").agg(count(lit(1)).as("__bn"))
    val (censuses, censusJobs) = JobCount(spark)(Seq(a, b).map(d => Checkpoints.materialize(census(d))))
    censuses.foreach(Checkpoints.unpersistCheckpoint)
    val (linked, linkJobs) = JobCount(spark)(RecordLinkage.fuzzyJoinReleasable(
      a, "id", "t", RecordLinkage.suffixBlock(col("t")),
      b, "id", "t", RecordLinkage.suffixBlock(col("t")),
      maxDist = 2, maxBlockSize = Some(5), widenInputs = false))
    linked.releaseCensus()
    assert(linked.report("a").droppedBlocks > 0L)
    assert(linkJobs == censusJobs, s"capped fuzzyJoin ran $linkJobs jobs, its censuses $censusJobs")
  }

  test("minhashLshClusters and entityClusters leave no checkpoint in storage after releaseAll") {
    import spark.implicits._
    // ids, not a count: the context cleaner may drop an earlier test's
    // unreferenced RDD meanwhile and hide a new one in the count
    def stored = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val core = (1 to 19).map(i => s"w$i").mkString(" ")
    val docs = Seq((10L, s"$core endx"), (11L, s"$core endy"),
      (12L, s"starty ${core.split(" ").drop(1).mkString(" ")} endy"), (13L, "lone doc")).toDF("doc_id", "text")
    val pairs = (1L until 12L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    val records = (1L to 13L).toDF("rec_id")
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "minhashLshClusters" -> (() => Dedup.minhashLshClusters(docs, "doc_id", "text")),
      "entityClusters" -> (() => RecordLinkage.entityClusters(records, "rec_id", pairs)))
    for ((name, call) <- calls) {
      Checkpoints.releaseAll()
      val before = stored
      val reps = call().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(reps.values.toSet.size == 2, s"$name: $reps")
      assert((stored -- before).nonEmpty, s"$name: its labels back the result until released")
      Checkpoints.releaseAll()
      assert((stored -- before).isEmpty, s"$name: RDDs ${stored -- before} left after releaseAll")
    }
  }
}
