package graft

import graft.llm.Similarity
import graft.ops.RecordLinkage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Narrow-input parallelism floor for the r18 `Parallelism.widen` sites
  * (r17 forward note / VERDICT r17 #1): a ONE-FILE parquet scans to one
  * split, and without widen() the compute-dense per-row stages — the
  * IVF argmax (k·dim cosines/row), the LSH bucket assignment, and the
  * broadcast-join stream side feeding the quadratic Levenshtein DP —
  * would all serialize behind that single task. These specs pin the
  * floor: with a 1-split scan in, the widened stage runs at the
  * session's default parallelism; and the widened results are
  * value-identical to a pre-widened (already-parallel) input, so the
  * redistribution is pure plan hygiene. */
class WidenSpec extends SparkSpec {
  import spark.implicits._

  /** Write df as ONE parquet file and read it back: a genuinely narrow
    * scan (1 split), the pathological layout widen() exists for. */
  private def oneFile(df: DataFrame, name: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("widen_" + name).toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    spark.read.parquet(s"$dir/$name.parquet")
  }

  /** Count executed round-robin repartition exchanges with >= n target
    * partitions (the shape widen() emits; PlanAudit's hash-exchange
    * counter deliberately ignores them, which is why the r17 forward
    * note's predicted PlanCeilings churn turned out to be a no-op). */
  private def roundRobinExchanges(df: DataFrame, atLeast: Int): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    var n = 0
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = {
      if (!seen.add(p)) return
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec        => walk(q.plan)
        case s: ShuffleExchangeExec =>
          s.outputPartitioning match {
            case RoundRobinPartitioning(k) if k >= atLeast => n += 1
            case _                                         => ()
          }
          s.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    n
  }

  private def embFixture: DataFrame =
    (1L to 96L).map { i =>
      (i, Array.tabulate(4)(d => math.sin(i * 13.0 + d * 7.0).toFloat))
    }.toDF("vec_id", "embedding")

  test("ivfAssign widens a one-file scan ABOVE the size floor; values unchanged") {
    val narrow = oneFile(embFixture, "emb")
    assert(narrow.rdd.getNumPartitions == 1, "fixture must be a genuinely narrow scan")
    val target = spark.sparkContext.defaultParallelism
    val cents = Similarity.ivfCentroids(narrow, "vec_id", "embedding", 4)
    // above the floor (forced down to 1 byte): the argmax stage must not
    // inherit the 1-split scan
    spark.conf.set("spark.graft.widen.minBytes", "1")
    val assignedNarrow =
      try Similarity.ivfAssign(narrow.select("vec_id", "embedding"), "embedding", cents)
      finally spark.conf.unset("spark.graft.widen.minBytes")
    assert(assignedNarrow.rdd.getNumPartitions >= target,
      "the k-cosine argmax stage must not inherit the 1-split scan")
    // below the default floor (r18): a sub-MB input must NOT pay the
    // redistribution exchange — the serialized stage is bounded (work is
    // linear in bytes) and the unfloored widen measured 2.2-2.5x on the
    // bench's sub-MB similarity queries
    val assignedSmall = Similarity.ivfAssign(narrow.select("vec_id", "embedding"), "embedding", cents)
    assert(assignedSmall.rdd.getNumPartitions == 1,
      "below the floor the scan layout must pass through untouched")
    // value identity across all three shapes (widen no-ops on wide input)
    val wideIn = embFixture.repartition(target)
    val assignedWide = Similarity.ivfAssign(wideIn, "embedding", cents)
    assert(assignedWide.rdd.getNumPartitions >= target)
    def vals(df: DataFrame) =
      df.select("vec_id", "cluster").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(vals(assignedNarrow) == vals(assignedWide))
    assert(vals(assignedSmall) == vals(assignedWide))
  }

  test("withLshBuckets widens above the floor, skips below; bucket values unchanged") {
    val narrow = oneFile(embFixture, "emb_lsh")
    val target = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.graft.widen.minBytes", "1")
    val bNarrow =
      try Similarity.withLshBuckets(narrow, "vec_id", "embedding", nPlanes = 4, dim = 4)
      finally spark.conf.unset("spark.graft.widen.minBytes")
    assert(bNarrow.rdd.getNumPartitions >= target,
      "the nPlanes-dot bucket stage must not inherit the 1-split scan")
    val bSmall = Similarity.withLshBuckets(narrow, "vec_id", "embedding", nPlanes = 4, dim = 4)
    assert(bSmall.rdd.getNumPartitions == 1,
      "below the default floor the redistribution must not fire")
    val bWide = Similarity.withLshBuckets(embFixture.repartition(target),
      "vec_id", "embedding", nPlanes = 4, dim = 4)
    def vals(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(vals(bNarrow) == vals(bWide))
    assert(vals(bSmall) == vals(bWide))
  }

  test("fuzzyJoin widenInputs=false skips the redistribution; pairs unchanged") {
    val names = (1L to 80L).map(i => (i, s"name_${i % 9}_${"x" * (i % 4).toInt}"))
      .toDF("id", "nm")
    val narrowA = oneFile(names, "lkna")
    val narrowB = oneFile(names.withColumn("nm", concat(col("nm"), lit("y"))), "lknb")
    val target = spark.sparkContext.defaultParallelism
    val off = RecordLinkage.fuzzyJoin(
      narrowA, "id", "nm", RecordLinkage.prefixBlock(col("nm"), 6),
      narrowB, "id", "nm", RecordLinkage.prefixBlock(col("nm"), 6),
      maxDist = 2, widenInputs = false)
    val offRows = off.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(offRows.nonEmpty)
    assert(roundRobinExchanges(off, target) == 0,
      "widenInputs=false must add no round-robin redistribution")
    val on = RecordLinkage.fuzzyJoin(
      narrowA, "id", "nm", RecordLinkage.prefixBlock(col("nm"), 6),
      narrowB, "id", "nm", RecordLinkage.prefixBlock(col("nm"), 6), maxDist = 2)
    assert(on.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet == offRows)
  }

  test("semDedup on a one-file scan matches the wide-input run (end-to-end value identity)") {
    val narrow = oneFile(embFixture, "emb_sd")
    val target = spark.sparkContext.defaultParallelism
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet
    val a = rows(Similarity.semDedup(narrow, "vec_id", "embedding", k = 6, tau = 0.9))
    val b = rows(Similarity.semDedup(embFixture.repartition(target), "vec_id", "embedding", k = 6, tau = 0.9))
    assert(a == b)
    graft.plans.Checkpoints.releaseAll()
  }

  test("fuzzyJoin stream sides widen a one-file scan into the quadratic stage") {
    val names = (1L to 80L).map(i => (i, s"name_${i % 9}_${"x" * (i % 4).toInt}"))
      .toDF("id", "nm")
    val narrowA = oneFile(names, "lka")
    val narrowB = oneFile(names.withColumn("nm", concat(col("nm"), lit("y"))), "lkb")
    assert(narrowA.rdd.getNumPartitions == 1 && narrowB.rdd.getNumPartitions == 1)
    val target = spark.sparkContext.defaultParallelism
    val out = RecordLinkage.fuzzyJoin(
      narrowA, "id", "nm", RecordLinkage.prefixBlock(col("nm"), 6),
      narrowB, "id", "nm", RecordLinkage.prefixBlock(col("nm"), 6), maxDist = 2)
    val expected = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(expected.nonEmpty, "fixture must produce pairs")
    // both row sides go through a round-robin redistribution at the
    // session parallelism before the block join (broadcast or SMJ —
    // either way the DP stage no longer inherits the 1-split scan)
    assert(roundRobinExchanges(out, target) >= 2,
      "expected widen() exchanges on both linkage sides")
    // value identity vs pre-widened inputs (widen no-ops on them)
    val wide = RecordLinkage.fuzzyJoin(
      names.repartition(target), "id", "nm", RecordLinkage.prefixBlock(col("nm"), 6),
      names.withColumn("nm", concat(col("nm"), lit("y"))).repartition(target),
      "id", "nm", RecordLinkage.prefixBlock(col("nm"), 6), maxDist = 2)
    assert(wide.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet == expected)
    // already-wide inputs are not scan-shaped after repartition: no
    // widen exchange is added ON TOP of the user's own repartition —
    // the two round-robins here are the caller's, not widen()'s
    assert(roundRobinExchanges(wide, target) <= 2)
  }

  test("capped fuzzyJoin still widens (widen sits BEFORE the cap anti-join)") {
    val skew = ((1L to 60L).map(i => (i, "AAAAAA_block_hot")) ++
      (61L to 70L).map(i => (i, s"BBB_$i"))).toDF("id", "nm")
    val narrow = oneFile(skew, "lkc")
    val target = spark.sparkContext.defaultParallelism
    val r = RecordLinkage.fuzzyJoinReleasable(
      narrow, "id", "nm", RecordLinkage.prefixBlock(col("nm"), 3),
      narrow, "id", "nm", RecordLinkage.prefixBlock(col("nm"), 3),
      maxDist = 2, maxBlockSize = Some(20))
    val out = r.pairs
    out.collect()
    assert(r.report("a").droppedBlocks == 1L, "the hot block must be capped away")
    assert(roundRobinExchanges(out, target) >= 2,
      "widen must fire on the select BELOW the cap's anti-join " +
        "(after it the plan is no longer scan-shaped and widen would no-op)")
  }
}
