package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.{Catalog, FkRef}
import graft.subset.SubsetPlanner

/** Wall-clock scaling soak for the DRIVER-LOOP fix-point operators —
  * the two iterative algorithms whose cost is (iterations × per-round
  * shuffle): the cyclic-subset semi-naive fix-point
  * (`subset/Subset.scala:169-202`) and entity-resolution label
  * propagation (`ops/RecordLinkage.scala:122-166`). LlmSoak covers the
  * one-shot heavy plans; ScaleSoakSpec pins the ALGEBRAIC invariant
  * (iteration counts are a function of graph SHAPE, not row count);
  * this main measures the WALL-CLOCK exponent at `mult`× rows on an
  * adversarial graph so a super-linear term in the per-round work
  * cannot hide behind a flat iteration count.
  *
  * Adversarial shapes (width scales, depth constant — the 100 TB shape
  * is many components, not one 10M-hop chain; a depth that scaled WITH
  * rows would make ANY per-hop algorithm — including the reference's
  * recursive CTE — super-linear by construction):
  *  - cyclic subset: a 2-table cycle A<->B where most rows are closed
  *    self-consistent pairs and a constant-depth exclusion CHAIN hangs
  *    off a excluded head row, so every round genuinely deletes rows
  *    and the loop runs the full chain depth at both scales;
  *  - entity clusters: star components (bounded diameter) plus one
  *    constant-length path, so min-label propagation runs path-length
  *    rounds over an edge set that scales 10×.
  *
  * Usage: runMain graft.FixpointSoak [multiplier] [baseRows]
  */
object FixpointSoak {

  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val baseRows = args.drop(1).headOption.map(_.toLong).getOrElse(400000L)
    val cpus = LocalSession.cpus
    val spark = LocalSession(cpus)

    val ChainDepth = 12 // constant at both scales — see scaladoc

    // ---- staging (untimed): materialize inputs as multi-file parquet so
    // per-round scans parallelize (single-file fixtures serialize plans)
    def stageCycle(n: Long): (String, String) = {
      val outA = s"/tmp/graft_fpsoak_a_$n"; val outB = s"/tmp/graft_fpsoak_b_$n"
      // A_i.b_ref = B_i everywhere; B_i.a_ref = A_{i-1} inside the chain
      // (ids 1..ChainDepth), A_i outside it. Excluding A_0 (the cond)
      // unravels the chain one pair per fix-point round.
      val a = spark.range(n).select(col("id"), col("id").as("b_ref"))
      val b = spark.range(n).select(col("id"),
        when(col("id").between(1, ChainDepth), col("id") - 1)
          .otherwise(col("id")).as("a_ref"))
      a.repartition(cpus).write.mode("overwrite").parquet(outA)
      b.repartition(cpus).write.mode("overwrite").parquet(outB)
      (outA, outB)
    }
    def stageEntity(n: Long): (String, String) = {
      val outR = s"/tmp/graft_fpsoak_rec_$n"; val outE = s"/tmp/graft_fpsoak_edge_$n"
      val recs = spark.range(n).select(col("id"))
      // star components of 10 (diameter 2) over the whole id space, plus
      // one path 0-1-2-...-24 (diameter 24, constant) to force real
      // propagation rounds
      // stars start at id 100 so the path component stays PURE — star
      // hubs overlapping path ids would shortcut the diameter and the
      // propagation would converge in a few rounds instead of path-length
      val stars = spark.range(n).filter(col("id") % 10 =!= 0 && col("id") >= 100)
        .select(col("id").as("id_a"), (col("id") - col("id") % 10).as("id_b"))
      val path = spark.range(24).select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      recs.repartition(cpus).write.mode("overwrite").parquet(outR)
      stars.unionByName(path).repartition(cpus)
        .write.mode("overwrite").parquet(outE)
      (outR, outE)
    }

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f
      val dt = (System.nanoTime() - t0) / 1e9
      graft.plans.Checkpoints.releaseAll(); System.gc()
      dt
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    def runCycle(dirs: (String, String)): Unit = {
      val dfs = Map("a" -> Catalog.read(spark, dirs._1),
        "b" -> Catalog.read(spark, dirs._2))
      val edges = Seq(
        FkRef("a", Seq("b_ref"), "b", Seq("id")),
        FkRef("b", Seq("a_ref"), "a", Seq("id")))
      val surviving = SubsetPlanner.plan(dfs,
        Map("a" -> Seq("id"), "b" -> Seq("id")), edges,
        // Jacobi rounds: the exclusion advances one table per round, so a
        // depth-D chain needs ~2D+1 rounds to drain and one to stabilize
        Map("a" -> Seq("id <> 0")), maxIter = 4 * ChainDepth)
      noop(surviving("a")); noop(surviving("b"))
    }
    def runEntity(dirs: (String, String)): Unit =
      noop(graft.ops.RecordLinkage.entityClusters(
        Catalog.read(spark, dirs._1), "id", Catalog.read(spark, dirs._2)))

    // optional 3rd arg: run only the named op ("cyclic_subset" /
    // "entity_clusters") — A/B runs of one operator shouldn't pay for
    // the other's ~minute of soak
    val only = args.drop(2).headOption
    val ops: Seq[(String, String, Long => (String, String), ((String, String)) => Unit)] = Seq(
      ("cyclic_subset", "cyclicSubset", stageCycle _, runCycle _),
      ("entity_clusters", "entityClusters", stageEntity _, runEntity _))
      .filter(o => only.forall(_ == o._1))

    val lines = ops.map { case (op, statKey, stage, run) =>
      val d1 = stage(baseRows); val dN = stage(baseRows * mult)
      run(d1) // warm (JIT) untimed
      val s1 = (1 to 3).map(_ => timed(run(d1))).sorted.apply(1)
      val it1 = graft.plans.FixpointStats.last(statKey).getOrElse(-1)
      val sN = (1 to 3).map(_ => timed(run(dN))).sorted.apply(1)
      val itN = graft.plans.FixpointStats.last(statKey).getOrElse(-1)
      val ratio = sN / s1
      val e = math.log(ratio) / math.log(mult.toDouble)
      val line = s"""{"op":"$op","rows_1x":$baseRows,"sec_1x":${fmt(s1)},""" +
        s""""sec_${mult}x":${fmt(sN)},"ratio":${fmt(ratio)},""" +
        s""""exponent":${fmt(e)},"iters_1x":$it1,"iters_${mult}x":$itN}"""
      println(line)
      line
    }
    println(s"""{"soak":"fixpoint_scaling","mult":$mult,""" +
      s""""ops":[${lines.mkString(",")}]}""")
    spark.stop()
  }

  private def fmt(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
}
