package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.execution.SparkPlan

/** Executed-plan audit sweep: for each registered query (default: the
  * bench headline set), EXECUTE it at a small sf so AQE finalizes, then
  * report per-table scan counts, shuffle-exchange counts, and reused
  * exchanges. Flags the smells that matter at 100 TB: the same parquet
  * scanned 3+ times, or several identical-looking exchanges with zero
  * reuse (the duplicated-subtree pattern the bigram-xent fix removed).
  *
  *   sbt "runMain graft.tools.PlanAudit [sfDir] [q1,q2,...]"
  */
object PlanAudit {

  /** Structural shape of an executed plan: parquet scans per table, hash
    * shuffle exchanges, reused exchanges/stages. */
  final case class Shape(scans: Map[String, Int], exchanges: Int, reused: Int) {
    def render: String =
      f"exch=$exchanges%2d reuse=$reused%2d scans=" +
        scans.map { case (t, c) => s"$t:$c" }.toSeq.sorted.mkString(",")
  }

  /** Walk the EXECUTED plan tree, descending into adaptive query stages
    * (broadcast AND shuffle) and expression subqueries — unlike the
    * elided final-plan STRING (which prints a materialized query stage as
    * one opaque node), nothing hides inside a broadcast stage here.
    * A `ReusedExchangeExec` counts as reuse and is not descended (its
    * child is shared with the original); a query-stage object that
    * appears twice in the tree (AQE stage reuse) is walked once — the
    * identity set makes the second encounter free, so shared subtrees
    * are never double-counted as new scans/exchanges. Only
    * hash-partitioned shuffles count as exchanges (range partitioning =
    * a global sort the query asked for; broadcast exchange = the shape
    * we WANT for small sides). Only `*.parquet` locations count as table
    * scans, matching what the ceilings bound (text/archive side reads
    * are codec work, not fact-table passes). */
  def shape(root: SparkPlan): Shape = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    var scans = Map.empty[String, Int]
    var ex = 0
    var reuse = 0
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = {
      if (!seen.add(p)) return
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec        => walk(q.plan)
        case _: ReusedExchangeExec    => reuse += 1
        case s: ShuffleExchangeExec =>
          if (s.outputPartitioning.isInstanceOf[HashPartitioning]) ex += 1
          s.children.foreach(walk)
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.headOption
            .map(_.getName).filter(_.endsWith(".parquet")).foreach { n =>
              val t = n.stripSuffix(".parquet")
              scans = scans.updated(t, scans.getOrElse(t, 0) + 1)
            }
        case other => other.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(root)
    Shape(scans, ex, reuse)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args(1).split(",").toSeq else graft.Bench.headline
    val spark = graft.LocalSession()
    names.foreach { n =>
      SparkEntry.queries.get(n).foreach { fn =>
        try {
          val df = fn(spark, sfDir)
          df.collect() // finalize the adaptive plan
          val s = shape(df.queryExecution.executedPlan)
          val flag = s.scans.collect { case (t, c) if c >= 3 => s"$t×$c" }.mkString(" ")
          println(f"[audit] $n%-28s ${s.render}" +
            (if (flag.nonEmpty) s"  ** MULTI-SCAN $flag" else ""))
        } catch {
          case e: Throwable => println(s"[audit] $n FAILED: ${e.getMessage.take(120)}")
        }
        graft.plans.Checkpoints.releaseAll()
      }
    }
    spark.stop()
  }
}
