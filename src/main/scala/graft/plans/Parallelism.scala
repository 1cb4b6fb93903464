package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, LogicalPlan, Project}

/** Scan-width hygiene for compute-heavy per-row operators (signature
  * hashing, decode, shingling). Which site takes which form, and the
  * measurement that set it, is the COVERAGE.md "Execution-policy ledger". */
object Parallelism {

  /** Redistribute a NARROW source across the session's parallelism before
    * expensive per-row compute. At real scale this is a no-op — a 100 TB
    * parquet scan is thousands of splits — so the shuffle is only ever
    * paid by pathological inputs (one giant row group, a non-splittable
    * gzip, a tiny fixture file). Only scan-shaped plans (leaf +
    * projections/filters) are inspected: reading the partition count of a
    * general plan via `df.rdd` would, under AQE, execute its upstream
    * shuffle stages just to throw the result away. Anything wider passes
    * through untouched — a shuffled input is already cluster-wide. Use for
    * stages whose work is SUPER-linear in bytes (block-join DP, shingle
    * explodes), where a small input can still carry unbounded compute. */
  def widen(df: DataFrame): DataFrame = widenAbove(df, 0L)

  /** [[widen]] gated by a plan-size floor, for stages whose per-row work
    * is LINEAR in the input bytes: below the floor the serialized stage is
    * bounded while the redistribution exchange is a fixed cost. The floor
    * is conf-overridable (`spark.graft.widen.minBytes`, default 32 MB) so
    * specs can pin both behaviors. */
  def widenIfAtLeast(df: DataFrame): DataFrame = {
    val floor = df.sparkSession.conf
      .getOption("spark.graft.widen.minBytes").map { v =>
        try v.toLong
        catch {
          case e: NumberFormatException => throw new IllegalArgumentException(
            s"spark.graft.widen.minBytes must be a long byte count, got '$v'", e)
        }
      }.getOrElse(32L << 20)
    widenAbove(df, floor)
  }

  /** The one widen body; floor 0 widens unconditionally. */
  private def widenAbove(df: DataFrame, floor: Long): DataFrame = {
    val plan = df.queryExecution.optimizedPlan
    if (!scanShaped(plan) || (floor > 0 && plan.stats.sizeInBytes < floor)) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions < target) df.repartition(target) else df
    }
  }

  private def scanShaped(p: LogicalPlan): Boolean = p match {
    case _: LeafNode   => true
    case p: Project    => scanShaped(p.child)
    case f: Filter     => scanShaped(f.child)
    case _             => false
  }

  /** Compute-dense exchange pin: hash `df` on `cols` into
    * max(defaultParallelism, shuffle partitions). A user-specified
    * partition count is never coalesced by AQE, whose byte-based
    * coalescing cannot see per-row work that is dense per shuffled byte. */
  def pin(df: DataFrame, cols: Column*): DataFrame = {
    val spark = df.sparkSession
    df.repartition(math.max(spark.sparkContext.defaultParallelism,
      spark.sessionState.conf.numShufflePartitions), cols: _*)
  }
}
