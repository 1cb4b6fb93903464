package graft.plans

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row}
import org.apache.spark.sql.execution.LogicalRDD

/** Storage hygiene for graft's one checkpoint primitive,
  * `GraftBridge.checkpointObserved`: an eager local checkpoint whose
  * census rides its own job and whose leaf carries the exact rows and
  * bytes it stores. Its blocks hang off the `LogicalRDD` leaf, which
  * `Dataset.unpersist` does NOT release (unpersist only talks to the
  * cache manager), so every checkpoint has one of two lifetimes:
  *  - a loop round releases the round it supersedes through
  *    [[unpersistCheckpoint]] once the next round is materialized, or
  *    executor storage grows by one table copy per round;
  *  - a subtree that is part of a RETURNED plan (read by two consumers of
  *    that plan) cannot be released by its operator, since the blocks
  *    back the caller's result, so [[materialize]] registers it and the
  *    caller (Bench / Verify / a long-lived session) drains the registry
  *    with [[releaseAll]] once the result is consumed. */
object Checkpoints {

  private val tracked =
    new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.rdd.RDD[_]]()

  /** `GraftBridge.checkpointObserved(df, aggs*)` with the blocks
    * registered for [[releaseAll]]: the frame and the row
    * `(count, aggs…)` computed by the checkpoint's own job. */
  def materialize(df: DataFrame, aggs: Column*): (DataFrame, Row) = {
    val out = GraftBridge.checkpointObserved(df, aggs: _*)
    out._1.queryExecution.logical match { case l: LogicalRDD => tracked.add(l.rdd) }
    out
  }

  /** The registered frame alone, for sites that need no census. */
  def materialize(df: DataFrame): DataFrame = materialize(df, Seq.empty[Column]: _*)._1

  /** Release every checkpoint registered by [[materialize]]. Call after
    * the consuming action completes — the truncated-lineage RDDs cannot
    * recompute, so never call mid-consumption. */
  def releaseAll(): Unit = {
    var rdd = tracked.poll()
    while (rdd != null) {
      rdd.unpersist(blocking = false)
      rdd = tracked.poll()
    }
  }

  /** Number of registered-but-unreleased checkpoints (spec hook). */
  def trackedCount: Int = tracked.size()

  /** Release the storage blocks behind a checkpointed DataFrame and drop
    * it from the [[materialize]] registry if it was registered there.
    * No-op (falls back to cache-manager unpersist) when the plan is not a
    * checkpoint leaf. Non-blocking: callers checkpoint the NEXT iteration
    * eagerly before releasing the previous one, so nothing recomputes. */
  def unpersistCheckpoint(ds: DataFrame): Unit = ds.queryExecution.logical match {
    case l: LogicalRDD =>
      tracked.remove(l.rdd)
      l.rdd.unpersist(blocking = false)
    case _ => ds.unpersist(blocking = false)
  }

  /** Releasing a truncated-lineage checkpoint makes Spark log one WARN per
    * RDD ("cannot be recomputed after unpersisting") — correct and
    * intentional here (superseded iterations are never re-read), so drop
    * that logger to ERROR to keep driver output parseable. */
  def quietUnpersistWarnings(): Unit =
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }
}
