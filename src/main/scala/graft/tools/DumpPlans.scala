package graft.tools

import graft.SparkEntry

/** Write `.explain("formatted")` for a set of registered queries to
  * per-query files — the plan evidence the optimization rounds commit
  * under `plans/rNN/`:
  *
  *   sbt "runMain graft.tools.DumpPlans plans/r18 before [sfDir] [q1,q2,...]"
  *
  * Emits `<outDir>/<query>_<tag>.txt`. Uses the bench's session
  * ([[graft.LocalSession]]) so the dumped plans are the ones the bench
  * actually runs.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val outDir = if (args.nonEmpty) args(0) else "plans/r18"
    val tag = if (args.length > 1) args(1) else "before"
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val names = if (args.length > 3) args(3).split(",").toSeq else graft.Bench.headline
    val spark = graft.LocalSession()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      // a typo'd name must not produce a silently-thinner evidence set
      // (ADVICE r18): shout it, on stdout, where the round ledger looks
      if (!SparkEntry.queries.contains(n))
        println(s"[plans] $n UNKNOWN — not in SparkEntry.queries (typo?)")
      SparkEntry.queries.get(n).foreach { fn =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/${n}_$tag.txt"), txt)
          println(s"[plans] wrote $outDir/${n}_$tag.txt")
        } catch {
          case e: Throwable => println(s"[plans] $n FAILED: ${e.getMessage.take(160)}")
        }
        graft.plans.Checkpoints.releaseAll()
      }
    }
    spark.stop()
  }
}
