package graft.tools

import graft.{Bench, LocalSession, SparkEntry}
import graft.plans.Checkpoints
import org.apache.spark.scheduler._
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Profile registered queries, one warm pass then `reps` timed reps each:
  *
  *   sbt "runMain graft.tools.ProfileQuery q_dedup_best_match,q_bigram_xent <sfDir> 5 [staged]"
  *
  * Every rep splits its wall time into CONSTRUCTION (the `fn(spark, dir)`
  * call — Catalyst analysis plus any eager checkpoint/collect jobs the
  * operator runs while building its plan) and EXECUTION (the noop write
  * of the returned frame), preceded by one line per Spark job (wall,
  * stages, summed task time). A construction-heavy query is paying
  * job-launch barriers (eager materializations) or planning, not data
  * compute. After the last rep come that rep's per-stage task metrics
  * (task time, executor CPU, GC, shuffle bytes both directions, spill,
  * records) with totals, and the executed plan.
  *
  * With `staged`, the tables are first rewritten by the bench's staging
  * (one file per core under /tmp) and read with its small-split scan
  * settings — the bench's staged pass, for the named queries only.
  */
object ProfileQuery {

  final case class StageRow(id: Int, name: String, tasks: Int, taskTimeMs: Long,
                            cpuMs: Long, gcMs: Long, shufReadMB: Double,
                            shufWriteMB: Double, spillMB: Double,
                            inRecords: Long, outRecords: Long)

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 5
    val staged = args.length > 3 && args(3) == "staged"
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val cpus = LocalSession.cpus
    val spark = LocalSession(cpus)
    val runDir = if (staged) {
      val d = Bench.stageTables(spark, dir, cpus)
      Bench.smallSplits(spark)
      d
    } else dir

    // per-job ledger (start time, stage count, result stage's call site,
    // summed task time) and the completed stages of the current rep
    @volatile var recording = false
    val jobs = new ConcurrentHashMap[Int, (Long, Int, String, AtomicLong)]()
    val stageToJob = new ConcurrentHashMap[Int, Int]()
    val jobLines = new ConcurrentLinkedQueue[String]()
    val stages = new ConcurrentLinkedQueue[StageRow]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = if (recording) {
        val site = j.stageInfos.lastOption.map(_.name).getOrElse("?")
        jobs.put(j.jobId, (j.time, j.stageIds.size, site, new AtomicLong()))
        j.stageIds.foreach(s => stageToJob.put(s, j.jobId))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        Option(jobs.get(stageToJob.getOrDefault(t.stageId, -1))).foreach { job =>
          if (t.taskInfo != null) job._4.addAndGet(t.taskInfo.duration)
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(jobs.remove(j.jobId)).foreach { case (t0, nStages, site, taskMs) =>
          jobLines.add(f"    job ${j.jobId}%3d: ${(j.time - t0) / 1e3}%6.2f s wall, " +
            f"$nStages%2d stages, ${taskMs.get / 1e3}%7.2f s task-time  $site")
        }
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = if (recording) {
        val si = ev.stageInfo; val m = si.taskMetrics
        stages.add(StageRow(si.stageId, si.name,
          si.numTasks, m.executorRunTime, m.executorCpuTime / 1000000,
          m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead / 1e6,
          m.shuffleWriteMetrics.bytesWritten / 1e6,
          (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6,
          m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead,
          m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten))
      }
    })

    // the noop write plans the frame in its own QueryExecution, so the
    // final adaptive plan is taken from the last action's execution
    @volatile var lastPlan = ""
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        lastPlan = qe.executedPlan.toString
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      println(s"\n===== $name =====")
      fn(spark, runDir).write.format("noop").mode("overwrite").save() // warm/JIT
      Checkpoints.releaseAll()
      (1 to reps).foreach { r =>
        stages.clear()
        recording = true
        val t0 = System.nanoTime()
        val df = fn(spark, runDir)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        recording = false
        GraftBridge.drainListenerBus(spark)
        Iterator.continually(jobLines.poll()).takeWhile(_ != null).foreach(println)
        println(f"rep$r: construct ${(t1 - t0) / 1e9}%.3f s + exec ${(t2 - t1) / 1e9}%.3f s" +
          f" = ${(t2 - t0) / 1e9}%.3f s")
        if (r == reps) {
          printStages(stages.asScala.toSeq.sortBy(_.id))
          println(lastPlan.take(60000))
        }
        Checkpoints.releaseAll()
      }
    }
    spark.stop()
  }

  private def printStages(rows: Seq[StageRow]): Unit = {
    println(f"${"stage"}%-7s${"tasks"}%6s${"taskTime"}%10s${"cpu"}%8s" +
      f"${"gc"}%7s${"shufR MB"}%10s${"shufW MB"}%10s${"spill"}%8s" +
      f"${"recIn"}%10s${"recOut"}%10s  name")
    rows.foreach { r =>
      println(f"${r.id}%-7d${r.tasks}%6d${r.taskTimeMs}%9dms${r.cpuMs}%6dms" +
        f"${r.gcMs}%5dms${r.shufReadMB}%10.1f${r.shufWriteMB}%10.1f" +
        f"${r.spillMB}%8.1f${r.inRecords}%10d${r.outRecords}%10d  ${r.name.take(60)}")
    }
    val tt = rows.map(_.taskTimeMs).sum
    val cpu = rows.map(_.cpuMs).sum
    println(f"TOTAL tasks=${rows.map(_.tasks).sum} taskTime=${tt}ms " +
      f"cpu=${cpu}ms gc=${rows.map(_.gcMs).sum}ms " +
      f"shufRead=${rows.map(_.shufReadMB).sum}%.1fMB " +
      f"shufWrite=${rows.map(_.shufWriteMB).sum}%.1fMB " +
      f"spill=${rows.map(_.spillMB).sum}%.1fMB " +
      f"recIn=${rows.map(_.inRecords).sum} recOut=${rows.map(_.outRecords).sum} " +
      f"stages=${rows.size} cpu/taskTime=${if (tt == 0) 0.0 else cpu.toDouble / tt}%.2f")
  }
}
