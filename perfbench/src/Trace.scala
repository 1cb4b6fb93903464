package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** In-memory span recorder for the traced run. A span is opened around
  * each call the benchmark makes into a layer of the program; spans
  * nest (a thread-local parent stack) and all spans of one run share
  * `runId`. Nothing is written until [[Trace.writeJsonl]] at the end. */
final case class Span(id: Int, parent: Int, runId: String, name: String,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

final class Trace(val runId: String) {
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private var nextId = 0

  def apply[T](name: String)(f: => T): T = {
    val (id, parent) = synchronized { nextId += 1; (nextId, stack.get.headOption.getOrElse(0)) }
    stack.set(id :: stack.get)
    val s0 = System.nanoTime(); val m0 = System.currentTimeMillis()
    try f
    finally {
      stack.set(stack.get.tail)
      val s = Span(id, parent, runId, name, s0, System.nanoTime(), m0, System.currentTimeMillis())
      synchronized { spans += s }
    }
  }

  def all: Seq[Span] = synchronized(spans.toSeq)

  def writeJsonl(path: String, counters: Map[String, Double]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      all.sortBy(_.id).foreach { s =>
        w.println(f"""{"run":"${s.runId}","id":${s.id},"parent":${s.parent},""" +
          f""""name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs},""" +
          f""""seconds":${s.seconds}%.6f}""")
      }
      counters.toSeq.sortBy(_._1).foreach { case (k, v) =>
        w.println(s"""{"run":"$runId","counter":"$k","value":$v}""")
      }
    } finally w.close()
  }
}

object Trace {
  /** Summed self time of the spans named `name` among `spans`: each
    * span's duration minus what its child spans cover. */
  def self(spans: Seq[Span], name: String): Double = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.filter(_.name == name).map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
  }
}

/** Benchmark-owned listener: per job its submission time, per task its
  * stage, run time, GC time, shuffle write and spill. Jobs are assigned
  * to the innermost span whose wall-clock interval holds their
  * submission, which also catches jobs the program starts from its own
  * worker threads. */
final class JobListener extends SparkListener {
  final case class TaskRec(stage: Int, runMs: Long, gcMs: Long, shuffleWrite: Long, spill: Long)
  private val jobTime = mutable.Map[Int, Long]()
  private val stageJob = mutable.Map[Int, Int]()
  private val tasks = mutable.ArrayBuffer[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobTime(e.jobId) = e.time
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, m.executorRunTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** jobs, tasks, task_s, gc_s, shuffle_write_mb, spill_mb and task_skew
    * (max / median task run time) of the jobs submitted inside spans
    * named `span`. */
  def counters(trace: Trace, span: String): Map[String, Double] = synchronized {
    val ss = trace.all
    val byId = ss.map(x => x.id -> x).toMap
    def innermost(t: Long): Option[Span] =
      ss.filter(s => s.startMs <= t && t <= s.endMs).sortBy(s => s.endMs - s.startMs).headOption
    def under(s: Span): Boolean =
      Iterator.iterate(Option(s))(_.flatMap(x => byId.get(x.parent))).takeWhile(_.nonEmpty)
        .exists(_.exists(_.name == span))
    val jobs = jobTime.collect { case (j, t) if innermost(t).exists(under) => j }.toSet
    val ts = tasks.filter(t => stageJob.get(t.stage).exists(jobs))
    val run = ts.map(_.runMs.toDouble).sorted
    val median = if (run.isEmpty) 0.0 else run(run.size / 2)
    Map(
      "jobs" -> jobs.size.toDouble,
      "tasks" -> ts.size.toDouble,
      "task_s" -> run.sum / 1e3,
      "gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / 1e6,
      "spill_mb" -> ts.map(_.spill).sum / 1e6,
      "task_skew" -> (if (median > 0) run.last / median else 0.0)
    ).map { case (k, v) => s"$span.$k" -> v }
  }
}
