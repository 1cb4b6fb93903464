package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipeline.FkRef
import graft.plans.Checkpoints

/** The benchmark program. `run.py` builds it, starts the scratch
  * PostgreSQL cluster when the workload needs one, and launches
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir>
  *                  <cores> <pgSocketDir|-> <sourceId>
  *
  * Everything the program sees is generated here from the seed
  * ([[Fixture]]). The last stdout line is the result object. */
object Main {

  /** Input scale factors. */
  val DumpSf = 0.002
  val BatterySf = 0.001

  /** Battery inputs are fixed (golden digests pin the outputs); the
    * workload seed is recorded and ignored. */
  val BatteryFixtureSeed = 42L

  /** The headline battery minus `q_pg_archive_lineitem`, which writes
    * its archive to a hard-coded /tmp path (the benchmark may only write
    * inside its checkout). Its layers are covered by the dump workload.
    * The traced run times all of it. */
  lazy val Battery: Seq[String] = graft.Bench.headlineAll.filterNot(_ == "q_pg_archive_lineitem")

  /** The timed part of the battery: one query per operator family of
    * `llm`/`ops`/`expressions` (best-match dedup, LSH dedup, SimHash
    * similarity, record linkage, candidate census, masking expressions),
    * few enough that three passes fit a run. */
  val Operators: Seq[String] = Seq("q_dedup_best_match", "q_dedup_minhash", "q_simhash_hamming",
    "q_fuzzy_link_best", "q_lsh_candidate_census", "q_masking_styles")

  /** The tables [[Operators]] read. */
  val OperatorTables: Seq[String] = Seq("customer", "documents", "embeddings")

  /** The FK chain under the subset cond. The per-table fixed cost of an
    * archive (about 0.7 s a table on 4 cores) keeps the dump to these. */
  val DumpTables = Seq("customer", "orders", "lineitem")

  val SelfFk = FkRef("customer", Seq("c_parent"), "customer", Seq("c_custkey"))

  /** FIXTURES.md section 3 mapped onto the generated columns of the
    * dumped tables. `NoiseDate` on `orders.o_orderdate` is left out:
    * it fails analysis (see [[noiseDateDefect]]). */
  def maskConfig(subsetCond: Option[String]): String = {
    val conds = subsetCond.fold("")(c => s""", "subset_conds": ["$c"]""")
    s"""{"salt_env": "GRAFT_GLOBAL_SALT", "tables": [
      {"table": "customer", "when": "c_acctbal > 0"$conds, "transforms": [
        {"column": "c_nationkey", "name": "RandomInt", "params": {"min": "0", "max": "24"}},
        {"column": "c_name", "name": "Masking", "params": {"type": "name"}},
        {"column": "c_mktsegment", "name": "Hash", "params": {"function": "sha256", "max_length": "12"}}]},
      {"table": "orders", "transforms": [
        {"column": "o_orderpriority", "name": "RandomChoice", "params": {"values": "1-URGENT,3-MEDIUM,5-LOW"}},
        {"column": "o_totalprice", "name": "NoiseFloat", "params": {"ratio": "0.05", "decimals": "2"}}]},
      {"table": "lineitem", "transforms": [
        {"column": "l_extendedprice", "name": "NoiseFloat", "params": {"ratio": "0.1", "decimals": "2"}},
        {"column": "l_returnflag", "name": "RandomChoice", "params": {"values": "A,N,R"}},
        {"column": "l_quantity", "name": "NoiseFloat", "params": {"ratio": "0.2", "decimals": "0", "min": "1", "max": "50"}}]}
    ]}"""
  }

  val NoiseDateLine =
    """{"tables": [{"table": "orders", "transforms": [
      {"column": "o_orderdate", "name": "NoiseDate", "params": {"max_shift_days": "30"}}]}]}"""

  // ------------------------------------------------------------------ output

  final class Report {
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    val detail = mutable.LinkedHashMap[String, String]()
    val diag = mutable.LinkedHashMap[String, String]()
    var attempted = 0
    var failed = 0
    var checksOk = true

    def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

    private val marks = mutable.ArrayBuffer[String]()

    /** Records when a phase of the run ended, in seconds since JVM start. */
    def mark(phase: String): Unit = {
      marks += f""""$phase":${(System.currentTimeMillis() -
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.2f"""
      diag("phase_end_s") = marks.mkString("{", ",", "}")
    }

    /** A timing series: the median becomes the metric; the detail line
      * carries the median, the highest percentile with at least ten
      * samples beyond it, and the sample count. */
    def series(name: String, xs: Seq[Double], unit: String, asMetric: Boolean = true): Unit = {
      if (asMetric) metric(name, median(xs), unit)
      diag(s"${name}_samples") = xs.map(v => f"$v%.4f").mkString("[", ",", "]")
      val n = xs.size
      val tail = if (n <= 10) "null" else {
        val p = math.floor(100.0 * (n - 10) / n).toInt
        val v = xs.sorted.apply(math.max(0, math.ceil(p / 100.0 * n).toInt - 1))
        s"""{"p":$p,"value":$v}"""
      }
      detail(name) = s"""{"median":${median(xs)},"tail":$tail,"n":$n,"unit":"$unit"}"""
    }

    /** An operation: counted as attempted, failed when it throws. */
    def op[T](what: String)(f: => T): Option[T] = {
      attempted += 1
      try Some(f)
      catch {
        case e: Throwable =>
          failed += 1; checksOk = false
          System.err.println(s"[perfbench] FAILED $what: $e")
          e.printStackTrace()
          None
      }
    }

    /** A correctness check: an operation whose result must be true. */
    def check(name: String)(ok: => Boolean): Unit = {
      val r = op(s"check $name")(ok)
      if (r.contains(false)) { failed += 1; checksOk = false }
      System.err.println(s"[perfbench] check $name: ${r.map(if (_) "ok" else "FAILED").getOrElse("ERROR")}")
    }

    def print(): Unit = {
      def obj(m: Iterable[(String, String)]) = m.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      println(s"""{"perfbench_diag":${obj(diag)}}""")
      println(s"""{"perfbench_detail":${obj(detail)}}""")
      val ms = metrics.map { case (k, (v, u)) => k -> s"""{"value":${num(v)},"unit":"$u"}""" }
      println(s"""{"correct":$checksOk,"attempted":$attempted,"failed":$failed,"metrics":${obj(ms)}}""")
    }
  }

  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }
  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
  }

  // ------------------------------------------------------------------ main

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, coresS, pgSock, sourceId) = argv
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = coresS.toInt
    val rep = new Report
    val (spark, sessionS) = time {
      SparkSession.builder().master(s"local[$cores]").appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.default.parallelism", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    Checkpoints.quietUnpersistWarnings()
    val listener = new JobListener
    if (traced) spark.sparkContext.addSparkListener(listener)
    val runId = f"$workload-$seed-${System.currentTimeMillis()}%x"
    val trace = new Trace(runId)
    rep.diag ++= Seq(
      "workload" -> str(workload), "seed" -> seed.toString, "traced" -> traced.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "master" -> str(spark.sparkContext.master),
      "heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "spark_version" -> str(spark.version), "source" -> str(sourceId),
      "session_start_s" -> sessionS.toString)
    rep.mark("session")
    val ctx = Ctx(spark, work, seed, seconds, traced, cores, pgSock, rep, trace, listener)
    try workload match {
      case "subset-mask-restore" => new DumpWorkload(ctx).run()
      case "operators" => new BatteryWorkload(ctx).run()
      case "golden" => new BatteryWorkload(ctx).record()
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        spark.stop()
        sys.exit(3)
    }
    rep.diag("peak_rss_mb") = peakRssMb().toString
    if (rep.attempted > 0) rep.diag("error_rate") = (rep.failed.toDouble / rep.attempted).toString
    if (traced) {
      org.apache.spark.PerfbenchDrain(spark.sparkContext)
      val counters = CounterSpans.flatMap(s => listener.counters(trace, s)).toMap
      counters.foreach { case (k, v) => rep.metric(k, v, counterUnit(k)) }
      trace.writeJsonl(s"$work/trace-$runId.jsonl", counters)
      // a layer the workload does not reach reports zero
      PerLayer.foreach { case (k, u) => if (!rep.metrics.contains(k)) rep.metric(k, 0.0, u) }
      rep.metrics.filterInPlace((k, _) => PerLayer.exists(_._1 == k))
    } else rep.metrics.filterInPlace((k, _) => EndToEnd.contains(k))
    spark.stop()
    rep.mark("stop")
    rep.print()
  }

  val EndToEnd = Seq("op_s", "setup_s")

  val CounterSpans = Seq("subset.plan", "sources.archive", "sources.ingest", "battery")

  /** Every per-layer metric with its unit, in the order BENCHMARK.json lists them. */
  lazy val PerLayer: Seq[(String, String)] =
    Seq("pipeline.config_s", "pipeline.validate_s", "pipeline.plan_s", "subset.plan_s",
      "sources.archive_s", "sources.restore_s", "plans.release_s", "trace.overhead_s",
      "sources.scan_s", "transformers.mask_s", "sources.encode_s", "sources.compress_s",
      "sources.ingest_s", "sources.dump_fixed_s", "battery.construct_s", "battery.exec_s"
    ).map(_ -> "s") ++ Seq(
      "sources.dump_s_per_mrow" -> "s/Mrow", "subset.rounds" -> "count",
      "subset.keep_ratio" -> "ratio", "plans.checkpoints_held" -> "count",
      "pipeline.noise_date_defect" -> "count") ++
      Battery.map(q => s"battery.${q}_s" -> "s") ++
      CounterSpans.flatMap(s => Seq("jobs", "tasks", "task_s", "gc_s", "shuffle_write_mb",
        "spill_mb", "task_skew").map(c => s"$s.$c" -> counterUnit(s"$s.$c")))

  def counterUnit(k: String): String = k.split('.').last match {
    case "jobs" | "tasks" => "count"
    case "task_s" | "gc_s" => "s"
    case "task_skew" => "ratio"
    case _ => "MB"
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1024 }.getOrElse(0.0)
    finally src.close()
  }

  /** Samples `op` until `seconds` have passed (at least two samples, at
    * most 40), recording foreign-CPU and iowait cores per sample. */
  def sample[T](ctx: Ctx)(op: => T): Seq[T] = {
    val out = mutable.ArrayBuffer[T]()
    val ext = mutable.ArrayBuffer[Double](); val iow = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (out.size < 40 && (out.size < 2 || elapsed < ctx.seconds)) {
      val (r, e, i) = graft.Bench.withExtIo(op)
      out += r; ext += e; iow += i
    }
    ctx.rep.diag("foreign_cores_per_sample") = ext.map(v => f"$v%.3f").mkString("[", ",", "]")
    ctx.rep.diag("iowait_cores_per_sample") = iow.map(v => f"$v%.3f").mkString("[", ",", "]")
    out.toSeq
  }

  /** Untimed passes after the cold one. The second pass of a JVM is
    * still about 25% slow; passes 3 to 7 agree within 7% (one more step
    * comes at pass 8, which the minute a run has cannot reach). */
  val WarmPasses = 1

  /** Order-independent content digest: row count plus the sum of a
    * 64-bit hash of each row's JSON rendering, floating-point values
    * rounded to 6 decimals so summation order cannot change it. */
  def digest(df: DataFrame): String = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 6)
      case ArrayType(et, _) => transform(c, x => norm(x, et))
      case st: StructType => struct(st.fields.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
      case _ => c
    }
    val cols = df.schema.fields.toIndexedSeq.zipWithIndex.map { case (f, i) =>
      norm(df.col("`" + f.name.replace("`", "``") + "`"), f.dataType).as(s"c$i") }
    val r = df.select(xxhash64(to_json(struct(cols: _*))).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(BigDecimal(0)))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  def sha256Dir(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    new java.io.File(dir).listFiles().filter(_.isFile).sortBy(_.getName).foreach { f =>
      md.update(f.getName.getBytes("UTF-8"))
      md.update(java.nio.file.Files.readAllBytes(f.toPath))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def dirBytes(dir: String): Long =
    new java.io.File(dir).listFiles().filter(_.isFile).map(_.length).sum

  def rmrf(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(x => java.nio.file.Files.delete(x))
  }
}

final case class Ctx(spark: SparkSession, work: String, seed: Long, seconds: Double,
                     traced: Boolean, cores: Int, pgSock: String,
                     rep: Main.Report, trace: Trace, listener: JobListener)
