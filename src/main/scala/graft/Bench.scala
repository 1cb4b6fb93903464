package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — times headline queries at SPARK_GRAFT_SF_DIR with a
  * `noop` write (forces full evaluation of every column: no driver
  * collect, no disk, no count()-style column pruning that would skip the
  * transform expressions being measured).
  *
  * The PRIMARY metric (the emitted "value") is the single-file run on the
  * driver's own fixtures, warm-timed, median of 3 consecutive samples per
  * query, sum of medians as total. The driver fixtures are single-row-group
  * parquet files, so scan stages run on ONE task locally (round-2 caveat);
  * as a layout DIAGNOSTIC the bench also stages each table as one parquet
  * file per core (untimed) in a per-process temp dir removed at JVM exit,
  * and times the headline set against that parallel-scan layout, reported
  * as total_staged_32file / queries_staged_32file. Set
  * SPARK_GRAFT_STAGE=0 to skip staging.
  */
object Bench {

  /** Headline set: one per operator family (expressions, joins, subset,
    * dedup, similarity, text stats), plus the heaviest plans (transitive
    * LSH clustering, hamming-ball pairs, recursive self-FK subset, IVF
    * probe, as-of and range joins) so regressions there are visible
    * round over round. */
  /** Dev iteration: SPARK_GRAFT_ONLY=q_a,q_b restricts the timed set
    * (the driver never sets it — default is the full headline list).
    * A leaked/stale value must not silently masquerade as the full
    * battery: unknown names fail fast, and any restriction is shouted
    * on stderr and tagged into the output JSON (`"only"` key). */
  def headline: Seq[String] = sys.env.get("SPARK_GRAFT_ONLY") match {
    case Some(raw) =>
      val names = raw.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      require(names.nonEmpty,
        "SPARK_GRAFT_ONLY is set but names no queries — a bench over zero " +
          "queries would emit value:0; unset the var for the full battery")
      val unknown = names.filterNot(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(",")} " +
          "(typo? unset the var for the full headline battery)")
      System.err.println(
        s"[bench] WARNING: SPARK_GRAFT_ONLY restricts the timed set to " +
          s"${names.size} quer${if (names.size == 1) "y" else "ies"} -- " +
          "this is NOT the full headline battery")
      names
    case None => headlineAll
  }

  val headlineAll: Seq[String] = Seq(
    "q_agg_pricing", "q_faker", "q_masking_styles", "q_noise_float",
    "q_apply_refs_join", "q_subset_acyclic", "q_dedup_exact",
    "q_dedup_minhash", "q_text_stats", "q_knn_brute",
    "q_simhash_hamming", "q_dedup_cluster", "q_subset_selffk",
    "q_ivf_topk", "q_asof_join", "q_range_join", "q_boilerplate_lines",
    "q_interval_overlap", "q_unigram_stats", "q_random_numeric_big",
    "q_dedup_spans", "q_semdedup",
    "q_unigram_xent", "q_dsir_weights", "q_decontaminate_bloom",
    "q_bigram_xent", "q_source_overlap", "q_bm25_topk",
    "q_sketch_hll", "q_funnel_steps", "q_curate_pipeline",
    "q_entity_clusters", "q_funnel_steps_capped", "q_fuzzy_link_capped",
    "q_quality_hashlin", "q_quality_nb",
    // r16: the two r15 scale operators, tracked every round (not A/Bs)
    "q_semdedup_2l", "q_simhash_hamming_wide",
    // r17: the bounded-output contracts a 100 TB dedup run actually
    // lands (per-doc argmax; one-scan candidate-volume forecast; the
    // linkage argmin whose pair sibling sat out the sf10 rehearsal)
    "q_dedup_best_match", "q_lsh_candidate_census", "q_fuzzy_link_best",
    // r18: the cosine family's pre-flight forecast (census trio member)
    "q_embed_bucket_census",
    // interop throughput: full pg-archive dump->load over the big table
    // (gzip member + binary TOC + COPY codec both directions)
    "q_pg_archive_lineitem")

  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Untimed staging: the same rows of every table under `sfDir`,
    * rewritten as a `cpus`-file layout so scans run parallel tasks, in a
    * temp dir of this process (two processes on one sf dir never share
    * it) removed at JVM exit. Returns the staged directory. */
  def stageTables(spark: SparkSession, sfDir: String, cpus: Int): String = {
    val stageDir = org.apache.spark.sql.GraftBridge.tempDirUntilExit(
      s"graft_bench_staged_${new java.io.File(sfDir).getName}").getPath
    tables.foreach { t =>
      val src = s"$sfDir/$t.parquet"
      if (new java.io.File(src).exists())
        graft.pipeline.Catalog.read(spark, src).repartition(cpus)
          .write.mode("overwrite").parquet(s"$stageDir/$t.parquet")
    }
    stageDir
  }

  // sf0.1 tables are sub-MB: the default 4 MiB file-open cost would
  // bin-pack the 32 staged files straight back into one scan partition
  // (serializing the compute again AND paying 32 opens). One task per
  // file is the cluster shape being modeled, so staged runs use small
  // split sizes — on real 100 TB inputs the default coalescing is
  // correct and these knobs stay untouched. Single-file runs keep the
  // defaults (continuity with earlier rounds).
  def smallSplits(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")
    spark.conf.set("spark.sql.files.openCostInBytes", "4m")
  }

  // ---- EXTERNAL-CPU accounting (object-level so BenchGateSpec can pin
  // the trip-wire). loadavg cannot distinguish co-tenant load from the
  // bench's own 32-thread bursts (a busy query drives load1 past any
  // reasonable gate all by itself — observed the first time the
  // per-query loadavg check ran, round 11). The suspect signal is
  // therefore foreign CPU: system-wide busy jiffies minus this JVM's
  // own CPU time, per second of wall clock = cores of NON-BENCH work
  // that ran concurrently. Self-load contributes exactly zero to it.
  private val UserHz = 100.0 // Linux USER_HZ on this platform

  /** Seconds of busy CPU summed across all cores since boot (idle and
    * iowait excluded; steal counts as busy — co-tenant VMs ARE foreign
    * load). -1 when unreadable. */
  def sysBusySec(): Double =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val cpu = try f.getLines().next() finally f.close()
      val v = cpu.trim.split("\\s+").drop(1).map(_.toDouble)
      (v.sum - v(3) - v(4)) / UserHz
    } catch { case _: Throwable => -1.0 }

  /** Seconds of system-wide IOWAIT since boot. ext_cores is blind to
    * co-tenant DISK pressure by construction (iowait is excluded from
    * busy on both sides of the subtraction), and round 12's final local
    * bench measured queries inflated 30-70% at ext_cores = 0.0 exactly
    * once — iowait is the matching diagnostic for that blind spot, and
    * since round 13 a GATE with the same per-sample accounting as ext
    * (SPARK_GRAFT_IOWAIT_GATE; r12 clean-run samples sat ≤ 0.13 cores,
    * the r12 dirty window read foreign-disk pressure well above it).
    * iowait can't self-subtract like ext (the kernel counter doesn't
    * attribute waits to processes), but the timed samples do no disk
    * writes (noop sink) and read page-cached sub-MB fixtures, so during
    * a sample the counter reads foreign pressure. -1 when unreadable. */
  def sysIoWaitSec(): Double =
    try {
      val f = scala.io.Source.fromFile("/proc/stat")
      val cpu = try f.getLines().next() finally f.close()
      val v = cpu.trim.split("\\s+").drop(1).map(_.toDouble)
      v(4) / UserHz
    } catch { case _: Throwable => -1.0 }

  def jvmCpuSec(): Double =
    try java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9
    catch { case _: Throwable => -1.0 }

  /** Run `f` and return (result, foreign cores that ran concurrently
    * with it, system iowait cores over the same window). -1 = the
    * metric was unreadable (UNKNOWN, not clean). */
  def withExtIo[T](f: => T): (T, Double, Double) = {
    val w0 = System.nanoTime(); val b0 = sysBusySec(); val c0 = jvmCpuSec()
    val i0 = sysIoWaitSec()
    val r = f
    val wall = (System.nanoTime() - w0) / 1e9
    val b1 = sysBusySec(); val c1 = jvmCpuSec(); val i1 = sysIoWaitSec()
    val ext =
      if (b0 < 0 || b1 < 0 || c0 < 0 || c1 < 0 || wall <= 0) -1.0
      else math.max(0.0, ((b1 - b0) - (c1 - c0)) / wall)
    val iow =
      if (i0 < 0 || i1 < 0 || wall <= 0) -1.0
      else math.max(0.0, (i1 - i0) / wall)
    (r, ext, iow)
  }

  /** Run `f` and return (result, foreign cores). See [[withExtIo]]. */
  def withExt[T](f: => T): (T, Double) = {
    val (r, ext, _) = withExtIo(f); (r, ext)
  }

  /** Foreign cores over an idle window (self CPU ≈ 0, so this reads
    * co-tenant pressure directly — unlike load1, which decays over a
    * minute and still carries the bench's own recent bursts). */
  def extProbe(ms: Long): Double = withExt(Thread.sleep(ms))._2

  /** (foreign cores, iowait cores) over an idle window — the retry
    * waits must see BOTH pressure kinds clear before resampling. */
  def extIoProbe(ms: Long): (Double, Double) = {
    val (_, e, i) = withExtIo(Thread.sleep(ms)); (e, i)
  }

  private val probeSink = new java.util.concurrent.atomic.AtomicLong()

  /** Host-speed calibration probe: ops/second of a fixed xorshift loop
    * across `threads` threads. Round 13's controlled A/B showed the SAME
    * code measuring 1.2 s one session and 2.0+ s another on
    * gate-clean hosts — shared-infrastructure CPU speed itself moves.
    * Recording single-thread and all-core probe rates with every bench
    * lets round-over-round comparisons normalize by what the host could
    * actually do that day, instead of misreading host drift as a code
    * regression. The sink defeats dead-code elimination. */
  def cpuProbe(threads: Int, iters: Long = 100000000L): Double = {
    def burn(): Long = {
      var x = 0x9E3779B97F4A7C15L ^ Thread.currentThread().getId
      var i = 0L
      while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      x
    }
    val t0 = System.nanoTime()
    val ts = (1 to threads).map(_ => new Thread(() => { probeSink.addAndGet(burn()); () }))
    ts.foreach(_.start()); ts.foreach(_.join())
    threads * iters / ((System.nanoTime() - t0) / 1e9)
  }

  /** Pinned reference point for probe normalization: the round-13
    * driver-run host measured ~467 single-thread Mops on the xorshift
    * probe (BENCH_r13 diag). Round-over-round totals compare through
    * `value_norm`, not raw `value`. */
  val ProbeRefStMops: Double = 467.0

  /** Pinned all-core probe rate of the same reference host (~10,760 Mops
    * across 32 threads; BENCH_r13/r14 diags agree within noise). The
    * mt/st RATIO (~23.0) is the host's parallel capacity — see
    * [[probeParallelSuspect]]. */
  val ProbeRefMtMops: Double = 10760.0

  /** Single-thread normalization is BLIND to parallel-capacity loss: a
    * host whose per-core speed is intact but whose effective core count
    * is degraded (cgroup quota, noisy siblings saturating the socket)
    * probes ~reference single-thread — value_norm ≈ value — while the
    * local[32] battery runs far slower (VERDICT r14 #3). The mt/st probe
    * ratio measures exactly that capacity; when today's ratio diverges
    * from the reference host's pinned ratio by more than `tolerance`
    * (either direction — a beefier host flatters value_norm the same
    * way), the round's numbers are not comparable through value_norm and
    * the run is marked suspect. Unreadable probes (≤ 0) are suspect too:
    * unknown != clean, same rule as the ext/iowait gates. */
  def probeParallelSuspect(probeStOps: Double, probeMtOps: Double,
                           threads: Int = 32,
                           tolerance: Double = 0.25): Boolean =
    // the pinned ratio is a 32-thread measurement; per-thread efficiency
    // is NOT constant in thread count (8 threads on a 32-core host scale
    // ~linearly, 32 hit SMT/turbo limits), so the comparison is only
    // meaningful at the reference configuration — the driver's cpus=32.
    // Other thread counts are local smoke runs: no verdict, not clean.
    if (threads != 32) false
    else if (probeStOps <= 0 || probeMtOps <= 0) true
    else {
      val ref = ProbeRefMtMops / ProbeRefStMops
      math.abs(probeMtOps / probeStOps - ref) / ref > tolerance
    }

  /** Express a wall-clock total as what it would read on the REFERENCE
    * host: `value_norm = value × probe_today / probe_ref`. A slower host
    * (lower probe) measured inflated wall-clock, so its total scales
    * DOWN toward the reference; a faster host scales up. The r13 manual
    * A/B this replaces (same commit rebuilt on a slow day reproduced the
    * +8.7% "regression" exactly) is now one division. An unreadable
    * probe (≤ 0) normalizes to the raw value — never hide the metric. */
  def probeNormalized(total: Double, probeStOpsPerSec: Double): Double =
    if (probeStOpsPerSec <= 0) total
    else total * (probeStOpsPerSec / 1e6) / ProbeRefStMops

  /** All-core analog of [[probeNormalized]]: normalize by the MT probe.
    * The battery runs local[32], so its wall-clock tracks the host's
    * PARALLEL throughput, not its single-thread speed — r16's official
    * read probed st 350 Mops (−25%) but mt 9685 Mops (−10%), and the
    * st-only value_norm "corrected" a 52.67 s read down to a
    * still-wrong 39.5 s. Dual-reporting both normalizations bounds the
    * truth from two directions: when they disagree, the host's
    * capacity shape differs from the reference and neither number
    * alone is a verdict. Unreadable probe (≤ 0) → raw value. */
  def probeNormalizedMt(total: Double, probeMtOpsPerSec: Double): Double =
    if (probeMtOpsPerSec <= 0) total
    else total * (probeMtOpsPerSec / 1e6) / ProbeRefMtMops

  /** 3-decimal JSON number rendering, shared by every ledger field. */
  private def ms(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** Render the normalized-total JSON fields for a bench line.
    *
    * The r16 lesson (VERDICT r16 #1): the official BENCH_r16.json was a
    * `gated:false` read, yet it still printed `value_norm:39.511` — a
    * PLAUSIBLE number that entered the round-over-round record as a
    * phantom +37% regression. Normalization can correct host SPEED, not
    * host CONTAMINATION (foreign load, iowait, failed queries), so on a
    * gated:false line the normalized headline fields are suppressed to
    * JSON null and the raw computations are demoted to `_ungated`
    * names: a contaminated read can no longer print a number that a
    * reader (or a diff script) mistakes for a comparable one. Gated
    * reads carry both `value_norm` (st probe) and `value_norm_mt` (mt
    * probe — see [[probeNormalizedMt]]). The mt normalization is only
    * meaningful at the REFERENCE thread count (the pinned 10760 Mops is
    * a 32-thread measurement; an 8-thread smoke probes ~1/3 of it and
    * would "normalize" a sane total to nonsense), so like
    * [[probeParallelSuspect]] it nulls itself when `threads != 32`. */
  def normFields(total: Double, probeStOps: Double, probeMtOps: Double,
                 gated: Boolean, threads: Int = 32): String = {
    val st = ms(probeNormalized(total, probeStOps))
    val mt = if (threads == 32) ms(probeNormalizedMt(total, probeMtOps)) else "null"
    if (gated) s""""value_norm":$st,"value_norm_mt":$mt"""
    else s""""value_norm":null,"value_norm_mt":null""" +
      s""","value_norm_ungated":$st,"value_norm_mt_ungated":$mt"""
  }

  /** Per-query MOVER report vs a committed baseline (r17, the ledger's
    * third leg). The round-17 close caught the normalization model's
    * remaining blind spot IN THE OTHER DIRECTION: a host phase probed
    * mt 12.5 GMops (+16% vs reference) while the battery ran ~35% slow —
    * ALU probe speed and Spark throughput (memory/scheduling-bound)
    * DECOUPLED, so value_norm_mt over-corrected a slow read upward and
    * neither norm was comparable. The robust cross-round signal is the
    * per-query SHAPE: a host phase inflates ~every query by a similar
    * ratio, while a code regression moves few queries against a flat
    * median. This report makes that check mechanical: against
    * `BENCH_PERQUERY_BASELINE.json` (flat {"q_x": secs}; a designated
    * gated-clean read, refreshed at each round close; override path via
    * SPARK_GRAFT_BENCH_BASELINE) it emits the median per-query ratio
    * over comparable queries (baseline ≥ 0.2 s) and the queries whose
    * ratio diverges >25% AND >0.15 s FROM THAT MEDIAN — i.e. movers are
    * measured relative to the battery's own host shift, so a uniformly
    * slow host reads as battery_ratio_median ≈ 1.3 with ZERO movers,
    * and a real regression shows up as a mover on ANY host. The
    * baseline is scale-specific — the caller must gate on the
    * baseline's `_sf` tag matching the run's fixture (queries scale
    * with different exponents, so a cross-sf comparison manufactures
    * movers). FAILED queries must be excluded by the caller (their
    * throw-time "medians" would read as nonsense speedups and skew the
    * ratio pool). Absent baseline → empty fields (never a crash). */
  def moverFields(medians: Seq[(String, Double)], baseline: Map[String, Double]): String = {
    val comparable = medians.collect {
      case (k, v) if baseline.get(k).exists(_ >= 0.2) => (k, v, v / baseline(k))
    }
    if (comparable.isEmpty) return s""""battery_ratio_median":null,"movers":{}"""
    val sortedRatios = comparable.map(_._3).sorted
    val n = sortedRatios.size
    // true even-n median (average of middle two): with sortedRatios(n/2)
    // a 2-query SPARK_GRAFT_ONLY battery whose slower member regressed
    // 2x would set med = 2.0, flag the HEALTHY query, and read exactly
    // backwards
    val med = if (n % 2 == 1) sortedRatios(n / 2)
      else (sortedRatios(n / 2 - 1) + sortedRatios(n / 2)) / 2.0
    val movers = comparable.collect {
      case (k, v, r) if math.abs(r / med - 1) > 0.25 &&
        math.abs(v - baseline(k) * med) > 0.15 => (k, r)
    }
    s""""battery_ratio_median":${ms(med)},"movers":""" +
      movers.map { case (k, r) => "\"" + k + "\":" + ms(r) }
        .mkString("{", ",", "}")
  }

  /** Flat {"_sf": "sf0.1", "q_x": secs} parse for the baseline file —
    * two-token regexes, no JSON dependency; a malformed or missing file
    * parses to (None, empty) and the report degrades to no-baseline
    * rather than failing the bench. Returns (the file's `_sf` fixture
    * tag, per-query seconds): the caller compares the tag against the
    * run's own fixture name and disables the report on mismatch —
    * queries scale with different exponents, so an sf1 run diffed
    * against an sf0.1 baseline would manufacture "movers" out of
    * nothing but scale. */
  def readBaseline(path: String): (Option[String], Map[String, Double]) =
    try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8)
      val sf = "\"_sf\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(txt).map(_.group(1))
      // optional exponent: an override file holding 1.2E-4 must not
      // silently parse as 1.2 (r17 ADVICE)
      (sf, "\"(q_[A-Za-z0-9_]+)\"\\s*:\\s*([0-9.]+(?:[eE][+-]?[0-9]+)?)".r
        .findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap)
    } catch { case scala.util.control.NonFatal(_) => (None, Map.empty) }

  /** The suspect rule: the MEDIAN sample ran alongside more than `gate`
    * cores of foreign CPU, or the metric was unreadable. The gate is
    * much lower than the loadavg start gate because ext_cores excludes
    * self-load by construction — 0.5 foreign cores of a 32-core box is
    * already enough to inflate a 32-thread query's critical path
    * (round-11 adjudication: 0.6-2.2 foreign cores inflated medians
    * ~7% while the old loadGate=4.0 trip-wire stayed silent). */
  def isSuspect(ext: Double, gate: Double): Boolean = ext > gate || ext < 0

  /** The DISK-pressure suspect rule (round-13): the median sample ran
    * with more than `gate` cores of system iowait alongside it, or the
    * counter was unreadable (unknown != clean). Calibration: the r12
    * clean-run battery's per-sample iowait maxed at 0.13 cores; the one
    * dirty window (10 queries inflated 30-70% at ext_cores = 0.0) was
    * foreign DISK load, the kind this rule exists to tag. */
  def isSuspectIo(iow: Double, gate: Double): Boolean = iow > gate || iow < 0

  def main(args: Array[String]): Unit = {
    // Resolve (and validate) the timed set FIRST: a SPARK_GRAFT_ONLY typo
    // must abort here, not after the load-gate wait and the multi-minute
    // staging pass (round-10 ADVICE).
    val headlineNames: Seq[String] = headline
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = LocalSession.cpus
    val spark = LocalSession(cpus)

    // untimed warmup: JIT the scan/codegen/noop-write paths once so the
    // first timed query measures the query, not JVM cold start
    try graft.pipeline.Catalog.load(spark, sfDir, "lineitem").limit(1000)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // A query that throws must not time ~0 and silently deflate the
    // total (round-10 verdict #4): every failure is collected and tagged
    // into BOTH output lines — a bench that can shrink on breakage is a
    // trap even with correctness gated elsewhere.
    val failed = scala.collection.mutable.LinkedHashSet[String]()

    def runOnce(dir: String, name: String): Double = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      try fn(spark, dir).write.format("noop").mode("overwrite").save()
      catch {
        case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // untimed: materializing a shared subtree is part of the query,
      // releasing its blocks afterwards is session hygiene
      graft.plans.Checkpoints.releaseAll()
      // untimed: shuffle files / broadcast blocks from prior queries are
      // only reclaimed when driver GC fires the ContextCleaner's weak
      // refs — without this, late-running queries measure ~2x slower
      // from accumulated session state, not from their own plans
      System.gc()
      dt
    }

    def run(dir: String): Seq[(String, Double)] =
      headlineNames.filter(SparkEntry.queries.contains).map(n => n -> runOnce(dir, n))

    def js(rs: Seq[(String, Double)]) =
      rs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

    def loadAvg(): String =
      try {
        val parts = scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")
        s"[${parts(0)},${parts(1)},${parts(2)}]"
      } catch { case _: Throwable => "null" }

    def load1(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }

    // Measurement gate (round-9 verdict #4): co-tenant load is the
    // dominant noise source on this shared host. Refuse to START timing
    // while the 1-min loadavg is above the gate; retry for a bounded
    // window (the driver's round must not hang), then proceed tagged so
    // a gated-but-noisy run is visible in the output rather than
    // masquerading as a clean sample.
    val loadGate = sys.env.get("SPARK_GRAFT_LOAD_GATE")
      .map(_.toDouble).getOrElse(4.0)
    // The PER-QUERY trip-wire is a separate, much lower threshold on
    // ext_cores (round-11 calibration: the loadGate reused here let
    // 0.6-2.2 foreign cores inflate medians ~7% without a retry while
    // the compact line read gated:true).
    val extGate = sys.env.get("SPARK_GRAFT_EXT_GATE")
      .map(_.toDouble).getOrElse(0.4)
    // Disk-pressure trip-wire (round-12 verdict #1: ext is structurally
    // blind to co-tenant I/O — iowait is excluded from busy jiffies on
    // both sides of the subtraction). Clean r12 samples sat ≤0.13
    // iowait-cores; 0.3 leaves ambient margin while catching the
    // 30-70%-inflation windows.
    val ioGate = sys.env.get("SPARK_GRAFT_IOWAIT_GATE")
      .map(_.toDouble).getOrElse(0.3)
    var gateWaitSec = 0
    var gateTimedOut = false
    locally {
      val maxWaitSec = sys.env.get("SPARK_GRAFT_LOAD_GATE_WAIT")
        .map(_.toInt).getOrElse(300)
      var l = load1()
      while (l > loadGate && gateWaitSec < maxWaitSec) {
        System.err.println(f"[bench] loadavg $l%.2f > gate $loadGate%.1f — " +
          s"waiting (${gateWaitSec}s/${maxWaitSec}s)")
        Thread.sleep(15000); gateWaitSec += 15; l = load1()
      }
      gateTimedOut = l > loadGate
      if (gateTimedOut) System.err.println(
        f"[bench] proceeding UNDER LOAD after ${gateWaitSec}s wait " +
          f"(loadavg $l%.2f > gate $loadGate%.1f) — samples are suspect")
    }

    /** (min, median, max, load1 after the samples, external cores
      * concurrent with the MEDIAN sample, max external cores across the
      * three samples, iowait cores concurrent with the median sample,
      * resample rounds). */
    type QStats = (Double, Double, Double, Double, Double, Double, Double, Int)

    def sampleQuery(dir: String, name: String): QStats = {
      // ext accounted PER SAMPLE (round-11 verdict #3: a window-wide
      // average both hides a dirty median sample and can tag a clean
      // median on a dirty min/max). The emitted ext_cores is the ext of
      // the sample that BECOMES the median — the one whose cleanliness
      // qualifies the recorded number. iowait rides along as the
      // disk-pressure diagnostic ext is blind to.
      val samples = Seq.fill(3)(withExtIo(runOnce(dir, name))).sortBy(_._1)
      val extMed = samples(1)._2
      val extMax = samples.map(_._2).max
      val iowMed = samples(1)._3
      (samples.head._1, samples(1)._1, samples.last._1, load1(),
        extMed, extMax, iowMed, 0)
    }

    /** Three consecutive warm samples per query, plus the 1-min loadavg
      * and the EXTERNAL-CPU rate measured across them. Single-sample
      * rounds proved unauditable on a shared host (BENCH_r05 overstated
      * the total by 37% vs a controlled rerun); the median is robust to
      * one co-tenant spike, min/max expose how noisy the host was, and
      * the per-query diagnostics localize WHICH queries ran dirty.
      *
      * The start-of-run gate alone proved insufficient in round 10: the
      * gate passed, co-tenant load arrived MID-RUN, and q_subset_acyclic
      * recorded 2.93s for a query that measures 1.32s idle. The per-query
      * signal is ext_cores (foreign busy CPU per wall second — loadavg
      * would flag the bench's own 32-thread bursts): a query whose
      * MEDIAN sample ran alongside more than `extGate` foreign cores is
      * RE-SAMPLED (bounded: up to 2 retries, each preceded by a bounded
      * wait for the spike to pass — probed with idle-window ext, not
      * load1, which still carries the bench's own decaying bursts) and,
      * if it never ran clean, stays tagged `suspect` in the emitted
      * stats — the driver's number is self-qualifying instead of
      * silently poisoned. An unreadable metric (-1) is UNKNOWN, not
      * clean: tagged suspect, not retried. */
    def runMedianOf3(dir: String): Seq[(String, QStats)] =
      headlineNames.filter(SparkEntry.queries.contains).map { name =>
        var s = sampleQuery(dir, name)
        var rounds = 0
        // resample on EITHER pressure kind: foreign CPU (ext) or foreign
        // disk (iowait) over the median sample
        while ((s._5 > extGate || s._7 > ioGate) && rounds < 2) {
          val why =
            if (s._5 > extGate) f"${s._5}%.2f external cores > gate $extGate%.2f"
            else f"${s._7}%.2f iowait cores > gate $ioGate%.2f"
          System.err.println(f"[bench] $name median sample ran under " +
            s"$why — re-sampling (retry ${rounds + 1}/2)")
          var waited = 0
          var p = extIoProbe(2000)
          while ((p._1 > extGate || p._2 > ioGate) && waited < 60) {
            Thread.sleep(13000); waited += 15; p = extIoProbe(2000)
          }
          rounds += 1
          val r = sampleQuery(dir, name)
          s = (r._1, r._2, r._3, r._4, r._5, r._6, r._7, rounds)
        }
        name -> s
      }

    def suspectOf(s: QStats): Boolean =
      isSuspect(s._5, extGate) || isSuspectIo(s._7, ioGate)

    def jsStats(rs: Seq[(String, QStats)]) =
      rs.map { case (k, s @ (mn, md, mx, ld, ext, extMax, iow, rr)) =>
        "\"" + k + "\":{\"min\":" + mn + ",\"median\":" + md +
          ",\"max\":" + mx + ",\"load1\":" + ld + ",\"ext_cores\":" + ext +
          ",\"ext_max\":" + extMax + ",\"io_wait_cores\":" + iow +
          ",\"resampled\":" + rr + ",\"suspect\":" + suspectOf(s) + "}"
      }.mkString("{", ",", "}")

    val staged = if (sys.env.getOrElse("SPARK_GRAFT_STAGE", "1") != "0")
      Some(stageTables(spark, sfDir, cpus)) else None
    def defaultSplits(): Unit = {
      spark.conf.set("spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024)
      spark.conf.set("spark.sql.files.openCostInBytes", 4 * 1024 * 1024)
    }

    // Warm BOTH layouts untimed before timing either: the first pass
    // through each query JITs ~seconds of codegen'd expression code, so a
    // cold-vs-warm ordering would bias whichever layout runs second.
    val loadWarm = loadAvg()
    run(sfDir)
    staged.foreach { d => smallSplits(spark); run(d); defaultSplits() }

    // host-speed calibration (after warmup so the probe itself is JITed):
    // single-thread turbo and all-core throughput in fixed-loop ops/sec
    cpuProbe(1, 10000000L) // JIT warm, untimed
    val probeSt = cpuProbe(1)
    val probeMt = cpuProbe(cpus)

    val loadBefore = loadAvg()
    val single = runMedianOf3(sfDir)
    // loadavg sampled at every phase boundary: a co-tenant spike during the
    // staged diagnostic pass is visible, not just one bracketing the median
    // pass (round-6 verdict nit #2)
    val loadMid = loadAvg()
    // staged pass gets the same median-of-3 treatment as the primary
    // metric: the single-sample staged numbers proved unauditable too
    // (BENCH_r06 recorded q_boilerplate_lines at 10.1s staged from one
    // sample under loadavg 11; controlled median-of-3 reruns measure
    // 2-3s) — a layout diagnostic that can only fire false alarms is
    // worse than none
    val stagedTimes = staged.map { d =>
      smallSplits(spark); val r = runMedianOf3(d); defaultSplits(); r
    }
    val loadAfter = loadAvg()

    // Primary metric: the driver's own fixtures (single-file), warm-timed,
    // median of 3 consecutive samples per query (sum of medians as total).
    // The staged (32-file) pass is a layout diagnostic: at sf0.1 the
    // tables are sub-MB, so per-task overhead outweighs parallel-scan
    // gains for most queries — the parallel layout pays off exactly where
    // real data volume exists (lineitem) and everywhere at cluster scale.
    val medians = single.map { case (k, s) => k -> s._2 }
    val mins = single.map { case (k, s) => k -> s._1 }
    val total = medians.map(_._2).sum
    val totalMin = mins.map(_._2).sum
    val extras = stagedTimes.map { st =>
      val med = st.map { case (k, s) => k -> s._2 }
      s""","total_staged_32file":${med.map(_._2).sum},""" +
        s""""queries_staged_32file":${js(med)},""" +
        s""""queries_staged_32file_stats":${jsStats(st)}""" +
        s""","loadavg_staged_before":$loadMid,"loadavg_staged_after":$loadAfter"""
    }.getOrElse("")
    // Suspect = the median sample still ran above `extGate` foreign
    // cores after bounded re-sampling, or the metric was unreadable.
    // The PRIMARY pass's suspects qualify the emitted medians; `gated`
    // is derived from measurement-time evidence (round-10 ADVICE: the
    // start-only flag labeled a load1=14.9 run clean; round-11: the
    // loadGate-reused trip-wire labeled a 2.2-foreign-core run clean),
    // so gated=true now MEANS every primary median sample ran with at
    // most extGate foreign-CPU cores AND at most ioGate iowait cores
    // alongside it (round-13: disk pressure was the remaining blind
    // spot) and no query failed.
    // host-capacity divergence rides the same suspect machinery as the
    // per-query ext/iowait gates: value_norm is only meaningful when the
    // host's parallel capacity matches the pinned reference ratio
    val parallelSuspect = probeParallelSuspect(probeSt, probeMt, cpus)
    val suspects = single.collect { case (k, s) if suspectOf(s) => k } ++
      (if (parallelSuspect) Seq("cpu_probe_parallel") else Nil)
    val gatedClean = !gateTimedOut && suspects.isEmpty && failed.isEmpty
    def jsNames(ns: Iterable[String]) =
      ns.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Full diagnostics (min/median/max, staged layout pass, loadavg at
    // every phase boundary) go to a non-final stdout line; the
    // FINAL line is the compact primary metric only. The driver keeps a
    // bounded tail of stdout and parses the last line as JSON — the full
    // record outgrew that capture in round 7 (BENCH_r07 parsed: null).
    // trimmed resolved names, not the raw env value (which may carry
    // whitespace or JSON-hostile characters)
    val onlyTag = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_ => s""","only":"${headlineNames.mkString(",")}"""").getOrElse("")
    val baselinePath = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_BASELINE", "BENCH_PERQUERY_BASELINE.json")
    val (baselineSf, baselineQ) = readBaseline(baselinePath)
    // the baseline is scale-specific; on a different fixture (or a
    // missing/untagged file) the report is disabled LOUDLY rather than
    // manufacturing movers out of scale exponents or silently (the
    // default path is CWD-relative — a wrapper launched elsewhere would
    // otherwise lose the ledger's third leg with no trace)
    val sfName = new java.io.File(sfDir).getName
    val baselineUsable = baselineQ.nonEmpty && baselineSf.contains(sfName)
    if (!baselineUsable) Console.err.println(
      s"[bench] mover report disabled: baseline '$baselinePath' " +
        (if (baselineQ.isEmpty) "missing/unparseable"
         else s"is for sf '${baselineSf.getOrElse("?")}', run is '$sfName'"))
    // failed queries' throw-time "medians" are nonsense ratios — keep
    // them out of the mover pool (they are already reported in `failed`)
    val moverJson = moverFields(
      medians.filterNot { case (k, _) => failed.contains(k) },
      if (baselineUsable) baselineQ else Map.empty)
    val diag = s"""{"metric":"total","value":$total,"unit":"sec","samples":3,""" +
      s""""total_min":$totalMin,"queries":${js(medians)},""" +
      s""""queries_min":${js(mins)},"query_stats":${jsStats(single)}""" +
      s""","load_gate":$loadGate,"ext_gate":$extGate,"io_gate":$ioGate""" +
      f""","cpu_probe_st_mops":${probeSt / 1e6}%.1f""" +
      f""","cpu_probe_mt_mops":${probeMt / 1e6}%.1f""" +
      f""","probe_ref_st_mops":$ProbeRefStMops%.1f""" +
      f""","probe_mt_st_ratio":${if (probeSt > 0) probeMt / probeSt else -1.0}%.2f""" +
      f""","probe_ref_mt_st_ratio":${ProbeRefMtMops / ProbeRefStMops}%.2f""" +
      s""","probe_parallel_suspect":$parallelSuspect""" +
      s""",${normFields(total, probeSt, probeMt, gatedClean, cpus)}""" +
      s""","load_gate_wait_sec":$gateWaitSec""" +
      s""","load_gate_timed_out":$gateTimedOut""" +
      s""","suspect":${jsNames(suspects)},"failed":${jsNames(failed)}""" +
      s""",$moverJson""" +
      s""","loadavg_warmup_before":$loadWarm""" +
      s""","loadavg_before":$loadBefore,"loadavg_after":$loadMid""" +
      s""","sf":"$sfDir"$onlyTag$extras}"""
    println(diag)
    // compact: ms-precision medians keep 31 queries well inside the tail
    def ms(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qCompact = medians.map { case (k, v) => "\"" + k + "\":" + ms(v) }
      .mkString("{", ",", "}")
    // the probe + normalized totals ride the COMPACT line so round-over-
    // round comparisons are mechanical: compare value_norm (st probe) and
    // value_norm_mt (mt probe) TOGETHER, never raw value. On gated:false
    // reads both print as null (normalization corrects speed, not
    // contamination — see normFields); take another read instead.
    println(s"""{"metric":"total","value":${ms(total)},"unit":"sec","samples":3,""" +
      s""""total_min":${ms(totalMin)},"gated":$gatedClean,""" +
      f""""cpu_probe_st_mops":${probeSt / 1e6}%.1f,""" +
      f""""cpu_probe_mt_mops":${probeMt / 1e6}%.1f,""" +
      f""""probe_ref_st_mops":$ProbeRefStMops%.1f,""" +
      f""""probe_mt_st_ratio":${if (probeSt > 0) probeMt / probeSt else -1.0}%.2f,""" +
      s""""probe_parallel_suspect":$parallelSuspect,""" +
      s"""${normFields(total, probeSt, probeMt, gatedClean, cpus)},""" +
      s""""suspect":${jsNames(suspects)},"failed":${jsNames(failed)},""" +
      s"""$moverJson,""" +
      s""""queries":$qCompact,"sf":"$sfDir"$onlyTag}""")
    spark.stop()
  }
}
