package graft

import org.apache.spark.sql.functions._

import graft.ops.RecordLinkage

/** Counts blocking-key evaluations across tasks (a top-level object, so
  * UDF closures reference it instead of capturing a copy). */
private object BlockKeyEvals extends java.util.concurrent.atomic.AtomicLong

/** Blocked fuzzy join: recall against a perturbed twin, bounded blocks,
  * no cartesian anywhere. */
class RecordLinkageSpec extends SparkSpec {
  import spark.implicits._

  test("fuzzyJoin recovers perturbed twins within blocking recall, no cartesian") {
    val cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .select("c_custkey", "c_name")
    val perturbed = cust.select(col("c_custkey").as("p_key"),
      translate(col("c_name"), "1", "I").as("p_name"))
    val df = RecordLinkage.fuzzyJoin(
      cust, "c_custkey", "c_name", RecordLinkage.suffixBlock(col("c_name")),
      perturbed, "p_key", "p_name", RecordLinkage.suffixBlock(col("p_name")),
      maxDist = 3)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    val matches = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val names = cust.as[(Long, String)].collect().toMap
    // every name with NO '1' in its last-3 block and <= 3 ones total must
    // self-match at dist = number of substituted ones
    names.foreach { case (k, n) =>
      val ones = n.count(_ == '1')
      if (!n.takeRight(3).contains('1') && ones <= 3) {
        assert(matches.contains((k, k, ones)), s"$k '$n' twin missed")
      }
    }
    // verify distances against an independent in-JVM Levenshtein
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val pNames = names.map { case (k, n) => k -> n.replace('1', 'I') }
    matches.take(200).foreach { case (ia, ib, dist) =>
      assert(lev(names(ia), pNames(ib)) == dist, s"dist mismatch for ($ia,$ib)")
    }
  }

  test("maxBlockSize drops hot blocks on either side, keeps the rest intact") {
    // side a: 8 rows in hot block "XXX" + 3 clean rows; side b: 1 hot + 3 clean.
    // cap=5 kills the hot block via SIDE A alone (8 > 5 >= 1) — every
    // XXX pair disappears while clean-block pairs are byte-identical.
    val a = ((1L to 8L).map(i => (i, s"nameXXX")) ++
      Seq((20L, "alpha"), (21L, "alphb"), (22L, "gamma"))).toDF("id", "t")
    val b = (Seq((101L, "nameXXX")) ++
      Seq((120L, "alpha"), (121L, "alphc"), (122L, "delta"))).toDF("id", "t")
    def run(cap: Option[Int]) = {
      val r = RecordLinkage.fuzzyJoinReleasable(
        a, "id", "t", RecordLinkage.suffixBlock(col("t")),
        b, "id", "t", RecordLinkage.suffixBlock(col("t")),
        maxDist = 2, maxBlockSize = cap)
      (r.pairs.collect().map(p => (p.getLong(0), p.getLong(1), p.getInt(2))).toSet, r.report)
    }
    val (uncapped, _) = run(None)
    val (capped, drops) = run(Some(5))
    assert(uncapped.exists(_._2 == 101L), "hot-block pairs present uncapped")
    assert(!capped.exists(_._2 == 101L), "hot block survived the cap")
    assert(capped == uncapped.filterNot(_._2 == 101L),
      "clean blocks must be untouched by the cap")
    // diagnostic report ranks the hot block first
    val top = RecordLinkage.blockSizeReport(
      a.select(RecordLinkage.suffixBlock(col("t")).as("__blk")), col("__blk"),
      b.select(RecordLinkage.suffixBlock(col("t")).as("__blk")), col("__blk"))
      .head()
    assert(top.getString(0) == "XXX" && top.getLong(2) == 8L)
    // the cap run must have RECORDED what it dropped (loud, not silent):
    // side a lost the 8-row hot block, side b lost nothing
    assert(drops("a") == RecordLinkage.CapDrop(1L, 8L, 4L, 11L), drops)
    assert(drops("b") == RecordLinkage.CapDrop(0L, 0L, 4L, 4L), drops)
  }

  test("total-drop regime is reported, never silent (the sf10p shape)") {
    // EVERY block exceeds the cap on both sides — the operator returns
    // 0 pairs by contract, and the call's report must say 100% of the row
    // mass was dropped (r15 verdict: "0 pairs" with no signal reads as
    // "no duplicates found", which is silently wrong)
    val a = (1L to 40L).map(i => (i, s"dup${i % 2}")).toDF("id", "t")
    val b = (101L to 140L).map(i => (i, s"dup${i % 2}")).toDF("id", "t")
    val out = RecordLinkage.fuzzyJoinReleasable(
      a, "id", "t", RecordLinkage.suffixBlock(col("t")),
      b, "id", "t", RecordLinkage.suffixBlock(col("t")),
      maxDist = 2, maxBlockSize = Some(5))
    assert(out.pairs.count() == 0L)
    val drops = out.report
    assert(drops("a").droppedRowFraction == 1.0 &&
      drops("b").droppedRowFraction == 1.0, drops)
    assert(drops("a") == RecordLinkage.CapDrop(2L, 40L, 2L, 40L), drops)
    // an uncapped call's report is empty — it dropped nothing
    val uncapped = RecordLinkage.fuzzyJoinReleasable(
      a, "id", "t", RecordLinkage.suffixBlock(col("t")),
      b, "id", "t", RecordLinkage.suffixBlock(col("t")),
      maxDist = 2)
    uncapped.pairs.count()
    assert(uncapped.report.isEmpty)
  }

  test("fuzzyJoinReleasable: two interleaved capped calls keep their own reports") {
    // VERDICT r16 #3 / ADVICE: the old global registry was cleared at the
    // start of every call, so two concurrent capped calls could serve a
    // report mixing sides from different calls. The per-call return value
    // must be immune: run two calls with DIFFERENT drop shapes on two
    // threads, repeatedly, and each must come back with exactly its own.
    val a1 = (1L to 8L).map(i => (i, "hotAAA")).toDF("id", "t") // 8-row hot block
    val b1 = Seq((101L, "hotAAA"), (102L, "clean1")).toDF("id", "t")
    val a2 = (1L to 40L).map(i => (i, s"dup${i % 2}")).toDF("id", "t") // total drop
    val b2 = (101L to 140L).map(i => (i, s"dup${i % 2}")).toDF("id", "t")
    val expect1a = RecordLinkage.CapDrop(1L, 8L, 1L, 8L)
    val expect2a = RecordLinkage.CapDrop(2L, 40L, 2L, 40L)
    def call1() = RecordLinkage.fuzzyJoinReleasable(
      a1, "id", "t", RecordLinkage.suffixBlock(col("t")),
      b1, "id", "t", RecordLinkage.suffixBlock(col("t")),
      maxDist = 2, maxBlockSize = Some(5)).report
    def call2() = RecordLinkage.fuzzyJoinReleasable(
      a2, "id", "t", RecordLinkage.suffixBlock(col("t")),
      b2, "id", "t", RecordLinkage.suffixBlock(col("t")),
      maxDist = 2, maxBlockSize = Some(5)).report
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    (1 to 3).foreach { _ =>
      val f1 = Future(call1()); val f2 = Future(call2())
      val r1 = Await.result(f1, 120.seconds)
      val r2 = Await.result(f2, 120.seconds)
      assert(r1("a") == expect1a, s"call 1 report polluted: $r1")
      assert(r2("a") == expect2a, s"call 2 report polluted: $r2")
      assert(r1("b").totalRows == 2L && r2("b").totalRows == 40L,
        s"side-b reports crossed: $r1 / $r2")
    }
    graft.plans.Checkpoints.releaseAll()
  }

  test("entityClusters: transitive merge over a chain, singletons kept, dup edges ok") {
    import spark.implicits._
    // chain 1-2, 2-3, 3-4 (depth forces >1 propagation round); island 7-8;
    // 9 never matched; duplicate + reversed edges must not double-count
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (7L, 8L), (3L, 2L), (2L, 3L))
      .toDF("id_a", "id_b")
    val records = (1L to 9L).toDF("rec_id")
    val out = RecordLinkage.entityClusters(records, "rec_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 6L, 7L -> 7L, 8L -> 7L, 9L -> 9L))
  }

  test("fuzzyLinkBest: per-left-record argmin, ties to smallest right id, cap composes") {
    // shared suffix block "ANA": left 1 best-matches right 10 at dist 1
    //   over several dist-2 candidates; left 5 has a genuine dist TIE
    //   (11/13/14 all at dist 1 — "dzzana" is one insertion from
    //   "zzana") -> smallest id 11 wins; left 3 shares
    //   the block but nothing within maxDist. Hot block "XXX" (7 lefts)
    //   exceeds cap=6 -> its lefts vanish under the cap while block ANA
    //   (4 lefts / 6 rights) stays whole on both sides.
    val a = (Seq((1L, "diana"), (2L, "liana"), (3L, "qqqana"), (5L, "zzana")) ++
      (30L to 36L).map(i => (i, ('a' + (i - 30)).toChar + "xxx"))).toDF("id", "t")
    val b = Seq((10L, "dcana"), (11L, "dzzana"), (12L, "dyyana"),
      (13L, "zyana"), (14L, "zwana"), (20L, "lizana"), (40L, "dxxx")).toDF("id", "t")
    def blk(c: org.apache.spark.sql.Column) = RecordLinkage.suffixBlock(c)
    val pairs = RecordLinkage.fuzzyJoin(a, "id", "t", blk(col("t")),
        b, "id", "t", blk(col("t")), maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val expected = pairs.groupBy(_._1).map { case (ia, cs) =>
      val best = cs.minBy { case (_, ib, d) => (d, ib) }
      (ia, best._2, best._3)
    }.toSet
    val got = RecordLinkage.fuzzyLinkBest(a, "id", "t", blk(col("t")),
        b, "id", "t", blk(col("t")), maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected)
    assert(got.map(_._1).size == got.size) // one row per left record
    val byId = got.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byId(1L) == ((10L, 1)))  // dist 1 beats every dist-2 candidate
    assert(byId(5L) == ((11L, 1)))  // dist-1 tie (11/13/14) -> smallest id
    assert(!byId.contains(3L))      // no match within maxDist -> no row
    // the cap composes: hot-block lefts drop from the bounded output too
    val capped = RecordLinkage.fuzzyLinkBest(a, "id", "t", blk(col("t")),
        b, "id", "t", blk(col("t")), maxDist = 2, maxBlockSize = Some(6))
      .collect().map(_.getLong(0)).toSet
    assert((30L to 36L).forall(!capped.contains(_)))
    assert(capped.contains(1L))
  }

  test("thresholded DP edges: maxDist 0 keeps exact-equal pairs only, dist values match brute") {
    // the r17 banded-Levenshtein rewrite must keep EXACTLY the rows the
    // full-DP + filter form kept, with identical dist values — including
    // the threshold-0 degenerate (equality join) and length-gap
    // short-circuit rows (|len a - len b| > maxDist)
    val a = Seq((1L, "abc"), (2L, "abcd"), (3L, "abcdefgh"), (4L, "xbc")).toDF("id", "t")
    val blk = lit("one") // single block: all pairs compared
    def got(maxDist: Int) = RecordLinkage.fuzzyJoin(a, "id", "t", blk,
        a.select(col("id").as("id2"), col("t").as("t2")), "id2", "t2", blk, maxDist)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    def brute(maxDist: Int) = {
      val rows = Seq((1L, "abc"), (2L, "abcd"), (3L, "abcdefgh"), (4L, "xbc"))
      (for ((ia, ta) <- rows; (ib, tb) <- rows) yield {
        val d = { // textbook full DP
          val m = Array.tabulate(ta.length + 1, tb.length + 1)((i, j) =>
            if (i == 0) j else if (j == 0) i else 0)
          for (i <- 1 to ta.length; j <- 1 to tb.length)
            m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
              m(i - 1)(j - 1) + (if (ta(i - 1) == tb(j - 1)) 0 else 1))
          m(ta.length)(tb.length)
        }
        (ia, ib, d)
      }).filter(_._3 <= maxDist).toSet
    }
    for (k <- 0 to 5) assert(got(k) == brute(k), s"maxDist=$k")
  }

  test("exchange pin routes by the session's coalescing policy") {
    // default policy (parallelismFirst=true): AQE preserves parallelism
    // on byte-light exchanges, so the join stays UNpinned (no
    // user-specified repartition in the plan); parallelismFirst=false
    // (the prod-recommended setting) coalesces toward the 64 MB
    // advisory target — a compute-dense ~MB shuffle would land on ~1
    // task — so the pin fires.
    val a = Seq((1L, "abc"), (2L, "abd")).toDF("id", "t")
    def repartitions: Int = {
      val df = RecordLinkage.fuzzyJoin(a, "id", "t", lit("k"),
        a.select(col("id").as("i2"), col("t").as("t2")), "i2", "t2", lit("k"), 1)
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
      }.size
    }
    val key = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    val orig = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      assert(repartitions == 0, "default policy must leave the join untouched")
      spark.conf.set(key, "false")
      assert(repartitions == 2, "byte-targeted coalescing must trigger the per-side pin")
    } finally orig.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("entityClusters: a long path converges (fix-point really iterates)") {
    import spark.implicits._
    // path 1-2-3-...-12: min label must travel the whole chain
    val pairs = (1L until 12L).map(i => (i + 1, i)).toDF("id_a", "id_b")
    val records = (1L to 12L).toDF("rec_id")
    val out = RecordLinkage.entityClusters(records, "rec_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(out.values.toSet == Set(1L) && out.size == 12)
  }

  test("fuzzyJoinReleasable: per-call census release, no net persisted-block growth") {
    import spark.implicits._
    // drain anything earlier suites left behind so the baseline is ours
    graft.plans.Checkpoints.releaseAll()
    val df = ((1L to 40L).map(i => (i, "HOT_block_shared")) ++
      (41L to 50L).map(i => (i, s"CLD_$i"))).toDF("id", "nm")
    def persistedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // two sequential capped calls, each consumed then released — the
    // long-lived-driver pattern VERDICT r17 #5 asks for (no global
    // releaseAll between them). Tracked by the call's OWN rdd ids, not a
    // global count: the ContextCleaner can GC unrelated stale blocks
    // mid-test and a count baseline would drift under it.
    for (cap <- Seq(20, 30)) {
      val before = persistedIds
      val r = RecordLinkage.fuzzyJoinReleasable(
        df, "id", "nm", RecordLinkage.prefixBlock(col("nm"), 3),
        df, "id", "nm", RecordLinkage.prefixBlock(col("nm"), 3),
        maxDist = 2, maxBlockSize = Some(cap))
      r.pairs.collect()
      assert(r.report("a").droppedBlocks == 1L, "hot block capped on side a")
      val own = persistedIds -- before
      assert(own.nonEmpty, "census blocks live while the result is consumed")
      r.releaseCensus()
      // unpersist is async (blocking=false) — poll briefly
      val deadline = System.nanoTime() + 5_000_000_000L
      while ((persistedIds & own).nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert((persistedIds & own).isEmpty,
        s"cap=$cap: this call's census blocks must be gone after releaseCensus()")
    }
    // double release + global drain stay harmless no-ops
    val again = RecordLinkage.fuzzyJoinReleasable(
      df, "id", "nm", RecordLinkage.prefixBlock(col("nm"), 3),
      df, "id", "nm", RecordLinkage.prefixBlock(col("nm"), 3),
      maxDist = 1, maxBlockSize = Some(20))
    again.pairs.collect()
    again.releaseCensus()
    again.releaseCensus()
    graft.plans.Checkpoints.releaseAll()
    // uncapped calls materialize no census: nothing to release
    val un = RecordLinkage.fuzzyJoinReleasable(
      df, "id", "nm", RecordLinkage.prefixBlock(col("nm"), 3),
      df, "id", "nm", RecordLinkage.prefixBlock(col("nm"), 3), maxDist = 1)
    un.pairs.collect()
    assert(un.report.isEmpty)
    un.releaseCensus()
  }

  test("fuzzyJoinReleasable: an interrupted capped call leaves no census job running") {
    import spark.implicits._
    // a range, not a local Seq: over a local relation the optimizer
    // evaluates the key while planning, outside the census jobs
    val df = spark.range(1, 65).select(col("id"), concat(lit("name_"), col("id")).as("nm"))
    // every key evaluation sleeps, so both census jobs run long enough
    // to interrupt the caller while it awaits them
    val slowKey = udf { (s: String) =>
      BlockKeyEvals.incrementAndGet(); Thread.sleep(25); s.take(2)
    }
    val group = "linkage-interrupt"
    @volatile var thrown: Option[Throwable] = None
    @volatile var activeAtThrow: Seq[Int] = Nil
    val caller = new Thread(() => {
      val sc = spark.sparkContext
      sc.setJobGroup(group, "interrupted capped linkage")
      try RecordLinkage.fuzzyJoinReleasable(
        df, "id", "nm", slowKey(col("nm")), df, "id", "nm", slowKey(col("nm")),
        maxDist = 1, maxBlockSize = Some(100))
      catch {
        case t: Throwable =>
          Thread.interrupted()
          // job ends are posted before an action returns: once the bus is
          // drained, a job still RUNNING outlived the call
          org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
          activeAtThrow = sc.statusTracker.getJobIdsForGroup(group).toSeq
            .filter(id => sc.statusTracker.getJobInfo(id)
              .exists(_.status == org.apache.spark.JobExecutionStatus.RUNNING))
          thrown = Some(t)
      } finally sc.clearJobGroup()
    })
    def blocks = spark.sparkContext.getRDDStorageInfo.length
    val trackedBefore = graft.plans.Checkpoints.trackedCount
    val blocksBefore = blocks
    BlockKeyEvals.set(0L)
    caller.start()
    val deadline = System.nanoTime() + 60_000_000_000L
    while (BlockKeyEvals.get == 0L && System.nanoTime() < deadline) Thread.sleep(5)
    caller.interrupt()
    caller.join(120000)
    assert(!caller.isAlive, "the interrupted call must return")
    assert(thrown.isDefined, "an interrupted await must surface as a throw")
    assert(activeAtThrow.isEmpty,
      s"census job(s) ${activeAtThrow.mkString(",")} still running after the call threw")
    // a throwing call hands out no release hook, so it must release its
    // own census checkpoints (unpersist is async; poll briefly)
    assert(graft.plans.Checkpoints.trackedCount == trackedBefore,
      s"census checkpoints still registered: $trackedBefore -> ${graft.plans.Checkpoints.trackedCount}")
    val releaseDeadline = System.nanoTime() + 10_000_000_000L
    while (blocks > blocksBefore && System.nanoTime() < releaseDeadline) Thread.sleep(100)
    assert(blocks <= blocksBefore, s"census blocks still held: $blocksBefore -> $blocks")
    graft.plans.Checkpoints.releaseAll()
  }
}
