package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Record linkage / fuzzy entity matching: the classic block -> candidate
  * -> verify pipeline. Candidate generation is a bucketed equi-join on a
  * BLOCKING key (never an all-pairs product — the same discipline as the
  * LSH dedup family: candidates are bounded by block sizes, and the
  * verify predicate prunes inside the join); verification is exact
  * Levenshtein distance (both engines implement the same DP, so the
  * integer distances — and therefore the match set — are
  * engine-identical).
  *
  * Blocking-key design is the recall/cost lever: prefix blocks are the
  * standard cheap choice, suffix blocks suit id-like names whose shared
  * prefixes would collapse everything into one block; multi-pass
  * blocking = union of fuzzyJoin calls with different keys.
  */
object RecordLinkage {

  /** What the degenerate-block cap of one [[fuzzyJoin]] pass dropped on
    * one side: blocks over the cap and the row mass inside them, plus
    * the side's totals for a drop-fraction denominator. */
  final case class CapDrop(droppedBlocks: Long, droppedRows: Long,
                           totalBlocks: Long, totalRows: Long) {
    def droppedRowFraction: Double =
      if (totalRows == 0L) 0.0 else droppedRows.toDouble / totalRows
  }

  /** Uppercased first `n` chars — the standard cheap block. */
  def prefixBlock(c: Column, n: Int = 3): Column = upper(substring(c, 1, n))
  def prefixBlockSql(c: String, n: Int = 3): String =
    s"upper(substr(${c}, 1, ${n}))"

  /** Uppercased last `n` chars — for corpora with long shared prefixes
    * (serial-numbered names) where a prefix block degenerates. */
  def suffixBlock(c: Column, n: Int = 3): Column =
    upper(substring(c, -n, n))
  def suffixBlockSql(c: String, n: Int = 3): String =
    s"upper(substr(${c}, -${n}, ${n}))"

  /** Fuzzy join: pairs (id_a, id_b, dist) where both sides share the
    * blocking key and levenshtein(textA, textB) <= maxDist.
    *
    * `maxBlockSize` is the DEGENERATE-BLOCK guard (standard linkage
    * hygiene): a block whose row count exceeds the cap on EITHER side is
    * dropped from candidate generation entirely — without it, one hot
    * key ("", "UNKNOWN", a shared serial prefix) makes the join
    * quadratic in that block's size. Enforced per side with a partial-agg
    * block count and an anti-join of the over-cap keys: the count
    * map-side-combines (a degenerate block never funnels through one
    * task, unlike a window count whose partition sort would). The
    * anti-join carries NO broadcast hint on purpose: the over-cap set is
    * usually tiny (only degenerate keys) and AQE broadcasts it at
    * runtime, but its size is bounded only by rows/cap — a small cap on
    * a skewed corpus can make it arbitrarily large, and a forced hint
    * would turn that into a driver OOM cliff instead of a plain shuffle.
    * Dropped blocks trade recall for a hard cost bound — exactly the dial
    * real linkage systems expose; pick the cap so legitimate blocks pass.
    *
    * STORAGE NOTE (capped calls only): each side's block census is
    * materialized via `Checkpoints.materialize` and stays referenced by
    * the RETURNED plan (the anti-join reads it), so its blocks cannot be
    * released here. A long-lived driver should use
    * [[fuzzyJoinReleasable]] and call its per-call `releaseCensus()`
    * once the result is consumed (VERDICT r17 #5); the censuses are
    * ALSO registered for the global `Checkpoints.releaseAll()` drain,
    * so batch drivers (Verify/Bench) keep their existing discipline
    * and a double release is a harmless no-op.
    *
    * @param blockA / blockB blocking-key expressions over each side's
    *        text column (same key family on both sides for recall). */
  def fuzzyJoin(a: DataFrame, aId: String, aText: String, blockA: Column,
                b: DataFrame, bId: String, bText: String, blockB: Column,
                maxDist: Int, maxBlockSize: Option[Int] = None,
                widenInputs: Boolean = true): DataFrame =
    fuzzyJoinReleasable(a, aId, aText, blockA, b, bId, bText, blockB,
      maxDist, maxBlockSize, widenInputs).pairs

  /** One capped-linkage call's full result: the pair stream, the
    * per-side ("a"/"b") drop report, and THIS call's census release hook.
    * The report is the observability record for the silent-total-drop
    * regime (a cap that swallows 100% of candidate mass reads as "no
    * duplicates found" without it); it is local to the call, so two
    * interleaved capped calls cannot cross-talk, and it is empty when
    * the call ran uncapped.
    *
    * `releaseCensus()` unpersists only the block-census checkpoints this
    * invocation materialized — call it after the pair stream is fully
    * consumed (the censuses back the over-cap anti-join in the returned
    * plan and their lineage is truncated, so nothing can recompute them
    * afterwards). Idempotent, and safe to combine with the global
    * `Checkpoints.releaseAll()` drain (a second unpersist of the same
    * blocks is a no-op). Uncapped calls release nothing. */
  final case class ReleasableLinkage(pairs: DataFrame,
                                     report: Map[String, CapDrop],
                                     releaseCensus: () => Unit)

  /** [[fuzzyJoin]] plus its drop report and a PER-CALL census release hook
    * (VERDICT r17 #5): a long-lived driver interleaving capped linkage
    * calls with unrelated checkpointed work can release each call's own
    * census blocks on consumption instead of draining the global
    * registry — `releaseAll()` is a sledgehammer that would also free
    * checkpoints still backing OTHER live results. */
  def fuzzyJoinReleasable(a: DataFrame, aId: String, aText: String, blockA: Column,
                          b: DataFrame, bId: String, bText: String, blockB: Column,
                          maxDist: Int, maxBlockSize: Option[Int] = None,
                          widenInputs: Boolean = true)
      : ReleasableLinkage = {
    require(maxDist >= 0, "fuzzyJoin: maxDist must be >= 0")
    require(maxBlockSize.forall(_ > 0), "fuzzyJoin: maxBlockSize must be positive")
    val report = scala.collection.mutable.Map.empty[String, CapDrop]
    val censuses = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // Cap enforcement is LOUD about what it drops: the per-side block
    // census is materialized once, its checkpoint job also yields the
    // dropped block/row mass (recorded in the call's report, printed on
    // stderr whenever anything was dropped), and its over-cap filter
    // feeds the anti-join.
    def capped(df: DataFrame, side: String): DataFrame = maxBlockSize.fold(df) { cap =>
      val (census, stat) = graft.plans.Checkpoints.materialize(
        df.groupBy("__blk").agg(count(lit(1)).as("__bn")),
        coalesce(sum("__bn"), lit(0L)), count(when(col("__bn") > cap, 1)),
        coalesce(sum(when(col("__bn") > cap, col("__bn"))), lit(0L)))
      // the two sides run concurrently (pool below); the per-call
      // collections are the only shared mutable state
      censuses.synchronized { censuses += census }
      val drop = CapDrop(stat.getLong(2), stat.getLong(3),
        stat.getLong(0), stat.getLong(1))
      report.synchronized { report.put(side, drop) }
      if (drop.droppedBlocks > 0L)
        Console.err.println(
          f"[fuzzyJoin] side=$side cap=$cap dropped ${drop.droppedBlocks} " +
            f"over-cap block(s) = ${drop.droppedRows} of ${drop.totalRows} rows " +
            f"(${drop.droppedRowFraction * 100}%.1f%% of candidate row mass) — " +
            "recall loss by contract; run blockSizeReport to size the cap")
      df.join(census.filter(col("__bn") > cap).select("__blk"),
        Seq("__blk"), "left_anti")
    }
    // Both row sides are widened before the cap's anti-join (widen only
    // inspects scan-shaped plans); the two census checkpoints run from a
    // 2-thread pool so their barriers overlap. `widenInputs = false` is
    // the caller's escape hatch for inputs it KNOWS are tiny with tiny
    // blocks: block-join DP work is super-linear in bytes, so no byte
    // floor can gate it (COVERAGE.md "Execution-policy ledger").
    def side(df: DataFrame, tag: String): DataFrame =
      capped(if (widenInputs) graft.plans.Parallelism.widen(df) else df, tag)
    val aSel = a.select(col(aId).as("id_a"), col(aText).as("text_a"),
      blockA.as("__blk"))
    val bSel = b.select(col(bId).as("id_b"), col(bText).as("text_b"),
      blockB.as("__blk"))
    val (left, right) = if (maxBlockSize.isEmpty) (side(aSel, "a"), side(bSel, "b"))
    else {
      import scala.concurrent.{Await, Future, ExecutionContext}
      import scala.concurrent.duration.Duration
      // Dedicated 2-thread pool per call (ADVICE r18): worker threads are
      // created by THIS thread's first submits, so Spark's inheritable
      // job-group/scheduler-pool local properties carry into both actions
      // (ExecutionContext.global threads may predate the caller and carry
      // someone else's), and nested capped calls can't starve a shared
      // pool. Both actions quiesce before the call returns or throws —
      // also when the await itself is interrupted: returning early would
      // leave the sibling's census job running past the call. A call that
      // throws never hands out its release hook, so it releases the
      // censuses both sides materialized itself before rethrowing.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try {
        try {
          val fa = Future(side(aSel, "a"))
          val fb = Future(side(bSel, "b"))
          // surface the FIRST side's failure first (deterministic)
          (Await.result(fa, Duration.Inf), Await.result(fb, Duration.Inf))
        } finally {
          pool.shutdown()
          var interrupted = false
          while (!pool.isTerminated)
            try pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
            catch { case _: InterruptedException => interrupted = true }
          if (interrupted) Thread.currentThread().interrupt()
        }
      } catch {
        case t: Throwable =>
          censuses.foreach(graft.plans.Checkpoints.unpersistCheckpoint)
          throw t
      }
    }
    // Compute-dense exchange pin, only under
    // coalescePartitions.parallelismFirst = false, where AQE would
    // coalesce the block join's small shuffle onto ~1 task (COVERAGE.md
    // "Execution-policy ledger"); blocks are atomic under any partitioning.
    val pinOn = !java.lang.Boolean.parseBoolean(
      a.sparkSession.sessionState.conf.getConfString(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst", "true"))
    def pin(df: DataFrame): DataFrame =
      if (pinOn) graft.plans.Parallelism.pin(df, col("__blk")) else df
    // THRESHOLDED Levenshtein (r17): the 3-arg form runs the BANDED DP
    // (O(len × (2·maxDist+1)) cells instead of len², ~2.5× at maxDist 3
    // on ~20-char names) and short-circuits in O(1) when the length gap
    // alone exceeds the bound, returning -1 past the threshold — so the
    // filter keeps exactly the rows the full-DP + `<= maxDist` form
    // kept, with identical dist values. This is the hot instruction
    // stream of the quadratic stage; at sf10p it is ~all the CPU.
    val out = pin(left)
      .join(pin(right), "__blk")
      .withColumn("dist", levenshtein(col("text_a"), col("text_b"), maxDist))
      .filter(col("dist") >= 0)
      .select("id_a", "id_b", "dist")
    ReleasableLinkage(out, report.toMap,
      () => censuses.foreach(graft.plans.Checkpoints.unpersistCheckpoint))
  }

  /** Per-block row counts on each side — the diagnostic to run BEFORE
    * committing to a cap: returns (__blk, side, n) sorted largest first. */
  def blockSizeReport(a: DataFrame, blockA: Column,
                      b: DataFrame, blockB: Column): DataFrame =
    a.select(blockA.as("__blk")).groupBy("__blk").count()
      .select(col("__blk"), lit("a").as("side"), col("count").as("n"))
      .unionByName(
        b.select(blockB.as("__blk")).groupBy("__blk").count()
          .select(col("__blk"), lit("b").as("side"), col("count").as("n")))
      .orderBy(col("n").desc)

  /** Multi-pass blocking: union the candidate pairs of several blocking
    * keys and keep each matched pair once (min distance is identical
    * across passes — the distance doesn't depend on the block). Recovers
    * pairs any single key misses at the cost of one pass per key.
    * `maxBlockSize` applies per pass (see [[fuzzyJoin]]). */
  def fuzzyJoinMulti(a: DataFrame, aId: String, aText: String,
                     b: DataFrame, bId: String, bText: String,
                     blocks: Seq[(Column, Column)], maxDist: Int,
                     maxBlockSize: Option[Int] = None): DataFrame = {
    require(blocks.nonEmpty, "fuzzyJoinMulti: need at least one blocking key")
    blocks.map { case (ba, bb) =>
      fuzzyJoin(a, aId, aText, ba, b, bId, bText, bb, maxDist, maxBlockSize)
    }.reduce(_ unionByName _)
      .groupBy("id_a", "id_b").agg(min("dist").as("dist"))
  }

  /** Entity resolution on top of linkage: transitively cluster matched
    * pairs into entities — records A~B and B~C land in one entity even
    * when A and C were never directly matched (the MERGE step real
    * linkage users run after [[fuzzyJoinMulti]]). Union-find semantics
    * executed as Spark joins: min-label propagation over the symmetric
    * edge list until stable (converges in O(component diameter) rounds,
    * small for match graphs).
    *
    * SEMI-NAIVE rounds: a node's label can only drop when a NEIGHBOR's
    * label dropped in the previous round, so each round propagates only
    * from the FRONTIER — the ids improved last round — instead of
    * re-joining the full edge set.
    * Components that converged simply stop appearing in the frontier and
    * their edges drop out of every later round's join (the
    * freeze-converged-components idea, realized as delta iteration
    * rather than explicit edge bookkeeping — same effect, no mutable
    * edge set to maintain). Convergence = empty frontier, checked by the
    * same per-round job that materializes it; a checkpoint per round
    * bounds lineage. Per-round work tracks the frontier, not the graph:
    * star components converge in a couple of rounds and later rounds
    * touch only the edges of the long paths still moving.
    *
    * Only (id, rep) longs shuffle — never the record payloads. Records
    * with no match keep themselves as their entity (final left join).
    *
    * @param records one row per record; `idCol` must be a unique LONG id
    *        across BOTH linked sides (namespace two tables first, e.g.
    *        2k / 2k+1)
    * @param pairs   matched pairs over that id space (direction ignored)
    * @return (idCol, entity_rep) — entity_rep = min record id reachable
    */
  def entityClusters(records: DataFrame, idCol: String, pairs: DataFrame,
                     aCol: String = "id_a", bCol: String = "id_b",
                     maxIter: Int = 30): DataFrame = {
    val fwd = pairs.select(col(aCol).cast("long").as("src"),
      col(bCol).cast("long").as("dst"))
    // Every checkpoint goes through Checkpoints.materialize, NOT
    // Dataset.localCheckpoint: the propagated origin Statistics would
    // compound multiplicatively round over round (labels rides both
    // sides of each round's joins) until the driver grinds in BigInteger
    // arithmetic inside the stats visitor — see the GraftBridge scaladoc
    // for the live pathology. The exact observed stats also let the
    // (shrinking) frontier broadcast into both per-round joins. Each
    // superseded round is released as it goes; the final labels, which
    // the returned plan reads, stay registered for `releaseAll`.
    import graft.plans.Checkpoints.{materialize, unpersistCheckpoint}
    val edges = materialize(fwd.unionByName(
        fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    // seed: rep_0(id) = min over {id} ∪ direct neighbors — one aggregate.
    // Every labeled node starts in the frontier (all labels are "new").
    var labels = materialize(edges
      .groupBy(col("src").as("id"))
      .agg(min(least(col("src"), col("dst"))).as("rep")))
    var frontier = labels
    var frontierSize = 1L // seed round always propagates
    var iter = 0
    while (frontierSize > 0 && iter < maxIter) {
      // push the frontier's labels one hop; keep only genuine improvements
      val viaNb = edges.join(frontier.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(min("rep").as("cand"))
      val (hopImproved, hopCensus) = materialize(
        viaNb.join(labels, "id")
          .filter(col("cand") < col("rep"))
          .select(col("id"), col("cand").as("rep")), Seq.empty[Column]: _*)
      val nHop = hopCensus.getLong(0)
      // FRONTIER-SCOPED POINTER JUMP: a hop-improved node's new rep may
      // itself carry an older label than ITS rep's current one — chasing
      // rep := labels(rep) halves the remaining chain depth along exactly
      // the active paths (deep chains are where round counts live). The
      // chase is one join bounded by the FRONTIER size, so the semi-naive
      // "work tracks the frontier" property is preserved — a global
      // rep(rep) pass would be O(N) per round and give that back.
      // Monotone-safe: labels(rep) <= rep always, and any label a chase
      // lands on is the min of ids reachable from the component.
      val improved =
        if (nHop == 0) hopImproved
        else materialize(
          hopImproved.join(labels.select(col("id").as("rep"),
              col("rep").as("__chased")), Seq("rep"), "left_outer")
            .select(col("id"),
              least(col("rep"), coalesce(col("__chased"), col("rep"))).as("rep")))
      if (improved ne hopImproved) {
        unpersistCheckpoint(hopImproved)
      }
      val next = materialize(
        labels.join(improved.withColumnRenamed("rep", "better"),
            Seq("id"), "left_outer")
          .select(col("id"), coalesce(col("better"), col("rep")).as("rep")))
      unpersistCheckpoint(labels)
      if (frontier ne labels) unpersistCheckpoint(frontier)
      labels = next
      frontier = improved
      // the chase join is row-preserving (left_outer + select over
      // hopImproved), so nHop IS the frontier size
      frontierSize = nHop
      iter += 1
    }
    if (frontierSize > 0) {
      unpersistCheckpoint(labels)
      unpersistCheckpoint(frontier)
      unpersistCheckpoint(edges)
      throw new IllegalStateException(
        s"entityClusters: label propagation did not converge after $iter " +
          "propagation rounds — raise maxIter")
    }
    graft.plans.FixpointStats.record("entityClusters", iter)
    // the final (empty) frontier checkpoint is not part of the returned
    // plan — without this it leaks one persisted RDD per call
    if (frontier ne labels) unpersistCheckpoint(frontier)
    val out = records.select(col(idCol).cast("long").as("id"))
      .join(labels, Seq("id"), "left_outer")
      .select(col("id").as(idCol), coalesce(col("rep"), col("id")).as("entity_rep"))
    unpersistCheckpoint(edges)
    out
  }

  /** DuckDB rendering of [[entityClusters]]: exact recursive reachability
    * over the same symmetric edges, min reachable id per record.
    * @param recordsSql must yield one column named `id`
    * @param pairsSql   must yield columns `id_a`, `id_b` */
  def entityClustersSql(recordsSql: String, idOut: String,
                        pairsSql: String): String =
    s"""WITH RECURSIVE prs AS (${pairsSql}),
          edges AS (
            SELECT id_a AS src, id_b AS dst FROM prs
            UNION
            SELECT id_b AS src, id_a AS dst FROM prs),
          reach AS (
            SELECT src AS id, src AS r FROM edges
            UNION
            SELECT e.dst AS id, reach.r
            FROM reach JOIN edges e ON reach.id = e.src),
          lab AS (SELECT id, min(r) AS entity_rep FROM reach GROUP BY id)
        SELECT rec.id AS ${idOut}, coalesce(lab.entity_rep, rec.id) AS entity_rep
        FROM (${recordsSql}) rec LEFT JOIN lab ON rec.id = lab.id"""

  def fuzzyJoinSql(aSql: String, aId: String, aText: String, blockASql: String,
                   bSql: String, bId: String, bText: String, blockBSql: String,
                   maxDist: Int): String =
    s"""SELECT id_a, id_b, dist FROM (
          SELECT a.${aId} AS id_a, b.${bId} AS id_b,
                 levenshtein(a.${aText}, b.${bText})::INT AS dist
          FROM (${aSql}) a JOIN (${bSql}) b
            ON (${blockASql}) = (${blockBSql}))
        WHERE dist <= ${maxDist}"""

  /** BOUNDED-OUTPUT linkage contract — the record-linkage member of the
    * r17 best-match family: each LEFT record's single best right-side
    * match (smallest edit distance within `maxDist`, ties to the
    * smallest right id) instead of the full match stream. The fuzzy
    * pair contract's output scales with duplicate multiplicity² (the
    * reason q_fuzzy_link sat out the sf10 rehearsal); this contract
    * caps output at one row per matched left record — the "link each
    * record to its canonical match" shape real MDM pipelines land —
    * through a map-side-partial `min(struct(dist, id_b))`, so the
    * final exchange never carries the match volume. The block-size cap
    * remains the WORK dial (block join cost is unchanged); this is the
    * OUTPUT dial — at 100 TB you want both.
    *
    * Output: (id_a, id_b, dist) — one row per left record with ≥ 1
    * match within `maxDist`. */
  def fuzzyLinkBest(a: DataFrame, aId: String, aText: String, blockA: Column,
                    b: DataFrame, bId: String, bText: String, blockB: Column,
                    maxDist: Int, maxBlockSize: Option[Int] = None): DataFrame = {
    val pairs = fuzzyJoin(a, aId, aText, blockA, b, bId, bText, blockB,
      maxDist, maxBlockSize)
    pairs.groupBy("id_a")
      .agg(min(struct(col("dist").as("d"), col("id_b").as("p"))).as("b"))
      .select(col("id_a"), col("b.p").as("id_b"), col("b.d").as("dist"))
  }

  /** DuckDB rendering of [[fuzzyLinkBest]] — the pair SQL with a per-id_a
    * argmin window. (No '--' comments: the driver flattens newlines.) */
  def fuzzyLinkBestSql(aSql: String, aId: String, aText: String, blockASql: String,
                       bSql: String, bId: String, bText: String, blockBSql: String,
                       maxDist: Int): String =
    s"""SELECT id_a, id_b, dist FROM (
          ${fuzzyJoinSql(aSql, aId, aText, blockASql, bSql, bId, bText, blockBSql, maxDist)}
        ) QUALIFY row_number() OVER (PARTITION BY id_a ORDER BY dist, id_b) = 1"""

  /** DuckDB rendering of the CAPPED [[fuzzyJoin]]: identical block-size
    * semantics via QUALIFY window counts per side. Block expressions
    * here are over each subquery's BARE columns (no alias prefix). */
  def fuzzyJoinCappedSql(aSql: String, aId: String, aText: String,
                         blockASql: String,
                         bSql: String, bId: String, bText: String,
                         blockBSql: String,
                         maxDist: Int, maxBlockSize: Int): String =
    s"""SELECT id_a, id_b, dist FROM (
          SELECT a.${aId} AS id_a, b.${bId} AS id_b,
                 levenshtein(a.${aText}, b.${bText})::INT AS dist
          FROM (SELECT *, ${blockASql} AS __blk FROM (${aSql})
                QUALIFY count(*) OVER (PARTITION BY __blk) <= ${maxBlockSize}) a
          JOIN (SELECT *, ${blockBSql} AS __blk FROM (${bSql})
                QUALIFY count(*) OVER (PARTITION BY __blk) <= ${maxBlockSize}) b
            ON a.__blk = b.__blk)
        WHERE dist <= ${maxDist}"""
}
