package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.util.Random

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — a single scan + partial top-k per
  * partition (TakeOrderedAndProject), no shuffle of the vectors.
  * Scale path: random-hyperplane LSH buckets — candidate generation
  * becomes a bucket equi-join, so a 100 TB corpus only compares vectors
  * whose sign-sketches collide (IVF-style partition pruning falls out of
  * partitioning by bucket).
  *
  * All vector math is `zip_with`/`aggregate` expressions — codegen, no
  * UDFs (SURVEY brief: `functions.aggregate`/`zip_with` for the dot
  * product).
  */
object Similarity {

  /** Deterministic pseudo-random hyperplanes (seeded — reproducible across
    * runs and partitionings, same contract as the hash engine). */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Array[Double]] = {
    val rnd = new Random(seed)
    Seq.fill(nPlanes)(Array.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  // Native fused kernels (graft.expressions.VecExprs): one array pass,
  // identical accumulation order to the HOF compositions kept below as
  // equivalence witnesses (VecExprSpec pins bit-equality).
  def dot(v: Column, q: Seq[Double]): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.expressions.DotConst(org.apache.spark.sql.GraftBridge.expression(v), q))

  def cosineTo(v: Column, q: Seq[Double]): Column = {
    val qn = math.sqrt(q.map(x => x * x).sum)
    org.apache.spark.sql.GraftBridge.column(
      graft.expressions.CosineConst(org.apache.spark.sql.GraftBridge.expression(v), q, qn))
  }

  /** HOF-composed witnesses for the native kernels. */
  def dotComposed(v: Column, q: Seq[Double]): Column =
    aggregate(
      zip_with(v, array(q.map(lit): _*), (x, y) => x.cast("double") * y),
      lit(0.0), (acc, x) => acc + x)

  def norm(v: Column): Column =
    sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  def cosineToComposed(v: Column, q: Seq[Double]): Column = {
    val qn = math.sqrt(q.map(x => x * x).sum)
    dotComposed(v, q) / (norm(v) * lit(qn))
  }

  /** Brute-force cosine top-k to a query vector: the exact baseline.
    * orderBy+limit compiles to TakeOrderedAndProject (per-partition heap,
    * driver merge of k rows only — no full sort, no shuffle of vectors). */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     query: Seq[Double], k: Int): DataFrame =
    df.select(col(idCol), cosineTo(col(vecCol), query).as("cosine"))
      .orderBy(desc("cosine"), col(idCol))
      .limit(k)

  /** Sign-sketch LSH bucket id: bit b set iff dot(v, plane_b) >= 0. */
  def lshBucket(v: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, b) =>
      when(dot(v, p.toSeq) >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Bucketed ANN: assign every vector its LSH bucket (one scan, no
    * shuffle); `probe` then only scans the query's bucket. */
  def withLshBuckets(df: DataFrame, idCol: String, vecCol: String,
                     nPlanes: Int = 8, dim: Int = 32): DataFrame = {
    val planes = hyperplanes(nPlanes, dim)
    // byte-floored widen: nPlanes x dim multiply-adds per row, linear in
    // bytes (COVERAGE.md ledger)
    graft.plans.Parallelism.widenIfAtLeast(df.select(col(idCol), col(vecCol)))
      .select(col(idCol), col(vecCol), lshBucket(col(vecCol), planes).as("bucket"))
  }

  /** ANN probe: exact cosine within the query's bucket only. Falls back to
    * multi-probe (neighbor buckets) when recall matters more than cost. */
  def annTopK(df: DataFrame, idCol: String, vecCol: String,
              query: Seq[Double], k: Int, nPlanes: Int = 8): DataFrame = {
    val dim = query.size
    val planes = hyperplanes(nPlanes, dim)
    val qBucket = planes.zipWithIndex.map { case (p, b) =>
      if (p.zip(query).map { case (a, x) => a * x }.sum >= 0) 1L << b else 0L
    }.sum
    withLshBuckets(df, idCol, vecCol, nPlanes, dim)
      .filter(col("bucket") === qBucket)
      .select(col(idCol), cosineTo(col(vecCol), query).as("cosine"))
      .orderBy(desc("cosine"), col(idCol))
      .limit(k)
  }

  /** Sizing rule for the sign-sketch LSH bucket count: within-bucket pair
    * work is quadratic in bucket size, so pick
    * `nPlanes = ceil(log2(corpus / targetBucket))` to hold the expected
    * bucket near `targetBucket` rows — e.g. 10^9 vectors at a 1k-row
    * target needs ~20 planes (2^20 buckets), NOT the demo default of 8.
    * Recall drops as planes grow; compensate with multi-probe or a
    * verify pass over neighbors. */
  def planesFor(corpusSize: Long, targetBucketSize: Long = 1024L): Int = {
    require(corpusSize > 0 && targetBucketSize > 0, "planesFor: positive sizes")
    math.max(1, math.ceil(
      math.log(corpusSize.toDouble / targetBucketSize.toDouble) / math.log(2.0)).toInt)
  }

  /** Multi-probe ANN: probe the query's bucket PLUS the hamming-1
    * neighbors obtained by flipping the planes with the smallest |margin|
    * (the hyperplanes the query sits closest to — the likeliest
    * misassignments). Standard multi-probe LSH: recall recovers without
    * growing the table, cost = probes × bucket scan. */
  def annTopKMultiProbe(df: DataFrame, idCol: String, vecCol: String,
                        query: Seq[Double], k: Int, nPlanes: Int = 8,
                        probes: Int = 3): DataFrame = {
    require(probes >= 1 && probes <= nPlanes + 1, "annTopKMultiProbe: 1 <= probes <= nPlanes+1")
    val dim = query.size
    val planes = hyperplanes(nPlanes, dim)
    val margins = planes.zipWithIndex.map { case (p, b) =>
      (b, p.zip(query).map { case (a, x) => a * x }.sum)
    }
    val qBucket = margins.map { case (b, m) => if (m >= 0) 1L << b else 0L }.sum
    // flip the (probes-1) closest planes, one at a time
    val flips = margins.sortBy { case (_, m) => math.abs(m) }.take(probes - 1).map(_._1)
    val buckets = qBucket +: flips.map(b => qBucket ^ (1L << b))
    withLshBuckets(df, idCol, vecCol, nPlanes, dim)
      .filter(col("bucket").isin(buckets: _*))
      .select(col(idCol), cosineTo(col(vecCol), query).as("cosine"))
      .orderBy(desc("cosine"), col(idCol))
      .limit(k)
  }

  /** The probe bucket list of [[annTopKMultiProbe]] (for oracle SQL). */
  def multiProbeBuckets(query: Seq[Double], nPlanes: Int, probes: Int): Seq[Long] = {
    val planes = hyperplanes(nPlanes, query.size)
    val margins = planes.zipWithIndex.map { case (p, b) =>
      (b, p.zip(query).map { case (a, x) => a * x }.sum)
    }
    val qBucket = margins.map { case (b, m) => if (m >= 0) 1L << b else 0L }.sum
    qBucket +: margins.sortBy { case (_, m) => math.abs(m) }.take(probes - 1)
      .map { case (b, _) => qBucket ^ (1L << b) }
  }

  /** Embedding-cosine near-dup: vectors sharing a bucket whose exact
    * cosine exceeds the threshold — bucket-bounded pair join. `nPlanes`
    * must scale with the corpus (see [[planesFor]]); the default suits
    * the sf fixtures only. */
  /** Exact cosine between two vector columns (double accumulation,
    * left-to-right — the order DuckDB's list_sum mirrors). Native fused
    * kernel; [[pairCosineComposed]] is the HOF witness. */
  def pairCosine(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.expressions.CosinePair(
        org.apache.spark.sql.GraftBridge.expression(a),
        org.apache.spark.sql.GraftBridge.expression(b)))

  def pairCosineComposed(a: Column, b: Column): Column = {
    val dotAb = aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    dotAb / (norm(a) * norm(b))
  }

  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double = 0.95, nPlanes: Int = 8,
                         dim: Int = 32): DataFrame = {
    val bucketed = withLshBuckets(df, idCol, vecCol, nPlanes, dim)
    val a = bucketed.as("a")
    val b = bucketed.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") &&
        col("a." + idCol) < col("b." + idCol))
      .select(col("a." + idCol).as("id_a"), col("b." + idCol).as("id_b"),
        pairCosine(col("a." + vecCol), col("b." + vecCol)).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** BOUNDED-OUTPUT embedding near-dup contract — the cosine sibling of
    * [[Dedup.bestMatchPairs]]: each vector's single best tau-near
    * neighbor (highest cosine among its bucket candidates, ties to the
    * smallest partner id) instead of the full pair stream. The r17 sf10
    * rehearsal measured [[cosineNearDupPairs]]'s output at exponent 2.04
    * (g co-bucketed replicas emit C(g,2) pairs); this contract caps
    * output at one row per matched vector, reduced through a map-side
    * partial `min(struct(...))` so the final exchange never carries the
    * pair volume.
    *
    * NaN armor: a zero-norm vector's cosine is NaN, which PASSES the
    * threshold filter on both engines (Spark and DuckDB both treat
    * NaN as greatest) but ORDERS differently between them (JVM struct
    * ordering vs DuckDB ORDER BY DESC put NaN at opposite ends after
    * negation). Both sides demote post-filter NaN to -2.0 — below the
    * cosine range, so degenerate candidates deterministically lose
    * every argmax they share with a real one on BOTH engines — and
    * then DROP any row whose WINNING score is still the -2.0 sentinel
    * (a vector whose only candidates were zero-norm pairs has no real
    * match; r17 ADVICE — a consumer filtering best matches must never
    * see -2.0 as a "match").
    *
    * Output: (id, partner, cosine) — one row per vector with at least
    * one REAL (non-NaN) candidate at or above `threshold`. */
  def cosineBestMatch(df: DataFrame, idCol: String, vecCol: String,
                      threshold: Double = 0.95, nPlanes: Int = 8,
                      dim: Int = 32): DataFrame = {
    val pairs = cosineNearDupPairs(df, idCol, vecCol, threshold, nPlanes, dim)
      .select(col("id_a"), col("id_b"), nanvl(col("cosine"), lit(-2.0)).as("cosine"))
    // explode-symmetrization, not self-union: one computation of the
    // bucket-join + k·dim cosine subtree, two output rows per pair (see
    // Dedup.bestMatchPairs)
    val sym = pairs.select(explode(array(
        struct(col("id_a").as("id"), col("id_b").as("partner"), col("cosine").as("c")),
        struct(col("id_b").as("id"), col("id_a").as("partner"), col("cosine").as("c"))))
        .as("e"))
      .select(col("e.id").as("id"), col("e.partner").as("partner"), col("e.c").as("cosine"))
    sym.groupBy("id")
      .agg(min(struct(negate(col("cosine")).as("nc"), col("partner").as("p"))).as("b"))
      .select(col("id"), col("b.p").as("partner"), negate(col("b.nc")).as("cosine"))
      .filter(col("cosine") > lit(-2.0))
  }

  /** DuckDB rendering of [[cosineBestMatch]] — the near-dup pair CTE
    * with the same post-filter NaN demotion, symmetrized, then a per-id
    * argmax window, then the same winner-is-sentinel drop. (No '--'
    * comments: the driver flattens newlines.) */
  def cosineBestMatchSql(table: String, idCol: String, vecCol: String,
                         threshold: Double, nPlanes: Int, dim: Int): String = {
    val bucket = lshBucketSql(vecCol, hyperplanes(nPlanes, dim))
    val cos = pairCosineSql(s"a.$vecCol", s"b.$vecCol", dim)
    s"""WITH bk AS (
          SELECT ${idCol} AS id, ${vecCol}, ${bucket} AS bucket FROM ${table}
        ), kept AS (
          SELECT id_a, id_b,
                 CASE WHEN isnan(cosine) THEN -2.0 ELSE cosine END AS cosine
          FROM (
            SELECT a.id AS id_a, b.id AS id_b, ${cos} AS cosine
            FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.id < b.id)
          WHERE cosine >= ${threshold}
        ), sym AS (
          SELECT id_a AS id, id_b AS partner, cosine FROM kept
          UNION ALL
          SELECT id_b AS id, id_a AS partner, cosine FROM kept
        )
        SELECT id, partner, cosine FROM (
          SELECT id, partner, cosine FROM sym
          QUALIFY row_number() OVER (PARTITION BY id ORDER BY cosine DESC, partner) = 1)
        WHERE cosine > -2.0"""
  }

  /** Bucket-volume CENSUS of the hyperplane-LSH plan family — the
    * pre-flight forecast for [[cosineNearDupPairs]] / [[cosineBestMatch]],
    * completing the census trio ([[Dedup.lshCandidateCensus]] forecasts
    * the minhash band join, [[Dedup.simhashBandPlanCensus]] the simhash
    * plans): BEFORE generating a single pair, measure what each
    * candidate-plan's bucket join would cost. Per `nPlanes` plan, one
    * all-integer row: bucket count, Σ C(n,2) candidate pairs the bucket
    * self-join would probe, the largest bucket (the straggler bound),
    * and the matched-vector count (vectors sharing a bucket with at
    * least one other — each vector lives in exactly ONE bucket per
    * plan, so this is Σ n over buckets with n ≥ 2, no distinct needed).
    *
    * ONE scan censuses EVERY plan: [[hyperplanes]] draws planes
    * sequentially from a fixed seed, so the p-plane set is a PREFIX of
    * the P-plane set for any p <= P — plan p's bucket is just the low p
    * bits of the max-plan bucket (`bucket_P & (2^p - 1)`). The scan pays
    * max(planCounts) x dim multiply-adds per row once; every smaller
    * plan is a bit-mask. Exchanges after the scan carry only
    * (n_planes, bucket, count) — nothing vector-sized.
    *
    * Read `candidate_pairs` against the corpus size the way the r17
    * sf10 rehearsal taught: the all-pairs contract grows with bucket
    * occupancy squared, so a plan whose census reads super-linear is
    * the signal to add planes (see [[planesFor]]) or take the bounded
    * [[cosineBestMatch]] contract. */
  def embedBucketCensus(df: DataFrame, idCol: String, vecCol: String,
                        planCounts: Seq[Int] = Seq(4, 6, 8, 10, 12),
                        dim: Int = 32): DataFrame = {
    require(planCounts.nonEmpty && planCounts.forall(p => p >= 1 && p <= 62),
      "embedBucketCensus: planCounts must be within [1, 62]")
    val pMax = planCounts.max
    val planes = hyperplanes(pMax, dim)
    val base = graft.plans.Parallelism
      .widen(df.select(col(idCol), col(vecCol)))
      .select(lshBucket(col(vecCol), planes).as("__bk"))
    val arms = planCounts.distinct.sorted.map { p =>
      struct(lit(p).as("n_planes"),
        col("__bk").bitwiseAND(lit((1L << p) - 1)).as("bucket"))
    }
    val sizes = base.select(explode(array(arms: _*)).as("k"))
      .select(col("k.n_planes"), col("k.bucket"))
      .groupBy("n_planes", "bucket")
      .agg(count(lit(1)).as("n"))
    sizes.groupBy("n_planes").agg(
      count(lit(1)).as("n_buckets"),
      coalesce(sum(when(col("n") > 1,
          shiftright(col("n") * (col("n") - 1), 1))), lit(0L))
        .as("candidate_pairs"),
      coalesce(max(col("n")), lit(0L)).as("max_bucket"),
      coalesce(sum(when(col("n") > 1, col("n"))), lit(0L))
        .as("vectors_matched"))
  }

  /** DuckDB rendering of [[embedBucketCensus]] — same max-plan bucket,
    * same per-plan bit-mask arms, same integer statistics. */
  def embedBucketCensusSql(table: String, idCol: String, vecCol: String,
                           planCounts: Seq[Int], dim: Int): String = {
    val pMax = planCounts.max
    val bucket = lshBucketSql(vecCol, hyperplanes(pMax, dim))
    val armSql = planCounts.distinct.sorted.map { p =>
      s"SELECT ${p} AS n_planes, bk & ${(1L << p) - 1} AS bucket FROM bk"
    }.mkString(" UNION ALL ")
    s"""WITH bk AS (
          SELECT ${bucket} AS bk FROM ${table}
        ), e AS (
          ${armSql}
        ), sizes AS (
          SELECT n_planes, bucket, count(*)::BIGINT AS n
          FROM e GROUP BY 1, 2
        )
        SELECT n_planes, count(*)::BIGINT AS n_buckets,
               coalesce(sum(CASE WHEN n > 1 THEN (n * (n - 1)) // 2 END), 0)::BIGINT
                 AS candidate_pairs,
               coalesce(max(n), 0)::BIGINT AS max_bucket,
               coalesce(sum(CASE WHEN n > 1 THEN n END), 0)::BIGINT
                 AS vectors_matched
        FROM sizes GROUP BY n_planes"""
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): cluster the embeddings with the
    * deterministic IVF coarse quantizer, then within each cluster drop
    * every vector that has a tau-near neighbor with a smaller id
    * (pairwise cosine >= tau). The cluster scoping is the paper's whole
    * point: pairwise similarity is computed within clusters only, so the
    * pair join costs sum over clusters of n_c^2 instead of N^2 — `k`
    * must scale with the corpus (the paper runs 50k clusters over LAION)
    * to keep every cluster bounded; the assignment pass is one scan with
    * k dot products per row and the cluster id is the shuffle key.
    * Keep rule: the min id of every near pair survives — the paper keeps
    * an arbitrary member per duplicate group (low-centroid-similarity
    * heuristic); id order makes the choice deterministic and
    * oracle-comparable. The assignment is checkpointed once — both pair
    * sides and the final flag join reuse it rather than re-running the
    * k-dot-product scan three times.
    *
    * `k <= 0` selects the adaptive default max(8, N/64): cluster sizes
    * stay ~64 at ANY corpus size, which bounds the pair join at ~32N
    * comparisons total — the knob the paper turns (50k clusters for
    * LAION-440M is the same ~1e4 vectors/cluster ballpark). A fixed k
    * silently degrades to quadratic as the corpus grows past k*1e4.
    *
    * Output: (idCol, cluster, keep) — one row per input vector. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String, k: Int = 0,
               tau: Double = 0.8): DataFrame = {
    val kEff = if (k > 0) k else math.max(8L, df.count() / 64L).toInt
    val cents = ivfCentroids(df, idCol, vecCol, kEff)
    val assigned = graft.plans.Checkpoints.materialize(
      ivfAssignGuarded(df.select(col(idCol), col(vecCol)), vecCol, cents))
    dropWithinClusters(assigned, idCol, vecCol, tau)
  }

  /** [[ivfAssign]] with the semDedup family's NaN contract: a zero-norm
    * vector (row's or centroid's) makes cosine NaN; unguarded, Spark's
    * NaN-is-greatest ordering sends the row to cluster −1 (all-NaN sims)
    * or crowns a degenerate centroid, while DuckDB's NaN-first ORDER BY
    * crowns ci=0 — cross-engine cluster labels diverge on any corpus
    * holding a zero-norm embedding (r16 ADVICE). nanvl demotes every
    * degenerate sim to −2.0 (below the cosine range) on BOTH engines, so
    * zero-norm rows deterministically take the FIRST centroid and
    * zero-norm centroids lose every argmax — the same first-index
    * tie-break the fine level already used. Scoped to the semDedup
    * family: [[ivfAssign]] keeps its raw NaN semantics for callers that
    * want the "unassignable" −1 signal. */
  private def ivfAssignGuarded(df: DataFrame, vecCol: String,
                               centroids: Seq[Array[Double]]): DataFrame = {
    val sims = array(centroids.map(c =>
      nanvl(cosineTo(col(vecCol), c.toSeq), lit(-2.0))): _*)
    // widened for the same k·dim-per-row reason as [[ivfAssign]]
    graft.plans.Parallelism.widenIfAtLeast(df).withColumn("__sims", sims)
      .withColumn("cluster", expr("array_position(__sims, array_max(__sims))").cast("int") - 1)
      .drop("__sims")
  }

  /** The SemDeDup keep rule over an assigned (id, vec, cluster) relation:
    * a row is dropped iff a SMALLER-id member of its cluster sits within
    * cosine >= tau — min-id survivor, cluster-bounded pair join. */
  private def dropWithinClusters(assigned: DataFrame, idCol: String,
                                 vecCol: String, tau: Double): DataFrame = {
    val a = assigned.as("a")
    val b = assigned.as("b")
    val dropped = a.join(b,
        col("a.cluster") === col("b.cluster") && col("b." + idCol) < col("a." + idCol))
      .filter(pairCosine(col("a." + vecCol), col("b." + vecCol)) >= tau)
      .select(col("a." + idCol).as(idCol)).distinct()
    assigned.join(dropped.withColumn("__drop", lit(true)), Seq(idCol), "left_outer")
      .select(col(idCol), col("cluster"), col("__drop").isNull.as("keep"))
  }

  /** Two-level (hierarchical) SemDeDup — the 100 TB assignment path.
    *
    * The flat [[semDedup]] keeps the PAIR join bounded (adaptive
    * k = N/64 pins cluster size ~64) but pays N×k cosines in the
    * ASSIGNMENT — quadratic in N once k tracks the corpus — and unrolls
    * one expression per centroid (a codegen/planning ceiling in the
    * thousands). Here the coarse quantizer is hierarchical, the standard
    * IVF trick (e.g. FAISS's quantizer-on-quantizer):
    *
    *   1. k1 = ceil(sqrt(k)) COARSE centroids by the same hash-rank seed;
    *      one argmax scan assigns every row to a coarse cell
    *      (N×k1 cosines).
    *   2. Each cell seeds up to f = ceil(k/k1) FINE centroids — its
    *      hash-rank-smallest members (a row_number window per cell, fully
    *      distributed, NO driver collect). The fine lists ride a
    *      broadcast join keyed by cell as DATA (one array column), not as
    *      unrolled expressions.
    *   3. A per-row HOF argmax over the row's OWN cell's fine list
    *      (N×f cosines) picks the final cluster, labeled by the fine
    *      seed's id.
    *
    * Assignment cost: N×(k1+f) ≈ N×2·sqrt(k) vs flat N×k — 28× fewer
    * cosines at k=3125 (the sf10 fixture) and growing with the corpus;
    * driver memory stays O(k1·dim) for the coarse literal — the
    * k-vector fine table joins by `cell` WITHOUT a broadcast hint, so
    * AQE broadcasts it while small and shuffle-joins it once k·dim
    * outgrows the threshold. The pair phase and keep rule
    * are [[semDedup]]'s, bounded by the same ~64 cluster size. The
    * clustering is a principled approximation of the flat assignment
    * (a row's fine argmax is scoped to its coarse cell), so this is a
    * distinct registered operator with its own oracle, not a swap-in.
    *
    * Determinism: hash-rank seeds at both levels, first-index argmax
    * tie-break at both levels (array order = per-cell hash rank),
    * partition-invariant by construction. */
  def semDedupTwoLevel(df: DataFrame, idCol: String, vecCol: String,
                       k: Int = 0, tau: Double = 0.8): DataFrame = {
    val kEff = if (k > 0) k else math.max(8L, df.count() / 64L).toInt
    val k1 = math.ceil(math.sqrt(kEff.toDouble)).toInt
    val f = math.ceil(kEff.toDouble / k1).toInt
    val coarse = ivfCentroids(df, idCol, vecCol, k1)
    // guarded coarse assignment (same −2.0 NaN demotion as the fine
    // level): without it a zero-norm row lands in engine cell −1 while
    // the oracle's guarded argmax puts it in cell 0, and the divergent
    // membership can even displace cell 0's hash-rank fine seeds —
    // labels diverge corpus-wide, not just on the degenerate row
    val cells = graft.plans.Checkpoints.materialize(
      ivfAssignGuarded(df.select(col(idCol), col(vecCol)), vecCol, coarse)
        .withColumnRenamed("cluster", "cell"))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy("cell")
      .orderBy(graft.generators.Gen.u60(col(idCol), "ivf"), col(idCol))
    val fineArr = cells
      .withColumn("__r", row_number().over(wr))
      .filter(col("__r") <= f)
      .groupBy("cell")
      .agg(sort_array(collect_list(struct(col("__r").as("r"),
        col(idCol).as("sid"), col(vecCol).as("svec")))).as("__fine"))
    // nanvl guards the argmax: a zero-norm vector (either the row's or a
    // fine seed's) makes pairCosine NaN; array_max would return NaN,
    // array_position would find no equal element and return 0, and
    // element_at(__fine, 0) would THROW at runtime. -2.0 is below the
    // cosine range, so degenerate sims lose every argmax and a zero-norm
    // row deterministically takes its cell's rank-1 fine seed (the flat
    // path's analog is cluster = -1 via the same NaN propagation).
    val sims = transform(col("__fine"),
      s => nanvl(pairCosine(col(vecCol), s.getField("svec")), lit(-2.0)))
    // NO broadcast hint: a forced broadcast would collect the whole
    // k-vector fine table through the driver (the 8 GB broadcast cap /
    // driver-OOM cliff at corpus-scale k). AQE broadcasts it whenever it
    // is actually small — our fixtures — and falls back to a shuffle
    // join on `cell` when k·dim outgrows the threshold, which is the
    // behavior the scaling contract needs.
    val assigned = graft.plans.Checkpoints.materialize(
      cells.join(fineArr, "cell")
        .withColumn("__sims", sims)
        .withColumn("cluster", element_at(col("__fine"),
          expr("array_position(__sims, array_max(__sims))").cast("int"))
          .getField("sid"))
        .select(col(idCol), col(vecCol), col("cluster")))
    dropWithinClusters(assigned, idCol, vecCol, tau)
  }

  /** DuckDB rendering of [[semDedupTwoLevel]] — same hash-rank coarse
    * seed, same per-cell hash-rank fine seeds, same first-index argmax
    * tie-break at both levels (row_number by sim DESC then rank), same
    * min-id-survives pair rule. k1/f arithmetic mirrors the Scala side
    * exactly (IEEE sqrt + ceil on both engines). The sims1/sims2 CTEs
    * mirror the engine's nanvl(…, -2.0) NaN guard at BOTH levels via
    * CASE WHEN isnan (r16 ADVICE): DuckDB sorts NaN first under ORDER BY
    * sim DESC, so unguarded zero-norm rows/seeds would win argmaxes they
    * lose on the Spark side, and the divergent cell membership cascades
    * into the fine-seed choice. */
  def semDedupTwoLevelSql(k: Int, tau: Double, dim: Int): String = {
    val u60 = graft.generators.OracleGen.u60("vec_id", "ivf")
    val simCoarse = pairCosineSql("e.embedding", "c.cvec", dim)
    val simFine = pairCosineSql("a.embedding", "s.embedding", dim)
    val pairCos = pairCosineSql("a.embedding", "b.embedding", dim)
    val kExpr = if (k > 0) k.toString
      else "(SELECT greatest(8, count(*) // 64) FROM embeddings)"
    s"""WITH params AS (
          SELECT k, CAST(ceil(sqrt(k::DOUBLE)) AS BIGINT) AS k1,
                 CAST(ceil(k::DOUBLE / CAST(ceil(sqrt(k::DOUBLE)) AS BIGINT)) AS BIGINT) AS f
          FROM (SELECT ${kExpr} AS k)
        ), csel AS (
          SELECT vec_id, embedding FROM embeddings
          ORDER BY ${u60}, vec_id LIMIT (SELECT k1 FROM params)
        ), cent AS (
          SELECT row_number() OVER (ORDER BY ${u60}, vec_id) - 1 AS ci, embedding AS cvec
          FROM csel
        ), sims1 AS (
          SELECT vec_id, embedding, ci,
                 CASE WHEN isnan(sim0) THEN -2.0 ELSE sim0 END AS sim
          FROM (SELECT e.vec_id, e.embedding, c.ci, ${simCoarse} AS sim0
                FROM embeddings e, cent c)
        ), cells AS (
          SELECT vec_id, embedding, ci AS cell FROM (
            SELECT vec_id, embedding, ci, sim,
                   row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, ci) AS rn
            FROM sims1) WHERE rn = 1
        ), seeds AS (
          SELECT cell, vec_id AS sid, embedding, r FROM (
            SELECT cell, vec_id, embedding,
                   row_number() OVER (PARTITION BY cell ORDER BY ${u60}, vec_id) AS r
            FROM cells) WHERE r <= (SELECT f FROM params)
        ), sims2 AS (
          SELECT vec_id, embedding, sid, r,
                 CASE WHEN isnan(sim0) THEN -2.0 ELSE sim0 END AS sim
          FROM (SELECT a.vec_id, a.embedding, s.sid, s.r, ${simFine} AS sim0
                FROM cells a JOIN seeds s ON a.cell = s.cell)
        ), assigned AS (
          SELECT vec_id, embedding, sid AS cluster FROM (
            SELECT vec_id, embedding, sid, r, sim,
                   row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, r) AS rn
            FROM sims2) WHERE rn = 1
        ), dropped AS (
          SELECT DISTINCT a.vec_id FROM assigned a
          JOIN assigned b ON a.cluster = b.cluster AND b.vec_id < a.vec_id
          WHERE ${pairCos} >= ${tau}
        )
        SELECT a.vec_id, a.cluster, (d.vec_id IS NULL) AS keep
        FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
        ORDER BY a.vec_id"""
  }

  /** Prototype selection for data pruning ("Beyond neural scaling laws:
    * beating power law scaling via data pruning", Sorscher et al. 2022,
    * arXiv:2206.14486): rank every vector within its IVF cluster by
    * cosine to its OWN centroid and keep the top `m` — the
    * "keep-the-prototypical" pruning policy (rank ascending instead to
    * keep hard examples; the rank column is returned so the caller picks
    * the policy). Reuses the deterministic hash-rank centroid seed and
    * argmax assignment of [[semDedup]]; the per-cluster rank is a window
    * over the cluster id, so the only exchange after the assignment scan
    * is hash(cluster) — k keys, and k scales with the corpus via the
    * same adaptive max(8, N/64) default. Cosine to the own centroid is
    * `element_at` into a broadcast-literal array of centroids + the
    * native pair kernel: no join against a centroid table, no second
    * scan. Ties (exact duplicate vectors) break by id, so the selection
    * is fully specified and oracle-comparable.
    *
    * Output: (idCol, cluster, proto_rank) for the kept rows. */
  def prototypesPerCluster(df: DataFrame, idCol: String, vecCol: String,
                           m: Int, k: Int = 0): DataFrame = {
    require(m >= 1, "prototypesPerCluster: m must be >= 1")
    val kEff = if (k > 0) k else math.max(8L, df.count() / 64L).toInt
    val cents = ivfCentroids(df, idCol, vecCol, kEff)
    val assigned = ivfAssign(df.select(col(idCol), col(vecCol)), vecCol, cents)
    val centArr = array(cents.map(c => array(c.map(lit): _*)): _*)
    val simToOwn = pairCosine(col(vecCol), element_at(centArr, col("cluster") + 1))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(desc("__sim"), col(idCol))
    assigned.withColumn("__sim", simToOwn)
      .withColumn("proto_rank", row_number().over(w))
      .filter(col("proto_rank") <= m)
      .select(col(idCol), col("cluster"), col("proto_rank"))
  }

  /** DuckDB rendering of [[prototypesPerCluster]] — same seed/assignment
    * CTEs as the semdedup oracle, rank via row_number over (sim DESC,
    * id). */
  def prototypesSql(m: Int, k: Int, dim: Int): String = {
    val u60 = graft.generators.OracleGen.u60("vec_id", "ivf")
    val sim = pairCosineSql("e.embedding", "c.cvec", dim)
    val kExpr = if (k > 0) k.toString
      else "(SELECT greatest(8, count(*) // 64) FROM embeddings)"
    s"""WITH csel AS (
          SELECT vec_id, embedding FROM embeddings ORDER BY ${u60}, vec_id LIMIT ${kExpr}
        ), cent AS (
          SELECT row_number() OVER (ORDER BY ${u60}, vec_id) - 1 AS ci, embedding AS cvec
          FROM csel
        ), sims AS (
          SELECT e.vec_id, e.embedding, c.ci, ${sim} AS sim FROM embeddings e, cent c
        ), assigned AS (
          SELECT vec_id, ci, sim FROM (
            SELECT vec_id, ci, sim,
                   row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, ci) AS rn
            FROM sims) WHERE rn = 1
        ), ranked AS (
          SELECT vec_id, ci, row_number() OVER (PARTITION BY ci ORDER BY sim DESC, vec_id) AS proto_rank
          FROM assigned
        )
        SELECT vec_id, ci::INT AS cluster, proto_rank::INT AS proto_rank
        FROM ranked WHERE proto_rank <= ${m} ORDER BY vec_id"""
  }

  /** Per-cluster cohesion report — n members + mean cosine to the own
    * centroid: the IVF/k-means diagnostic that says whether clusters are
    * tight enough for SemDeDup / prototype pruning to be meaningful.
    * Each member's cosine is quantized to integer nano-units
    * (`floor(cos*1e9 + 0.5)`), so the per-cluster SUM is order-free and
    * engine-exact even though raw cosines can differ from DuckDB by an
    * ulp (the same discipline as Curation's nano-nat logs; ~1e-7 of
    * pre-floor drift vs a CurationSpec-pinned boundary margin). The mean
    * is two exactly-rounded divisions over those integers. Assumes no
    * zero vectors (cosine NaN would poison the cast, as everywhere in
    * this file). One centroid-literal probe pass + one map-side
    * combinable aggregate; nothing cluster-sized materializes. */
  def clusterQuality(df: DataFrame, idCol: String, vecCol: String,
                     k: Int = 0): DataFrame = {
    val kEff = if (k > 0) k else math.max(8L, df.count() / 64L).toInt
    val cents = ivfCentroids(df, idCol, vecCol, kEff)
    val assigned = ivfAssign(df.select(col(idCol), col(vecCol)), vecCol, cents)
    val centArr = array(cents.map(c => array(c.map(lit): _*)): _*)
    val cosNano = floor(pairCosine(col(vecCol), element_at(centArr, col("cluster") + 1))
      * lit(1e9) + lit(0.5)).cast("long")
    assigned.withColumn("__cn", cosNano)
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"), sum(col("__cn")).as("sum_cos_nano"))
      .select(col("cluster"), col("n_members"), col("sum_cos_nano"),
        (col("sum_cos_nano").cast("double") / col("n_members") / lit(1e9)).as("mean_cos"))
  }

  /** DuckDB rendering of [[clusterQuality]] — the semdedup oracle's
    * seed/assignment CTEs, then the identical nano-quantized aggregate. */
  def clusterQualitySql(k: Int, dim: Int): String = {
    val u60 = graft.generators.OracleGen.u60("vec_id", "ivf")
    val sim = pairCosineSql("e.embedding", "c.cvec", dim)
    val kExpr = if (k > 0) k.toString
      else "(SELECT greatest(8, count(*) // 64) FROM embeddings)"
    s"""WITH csel AS (
          SELECT vec_id, embedding FROM embeddings ORDER BY ${u60}, vec_id LIMIT ${kExpr}
        ), cent AS (
          SELECT row_number() OVER (ORDER BY ${u60}, vec_id) - 1 AS ci, embedding AS cvec
          FROM csel
        ), sims AS (
          SELECT e.vec_id, c.ci, ${sim} AS sim FROM embeddings e, cent c
        ), assigned AS (
          SELECT vec_id, ci, sim FROM (
            SELECT vec_id, ci, sim,
                   row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, ci) AS rn
            FROM sims) WHERE rn = 1
        )
        SELECT ci::INT AS cluster, count(*) AS n_members,
               sum(floor(sim * 1e9 + 0.5)::BIGINT)::BIGINT AS sum_cos_nano,
               (sum(floor(sim * 1e9 + 0.5)::BIGINT)::DOUBLE / count(*)) / 1e9 AS mean_cos
        FROM assigned GROUP BY ci"""
  }

  /** DuckDB rendering of [[semDedup]] — same hash-rank centroid seed,
    * same argmax assignment (first-index tie-break == row_number by sim
    * DESC, ci), same min-id-survives pair rule. */
  /** DuckDB rendering of [[semDedup]]. The `sims` CTE mirrors the
    * engine's nanvl(…, -2.0) NaN guard via CASE WHEN isnan — DuckDB
    * sorts NaN FIRST under ORDER BY sim DESC, so an unguarded zero-norm
    * row or centroid would win argmaxes it loses on the Spark side
    * (r16 ADVICE); both engines demote degenerate sims below the cosine
    * range instead. (No `--` comments inside oracle SQL: the driver
    * flattens newlines, and a line comment would swallow the rest of
    * the query.) */
  def semDedupSql(k: Int, tau: Double, dim: Int): String = {
    val u60 = graft.generators.OracleGen.u60("vec_id", "ivf")
    val sim = pairCosineSql("e.embedding", "c.cvec", dim)
    val pairCos = pairCosineSql("a.embedding", "b.embedding", dim)
    // k <= 0 mirrors the Spark side's adaptive max(8, N/64)
    val kExpr = if (k > 0) k.toString
      else "(SELECT greatest(8, count(*) // 64) FROM embeddings)"
    s"""WITH csel AS (
          SELECT vec_id, embedding FROM embeddings ORDER BY ${u60}, vec_id LIMIT ${kExpr}
        ), cent AS (
          SELECT row_number() OVER (ORDER BY ${u60}, vec_id) - 1 AS ci, embedding AS cvec
          FROM csel
        ), sims AS (
          SELECT vec_id, embedding, ci,
                 CASE WHEN isnan(sim0) THEN -2.0 ELSE sim0 END AS sim
          FROM (SELECT e.vec_id, e.embedding, c.ci, ${sim} AS sim0
                FROM embeddings e, cent c)
        ), assigned AS (
          SELECT vec_id, embedding, ci FROM (
            SELECT vec_id, embedding, ci,
                   row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, ci) AS rn
            FROM sims) WHERE rn = 1
        ), dropped AS (
          SELECT DISTINCT a.vec_id FROM assigned a
          JOIN assigned b ON a.ci = b.ci AND b.vec_id < a.vec_id
          WHERE ${pairCos} >= ${tau}
        )
        SELECT a.vec_id, a.ci::INT AS cluster, (d.vec_id IS NULL) AS keep
        FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
        ORDER BY a.vec_id"""
  }

  /** Deterministic query vector for tests/benchmarks (unit-ish vector). */
  def testQuery(dim: Int = 32): Seq[Double] = {
    val rnd = new Random(7L)
    Seq.fill(dim)(rnd.nextDouble() * 2 - 1)
  }

  // ---------------------------------------------------------------------
  // IVF-style ANN — the coarse-quantizer scale path: k centroid lists,
  // assignment is one scan with k dot products per row, probes touch only
  // nProbe lists. At cluster scale the assignment column doubles as the
  // partition key (partition pruning on probe).
  // ---------------------------------------------------------------------

  /** Deterministic centroid seeding by hash rank: the k rows with the
    * smallest `u60(id, "ivf")` (id tie-break). `orderBy(...).limit(k)`
    * compiles to TakeOrderedAndProject — per-partition heap, exactly k
    * rows to the driver — so seeding costs one scan regardless of corpus
    * size (the round-2 single-partition GlobalLimit over ~the whole table
    * is gone, and so is the extra `count()` job). Hash rank is a uniform
    * pseudo-random draw that is reproducible across runs and
    * partitionings, same contract as the hash engine. */
  def ivfCentroids(df: DataFrame, idCol: String, vecCol: String, k: Int): Seq[Array[Double]] = {
    require(k > 0, "ivfCentroids: k must be positive")
    df.select(col(idCol), col(vecCol))
      .orderBy(graft.generators.Gen.u60(col(idCol), "ivf"), col(idCol))
      .limit(k)
      .collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray).toSeq
  }

  /** Nearest-centroid assignment (argmax cosine over the k centroids).
    * The input is widened above the byte floor
    * ([[graft.plans.Parallelism.widenIfAtLeast]]): the argmax costs
    * k x dim multiply-adds per row, linear in bytes (COVERAGE.md
    * ledger). */
  def ivfAssign(df: DataFrame, vecCol: String, centroids: Seq[Array[Double]]): DataFrame = {
    val sims = array(centroids.map(c => cosineTo(col(vecCol), c.toSeq)): _*)
    graft.plans.Parallelism.widenIfAtLeast(df).withColumn("__sims", sims)
      .withColumn("cluster", expr("array_position(__sims, array_max(__sims))").cast("int") - 1)
      .drop("__sims")
  }

  /** Lloyd's refinement of the IVF coarse quantizer: assign -> per-cluster
    * elementwise mean -> repeat. The mean is computed distributed
    * (posexplode + groupBy(cluster, dim)); only k*dim doubles come back to
    * the driver per iteration. Empty clusters keep their old centroid. */
  def kmeansRefine(df: DataFrame, vecCol: String, centroids: Seq[Array[Double]],
                   iters: Int = 3): Seq[Array[Double]] = {
    var cs = centroids
    for (_ <- 0 until iters) {
      val assigned = ivfAssign(df, vecCol, cs)
      val means = assigned
        .select(col("cluster"), posexplode(col(vecCol)).as(Seq("pos", "v")))
        .groupBy("cluster", "pos")
        .agg(avg(col("v").cast("double")).as("m"))
        .collect()
      val byCluster = means.groupBy(_.getInt(0))
      cs = cs.zipWithIndex.map { case (old, i) =>
        byCluster.get(i).map { rows =>
          val arr = old.clone()
          rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2))
          arr
        }.getOrElse(old)
      }
    }
    cs
  }

  /** Probe the nProbe nearest centroid lists with the exact metric. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, query: Seq[Double],
              k: Int, centroids: Seq[Array[Double]], nProbe: Int): DataFrame = {
    val qn = math.sqrt(query.map(x => x * x).sum)
    val ranked = centroids.zipWithIndex.map { case (c, i) =>
      val cn = math.sqrt(c.map(x => x * x).sum)
      val cos = if (cn == 0 || qn == 0) 0.0
        else c.zip(query).map { case (a, b) => a * b }.sum / (cn * qn)
      (i, cos)
    }.sortBy(-_._2).take(nProbe).map(_._1)
    ivfAssign(df, vecCol, centroids)
      .filter(col("cluster").isin(ranked: _*))
      .select(col(idCol), cosineTo(col(vecCol), query).as("cosine"))
      .orderBy(desc("cosine"), col(idCol))
      .limit(k)
  }

  // ---------------------------------------------------------------------
  // DuckDB renderings. Float sums differ from Spark in the last ulp, so
  // oracle queries never compare raw cosines — only ulp-robust projections:
  // top-k MEMBERSHIP (ordered by id), bucket SIGNS, threshold sets.
  /** Unit-normalize a vector (zero vectors pass through untouched —
    * dividing by a zero norm would NaN the whole array). For feeding the
    * cosine ops: normalized inputs turn cosine into a plain dot product. */
  /** Exact per-group embedding centroids: each dimension's mean in
    * integer nano-units. Float sums are order-dependent (a naive
    * avg(explode) would differ across partitionings and engines), so
    * components quantize to nano BEFORE the sum — the reduction is an
    * exact integer sum, map-side combinable on the (group, dim) key, and
    * the mean is one double division of two exact integers (bit-identical
    * cross-engine). Output: (grp, dim, n, mean_nano). */
  def groupCentroids(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol).as("grp"),
        posexplode(col(vecCol)).as(Seq("dim", "v")))
      .select(col("grp"), col("dim"),
        floor(col("v").cast("double") * lit(1e9) + lit(0.5)).cast("long").as("vn"))
      .groupBy("grp", "dim")
      .agg(count(lit(1)).as("n"), sum("vn").as("sum_nano"))
      .select(col("grp"), col("dim"), col("n"),
        floor(col("sum_nano").cast("double") / col("n").cast("double") + lit(0.5))
          .cast("long").as("mean_nano"))

  def groupCentroidsSql(table: String, groupCol: String, vecCol: String): String =
    s"""SELECT grp, dim, n, floor(sum_nano::DOUBLE / n::DOUBLE + 0.5)::BIGINT AS mean_nano
        FROM (
          SELECT grp, dim, count(*)::BIGINT AS n, sum(vn)::BIGINT AS sum_nano
          FROM (
            SELECT ${groupCol} AS grp,
                   (generate_subscripts(${vecCol}, 1) - 1)::INT AS dim,
                   floor(unnest(${vecCol})::DOUBLE * 1e9 + 0.5)::BIGINT AS vn
            FROM ${table})
          GROUP BY grp, dim)"""

  /** Between-centroid squared distances — the SEPARATION report paired
    * with [[clusterQuality]]'s cohesion: for every ordered label pair
    * a < b, the exact squared L2 distance between their centroids in
    * integer micro²-units (means re-quantized to micro so 64-dim
    * squared sums stay far inside BIGINT). The pair join runs on the
    * (label, dim) centroid relation — labels x dims rows, never the
    * vectors. */
  def centroidDistances(df: DataFrame, groupCol: String, vecCol: String): DataFrame = {
    val cents = groupCentroids(df, groupCol, vecCol)
      .select(col("grp"), col("dim"),
        // nano -> micro: floor-div by 1000 via pmod (sign-safe both engines)
        ((col("mean_nano") - pmod(col("mean_nano"), lit(1000L))) / lit(1000.0))
          .cast("long").as("m"))
    val a = cents.select(col("grp").as("la"), col("dim"), col("m").as("ma"))
    val b = cents.select(col("grp").as("lb"), col("dim"), col("m").as("mb"))
    a.join(b, Seq("dim"))
      .filter(col("la") < col("lb"))
      .groupBy("la", "lb")
      .agg(sum((col("ma") - col("mb")) * (col("ma") - col("mb"))).as("dist_sq_micro2"))
  }

  def centroidDistancesSql(table: String, groupCol: String, vecCol: String): String =
    s"""WITH cents AS (
          SELECT grp, dim,
                 ((mean_nano - (((mean_nano % 1000) + 1000) % 1000)) // 1000)::BIGINT AS m
          FROM (${groupCentroidsSql(table, groupCol, vecCol)})
        )
        SELECT a.grp AS la, b.grp AS lb,
               sum((a.m - b.m) * (a.m - b.m))::BIGINT AS dist_sq_micro2
        FROM cents a JOIN cents b ON a.dim = b.dim AND a.grp < b.grp
        GROUP BY 1, 2"""

  def l2Normalize(v: Column): Column = {
    val n = norm(v)
    when(n === 0 || n.isNull, v)
      .otherwise(transform(v, x => (x.cast("double") / n).cast("float")))
  }

  /** Symmetric int8 quantization — the storage/ANN-memory shape for
    * embedding columns at corpus scale (4x smaller than float32, exact
    * sign symmetry). Per vector: scale = max |x|, q = floor(x·127/scale
    * + 0.5) ∈ [-127, 127]; dequantize as q·scale/127. Zero/empty vectors
    * quantize to zeros with scale 0.
    *
    * Pure per-row expression (no shuffle, stays in codegen) and — unlike
    * the float similarity projections — the OUTPUT is integer-exact: the
    * double ops (`x·127/scale`, left-to-right) are bit-identical IEEE in
    * any engine, so `floor` lands identically and the quantized codes
    * oracle-compare exactly. Codes emit as a comma-joined string (stable
    * across parquet/pandas array handling).
    *
    * Output: (idCol, scale, q8). */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol)
    val mab = array_max(transform(v, x => abs(x.cast("double"))))
    val codes = transform(v, x =>
      floor(x.cast("double") * lit(127.0) / col("__mab") + lit(0.5)).cast("int"))
    val zeros = transform(v, _ => lit(0))
    df.select(col(idCol), v, mab.as("__mab"))
      .select(col(idCol),
        coalesce(col("__mab"), lit(0.0)).as("scale"),
        array_join(transform(
          when(col("__mab") === 0 || col("__mab").isNull, zeros).otherwise(codes),
          _.cast("string")), ",").as("q8"))
  }

  def quantizeInt8Sql(table: String, idCol: String, vecCol: String): String =
    s"""SELECT ${idCol}, coalesce(__mab, 0.0) AS scale,
          array_to_string(list_transform(
            CASE WHEN __mab = 0 OR __mab IS NULL
                 THEN list_transform(${vecCol}, x -> 0)
                 ELSE list_transform(${vecCol}, x -> floor(x::DOUBLE * 127.0 / __mab + 0.5)::INTEGER)
            END, c -> c::VARCHAR), ',') AS q8
        FROM (SELECT ${idCol}, ${vecCol},
                list_max(list_transform(${vecCol}, x -> abs(x::DOUBLE))) AS __mab
              FROM ${table})"""

  // ---------------------------------------------------------------------

  private def listLit(q: Seq[Double]): String = q.mkString("[", ",", "]")

  def dotSql(vec: String, q: Seq[Double], dim: Int): String =
    s"list_sum(list_transform(generate_series(1,$dim), i -> (${vec})[i]::DOUBLE * (${listLit(q)})[i]))"

  def normSql(vec: String): String =
    s"sqrt(list_sum(list_transform(${vec}, x -> x::DOUBLE * x::DOUBLE)))"

  def cosineToSql(vec: String, q: Seq[Double]): String = {
    val qn = math.sqrt(q.map(x => x * x).sum)
    s"(${dotSql(vec, q, q.size)} / (${normSql(vec)} * ${qn}))"
  }

  def lshBucketSql(vec: String, planes: Seq[Array[Double]]): String =
    planes.zipWithIndex.map { case (p, b) =>
      s"CASE WHEN ${dotSql(vec, p.toSeq, p.length)} >= 0 THEN ${1L << b} ELSE 0 END"
    }.mkString("(", " + ", ")")

  def pairCosineSql(vecA: String, vecB: String, dim: Int): String =
    s"(list_sum(list_transform(generate_series(1,$dim), i -> (${vecA})[i]::DOUBLE * (${vecB})[i]::DOUBLE)) " +
      s"/ (${normSql(vecA)} * ${normSql(vecB)}))"

  /** DuckDB rendering of the whole IVF path (seed -> assign -> probe ->
    * exact top-k), membership projection only (ulp-robust, like
    * `q_knn_brute`). Mirrors [[ivfCentroids]] (hash-rank seed, same u60),
    * [[ivfAssign]] (argmax with first-index tie-break == row_number by
    * sim DESC, ci) and [[ivfTopK]] (nProbe nearest centroid lists). */
  def ivfMembershipSql(query: Seq[Double], k: Int, nCent: Int, nProbe: Int, dim: Int): String = {
    val u60 = graft.generators.OracleGen.u60("vec_id", "ivf")
    val sim = pairCosineSql("e.embedding", "c.cvec", dim)
    val centToQ = cosineToSql("cvec", query)
    val candCos = cosineToSql("a.embedding", query)
    s"""WITH csel AS (
          SELECT vec_id, embedding FROM embeddings ORDER BY ${u60}, vec_id LIMIT ${nCent}
        ), cent AS (
          SELECT row_number() OVER (ORDER BY ${u60}, vec_id) - 1 AS ci, embedding AS cvec
          FROM csel
        ), sims AS (
          SELECT e.vec_id, e.embedding, c.ci, ${sim} AS sim FROM embeddings e, cent c
        ), assigned AS (
          SELECT vec_id, embedding, ci,
                 row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, ci) AS rn
          FROM sims
        ), probes AS (
          SELECT ci FROM (
            SELECT ci, row_number() OVER (ORDER BY ${centToQ} DESC, ci) AS pr FROM cent)
          WHERE pr <= ${nProbe}
        )
        SELECT vec_id FROM (
          SELECT a.vec_id, ${candCos} AS cq
          FROM assigned a JOIN probes p ON a.ci = p.ci
          WHERE a.rn = 1
          ORDER BY cq DESC, a.vec_id LIMIT ${k}
        ) ORDER BY vec_id"""
  }

  /** Fixed probe set for the recall query: deterministic unit-ish
    * vectors, one seed per probe (probe 0 is [[testQuery]]'s cousin). */
  def probeQueries(n: Int, dim: Int): Seq[Seq[Double]] =
    (0 until n).map { q =>
      val rnd = new Random(100L + q)
      Seq.fill(dim)(rnd.nextDouble() * 2 - 1)
    }

  /** ANN quality evaluation: recall@k of the IVF probe path against the
    * brute-force ground truth, per probe query — the measurement that
    * justifies (or vetoes) shipping the approximate index at a given
    * (nCent, nProbe) operating point.
    *
    * Scale shape: the ground truth per probe is a TakeOrderedAndProject
    * (per-partition heap, k rows survive), the IVF side scans only the
    * probed clusters, and the intersection is a k-row broadcast join —
    * nothing corpus-sized shuffles. Probes fan out as a plan-level union
    * (fine for an evaluation batch of tens; an online evaluator would
    * batch probes into one pass). Cross-engine note: like q_knn_brute,
    * the top-k SETS compare raw-cosine order, safe while the fixture has
    * no tie straddling the k-boundary — recall counts are then exact
    * integers. */
  def annRecallAtK(df: DataFrame, idCol: String, vecCol: String,
                   probes: Seq[Seq[Double]], k: Int,
                   nCent: Int, nProbe: Int): DataFrame = {
    val cents = ivfCentroids(df, idCol, vecCol, nCent)
    probes.zipWithIndex.map { case (p, q) =>
      val brute = bruteForceTopK(df, idCol, vecCol, p, k).select(col(idCol))
      val ivf = ivfTopK(df, idCol, vecCol, p, k, cents, nProbe).select(col(idCol))
      brute.join(ivf, idCol)
        .agg(count(lit(1)).as("n_common"))
        .select(lit(q).as("query_id"), col("n_common"),
          (col("n_common").cast("double") / lit(k.toDouble)).as("recall"))
    }.reduce(_ unionByName _)
  }

  def annRecallAtKSql(probes: Seq[Seq[Double]], k: Int,
                      nCent: Int, nProbe: Int, dim: Int): String =
    probes.zipWithIndex.map { case (p, q) =>
      val cos = cosineToSql("embedding", p)
      s"""SELECT ${q} AS query_id, count(*)::BIGINT AS n_common,
            count(*)::DOUBLE / ${k} AS recall
          FROM (SELECT vec_id FROM (
                  SELECT vec_id, ${cos} AS c FROM embeddings
                  ORDER BY c DESC, vec_id LIMIT ${k})) b
          JOIN (${ivfMembershipSql(p, k, nCent, nProbe, dim)}) i USING (vec_id)"""
    }.mkString("\nUNION ALL\n")
}
