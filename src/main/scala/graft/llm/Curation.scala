package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.generators.{Gen, OracleGen}

/** Corpus-curation scoring operators for training-data pipelines:
  * unigram-LM cross-entropy (CCNet-style perplexity filtering), DSIR
  * hashed-n-gram importance weights, bloom-prefiltered decontamination,
  * dedup-aware (leak-free) split assignment, and temperature-scaled
  * mixture weights.
  *
  * Cross-engine float discipline (the driver hash-compares values
  * bit-exactly): transcendental functions are NOT correctly-rounded and
  * differ between the JVM and DuckDB's libm on ~1e-5 of integer inputs
  * (measured: 6/300000 for `Math.log` vs `ln`), and double addition is
  * non-associative, so a distributed float sum is partition-order
  * dependent. Both hazards are removed the same way: quantize each
  * log PER TERM to integer nano-nats — `floor(ln(x)*1e9 + 0.5)` — and
  * sum exactly in integer space. A 1-ulp `ln` discrepancy moves the
  * pre-floor value by ~2e-6, so a flip requires the true value to sit
  * within 2e-6 of a flooring boundary (~1e-11 per distinct input;
  * CurationSpec pins a 1e-4 safety margin on the actual fixture domain).
  * Where a float must cross engines (mixture weights) it is built only
  * from exactly-rounded ops (sqrt, *, /) over a fold whose order both
  * engines fix identically (sorted list, left-to-right).
  */
object Curation {

  /** Integer nano-nats: floor(ln(x)*1e9 + 0.5) as BIGINT, identical
    * rendering both engines. x must be >= 1 (integer counts). */
  def lnNano(x: Column): Column =
    floor(log(x.cast("double")) * lit(1e9) + lit(0.5)).cast("long")
  def lnNanoSql(x: String): String =
    s"floor(ln((${x})::DOUBLE) * 1e9 + 0.5)::BIGINT"

  // ---------------------------------------------------------------------
  // Unigram-LM cross-entropy (perplexity filtering, CCNet-style)
  // ---------------------------------------------------------------------

  /** Per-document cross-entropy under the corpus's own unigram LM, in
    * integer nano-nats: xent = sum_t [ln N - ln freq(t)] where N is the
    * corpus token count. High values = rare-token-heavy docs (the CCNet
    * "perplexity filtering" signal, here with the corpus itself as the
    * LM). ppl = exp(xent_nanonats / n_tokens / 1e9).
    *
    * Scale shape: one map-side-combinable vocab aggregate (Zipf-small
    * result), a (token -> freq) join back, one per-doc aggregate — the
    * same two-shuffle plan as [[Corpus.unigramStats]]; the corpus-sized
    * token relation is never cached, and the 1-row totals side is
    * broadcast. Output: (idCol, n_tokens, xent_nanonats); token-less docs
    * keep n_tokens = 0, xent = 0.
    */
  def unigramCrossEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // NOT widened (r18 measured negative, same-host A/B): the tokenize
    // explode here is cheap next to the md5 kernels that earn widen()
    // elsewhere — redistributing cost 1.01 s -> 1.50 s at the sf0.1 bench
    // (the round-robin exchange + extra stage outweigh the parallel gain)
    val toks = df.select(col(idCol), explode(TextOps.tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("freq"))
    // ln(N) is a single scalar: collect it (bounded 1-row driver
    // reduction) rather than cross-joining a 1-row aggregate — the
    // literal constant-folds, and the per-doc plan stays BNLJ-free.
    val nTotal = toks.agg(count(lit(1)).as("n")).head().getLong(0).max(1L)
    val agg = toks.join(vocab, "token")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), sum(lnNano(col("freq"))).as("sum_ln"))
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") * lnNano(lit(nTotal)) - col("sum_ln")).as("xent_nanonats"))
    df.select(col(idCol)).join(agg, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("xent_nanonats"), lit(0L)).as("xent_nanonats"))
  }

  def unigramCrossEntropySql(table: String, idCol: String, textCol: String): String =
    s"""WITH __toks AS (
          SELECT ${idCol}, token FROM (
            SELECT ${idCol}, unnest(${TextOps.tokensSql(textCol)}) AS token
            FROM ${table})
          WHERE length(token) > 0),
        __vocab AS (SELECT token, count(*) AS freq FROM __toks GROUP BY token),
        __tot AS (SELECT sum(freq)::BIGINT AS n_total FROM __vocab),
        __agg AS (
          SELECT ${idCol}, count(*) AS n_tokens,
                 sum(${lnNanoSql("freq")})::BIGINT AS sum_ln
          FROM __toks JOIN __vocab USING (token) GROUP BY ${idCol})
        SELECT d.${idCol}, coalesce(a.n_tokens, 0) AS n_tokens,
               coalesce(a.n_tokens * (SELECT ${lnNanoSql("n_total")} FROM __tot)
                        - a.sum_ln, 0) AS xent_nanonats
        FROM ${table} d LEFT JOIN __agg a USING (${idCol})"""

  /** Per-document cross-entropy under the corpus bigram LM (MLE, no
    * smoothing needed: every scored bigram was observed), in integer
    * nano-nats: xent2 = sum over bigrams of [ln f(prev) - ln f(prev,cur)]
    * = -sum ln p(cur|prev). The conditional-LM upgrade of
    * [[unigramCrossEntropy]] — repetitive/templated text scores near 0,
    * original prose scores high; CCNet's LM filter signal with the corpus
    * itself as the LM. f(prev,cur) <= f(prev) always (every bigram
    * occurrence is an occurrence of prev with a successor), so terms are
    * non-negative up to quantization.
    *
    * Scale shape: two map-side-combinable Zipf-small vocab aggregates
    * (unigram + bigram); the unigram freqs join onto the DISTINCT-bigram
    * vocab (vocab-sized), never onto the corpus bigram stream, so each
    * distinct bigram's nano-nat term is priced exactly once and the
    * corpus probes a single precomputed term table (one corpus-side
    * join + the per-doc aggregate). Output: (idCol, n_bigrams,
    * xent2_nanonats); docs with < 2 tokens score (0, 0). */
  def bigramCrossEntropy(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // unconditional widen: the shingle explode serializes behind a narrow
    // scan; the base is NOT checkpointed (COVERAGE.md ledger)
    val base = graft.plans.Parallelism.widen(df.select(col(idCol), col(textCol)))
    val toks = base.select(col(idCol), explode(TextOps.tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
    val fu = toks.groupBy("token").agg(count(lit(1)).as("fu"))
    // the explicit id-notnull filter matches the constraint the final
    // left-outer join infers into the per-doc branch, so BOTH consumers
    // of the (doc, bigram) aggregate canonicalize identically and
    // ReuseExchange materializes the corpus-scale explode+shuffle ONCE
    // (shuffle files written once, read twice — no caching)
    val bgs = base.select(col(idCol), explode_outer(TextOps.shingles(col(textCol), 2)).as("bg"))
      .filter(col(idCol).isNotNull && col("bg").isNotNull)
      .filter(length(split_part(col("bg"), lit(" "), lit(1))) > 0 &&
        length(split_part(col("bg"), lit(" "), lit(2))) > 0)
    // per-(doc, bigram) counts first: map-side combinable, and the term
    // join then touches distinct pairs instead of bigram instances. Not
    // checkpointed: the exchange-reuse form measured faster (COVERAGE.md
    // ledger).
    val perDocBg = bgs.groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("c"))
    val terms = perDocBg.groupBy("bg").agg(sum("c").as("fb"))
      .withColumn("prev", split_part(col("bg"), lit(" "), lit(1)))
      .join(fu, col("prev") === col("token"))
      .select(col("bg"), (lnNano(col("fu")) - lnNano(col("fb"))).as("term"))
    val agg = perDocBg.join(terms, "bg")
      .groupBy(idCol)
      .agg(sum("c").as("n_bigrams"), sum(col("c") * col("term")).as("xent2_nanonats"))
    df.select(col(idCol)).join(agg, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("xent2_nanonats"), lit(0L)).as("xent2_nanonats"))
  }

  def bigramCrossEntropySql(table: String, idCol: String, textCol: String): String =
    s"""WITH __toks AS (
          SELECT ${idCol}, token FROM (
            SELECT ${idCol}, unnest(${TextOps.tokensSql(textCol)}) AS token
            FROM ${table})
          WHERE length(token) > 0),
        __fu AS (SELECT token, count(*) AS fu FROM __toks GROUP BY token),
        __bgs AS (
          SELECT ${idCol}, bg, split_part(bg, ' ', 1) AS prev FROM (
            SELECT ${idCol}, unnest(${TextOps.shinglesSql(textCol, 2)}) AS bg
            FROM ${table})
          WHERE ${idCol} IS NOT NULL AND bg IS NOT NULL
            AND length(split_part(bg, ' ', 1)) > 0
            AND length(split_part(bg, ' ', 2)) > 0),
        __pdb AS (
          SELECT ${idCol}, bg, count(*) AS c FROM __bgs GROUP BY ${idCol}, bg),
        __terms AS (
          SELECT bg, ${lnNanoSql("fu")} - ${lnNanoSql("fb")} AS term FROM (
            SELECT bg, sum(c)::BIGINT AS fb, split_part(bg, ' ', 1) AS prev
            FROM __pdb GROUP BY bg) f
          JOIN __fu ON f.prev = __fu.token),
        __agg AS (
          SELECT ${idCol}, sum(c)::BIGINT AS n_bigrams,
                 sum(c * term)::BIGINT AS xent2_nanonats
          FROM __pdb JOIN __terms USING (bg)
          GROUP BY ${idCol})
        SELECT d.${idCol}, coalesce(a.n_bigrams, 0) AS n_bigrams,
               coalesce(a.xent2_nanonats, 0) AS xent2_nanonats
        FROM ${table} d LEFT JOIN __agg a USING (${idCol})"""

  // ---------------------------------------------------------------------
  // DSIR: data selection via importance resampling (hashed n-grams)
  // ---------------------------------------------------------------------

  /** DSIR importance weight per document (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): tokens
    * hash into `buckets` features; the weight is the log-likelihood ratio
    * of the doc under the target vs the raw hashed-unigram multinomials,
    * add-one smoothed:
    *
    *   w(doc) = sum_tokens [ln(t_b+1) - ln(r_b+1)] + n·[ln(R+B) - ln(T+B)]
    *
    * where r_b/t_b are raw/target bucket counts, R/T their totals, B the
    * bucket count — in integer nano-nats (see the class doc for why).
    * Positive = more target-like; resample by weight downstream
    * (e.g. [[Sampling.weighted]]).
    *
    * Scale shape: two corpus passes total — the bucket-stats aggregate
    * (map-side combinable into exactly B rows, a bounded driver
    * reduction), then one per-doc aggregate where each token's
    * log-ratio comes from an O(1) array-literal index (element_at on a
    * B-entry literal; a map literal would linear-scan its keys per
    * token, and a broadcast join would re-tokenize for a third pass).
    * No corpus-sized state is cached. `targetPred` is any deterministic
    * row predicate over `df`'s columns (the "target domain" sample).
    */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
                  targetPred: Column, buckets: Int = 256,
                  tweak: String = "dsir"): DataFrame = {
    require(buckets >= 2, "dsirWeights: need >= 2 buckets")
    def lnNanoL(x: Long): Long = math.floor(math.log(x.toDouble) * 1e9 + 0.5).toLong
    // NOT widened (r18 measured negative, same-host A/B: 0.83 s ->
    // 1.43 s) — tokenize-only per-row work, see unigramCrossEntropy
    val toks = df
      .select(col(idCol), targetPred.as("is_target"),
        explode(TextOps.tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .select(col(idCol), col("is_target"),
        (Gen.u60(col("token"), tweak) % buckets).as("bucket"))
    val statsRows = toks.groupBy("bucket")
      .agg(count(lit(1)).as("r"),
        sum(when(col("is_target"), 1L).otherwise(0L)).as("t"))
      .collect() // bounded: <= buckets rows
    val bigR = statsRows.map(_.getLong(1)).sum
    val bigT = statsRows.map(_.getLong(2)).sum
    // per-bucket ln((t+1)) - ln((r+1)) in nano-nats; a bucket absent from
    // the stats pass cannot appear in the scoring pass (same data), so
    // the 0L filler is never read
    val lrByBucket = statsRows.map(r => r.getLong(0) -> (lnNanoL(r.getLong(2) + 1) -
      lnNanoL(r.getLong(1) + 1))).toMap
    val lrArr = Seq.tabulate(buckets)(b => lrByBucket.getOrElse(b.toLong, 0L))
    val perDocConst = lnNanoL(bigR + buckets) - lnNanoL(bigT + buckets)
    val agg = toks
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(element_at(typedLit(lrArr), (col("bucket") + 1).cast("int"))).as("sum_lr"))
      .select(col(idCol), col("n_tokens"),
        (col("sum_lr") + col("n_tokens") * lit(perDocConst)).as("dsir_nanonats"))
    df.select(col(idCol)).join(agg, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("dsir_nanonats"), lit(0L)).as("dsir_nanonats"))
  }

  def dsirWeightsSql(table: String, idCol: String, textCol: String,
                     targetPredSql: String, buckets: Int = 256,
                     tweak: String = "dsir"): String =
    s"""WITH __toks AS (
          SELECT ${idCol}, is_target,
                 (${OracleGen.u60("token", tweak)}) % ${buckets} AS bucket
          FROM (
            SELECT ${idCol}, (${targetPredSql}) AS is_target,
                   unnest(${TextOps.tokensSql(textCol)}) AS token
            FROM ${table})
          WHERE length(token) > 0),
        __stats AS (
          SELECT bucket, count(*) AS r,
                 sum(CASE WHEN is_target THEN 1 ELSE 0 END)::BIGINT AS t
          FROM __toks GROUP BY bucket),
        __tot AS (SELECT sum(r)::BIGINT AS big_r, sum(t)::BIGINT AS big_t FROM __stats),
        __agg AS (
          SELECT ${idCol}, count(*) AS n_tokens,
                 sum(${lnNanoSql("t + 1")} - ${lnNanoSql("r + 1")})::BIGINT AS sum_lr
          FROM __toks JOIN __stats USING (bucket) GROUP BY ${idCol})
        SELECT d.${idCol}, coalesce(a.n_tokens, 0) AS n_tokens,
               coalesce(a.sum_lr + a.n_tokens *
                 (SELECT ${lnNanoSql(s"big_r + $buckets")} - ${lnNanoSql(s"big_t + $buckets")}
                  FROM __tot), 0) AS dsir_nanonats
        FROM ${table} d LEFT JOIN __agg a USING (${idCol})"""

  // ---------------------------------------------------------------------
  // Bloom-prefiltered decontamination (the broadcast-filter scale path)
  // ---------------------------------------------------------------------

  /** Exact cross-corpus decontamination via a broadcast bloom prefilter:
    * build a bloom filter over the holdout's content hashes, keep every
    * corpus row the bloom rejects (definitely clean — no false
    * negatives), and exact-check only the bloom-positive sliver against
    * the holdout digest set. Result is IDENTICAL to the plain exact
    * anti-join ([[Dedup.crossCorpusExact]]); the plan is what changes:
    * at 100 TB the corpus never shuffles — each task probes a
    * driver-built bloom literal (sized `expectedItems`/`fpp` from the
    * SMALL holdout), and only ~fpp of the corpus enters the verify join.
    *
    * The one `.head()` is a bounded driver reduction (a single bloom
    * binary, ~1.2 bytes/item at 1% fpp — 120 MB for a 100M-doc holdout;
    * size the fpp to the holdout, not the corpus).
    */
  def decontaminateBloom(corpus: DataFrame, holdout: DataFrame,
                         textCol: String, expectedItems: Long = 100000L,
                         fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.types.BinaryType
    val hashed = xxhash64(col(textCol))
    val numBits = org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(expectedItems, fpp)
    val bloomAgg = new BloomFilterAggregate(
      GraftBridge.expression(hashed),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression()
    val bloomBytes = holdout
      .agg(GraftBridge.column(bloomAgg).as("bf"))
      .head().getAs[Array[Byte]](0)
    if (bloomBytes == null) return corpus // empty holdout: everything is clean
    val mightContain = GraftBridge.column(new BloomFilterMightContain(
      Literal(bloomBytes, BinaryType), GraftBridge.expression(hashed)))
    val definitelyClean = corpus.filter(!mightContain)
    val falsePositives = corpus.filter(mightContain)
      .join(holdout.select(sha2(col(textCol), 256).as("__holdout_digest")).distinct(),
        sha2(col(textCol), 256) === col("__holdout_digest"), "left_anti")
    definitelyClean.unionByName(falsePositives)
  }

  // ---------------------------------------------------------------------
  // Dedup-aware (leak-free) train/val/test split
  // ---------------------------------------------------------------------

  /** Split assignment that cannot leak near-duplicates across splits:
    * documents are first clustered by transitive MinHash-LSH similarity
    * ([[Dedup.minhashLshClusters]]), then the whole cluster is routed by
    * the hash of its representative — near-dup pairs always land in the
    * same split, so a val/test doc can never have a train-side twin.
    * Buckets are per-mille: [0, testPm) = test, [testPm, testPm+valPm) =
    * val, rest = train.
    *
    * Scale shape: adds one broadcast-joinable projection on top of the
    * cluster fix-point (itself iteration-bounded and checkpointed); the
    * split decision is a pure hash of the representative id — no extra
    * shuffle, deterministic under any partitioning.
    */
  def leakFreeSplit(df: DataFrame, idCol: String, textCol: String,
                    testPm: Int = 100, valPm: Int = 100,
                    tweak: String = "split"): DataFrame = {
    require(testPm >= 0 && valPm >= 0 && testPm + valPm <= 1000,
      "leakFreeSplit: per-mille shares must be in [0,1000]")
    val clusters = Dedup.minhashLshClusters(df, idCol, textCol)
    val bucket = Gen.u60(col("cluster_rep"), tweak) % 1000
    clusters.select(col(idCol), col("cluster_rep"),
      when(bucket < testPm, "test")
        .when(bucket < testPm + valPm, "val")
        .otherwise("train").as("split"))
  }

  /** Oracle rendering: the recursive-CTE reachability clustering (same as
    * the q_dedup_cluster oracle) + the identical u60 split rule. */
  def leakFreeSplitSql(table: String, idCol: String, textCol: String,
                       testPm: Int = 100, valPm: Int = 100,
                       tweak: String = "split"): String = {
    val sh = TextOps.shinglesSql(textCol, 3)
    val bands = (0 until 4).map(b => TextOps.bandHashSql(sh, b * 2, 2))
    val bucket = s"(${OracleGen.u60("cluster_rep", tweak)}) % 1000"
    s"""WITH RECURSIVE bnd AS (
          SELECT ${idCol}, band FROM (
            SELECT ${idCol}, unnest([${bands.mkString(", ")}]) AS band FROM ${table})
          WHERE band IS NOT NULL
        ), reach AS (
          SELECT ${idCol} AS id, ${idCol} AS r FROM (SELECT DISTINCT ${idCol} FROM bnd)
          UNION
          SELECT b2.${idCol} AS id, reach.r
          FROM reach
          JOIN bnd b1 ON reach.id = b1.${idCol}
          JOIN bnd b2 ON b1.band = b2.band
        ), lab AS (
          SELECT id, min(r) AS cluster_rep FROM reach GROUP BY id
        ), cl AS (
          SELECT d.${idCol}, coalesce(lab.cluster_rep, d.${idCol}) AS cluster_rep
          FROM ${table} d LEFT JOIN lab ON d.${idCol} = lab.id
        )
        SELECT ${idCol}, cluster_rep,
               CASE WHEN ${bucket} < ${testPm} THEN 'test'
                    WHEN ${bucket} < ${testPm + valPm} THEN 'val'
                    ELSE 'train' END AS split
        FROM cl"""
  }

  // ---------------------------------------------------------------------
  // Temperature-scaled mixture weights
  // ---------------------------------------------------------------------

  /** Temperature-T=2 (alpha = 0.5) mixture weights per group: the
    * multilingual-pretraining reweighting p_g ∝ n_g^0.5 that upsamples
    * small groups relative to proportional sampling. Emits per group its
    * doc/token counts, the unnormalized weight sqrt(tokens), the
    * normalized share, and an integer token grant out of `budgetTokens`.
    *
    * alpha is fixed at 0.5 because sqrt is an exactly-rounded IEEE op —
    * the whole output is reproducible bit-for-bit in any engine, unlike
    * a pow(x, alpha) rendering. The normalizing sum folds over groups in
    * sorted order (one tiny collect_list row), matching DuckDB's
    * list_sum left-to-right — group cardinality is assumed driver-small
    * (languages/sources), the rows under them arbitrarily large.
    */
  def temperatureMixWeights(df: DataFrame, groupCol: String, textCol: String,
                            budgetTokens: Long): DataFrame = {
    val per = df.groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col(textCol))).cast("long").as("n_tokens"))
    val packed = per.agg(sort_array(collect_list(struct(
      col(groupCol), col("n_docs"), col("n_tokens")))).as("xs"))
    val total = aggregate(col("xs"), lit(0.0d),
      (acc, x) => acc + sqrt(x("n_tokens").cast("double")))
    packed.select(explode(col("xs")).as("x"), total.as("w_total"))
      .select(col(s"x.$groupCol").as(groupCol),
        col("x.n_docs").as("n_docs"),
        col("x.n_tokens").as("n_tokens"),
        sqrt(col("x.n_tokens").cast("double")).as("w"),
        (sqrt(col("x.n_tokens").cast("double")) / col("w_total")).as("w_frac"),
        floor(lit(budgetTokens.toDouble) * sqrt(col("x.n_tokens").cast("double"))
          / col("w_total")).cast("long").as("token_grant"))
  }

  def temperatureMixWeightsSql(table: String, groupCol: String, textCol: String,
                               budgetTokens: Long): String =
    s"""WITH per AS (
          SELECT ${groupCol}, count(*) AS n_docs,
                 sum(${TextOps.tokenCountSql(textCol)})::BIGINT AS n_tokens
          FROM ${table} GROUP BY ${groupCol}),
        tot AS (
          SELECT list_sum(list(sqrt(n_tokens::DOUBLE) ORDER BY ${groupCol}, n_docs, n_tokens))
                 AS w_total FROM per)
        SELECT ${groupCol}, n_docs, n_tokens,
               sqrt(n_tokens::DOUBLE) AS w,
               sqrt(n_tokens::DOUBLE) / w_total AS w_frac,
               floor(${budgetTokens}::DOUBLE * sqrt(n_tokens::DOUBLE) / w_total)::BIGINT
                 AS token_grant
        FROM per, tot"""
}
