package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.generators.{Gen, OracleGen}

/** Model-based quality scoring for training-data curation — the
  * "quality classifier" stage of a CCNet/fastText-style pipeline
  * (reference pipelines train a linear classifier on seed labels and
  * keep documents the model scores as high-quality).
  *
  * Two scorers, both exactly cross-engine comparable:
  *
  *  - [[hashedLinearScore]]: a fixed hashed linear model — every token
  *    hashes to a deterministic integer weight in [-1000, 1000] and the
  *    document score is the exact integer sum. The shape of fastText
  *    inference (hashed features x weight vector) with the weight lookup
  *    collapsed into the hash itself, so scoring is a pure per-row
  *    higher-order-function expression: no explode, no join, no shuffle
  *    — embarrassingly parallel over any corpus size.
  *
  *  - [[nbQuality]]: a naive-Bayes log-odds classifier TRAINED AND
  *    APPLIED in one distributed plan. Seed labels come from an exact
  *    integer heuristic (stopword ratio >= 20%, the bootstrap-label trick
  *    quality-filter papers use); per-token class counts aggregate with
  *    map-side combine; the vocabulary is capped to the top-V most
  *    frequent tokens (deterministic tie-break) so the weight relation
  *    stays broadcastable no matter the corpus size; scoring is a
  *    broadcast hash join + one per-doc aggregate. All log terms use the
  *    integer nano-nat discipline (see [[Curation]] scaladoc), so the
  *    distributed sum is exact and engine-portable.
  *
  * Scale shape at 100 TB: training is one Zipf-small vocab aggregate
  * (map-side combined) + two bounded 1-row driver reductions; the top-V
  * cap is a TakeOrdered (V rows), not a global sort; the corpus-sized
  * token stream is never shuffled — it probes the broadcast weight table
  * and feeds a single per-doc hash aggregate.
  */
object QualityClassifier {

  /** Deterministic pseudo-weight for a token: integer in [-1000, 1000].
    * Spark `%` and DuckDB `%` agree on the non-negative u60 input. */
  private def tokenWeight(t: Column): Column =
    Gen.u60(t, "qlin") % lit(2001L) - lit(1000L)
  private def tokenWeightSql(t: String): String =
    s"(${OracleGen.u60(t, "qlin")} % 2001 - 1000)"

  /** Hashed linear quality score: (idCol, n_tokens, score_milli, pred).
    * score_milli is the exact integer sum of per-token weights; pred = 1
    * when score_milli >= 0. Zero-shuffle: one scan, per-row lambdas. */
  def hashedLinearScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = filter(TextOps.tokens(col(textCol)), t => length(t) > 0)
    val score = aggregate(toks, lit(0L), (acc, t) => acc + tokenWeight(t))
    df.select(col(idCol),
      size(toks).cast("long").as("n_tokens"),
      score.as("score_milli"),
      when(score >= 0, 1).otherwise(0).as("pred"))
  }

  def hashedLinearScoreSql(table: String, idCol: String, textCol: String): String = {
    val toks = s"list_filter(${TextOps.tokensSql(textCol)}, t -> length(t) > 0)"
    val score = s"coalesce(list_sum(list_transform(${toks}, t -> ${tokenWeightSql("t")}))::BIGINT, 0)"
    s"""SELECT ${idCol}, len(${toks})::BIGINT AS n_tokens,
               ${score} AS score_milli,
               CASE WHEN ${score} >= 0 THEN 1 ELSE 0 END AS pred
        FROM ${table}"""
  }

  /** Exact integer seed label: stopword-ratio >= 20% and at least one
    * token. Integer-only comparison — portable bit-for-bit. */
  private def seedLabel(text: Column): Column = {
    val n = TextOps.tokenCount(text)
    (TextOps.stopwordCount(text) * 5 >= n) && (n > 0)
  }
  private def seedLabelSql(text: String): String =
    s"(${TextOps.stopwordCountSql(text)} * 5 >= ${TextOps.tokenCountSql(text)}" +
      s" AND ${TextOps.tokenCountSql(text)} > 0)"

  /** Driver-side nano-nat log over a positive integer (same quantization
    * as [[Curation.lnNano]]; precedent: dsirWeights' driver constant). */
  private def lnNanoL(x: Long): Long =
    math.floor(math.log(x.toDouble) * 1e9 + 0.5).toLong

  /** Naive-Bayes log-odds quality classifier, trained on [[seedLabel]]
    * and applied to every document in one plan. Output per document:
    * (idCol, seed_label, n_scored, score_nanonats, pred) where
    * score_nanonats = prior + sum over in-vocabulary tokens of
    * [ln(c_pos+1) - ln(c_neg+1) - (ln(N_pos+V) - ln(N_neg+V))] in
    * integer nano-nats, prior = ln(docs_pos) - ln(docs_neg), and
    * pred = 1 iff score >= 0. Tokens outside the top-`topV` vocabulary
    * (by total frequency, ties broken by token text) contribute 0 —
    * the frequency prune that keeps the weight table broadcastable.
    *
    * Storage note (ADVICE r18): the vocab aggregate below is
    * checkpointed through [[graft.plans.Checkpoints.materialize]] and
    * registered ONLY in the global registry — a long-lived driver that
    * calls nbQuality repeatedly must drain it with
    * `Checkpoints.releaseAll()` once each result is consumed (the bench,
    * Verify and the soaks already do), or vocab-sized blocks accumulate
    * per call. */
  def nbQuality(df: DataFrame, idCol: String, textCol: String,
                topV: Int = 4096): DataFrame = {
    // NOT widened (r18 measured negative, same-host A/B — tokenize-only
    // per-row work, see Corpus.unigramStats)
    val labeled = df.select(col(idCol), seedLabel(col(textCol)).as("__lab"),
      col(textCol))
    val toks = labeled
      .select(col(idCol), col("__lab"),
        explode(TextOps.tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
    // The vocab is Zipf-small next to the corpus. Materializing the
    // (token, c_pos, c_all) aggregate makes the top-V weights read
    // finished rows instead of re-tokenizing the corpus, and its
    // checkpoint job also yields the global normalizers (the constants
    // fold into literals; no 1-row cross join in the plan).
    val (vocab, t) = graft.plans.Checkpoints.materialize(
      toks.groupBy("token").agg(
        sum(when(col("__lab"), 1L).otherwise(0L)).as("c_pos"),
        count(lit(1)).as("c_all")),
      coalesce(sum("c_pos"), lit(0L)), coalesce(sum("c_all"), lit(0L)))
    val (v, nPos, nAll) = (t.getLong(0), t.getLong(1), t.getLong(2))
    val nNeg = nAll - nPos
    val d = labeled.agg(
      coalesce(sum(when(col("__lab"), 1L).otherwise(0L)), lit(0L)),
      count(lit(1))).head()
    val (dPos, dAll) = (d.getLong(0), d.getLong(1))
    val prior = lnNanoL(dPos.max(1L)) - lnNanoL((dAll - dPos).max(1L))
    val norm = lnNanoL(nPos + v) - lnNanoL(nNeg + v)
    val weights = vocab.orderBy(col("c_all").desc, col("token").asc).limit(topV)
      .select(col("token"),
        (Curation.lnNano(col("c_pos") + 1) -
          Curation.lnNano(col("c_all") - col("c_pos") + 1) - lit(norm)).as("w"))
    val scored = toks.join(broadcast(weights), Seq("token"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_scored"), sum("w").as("sum_w"))
    val score = lit(prior) + coalesce(col("sum_w"), lit(0L))
    labeled.select(col(idCol), col("__lab"))
      .join(scored, Seq(idCol), "left_outer")
      .select(col(idCol),
        when(col("__lab"), 1).otherwise(0).as("seed_label"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        score.as("score_nanonats"),
        when(score >= 0, 1).otherwise(0).as("pred"))
  }

  /** Trained classifier as a broadcastable artifact: top-V token
    * weights (nano-nats) + class prior. Bounded by topV — safe to
    * collect and ship inside a plan (the model-artifact shape streaming
    * scoring needs; batch training, per-row stateless inference). */
  case class NbModel(weights: Map[String, Long], prior: Long)

  /** Train the naive-Bayes model of [[nbQuality]] and collect the
    * (bounded, topV-row) weight table into an [[NbModel]]. */
  def nbTrain(df: DataFrame, textCol: String, topV: Int = 4096): NbModel = {
    val labeled = df.select(seedLabel(col(textCol)).as("__lab"), col(textCol))
    val toks = labeled
      .select(col("__lab"), explode(TextOps.tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
    val vocab = toks.groupBy("token").agg(
      sum(when(col("__lab"), 1L).otherwise(0L)).as("c_pos"),
      count(lit(1)).as("c_all"))
    val t = vocab.agg(
      coalesce(sum("c_pos"), lit(0L)), coalesce(sum("c_all"), lit(0L)),
      count(lit(1))).head()
    val (nPos, nAll, v) = (t.getLong(0), t.getLong(1), t.getLong(2))
    val norm = lnNanoL(nPos + v) - lnNanoL(nAll - nPos + v)
    val d = labeled.agg(
      coalesce(sum(when(col("__lab"), 1L).otherwise(0L)), lit(0L)),
      count(lit(1))).head()
    val prior = lnNanoL(d.getLong(0).max(1L)) -
      lnNanoL((d.getLong(1) - d.getLong(0)).max(1L))
    val w = vocab.orderBy(col("c_all").desc, col("token").asc).limit(topV)
      .select(col("token"),
        (Curation.lnNano(col("c_pos") + 1) -
          Curation.lnNano(col("c_all") - col("c_pos") + 1) - lit(norm)).as("w"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    NbModel(w, prior)
  }

  /** Per-row score under a trained [[NbModel]]: prior + sum of in-vocab
    * token weights, out-of-vocab tokens contribute 0. Pure stateless
    * column expression (the weight map rides the plan as a literal), so
    * it works identically on batch frames and unbounded streams — the
    * inference half of a batch-train / stream-score pipeline. */
  def scoreWith(text: Column, model: NbModel): Column = {
    val wmap = typedLit(model.weights)
    val toks = filter(TextOps.tokens(text), t => length(t) > 0)
    lit(model.prior) +
      aggregate(toks, lit(0L),
        (acc, t) => acc + coalesce(element_at(wmap, t), lit(0L)))
  }

  /** Exact classifier evaluation over a scored frame: confusion counts
    * at threshold 0 and the AUC as an exact integer FRACTION —
    * auc = auc_num / auc_den with
    * auc_num = 2·Σ(avg ranks of positives) − n₁(n₁+1) and
    * auc_den = 2·n₁·n₀ (the Mann–Whitney U statistic with average
    * ranks for ties, doubled so half-ranks stay integral). No float
    * ever forms, so the result is engine-exact and distribution-exact.
    *
    * Scale shape: scores quantize to `quantize`-wide buckets first
    * (floor division via pmod, identical semantics both engines), so
    * the rank cumulative — the one global-ordered window — runs over
    * the BUCKET table, whose size is bounded by the score range /
    * quantize, not by the corpus. The AUC is then exactly the AUC of
    * the quantized scorer (deterministic; ties within a bucket use
    * average ranks). quantize=1 evaluates raw scores. */
  def classifierEval(scored: DataFrame, labelCol: String, scoreCol: String,
                     quantize: Long = 1000000L): DataFrame = {
    require(quantize >= 1, "classifierEval: quantize must be >= 1")
    val s = col(scoreCol).cast("long")
    // mathematical floor division: (s - pmod(s, q)) is exactly divisible
    // by q; `div` keeps it in integer space (a double `/` would lose
    // exactness past 2^53)
    val base = scored.select(col(labelCol).cast("long").as("y"),
      expr(s"(CAST($scoreCol AS BIGINT) - pmod(CAST($scoreCol AS BIGINT), " +
        s"${quantize}L)) div ${quantize}L").as("b"), s.as("s"))
    val confusion = base.agg(
      sum(col("y")).as("n_pos"),
      (count(lit(1)) - sum(col("y"))).as("n_neg"),
      sum(when(col("y") === 1 && col("s") >= 0, 1L).otherwise(0L)).as("tp"),
      sum(when(col("y") === 0 && col("s") >= 0, 1L).otherwise(0L)).as("fp"),
      sum(when(col("y") === 0 && col("s") < 0, 1L).otherwise(0L)).as("tn"),
      sum(when(col("y") === 1 && col("s") < 0, 1L).otherwise(0L)).as("fn"))
    val perBucket = base.groupBy("b").agg(
      count(lit(1)).as("cnt"), sum("y").as("pos"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("b")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val twoSum = perBucket
      .withColumn("before", coalesce(sum("cnt").over(w), lit(0L)))
      .agg(coalesce(sum(col("pos") * (lit(2L) * col("before") + col("cnt") + 1)),
        lit(0L)).as("two_sum_rank_pos"))
    // two 1-row frames -> the audit-frame cross join precedent
    confusion.crossJoin(twoSum).select(
      col("n_pos"), col("n_neg"), col("tp"), col("fp"), col("tn"), col("fn"),
      (col("two_sum_rank_pos") - col("n_pos") * (col("n_pos") + 1)).as("auc_num"),
      (lit(2L) * col("n_pos") * col("n_neg")).as("auc_den"))
  }

  /** DuckDB rendering of [[classifierEval]]: `scoredSql` is a full
    * SELECT producing `(labelCol, scoreCol)` rows, inlined as a
    * subquery (DuckDB accepts CTE-bearing subqueries). */
  def classifierEvalSql(scoredSql: String, labelCol: String, scoreCol: String,
                        quantize: Long = 1000000L): String =
    s"""WITH __e AS (
          SELECT ${labelCol}::BIGINT AS y,
                 ((${scoreCol}::BIGINT - ((${scoreCol}::BIGINT % ${quantize}
                    + ${quantize}) % ${quantize})) // ${quantize})::BIGINT AS b,
                 ${scoreCol}::BIGINT AS s
          FROM ($scoredSql)),
        __conf AS (
          SELECT sum(y)::BIGINT AS n_pos,
                 (count(*) - sum(y))::BIGINT AS n_neg,
                 sum(CASE WHEN y = 1 AND s >= 0 THEN 1 ELSE 0 END)::BIGINT AS tp,
                 sum(CASE WHEN y = 0 AND s >= 0 THEN 1 ELSE 0 END)::BIGINT AS fp,
                 sum(CASE WHEN y = 0 AND s < 0 THEN 1 ELSE 0 END)::BIGINT AS tn,
                 sum(CASE WHEN y = 1 AND s < 0 THEN 1 ELSE 0 END)::BIGINT AS fn
          FROM __e),
        __pb AS (
          SELECT b, count(*)::BIGINT AS cnt, sum(y)::BIGINT AS pos
          FROM __e GROUP BY b),
        __rk AS (
          SELECT coalesce(sum(pos * (2 * before + cnt + 1)), 0)::BIGINT
                   AS two_sum_rank_pos
          FROM (SELECT cnt, pos,
                       coalesce(sum(cnt) OVER (ORDER BY b
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                         AS before
                FROM __pb))
        SELECT n_pos, n_neg, tp, fp, tn, fn,
               (two_sum_rank_pos - n_pos * (n_pos + 1))::BIGINT AS auc_num,
               (2 * n_pos * n_neg)::BIGINT AS auc_den
        FROM __conf, __rk"""

  /** Reliability-diagram inputs for a scored frame: per score bucket
    * (floor(score / quantize)), the exact row and positive counts — the
    * integers a calibration curve (observed rate vs score) is drawn
    * from, engine-exact by construction. One map-side-combinable
    * aggregate on the bucket key; no windows, no floats. */
  def classifierCalibration(scored: DataFrame, labelCol: String,
                            scoreCol: String,
                            quantize: Long = 1000000L): DataFrame = {
    require(quantize >= 1, "classifierCalibration: quantize must be >= 1")
    scored.select(col(labelCol).cast("long").as("y"),
      expr(s"(CAST($scoreCol AS BIGINT) - pmod(CAST($scoreCol AS BIGINT), " +
        s"${quantize}L)) div ${quantize}L").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum("y").as("n_pos"))
  }

  def classifierCalibrationSql(scoredSql: String, labelCol: String,
                               scoreCol: String,
                               quantize: Long = 1000000L): String =
    s"""SELECT ((${scoreCol}::BIGINT - ((${scoreCol}::BIGINT % ${quantize}
           + ${quantize}) % ${quantize})) // ${quantize})::BIGINT AS bucket,
          count(*)::BIGINT AS n,
          sum(${labelCol}::BIGINT)::BIGINT AS n_pos
        FROM ($scoredSql)
        GROUP BY 1"""

  /** Precision-recall curve points as exact integers: for each score
    * bucket (floor(score / quantize)), the cumulative true/false
    * positives when the decision threshold is "score ≥ this bucket" —
    * precision = cum_tp / (cum_tp + cum_fp) and recall = cum_tp / n_pos
    * are left as exact integer fractions for the caller. One bounded
    * window over the bucket table (same scale shape as
    * [[classifierEval]]); completes the eval family with
    * [[classifierCalibration]]. */
  def classifierPrCurve(scored: DataFrame, labelCol: String, scoreCol: String,
                        quantize: Long = 1000000L): DataFrame = {
    require(quantize >= 1, "classifierPrCurve: quantize must be >= 1")
    val base = scored.select(col(labelCol).cast("long").as("y"),
      expr(s"(CAST($scoreCol AS BIGINT) - pmod(CAST($scoreCol AS BIGINT), " +
        s"${quantize}L)) div ${quantize}L").as("bucket"))
    val perBucket = base.groupBy("bucket").agg(
      count(lit(1)).as("n"), sum("y").as("pos"))
    // threshold "score >= bucket" accumulates from the TOP score down
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("bucket").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    // n_pos as a LAZY 1-row aggregate over perBucket crossJoined in (the
    // classifierEval precedent): embedding it as a literal via .head()
    // would scan the scored frame eagerly at construction time, and a
    // second time on top of the perBucket aggregation when the result
    // runs. Summing the (bounded) bucket table keeps it single-scan.
    val nPos = perBucket.agg(coalesce(sum("pos"), lit(0L)).as("n_pos"))
    perBucket.select(col("bucket"),
      sum(col("pos")).over(w).as("cum_tp"),
      (sum(col("n")).over(w) - sum(col("pos")).over(w)).as("cum_fp"))
      .crossJoin(nPos)
  }

  def classifierPrCurveSql(scoredSql: String, labelCol: String,
                           scoreCol: String,
                           quantize: Long = 1000000L): String =
    s"""WITH __e AS (
          SELECT ${labelCol}::BIGINT AS y,
                 ((${scoreCol}::BIGINT - ((${scoreCol}::BIGINT % ${quantize}
                    + ${quantize}) % ${quantize})) // ${quantize})::BIGINT AS bucket
          FROM ($scoredSql)),
        __pb AS (
          SELECT bucket, count(*)::BIGINT AS n, sum(y)::BIGINT AS pos
          FROM __e GROUP BY bucket),
        __np AS (SELECT coalesce(sum(y), 0)::BIGINT AS n_pos FROM __e)
        SELECT bucket,
               sum(pos) OVER (ORDER BY bucket DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
                 AS cum_tp,
               (sum(n) OVER (ORDER BY bucket DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - sum(pos) OVER (ORDER BY bucket DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
                 AS cum_fp,
               (SELECT n_pos FROM __np) AS n_pos
        FROM __pb"""

  def nbQualitySql(table: String, idCol: String, textCol: String,
                   topV: Int = 4096): String = {
    val ln = Curation.lnNanoSql _
    s"""WITH __lab AS (
          SELECT ${idCol},
                 (CASE WHEN ${seedLabelSql(textCol)} THEN 1 ELSE 0 END) AS lab,
                 ${textCol} AS __text
          FROM ${table}),
        __toks AS (
          SELECT ${idCol}, lab, token FROM (
            SELECT ${idCol}, lab, unnest(${TextOps.tokensSql("__text")}) AS token
            FROM __lab)
          WHERE length(token) > 0),
        __vocab AS (
          SELECT token, sum(lab)::BIGINT AS c_pos, count(*)::BIGINT AS c_all
          FROM __toks GROUP BY token),
        __tot AS (
          SELECT coalesce(sum(c_pos), 0)::BIGINT AS np,
                 coalesce(sum(c_all), 0)::BIGINT AS na,
                 count(*)::BIGINT AS v
          FROM __vocab),
        __docs AS (
          SELECT coalesce(sum(lab), 0)::BIGINT AS dp, count(*)::BIGINT AS da
          FROM __lab),
        __w AS (
          SELECT token,
                 ${ln("c_pos + 1")} - ${ln("c_all - c_pos + 1")}
                   - (SELECT ${ln("np + v")} - ${ln("na - np + v")} FROM __tot) AS w
          FROM (SELECT * FROM __vocab ORDER BY c_all DESC, token LIMIT ${topV})),
        __sc AS (
          SELECT ${idCol}, count(*)::BIGINT AS n_scored, sum(w)::BIGINT AS sum_w
          FROM __toks JOIN __w USING (token) GROUP BY ${idCol}),
        __prior AS (
          SELECT ${ln("greatest(dp, 1)")} - ${ln("greatest(da - dp, 1)")} AS p
          FROM __docs)
        SELECT l.${idCol}, l.lab AS seed_label,
               coalesce(s.n_scored, 0) AS n_scored,
               (SELECT p FROM __prior) + coalesce(s.sum_w, 0) AS score_nanonats,
               CASE WHEN (SELECT p FROM __prior) + coalesce(s.sum_w, 0) >= 0
                    THEN 1 ELSE 0 END AS pred
        FROM __lab l LEFT JOIN __sc s USING (${idCol})"""
  }
}
