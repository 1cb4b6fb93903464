package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-level aggregation operators for training-data pipelines —
  * the multi-row complements of the per-row [[TextOps]] expressions.
  * Both are single-shuffle plans that survive a 100 TB corpus:
  * vocabulary top-k is a map-side-combinable groupBy + TakeOrdered, and
  * contamination is a broadcast semi-join on exploded shingles (the probe
  * set — a benchmark's n-grams — is small by construction).
  */
object Corpus {

  /** Corpus vocabulary top-k: token -> frequency, k most frequent.
    * Plan shape: explode -> partial HashAggregate (map-side combine below
    * the exchange, so only distinct-token partials shuffle, never raw
    * tokens) -> final agg -> TakeOrderedAndProject. Deterministic
    * tie-break by token. */
  def tokenTopK(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(explode(TextOps.tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("token"))
      .limit(k)

  def tokenTopKSql(table: String, textCol: String, k: Int): String =
    s"""SELECT token, n FROM (
          SELECT token, count(*) AS n FROM (
            SELECT unnest(${TextOps.tokensSql(textCol)}) AS token FROM ${table})
          WHERE length(token) > 0 GROUP BY token)
        ORDER BY n DESC, token LIMIT ${k}"""

  /** Word n-gram shingles of a probe text, driver-side — the same
    * shingling as [[TextOps.shingles]] so probe and corpus agree. */
  def probeShingles(probeText: String, n: Int = 3): Seq[String] =
    probeText.split(" ").toSeq.sliding(n).filter(_.size == n).map(_.mkString(" ")).toSeq

  /** Benchmark-contamination check: ids of documents sharing at least one
    * word n-gram with the probe set (the standard n-gram-overlap
    * decontamination test for training corpora vs eval benchmarks).
    * The corpus side explodes to (id, shingle) and semi-joins the
    * broadcast probe set — no shingle arrays shuffle, no all-pairs. */
  def contaminatedIds(df: DataFrame, idCol: String, textCol: String,
                      probe: Seq[String], shingleN: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val probeDf = probe.toDF("sh")
    df.select(col(idCol), explode_outer(TextOps.shingles(col(textCol), shingleN)).as("sh"))
      .join(broadcast(probeDf), Seq("sh"), "left_semi")
      .select(idCol).distinct()
  }

  def contaminatedIdsSql(table: String, idCol: String, textCol: String,
                         probe: Seq[String], shingleN: Int = 3): String = {
    val list = probe.map(p => s"'${p.replace("'", "''")}'").mkString("[", ",", "]")
    s"""SELECT DISTINCT ${idCol} FROM ${table}
        WHERE list_has_any(${TextOps.shinglesSql(textCol, shingleN)}, ${list})"""
  }

  /** Graded contamination: per-document FRACTION of distinct word
    * n-grams that appear in the probe set — the thresholdable version of
    * [[contaminatedIds]] (a one-shingle brush vs a verbatim inclusion
    * score very different treatments deserve). Counts are distinct-
    * shingle integers; the fraction is one exact IEEE division, so the
    * whole row oracle-compares. Same plan as contaminatedIds: explode,
    * broadcast-probe membership, per-doc aggregate — no shingle arrays
    * in any exchange. Output: (idCol, n_shingles, n_hit, frac). */
  def contaminationFraction(df: DataFrame, idCol: String, textCol: String,
                            probe: Seq[String], shingleN: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val probeDf = probe.toDF("sh").distinct()
    val sh = df.select(col(idCol),
        explode_outer(TextOps.shingles(col(textCol), shingleN)).as("sh"))
      .filter(col("sh").isNotNull).distinct()
    val agg = sh.join(broadcast(probeDf.withColumn("__hit", lit(1L))), Seq("sh"), "left_outer")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hit"))
    df.select(col(idCol)).join(agg, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        when(coalesce(col("n_shingles"), lit(0L)) === 0, lit(0.0d))
          .otherwise(col("n_hit").cast("double") / col("n_shingles")).as("frac"))
  }

  def contaminationFractionSql(table: String, idCol: String, textCol: String,
                               probe: Seq[String], shingleN: Int = 3): String = {
    val list = probe.distinct.map(p => s"'${p.replace("'", "''")}'").mkString("[", ",", "]")
    s"""WITH __sh AS (
          SELECT DISTINCT ${idCol}, sh FROM (
            SELECT ${idCol}, unnest(${TextOps.shinglesSql(textCol, shingleN)}) AS sh
            FROM ${table})
          WHERE sh IS NOT NULL),
        __agg AS (
          SELECT ${idCol}, count(*) AS n_shingles,
                 sum(CASE WHEN list_contains(${list}, sh) THEN 1 ELSE 0 END)::BIGINT AS n_hit
          FROM __sh GROUP BY ${idCol})
        SELECT d.${idCol}, coalesce(a.n_shingles, 0) AS n_shingles,
               coalesce(a.n_hit, 0) AS n_hit,
               CASE WHEN coalesce(a.n_shingles, 0) = 0 THEN 0.0
                    ELSE a.n_hit::DOUBLE / a.n_shingles END AS frac
        FROM ${table} d LEFT JOIN __agg a USING (${idCol})"""
  }

  /** Top-k characteristic terms per document, TF-IDF-style but projected
    * onto integers so it is exactly engine-comparable (a float ln() would
    * differ in the last ulp across libm implementations): rank within each
    * doc by term frequency desc, then CORPUS document-frequency asc (for
    * equal tf the rarer term carries more information — the idf ordering),
    * then term. Plan: one tf aggregation, one df aggregation derived from
    * it (map-side combinable), a broadcast-or-shuffle join back, one
    * window per doc. */
  def topTermsPerDoc(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val tf = df.select(col(idCol).as("doc"), explode(TextOps.tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("doc", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df")) // tf rows are unique per (doc, term)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc").orderBy(col("tf").desc, col("df").asc, col("term"))
    tf.join(dfreq, "term")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc").as(idCol), col("term"), col("tf"), col("df"), col("rank"))
  }

  def topTermsPerDocSql(table: String, idCol: String, textCol: String, k: Int): String =
    s"""SELECT doc AS ${idCol}, term, tf, df, rank FROM (
          SELECT doc, term, tf, df,
                 row_number() OVER (PARTITION BY doc ORDER BY tf DESC, df ASC, term) AS rank
          FROM (
            SELECT doc, term, tf, count(*) OVER (PARTITION BY term) AS df FROM (
              SELECT doc, term, count(*) AS tf FROM (
                SELECT ${idCol} AS doc, unnest(${TextOps.tokensSql(textCol)}) AS term
                FROM ${table})
              WHERE length(term) > 0 GROUP BY doc, term)))
        WHERE rank <= ${k}"""

  /** KMV (k-minimum-values) distinct-count sketch over the u60 hash:
    * estimate = (k-1) · 2^60 / kth-smallest-hash. Unlike HLL the sketch is
    * DETERMINISTIC given the shared hash, so the estimate itself is
    * engine-comparable — and the k-minimum set is mergeable (union then
    * re-take k), the property that makes it a one-pass distributed sketch
    * at corpus scale. Exact count returned below k. Output: (kth, est). */
  def kmvDistinct(df: DataFrame, valueCol: String, k: Int): DataFrame = {
    require(k >= 2, "kmvDistinct: k must be >= 2")
    import graft.generators.Gen
    df.select(Gen.u60(col(valueCol), "kmv").as("h"))
      .where(col("h").isNotNull).distinct()
      .orderBy("h").limit(k)
      .agg(max("h").as("kth"), count(lit(1)).as("n"))
      .select(col("kth"),
        when(col("n") < k, col("n").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(Gen.U60Max.toDouble) /
            col("kth").cast("double")).as("est"))
  }

  def kmvDistinctSql(table: String, valueCol: String, k: Int): String = {
    import graft.generators.{Gen, OracleGen}
    val h = OracleGen.u60(valueCol, "kmv")
    s"""SELECT kth, CASE WHEN n < ${k} THEN n::DOUBLE
          ELSE ${(k - 1).toDouble} * ${Gen.U60Max.toDouble} / kth::DOUBLE END AS est
        FROM (
          SELECT max(h) AS kth, count(*) AS n FROM (
            SELECT DISTINCT ${h} AS h FROM ${table} WHERE (${valueCol}) IS NOT NULL
            ORDER BY h LIMIT ${k}))"""
  }

  /** Pairwise source-overlap estimation: the Jaccard similarity between
    * each pair of sources' shingle sets, estimated by per-source MinHash
    * sketches — the "how redundant are my sources?" curation signal that
    * decides whether two crawls/snapshots are worth keeping both of.
    *
    * Per source, the element-wise minimum of its docs' 2·`nDigests`
    * native signature streams IS the source's own MinHash signature
    * (min of per-doc minima = min over the source's shingle union), so
    * one fused per-doc pass + one map-side-combinable min-aggregate
    * produces a (sources × streams) relation of fixed size. Pairs then
    * come from an EQUI-join on (stream, min-value) — two sources match
    * on a stream iff they agree on its minimum — never a source×source
    * cross product; sim_est = matching streams / streams (the classic
    * unbiased estimator, exact n/2^k double). Pairs sharing zero
    * streams (est 0) are absent from the output by construction, in
    * both engines.
    *
    * Scale shape: the corpus-sized part is one narrow signature pass;
    * everything after operates on sources·streams rows. */
  def sourceOverlapMinhash(df: DataFrame, groupCol: String, textCol: String,
                           nDigests: Int = 16, shingleN: Int = 3): DataFrame = {
    val m = 2 * nDigests
    // scan-width hygiene (r18): the 16-digest signature pass is the
    // corpus-sized cost here and serializes behind a narrow scan — same
    // rationale as Dedup.minhashLsh's widen; no-op at scale
    val sig = graft.plans.Parallelism
      .widen(df.select(col(groupCol), col(textCol)))
      .select(col(groupCol).as("g"),
        TextOps.minhashSignatureFromText(col(textCol), shingleN, nDigests).as("sig"))
    val aggs = (0 until m).map(i => min(element_at(col("sig"), i + 1)).as(s"m$i"))
    val mins = sig.groupBy("g").agg(aggs.head, aggs.tail: _*)
    val entries = mins
      .select(col("g"), posexplode(array((0 until m).map(i => col(s"m$i")): _*))
        .as(Seq("stream", "v")))
      .filter(col("v").isNotNull)
    entries.as("a").join(entries.as("b"),
        col("a.stream") === col("b.stream") && col("a.v") === col("b.v") &&
          col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("src_a"), col("b.g").as("src_b"))
      .agg(count(lit(1)).as("n_match"))
      .select(col("src_a"), col("src_b"), col("n_match"),
        (col("n_match").cast("double") / m).as("sim_est"))
  }

  def sourceOverlapMinhashSql(table: String, groupCol: String, textCol: String,
                              nDigests: Int = 16, shingleN: Int = 3): String = {
    val m = 2 * nDigests
    val sh = TextOps.shinglesSql(textCol, shingleN)
    val minCols = (0 until m).map(i => s"min(${TextOps.minhashSql(sh, i)}) AS m$i")
    s"""WITH mins AS (
          SELECT ${groupCol} AS g, ${minCols.mkString(", ")}
          FROM ${table} GROUP BY ${groupCol}),
        ent AS (
          SELECT g, unnest(range(0, ${m})) AS stream,
                 unnest([${(0 until m).map(i => s"m$i").mkString(", ")}]) AS v
          FROM mins),
        ent2 AS (SELECT * FROM ent WHERE v IS NOT NULL)
        SELECT a.g AS src_a, b.g AS src_b, count(*) AS n_match,
               (count(*)::DOUBLE / ${m}) AS sim_est
        FROM ent2 a JOIN ent2 b
          ON a.stream = b.stream AND a.v = b.v AND a.g < b.g
        GROUP BY a.g, b.g"""
  }

  /** CCNet-style boilerplate removal: drop every line that appears in at
    * least `minDocs` DISTINCT documents (nav bars, cookie banners, footers
    * — the lines whose very repetition marks them as template, not
    * content), preserving each survivor's original line order.
    *
    * Scale shape: the corpus-wide line frequency shuffles
    * `(sha256(line), id)` pairs — a fixed 32-byte digest per occurrence,
    * never the line text (boilerplate lines are often KB-sized) — and the
    * common-line set is usually tiny (only lines repeated across
    * `minDocs`+ docs qualify), so AQE broadcasts the anti-join build side;
    * no explicit hint, so a pathological corpus (minDocs=2 over mass
    * duplicates) degrades to a shuffled anti-join on the digest instead of
    * an OOM. The only shuffle that carries text is the final per-doc
    * reassembly, which is the output itself. Empty/whitespace lines are
    * never counted as boilerplate (they'd always cross the threshold) and
    * pass through.
    *
    * Output: (idCol, clean_text) — one row per input doc; a doc whose
    * every line was boilerplate comes back as ''. */
  def removeBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
                             minDocs: Int): DataFrame = {
    require(minDocs >= 2, "removeBoilerplateLines: minDocs must be >= 2")
    // NOT widened (r18 measured negative, same-host A/B: 1.18 s ->
    // 1.54 s): line-split + sha256 over a handful of lines per doc is
    // too light to amortize the redistribution exchange
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol), "\n", -1)).as(Seq("pos", "line")))
    val common = lines.filter(length(trim(col("line"))) > 0)
      .select(sha2(col("line"), 256).as("lh"), col(idCol)).distinct()
      .groupBy("lh").agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") >= minDocs)
      .select("lh")
    val kept = lines.join(common,
      sha2(col("line"), 256) === common("lh"), "left_anti")
    val rebuilt = kept.groupBy(idCol)
      .agg(concat_ws("\n",
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line"))).as("clean_text"))
    df.select(col(idCol)).join(rebuilt, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** DuckDB rendering of [[removeBoilerplateLines]] over an (id, text)
    * producing subquery. Raw line equality replaces the digest grouping —
    * same result barring a sha256 collision. `textCol` mirrors the Scala
    * operator's parameter so a differently-named text column can't drift
    * between query and oracle. */
  def removeBoilerplateLinesSql(docsSql: String, idCol: String,
                                minDocs: Int, textCol: String = "text"): String =
    s"""WITH __docs AS (${docsSql}),
        __lines AS (
          SELECT ${idCol}, pos, ls[pos] AS line FROM (
            SELECT ${idCol}, unnest(generate_series(1, len(ls))) AS pos, ls
            FROM (SELECT ${idCol}, string_split(${textCol}, chr(10)) AS ls FROM __docs))),
        __common AS (
          SELECT line FROM (
            SELECT line, count(DISTINCT ${idCol}) AS doc_freq FROM __lines
            WHERE trim(line) <> '' GROUP BY line)
          WHERE doc_freq >= ${minDocs}),
        __agg AS (
          SELECT ${idCol}, string_agg(line, chr(10) ORDER BY pos) AS ct
          FROM __lines WHERE line NOT IN (SELECT line FROM __common)
          GROUP BY ${idCol})
        SELECT d.${idCol}, coalesce(a.ct, '') AS clean_text
        FROM __docs d LEFT JOIN __agg a USING (${idCol})"""

  /** Per-document unigram corpus-frequency stats — the fluency signal a
    * unigram language model gives, projected onto INTEGERS so it is
    * exactly engine-comparable (a float log-prob would differ in the last
    * ulp across libm implementations): `sum_freq`/`n_tokens` is the doc's
    * mean token corpus frequency (high = common fluent words, low =
    * gibberish/OOV-heavy), `min_freq` its rarest token (1 = contains a
    * corpus hapax). Callers derive the real log-prob downstream:
    * ln(freq/corpus_total) per token.
    *
    * Plan: the token explode feeds one map-side-combinable vocab
    * aggregate; the join back is vocab-sized (distinct tokens — Zipf-small
    * next to the corpus, AQE broadcasts it) and the per-doc aggregate
    * combines map-side. Raw tokens shuffle only as (doc, token) pairs for
    * the final aggregate; the corpus-sized intermediate is never cached.
    *
    * Output: (idCol, n_tokens, sum_freq, min_freq); token-less docs keep
    * n_tokens = 0 with NULL freqs. */
  def unigramStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // NOT widened (r18 measured negative, same-host A/B: 1.01 s ->
    // 1.50 s) — tokenize-only per-row work; widen() only pays where the
    // serialized stage is hash-kernel-heavy (see Curation.bigramCrossEntropy)
    val toks = df.select(col(idCol), explode(TextOps.tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("corpus_freq"))
    val agg = toks.join(vocab, "token")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum("corpus_freq").as("sum_freq"),
        min("corpus_freq").as("min_freq"))
    df.select(col(idCol)).join(agg, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("sum_freq"), col("min_freq"))
  }

  /** Per-document n-gram novelty: of a doc's DISTINCT word bigrams, how
    * many appear in no other document — the curation signal that
    * separates template/echoed text (low novelty) from original content,
    * as exact integers (`n_novel / n_bigrams` is the novelty fraction).
    * Same plan shape as [[unigramStats]]: one map-side-combinable
    * doc-frequency aggregate over (id, bigram) pairs, Zipf-small join
    * back, per-doc count. */
  def bigramNovelty(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bgs = df.select(col(idCol),
        explode_outer(TextOps.shingles(col(textCol), 2)).as("bg"))
      .filter(col("bg").isNotNull)
      .distinct()
    val dfreq = bgs.groupBy("bg").agg(count(lit(1)).as("doc_freq"))
    val agg = bgs.join(dfreq, "bg")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("doc_freq") === 1, 1L).otherwise(0L)).as("n_novel"))
    df.select(col(idCol)).join(agg, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
  }

  def bigramNoveltySql(table: String, idCol: String, textCol: String): String =
    s"""WITH __bgs AS (
          SELECT DISTINCT ${idCol}, bg FROM (
            SELECT ${idCol}, unnest(${TextOps.shinglesSql(textCol, 2)}) AS bg
            FROM ${table})),
        __dfreq AS (SELECT bg, count(*) AS doc_freq FROM __bgs GROUP BY bg),
        __agg AS (
          SELECT ${idCol}, count(*) AS n_bigrams,
                 sum(CASE WHEN doc_freq = 1 THEN 1 ELSE 0 END)::BIGINT AS n_novel
          FROM __bgs JOIN __dfreq USING (bg) GROUP BY ${idCol})
        SELECT d.${idCol}, coalesce(a.n_bigrams, 0) AS n_bigrams,
               coalesce(a.n_novel, 0) AS n_novel
        FROM ${table} d LEFT JOIN __agg a USING (${idCol})"""

  /** Per-group length-outlier flags — "drop the shortest 5% and longest
    * 5% per language" without a float percentile: the cutoffs are RANKS
    * (`n·loPct/100` and `n·hiPct/100`, integer division), so the output is
    * exact in any engine and deterministic (rank orders by (len, id)).
    * One window shuffle on the group key; a giant group streams through
    * its window sorted, nothing materializes per group.
    *
    * Output: (idCol, groupCol, lenCol, rank, n, is_outlier). */
  def lengthOutliers(df: DataFrame, idCol: String, groupCol: String,
                     lenCol: String, loPct: Int, hiPct: Int): DataFrame = {
    require(0 <= loPct && loPct < hiPct && hiPct <= 100,
      "lengthOutliers: need 0 <= loPct < hiPct <= 100")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col(lenCol), col(idCol))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
    df.select(col(idCol), col(groupCol), col(lenCol))
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("is_outlier",
        col("rank") <= expr(s"n * $loPct div 100") ||
          col("rank") > expr(s"n * $hiPct div 100"))
  }

  /** Per-source corpus report card — the "which sources earn their keep"
    * dashboard: doc/token volume, exact-duplicate pressure (distinct
    * content hashes vs docs), quality-gate pass counts, aggregate alpha
    * fraction, and language spread, in ONE map-side-combinable aggregate
    * (+ the two-phase distinct counts). Every column is engine-exact:
    * counts are integers, and the alpha fractions — exact IEEE divisions,
    * bit-identical across engines — are floored to nano-units per doc so
    * their SUM is order-free. Output: (groupCol, n_docs, n_tokens,
    * n_distinct_texts, n_quality_pass, sum_alpha_nano, n_langs). */
  def sourceQualityReport(df: DataFrame, groupCol: String, textCol: String,
                          langCol: String): DataFrame =
    df.groupBy(groupCol).agg(
      count(lit(1)).as("n_docs"),
      sum(TextOps.tokenCount(col(textCol))).cast("long").as("n_tokens"),
      countDistinct(sha2(col(textCol), 256)).as("n_distinct_texts"),
      sum(when(TextOps.gopherKeep(col(textCol)), 1L).otherwise(0L)).as("n_quality_pass"),
      sum(floor(TextOps.alphaFrac(col(textCol)) * lit(1e9) + lit(0.5)).cast("long"))
        .as("sum_alpha_nano"),
      countDistinct(col(langCol)).as("n_langs"))

  def sourceQualityReportSql(table: String, groupCol: String, textCol: String,
                             langCol: String): String =
    s"""SELECT ${groupCol}, count(*) AS n_docs,
          sum(${TextOps.tokenCountSql(textCol)})::BIGINT AS n_tokens,
          count(DISTINCT sha256(${textCol})) AS n_distinct_texts,
          sum(CASE WHEN ${TextOps.gopherKeepSql(textCol)} THEN 1 ELSE 0 END)::BIGINT
            AS n_quality_pass,
          sum(floor(${TextOps.alphaFracSql(textCol)} * 1e9 + 0.5)::BIGINT)::BIGINT
            AS sum_alpha_nano,
          count(DISTINCT ${langCol}) AS n_langs
        FROM ${table} GROUP BY ${groupCol}"""

  /** Robust per-group outlier flags via median absolute deviation — the
    * distribution-free cousin of z-scoring ("drop docs whose length is
    * wildly atypical FOR THEIR LANGUAGE"), immune to the outliers it
    * hunts, unlike a mean/stddev rule. Everything is exact integers in
    * any engine: both medians are RANK-based lower medians (the row at
    * rank (n+1) div 2 ordered by (value, id)), deviations are absolute
    * differences, and the flag is `dev > k * max(mad, 1)` (the max
    * guards the degenerate all-equal group where mad = 0).
    *
    * Scale shape: two window passes over the group key (a giant group
    * streams through its sorted window) and two group-row-sized median
    * joins that AQE broadcasts; nothing materializes per group.
    * Output: (idCol, groupCol, valueCol, med, mad, is_outlier). */
  def madOutliers(df: DataFrame, idCol: String, groupCol: String,
                  valueCol: String, k: Int = 3): DataFrame = {
    require(k >= 1, "madOutliers: k must be >= 1")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(groupCol)
    def lowerMedian(in: DataFrame, vCol: String, out: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(groupCol).orderBy(col(vCol), col(idCol))
      in.withColumn("__rk", row_number().over(w))
        .withColumn("__n", count(lit(1)).over(wAll))
        .filter(col("__rk") === expr("(__n + 1) div 2"))
        .select(col(groupCol), col(vCol).as(out))
    }
    val base = df.select(col(idCol), col(groupCol), col(valueCol))
    val med = lowerMedian(base, valueCol, "med")
    val dev = base.join(med, groupCol)
      .withColumn("__dev", abs(col(valueCol) - col("med")))
    val mad = lowerMedian(dev, "__dev", "mad")
    dev.join(mad, groupCol)
      .select(col(idCol), col(groupCol), col(valueCol), col("med"), col("mad"),
        (col("__dev") > lit(k) * greatest(col("mad"), lit(1L))).as("is_outlier"))
  }

  def madOutliersSql(table: String, idCol: String, groupCol: String,
                     valueCol: String, k: Int = 3): String =
    s"""WITH base AS (SELECT ${idCol}, ${groupCol}, ${valueCol} FROM ${table}),
        med AS (
          SELECT ${groupCol}, ${valueCol} AS med FROM (
            SELECT ${groupCol}, ${valueCol},
                   row_number() OVER (PARTITION BY ${groupCol}
                     ORDER BY ${valueCol}, ${idCol}) AS __rk,
                   count(*) OVER (PARTITION BY ${groupCol}) AS __wn
            FROM base)
          WHERE __rk = (__wn + 1) // 2),
        dev AS (
          SELECT b.${idCol}, b.${groupCol}, b.${valueCol}, m.med,
                 abs(b.${valueCol} - m.med) AS d
          FROM base b JOIN med m USING (${groupCol})),
        mad AS (
          SELECT ${groupCol}, d AS mad FROM (
            SELECT ${groupCol}, d,
                   row_number() OVER (PARTITION BY ${groupCol}
                     ORDER BY d, ${idCol}) AS __rk,
                   count(*) OVER (PARTITION BY ${groupCol}) AS __wn
            FROM dev)
          WHERE __rk = (__wn + 1) // 2)
        SELECT dev.${idCol}, dev.${groupCol}, dev.${valueCol}, dev.med, mad.mad,
               (dev.d > ${k} * greatest(mad.mad, 1)) AS is_outlier
        FROM dev JOIN mad USING (${groupCol})"""

  def lengthOutliersSql(table: String, idCol: String, groupCol: String,
                        lenCol: String, loPct: Int, hiPct: Int): String =
    s"""SELECT ${idCol}, ${groupCol}, ${lenCol}, rank, n,
          (rank <= n * ${loPct} // 100 OR rank > n * ${hiPct} // 100) AS is_outlier
        FROM (
          SELECT ${idCol}, ${groupCol}, ${lenCol},
                 row_number() OVER (PARTITION BY ${groupCol}
                   ORDER BY ${lenCol}, ${idCol}) AS rank,
                 count(*) OVER (PARTITION BY ${groupCol}) AS n
          FROM ${table})"""

  def unigramStatsSql(table: String, idCol: String, textCol: String): String =
    s"""WITH __toks AS (
          SELECT ${idCol}, token FROM (
            SELECT ${idCol}, unnest(${TextOps.tokensSql(textCol)}) AS token
            FROM ${table})
          WHERE length(token) > 0),
        __vocab AS (SELECT token, count(*) AS corpus_freq FROM __toks GROUP BY token),
        __agg AS (
          SELECT ${idCol}, count(*) AS n_tokens,
                 sum(corpus_freq)::BIGINT AS sum_freq, min(corpus_freq) AS min_freq
          FROM __toks JOIN __vocab USING (token) GROUP BY ${idCol})
        SELECT d.${idCol}, coalesce(a.n_tokens, 0) AS n_tokens, a.sum_freq, a.min_freq
        FROM ${table} d LEFT JOIN __agg a USING (${idCol})"""

  // ---------------------------------------------------------------------
  // Per-group exact quantiles
  // ---------------------------------------------------------------------

  /** Exact per-group quantiles of a numeric column — the distribution
    * view behind "did source X's length profile drift?" that the scalar
    * means in [[sourceQualityReport]] can't show. Lower-quantile
    * convention: the value at rank ceil(n·p/100) — pure integer rank
    * math, no interpolation, so the output is exact and engine-identical
    * (same discipline as the MAD and length-outlier ops).
    *
    * Scale shape: one rank window per group (the canonical exact-quantile
    * sort; approximate sketches trade this away, exactness keeps it) and
    * a literal-array explode of the requested percentiles — rows×|qs|
    * never leaves the group's partition before the final filter. */
  def groupQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                     pcts: Seq[Int] = Seq(10, 25, 50, 75, 90, 100)): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      "groupQuantiles: percentiles in [1,100]")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(valueCol)
    // internal aliases are __-reserved so a value column literally named
    // "n"/"rk" is not captured (mirrors the __-reserved SQL rendering)
    df.select(col(groupCol), col(valueCol))
      .withColumn("__rk", row_number().over(w))
      .withColumn("__wn", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(groupCol)))
      .select(col(groupCol), col(valueCol), col("__rk"), col("__wn"),
        explode(array(pcts.map(lit): _*)).as("pct"))
      .filter(col("__rk") === expr("(__wn * pct + 99) div 100"))
      .select(col(groupCol), col("pct"), col(valueCol).as("value"))
  }

  def groupQuantilesSql(table: String, groupCol: String, valueCol: String,
                        pcts: Seq[Int] = Seq(10, 25, 50, 75, 90, 100)): String =
    // internal aliases are __-reserved so a value column named "n"/"rk"
    // cannot capture them (the madOutliersSql alias-capture lesson)
    s"""SELECT ${groupCol}, pct, ${valueCol} AS value FROM (
          SELECT ${groupCol}, ${valueCol}, __rk, __wn, unnest([${pcts.mkString(", ")}]) AS pct
          FROM (
            SELECT ${groupCol}, ${valueCol},
                   row_number() OVER (PARTITION BY ${groupCol} ORDER BY ${valueCol}) AS __rk,
                   count(*) OVER (PARTITION BY ${groupCol}) AS __wn
            FROM ${table}))
        WHERE __rk = (__wn * pct + 99) // 100"""

  /** Jensen–Shannon divergence between two corpora's unigram
    * distributions — the drift statistic behind "did the crawl change
    * under me": 0 = identical token mix, ln(2) ≈ 0.693e9 nano = disjoint
    * vocabularies. Exact integer rendering: with c1/N1 and c2/N2 the
    * per-token probabilities,
    *
    *   p/m = 2·c1·N2 / (c1·N2 + c2·N1)
    *
    * so each token's log-ratio is a difference of [[Curation.lnNano]]
    * integers, weighted sums run in DECIMAL(38,0), and the final
    * normalization is one integral division per side — no floats
    * anywhere, so the statistic hash-compares. Zero-count tokens
    * contribute only to the side that has them (p·ln(p/m) -> 0 as
    * p -> 0, the standard JS convention).
    *
    * Scale shape: two map-side-combinable Zipf-small freq aggregates,
    * one full-outer join on the token vocab, a 1-row reduction. */
  def jsDivergence(a: DataFrame, b: DataFrame, textCol: String): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    def freqs(df: DataFrame, out: String) =
      df.select(explode(TextOps.tokens(col(textCol))).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy("token").agg(count(lit(1)).as(out))
    val fa = freqs(a, "c1")
    val fb = freqs(b, "c2")
    val joined = fa.join(fb, Seq("token"), "full_outer")
      .select(col("token"), coalesce(col("c1"), lit(0L)).as("c1"),
        coalesce(col("c2"), lit(0L)).as("c2"))
    val totals = joined.agg(sum("c1").as("n1"), sum("c2").as("n2")).head()
    val (n1, n2) = (totals.getLong(0), totals.getLong(1))
    require(n1 > 0 && n2 > 0, "jsDivergence: both corpora need tokens")
    val mix = col("c1") * lit(n2) + col("c2") * lit(n1)
    def side(c: Column, n: Long): Column =
      sum(when(c > 0,
        c.cast(d38) * (Curation.lnNano(c * lit(2L) * lit(if (n == n1) n2 else n1)) -
          Curation.lnNano(mix)).cast(d38))
        .otherwise(lit(0L).cast(d38)))
    // each side is a KL(p||m) >= 0; clamp at 0 so a sub-nano quantization
    // wobble on near-identical corpora can't turn flooring vs truncating
    // division into a cross-engine off-by-one
    joined.agg(side(col("c1"), n1).as("s1"), side(col("c2"), n2).as("s2"))
      .select(greatest(col("s1"), lit(0).cast(d38)).as("s1"),
        greatest(col("s2"), lit(0).cast(d38)).as("s2"))
      .select(lit(n1).as("n_a"), lit(n2).as("n_b"),
        (expr(s"(s1 div ${2L * n1})") + expr(s"(s2 div ${2L * n2})"))
          .cast("long").as("js_nano"))
  }

  def jsDivergenceSql(aSql: String, bSql: String, textCol: String): String = {
    s"""WITH fa AS (
          SELECT token, count(*)::BIGINT AS c1 FROM (
            SELECT unnest(${TextOps.tokensSql(textCol)}) AS token FROM (${aSql}))
          WHERE length(token) > 0 GROUP BY token
        ), fb AS (
          SELECT token, count(*)::BIGINT AS c2 FROM (
            SELECT unnest(${TextOps.tokensSql(textCol)}) AS token FROM (${bSql}))
          WHERE length(token) > 0 GROUP BY token
        ), j AS (
          SELECT coalesce(c1, 0) AS c1, coalesce(c2, 0) AS c2
          FROM fa FULL OUTER JOIN fb USING (token)
        ), t AS (
          SELECT sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2 FROM j
        ), s AS (
          SELECT
            sum(CASE WHEN c1 > 0 THEN c1::HUGEINT *
              (${Curation.lnNanoSql("c1 * 2 * t.n2")} - ${Curation.lnNanoSql("c1 * t.n2 + c2 * t.n1")})::HUGEINT
              ELSE 0 END) AS s1,
            sum(CASE WHEN c2 > 0 THEN c2::HUGEINT *
              (${Curation.lnNanoSql("c2 * 2 * t.n1")} - ${Curation.lnNanoSql("c1 * t.n2 + c2 * t.n1")})::HUGEINT
              ELSE 0 END) AS s2,
            any_value(t.n1) AS n1, any_value(t.n2) AS n2
          FROM j CROSS JOIN t
        )
        SELECT n1 AS n_a, n2 AS n_b,
          ((greatest(s1, 0::HUGEINT) // (2 * n1)) +
           (greatest(s2, 0::HUGEINT) // (2 * n2)))::BIGINT AS js_nano
        FROM s"""
  }

  /** Top-k bigram collocations by pointwise mutual information — the
    * "which word pairs belong together" corpus-analysis signal (tokenizer
    * vocab curation, multi-word-expression mining):
    *
    *   pmi(a,b) = ln( p(a,b) / (p(a)·p(b)) )
    *            = ln f(a,b) − ln T₂ + 2·ln T₁ − ln f(a) − ln f(b)
    *
    * in integer nano-nats ([[Curation.lnNano]] per term — the exact
    * cross-engine discipline of the xent ops). `minCount` drops the
    * low-support pairs whose PMI is inflated by rarity.
    *
    * Scale shape: ONE corpus pass — unigrams and bigrams fuse into a
    * single gram stream (disjoint by construction: tokens cannot contain
    * the space a bigram always has) feeding one map-side-combinable
    * aggregate whose result is Zipf-small. That small relation is
    * materialized (registered with [[graft.plans.Checkpoints]]) with the
    * totals riding its checkpoint job, so the two self-joins below it
    * never re-run the corpus explode; the final top-k is an
    * `orderBy(...).limit(k)` → TakeOrderedAndProject, never a global
    * sort. */
  def pmiCollocations(df: DataFrame, textCol: String,
                      minCount: Int = 5, k: Int = 50): DataFrame = {
    import graft.llm.Curation.lnNano
    val grams = df.select(explode(concat(
        filter(TextOps.tokens(col(textCol)), t => length(t) > lit(0)),
        filter(TextOps.shingles(col(textCol), 2), b =>
          length(split_part(b, lit(" "), lit(1))) > 0 &&
            length(split_part(b, lit(" "), lit(2))) > 0))).as("g"))
    val isBigram = col("g").contains(" ")
    val (freqs, tot) = graft.plans.Checkpoints.materialize(
      grams.groupBy("g").agg(count(lit(1)).as("f")),
      sum(when(isBigram, col("f"))), sum(when(!isBigram, col("f"))))
    val (tb, tu) = (tot.getLong(1), tot.getLong(2))
    def lnNanoL(x: Long): Long = math.floor(math.log(x.toDouble) * 1e9 + 0.5).toLong
    val uni = freqs.filter(!isBigram)
    val cand = freqs.filter(isBigram && col("f") >= minCount)
      .select(col("g").as("bg"), col("f").as("fb"),
        split_part(col("g"), lit(" "), lit(1)).as("w1"),
        split_part(col("g"), lit(" "), lit(2)).as("w2"))
    cand
      .join(broadcast(uni.select(col("g").as("w1"), col("f").as("f1"))), "w1")
      .join(broadcast(uni.select(col("g").as("w2"), col("f").as("f2"))), "w2")
      .select(col("bg"), col("fb"),
        (lnNano(col("fb")) - lit(lnNanoL(tb)) + lit(2L * lnNanoL(tu)) -
          lnNano(col("f1")) - lnNano(col("f2"))).as("pmi_nano"))
      .orderBy(desc("pmi_nano"), col("bg"))
      .limit(k)
  }

  def pmiCollocationsSql(table: String, textCol: String,
                         minCount: Int = 5, k: Int = 50): String = {
    import graft.llm.Curation.lnNanoSql
    s"""WITH __grams AS (
          SELECT unnest(list_concat(
            list_filter(${TextOps.tokensSql(textCol)}, t -> length(t) > 0),
            list_filter(${TextOps.shinglesSql(textCol, 2)}, b ->
              length(split_part(b, ' ', 1)) > 0 AND
              length(split_part(b, ' ', 2)) > 0))) AS g
          FROM ${table}),
        __freqs AS (SELECT g, count(*)::BIGINT AS f FROM __grams GROUP BY g),
        __tot AS (
          SELECT sum(CASE WHEN contains(g, ' ') THEN f END)::BIGINT AS tb,
                 sum(CASE WHEN NOT contains(g, ' ') THEN f END)::BIGINT AS tu
          FROM __freqs),
        __cand AS (
          SELECT g AS bg, f AS fb,
                 split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2
          FROM __freqs WHERE contains(g, ' ') AND f >= ${minCount})
        SELECT bg, fb,
               (${lnNanoSql("fb")} - (SELECT ${lnNanoSql("tb")} FROM __tot)
                + 2 * (SELECT ${lnNanoSql("tu")} FROM __tot)
                - ${lnNanoSql("u1.f")} - ${lnNanoSql("u2.f")}) AS pmi_nano
        FROM __cand
        JOIN __freqs u1 ON u1.g = __cand.w1
        JOIN __freqs u2 ON u2.g = __cand.w2
        ORDER BY pmi_nano DESC, bg LIMIT ${k}"""
  }

  // ---------------------------------------------------------------------
  // Corpus snapshot diff (incremental-pipeline CDC)
  // ---------------------------------------------------------------------

  /** Diff two corpus snapshots by content digest: which docs were added,
    * removed, or changed between crawl/pipeline versions — the signal an
    * incremental training-data pipeline uses to reprocess only the delta
    * instead of re-running dedup/scoring over 100 TB.
    *
    * Scale shape: each side reduces IN THE SCAN to the fixed-width
    * (id, md5) projection, so the single id-keyed full-outer join — the
    * only shuffle — exchanges 48-byte rows, never text. Unchanged docs
    * (the overwhelming majority) are dropped by a post-join filter.
    * Output: (idCol, status ∈ added|removed|changed, old_digest,
    * new_digest). */
  def snapshotDiff(a: DataFrame, b: DataFrame, idCol: String, textCol: String): DataFrame = {
    // NULL text still digests to a sentinel: a present row must never be
    // classified added/removed because its digest went NULL
    val da = a.select(col(idCol).as("id"),
      coalesce(md5(col(textCol)), lit("__null__")).as("old_digest"))
    val db = b.select(col(idCol).as("id"),
      coalesce(md5(col(textCol)), lit("__null__")).as("new_digest"))
    da.join(db, Seq("id"), "full_outer")
      .withColumn("status",
        when(col("old_digest").isNull, lit("added"))
          .when(col("new_digest").isNull, lit("removed"))
          .when(col("old_digest") =!= col("new_digest"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col("id").as(idCol), col("status"), col("old_digest"), col("new_digest"))
  }

  /** DuckDB rendering; `a`/`b` are table expressions (subqueries allowed). */
  def snapshotDiffSql(a: String, b: String, idCol: String, textCol: String): String =
    s"""SELECT coalesce(o.id, n.id) AS ${idCol},
          CASE WHEN o.id IS NULL THEN 'added'
               WHEN n.id IS NULL THEN 'removed'
               WHEN o.old_digest <> n.new_digest THEN 'changed' END AS status,
          o.old_digest, n.new_digest
        FROM (SELECT ${idCol} AS id,
                     coalesce(md5(${textCol}), '__null__') AS old_digest
              FROM ${a} AS __sa) o
        FULL OUTER JOIN
             (SELECT ${idCol} AS id,
                     coalesce(md5(${textCol}), '__null__') AS new_digest
              FROM ${b} AS __sb) n
        ON o.id = n.id
        WHERE o.id IS NULL OR n.id IS NULL OR o.old_digest <> n.new_digest"""

  // ---------------------------------------------------------------------
  // Per-group heavy hitters
  // ---------------------------------------------------------------------

  /** Top-k most frequent tokens PER GROUP (per-source vocabulary heavy
    * hitters — the per-stream view of [[tokenTopK]], used to spot a
    * source whose token distribution drifted from the corpus).
    *
    * Scale shape: one map-side-combinable (group, token) aggregate; the
    * per-group top-k is a `row_number ≤ k` window that Spark runs with
    * WindowGroupLimit (per-partition partial limit before the per-group
    * sort), so the full vocabulary is never globally sorted. */
  def heavyHittersPerGroup(df: DataFrame, groupCol: String, textCol: String,
                           k: Int): DataFrame = {
    val counts = df.select(col(groupCol).as("grp"),
        explode(TextOps.tokens(col(textCol))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("grp", "token").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("grp").orderBy(col("n").desc, col("token").asc)
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("grp").as(groupCol), col("token"), col("n"), col("rank"))
  }

  def heavyHittersPerGroupSql(table: String, groupCol: String, textCol: String,
                              k: Int): String =
    s"""SELECT ${groupCol}, token, n, rank FROM (
          SELECT ${groupCol}, token, n,
                 row_number() OVER (PARTITION BY ${groupCol}
                                    ORDER BY n DESC, token ASC) AS rank
          FROM (
            SELECT ${groupCol}, token, count(*) AS n FROM (
              SELECT ${groupCol}, unnest(${TextOps.tokensSql(textCol)}) AS token
              FROM ${table})
            WHERE length(token) > 0 GROUP BY ${groupCol}, token))
        WHERE rank <= ${k}"""
}
