package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.generators.{Gen, OracleGen}

/** Text-pipeline primitives shared by dedup / analysis operators. All are
  * pure Catalyst expressions (split / transform / aggregate lambdas) with
  * value-identical DuckDB renderings, so every operator is oracle-checkable
  * and stays inside whole-stage codegen — no UDFs. Designed for 100 TB:
  * per-row expressions only (no shuffle), dedup joins are bucketed
  * (LSH band -> groupBy), never all-pairs.
  */
object TextOps {

  def tokens(text: Column): Column = split(text, " ")
  def tokensSql(text: String): String = s"string_split(${text}, ' ')"

  /** Canonical text normalization for dedup/training pipelines: lowercase,
    * strip non-alphanumerics to spaces, collapse runs, trim. RE2-safe so
    * the oracle renders identically. */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))
  def normalizeSql(text: String): String =
    s"trim(regexp_replace(regexp_replace(lower(${text}), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"

  /** Word n-gram shingles; empty array when the doc has fewer than n
    * tokens (guards Spark's descending-sequence pitfall). */
  def shingles(text: Column, n: Int): Column = {
    val ts = tokens(text)
    when(size(ts) >= n,
      transform(sequence(lit(0), size(ts) - n),
        i => concat_ws(" ", slice(ts, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }
  def shinglesSql(text: String, n: Int): String = {
    val ts = tokensSql(text)
    s"CASE WHEN len(${ts}) >= ${n} THEN " +
      s"list_transform(generate_series(0, len(${ts}) - ${n}), " +
      s"i -> array_to_string((${ts})[(i+1):(i+${n})], ' ')) " +
      s"ELSE [] END"
  }

  /** MinHash machinery. One md5 digest per shingle serves TWO independent
    * 60-bit streams (hex chars 1-15 and 16-30), so an 8-stream signature
    * costs 4 digests per shingle, not 8 — and the digest arrays are
    * materialized once per doc (see Dedup.minhashLsh) instead of being
    * recomputed inside every band expression. NULL when no shingles. */
  def shingleDigests(shingleArr: Column, j: Int, salt: String = Gen.Salt): Column =
    transform(shingleArr, s => md5(concat(lit(s"$salt/mh$j|"), s)))
  def shingleDigestsSql(shingleArr: String, j: Int, salt: String = Gen.Salt): String =
    s"list_transform(${shingleArr}, s -> md5('${salt}/mh${j}|' || s))"

  /** Min over the slot-th 60-bit slice of a digest array (slot 0 or 1). */
  def minhashFrom(digests: Column, slot: Int): Column =
    array_min(transform(digests, h =>
      conv(substring(h, 1 + slot * 15, 15), 16, 10).cast("long")))
  def minhashFromSql(digestsSql: String, slot: Int): String =
    s"list_min(list_transform(${digestsSql}, h -> ('0x' || substr(h, ${1 + slot * 15}, 15))::BIGINT))"

  /** Stream i = slot i%2 of digest i/2 — the canonical stream layout. */
  def minhash(shingleArr: Column, i: Int): Column =
    minhashFrom(shingleDigests(shingleArr, i / 2), i % 2)
  def minhashSql(shingleArr: String, i: Int): String =
    minhashFromSql(shingleDigestsSql(shingleArr, i / 2), i % 2)

  /** Native one-pass signature: array<long> of 2*nDigests minhash streams
    * (graft.expressions.MinHash60) — value-identical to the composed
    * form, one digest loop per shingle, no hex intermediates. */
  def minhashSignature(shingleArr: Column, nDigests: Int, salt: String = Gen.Salt): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.expressions.MinHash60(
        org.apache.spark.sql.GraftBridge.expression(shingleArr), salt, nDigests))

  /** Fused text -> tokens -> shingles -> signature (no shingle array
    * materialization; graft.expressions.MinHashShingle60). */
  def minhashSignatureFromText(text: Column, shingleN: Int, nDigests: Int,
                               salt: String = Gen.Salt): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.expressions.MinHashShingle60(
        org.apache.spark.sql.GraftBridge.expression(tokens(text)), shingleN, salt, nDigests))

  /** LSH band hash over `rows` consecutive minhash components starting at
    * `from` — the band -> bucket key (band-join, never crossJoin).
    * NULL-propagating on purpose: a shingle-less doc gets NULL bands and
    * is excluded from bucketing — otherwise every short doc would collide
    * into one md5("") bucket (a correctness bug AND a skew bomb at scale). */
  def bandHashFrom(minhashes: Seq[Column], from: Int, rows: Int): Column = {
    val parts = minhashes.slice(from, from + rows).map(_.cast("string"))
    md5(concat(parts.flatMap(p => Seq(p, lit(","))).dropRight(1): _*))
  }

  /** The MinHash-LSH band layout: `bands` band hashes over a signature
    * array of `bands·rowsPerBand` streams, band b hashing streams
    * [b·r, b·r + r). The signature must come from
    * [[minhashDigests]]`(bands, rowsPerBand)` digests. */
  def minhashBands(sig: Column, bands: Int, rowsPerBand: Int): Column = {
    val mh = (0 until bands * rowsPerBand).map(i => element_at(sig, i + 1))
    array((0 until bands).map(b => bandHashFrom(mh, b * rowsPerBand, rowsPerBand)): _*)
  }

  /** Digests per shingle a `bands`×`rowsPerBand` signature needs: each
    * digest serves two streams. */
  def minhashDigests(bands: Int, rowsPerBand: Int): Int = (bands * rowsPerBand + 1) / 2

  def bandHashSql(shingleArr: String, from: Int, rows: Int): String = {
    val parts = (from until from + rows).map(i => s"(${minhashSql(shingleArr, i)})::VARCHAR")
    s"md5(${parts.mkString(" || ',' || ")})"
  }

  /** `bits`-wide SimHash from one u60 per token: bit i set iff the sum
    * of (+1/-1) votes of bit i across token hashes is positive.
    *
    * Backed by the native fused [[graft.expressions.SimHashBits]] (one
    * digest + `bits` vote counters per token, single array pass);
    * [[simhashComposed]] is the value-identical built-in/HOF composition
    * kept as the equivalence witness. 60 bits is the dedup default —
    * 16-bit signatures give only 4x16 = 64 distinct band keys, capping
    * hamming-band join parallelism at 64 reducers and making bucket
    * sizes O(corpus/16): a skew cliff at cluster scale. */
  def simhashN(text: Column, bits: Int): Column =
    // coalesce mirrors the composed form's NULL swallow: NULL text makes
    // every vote accumulator NULL, and `when(votes > 0, _).otherwise(0)`
    // turns that into 0 — the oracle SQL (CASE ... ELSE 0) agrees.
    coalesce(
      org.apache.spark.sql.GraftBridge.column(
        graft.expressions.SimHashBits(
          org.apache.spark.sql.GraftBridge.expression(tokens(text)),
          Gen.Salt + "/sim|", bits)),
      lit(0L))

  def simhash16(text: Column): Column = simhashN(text, 16)
  def simhash60(text: Column): Column = simhashN(text, 60)

  /** Second INDEPENDENT 60-bit simhash stream (u60b tweak convention:
    * `sim#b`). Concatenated with [[simhash60]] it forms the 120-bit wide
    * signature that lifts the band-space saturation ceiling: 8×15-bit
    * bands give 8×32768 keys and pigeonhole coverage of hamming ≤ 7,
    * where the single 60-bit stream caps at 4 bands / hamming ≤ 3 and
    * ~32k buckets per band (saturating past ~1M distinct contents). */
  def simhash60b(text: Column): Column =
    coalesce(
      org.apache.spark.sql.GraftBridge.column(
        graft.expressions.SimHashBits(
          org.apache.spark.sql.GraftBridge.expression(tokens(text)),
          Gen.Salt + "/sim#b|", 60)),
      lit(0L))

  /** HOF-composed simhash (`bits` aggregate passes) — equivalence
    * witness for the native expression, exercised by SimHashExprSpec. */
  def simhashComposed(text: Column, bits: Int): Column = {
    val hs = transform(tokens(text), t => Gen.u60(t, "sim"))
    (0 until bits).map { i =>
      val votes = aggregate(hs, lit(0L),
        (acc, h) => acc + (shiftright(h, i).bitwiseAND(lit(1L)) * 2 - 1))
      when(votes > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }
  def simhash16Composed(text: Column): Column = simhashComposed(text, 16)

  def simhashNSql(text: String, bits: Int, tweak: String = "sim"): String = {
    val hs = s"list_transform(${tokensSql(text)}, t -> ${OracleGen.u60("t", tweak)})"
    (0 until bits).map { i =>
      val votes = s"list_sum(list_transform(${hs}, h -> ((h >> ${i}) & 1) * 2 - 1))"
      s"CASE WHEN ${votes} > 0 THEN ${1L << i} ELSE 0 END"
    }.mkString("(", " + ", ")")
  }
  def simhash16Sql(text: String): String = simhashNSql(text, 16)
  def simhash60Sql(text: String): String = simhashNSql(text, 60)
  def simhash60bSql(text: String): String = simhashNSql(text, 60, "sim#b")

  val Stopwords = Seq("the", "a", "an", "of", "and", "to", "in", "is", "it", "for", "on", "with")

  def tokenCount(text: Column): Column = size(tokens(text))
  def tokenCountSql(text: String): String = s"len(${tokensSql(text)})::INT"

  def stopwordCount(text: Column): Column =
    size(filter(tokens(text), t => t.isin(Stopwords: _*)))
  def stopwordCountSql(text: String): String = {
    val list = Stopwords.map(w => s"'$w'").mkString("[", ",", "]")
    s"len(list_filter(${tokensSql(text)}, t -> list_contains(${list}, t)))::INT"
  }

  /** Mean token length (chars). */
  def meanTokenLen(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, t) => acc + length(t)).cast("double") /
      greatest(tokenCount(text).cast("double"), lit(1.0))
  def meanTokenLenSql(text: String): String =
    s"(list_sum(list_transform(${tokensSql(text)}, t -> length(t)))::DOUBLE / " +
      s"greatest(${tokenCountSql(text)}::DOUBLE, 1.0))"

  /** Quality score in [0,1]: capped length component + stopword-ratio
    * component (reference-free heuristic; the *shape* a training-data
    * pipeline needs, SURVEY brief). Pure integer->double arithmetic, so
    * engine-portable. */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val stopRatio = stopwordCount(text).cast("double") / greatest(nTok, lit(1.0))
    least(nTok / lit(64.0), lit(1.0)) * lit(0.5) + least(stopRatio * 4, lit(1.0)) * lit(0.5)
  }
  def qualityScoreSql(text: String): String = {
    val nTok = s"${tokenCountSql(text)}::DOUBLE"
    val stopRatio = s"(${stopwordCountSql(text)}::DOUBLE / greatest(${nTok}, 1.0))"
    s"(least(${nTok} / 64.0, 1.0) * 0.5 + least(${stopRatio} * 4, 1.0) * 0.5)"
  }

  /** Within-doc repeated-line removal: keep the FIRST occurrence of every
    * line, preserving order — the per-row complement of
    * [[Corpus.removeBoilerplateLines]] (crawled pages repeat their own nav
    * blocks; dedup-within comes before corpus-level dedup in a CCNet-style
    * pipeline). Pure per-row higher-order-function expression — no
    * shuffle, no UDF, stays in codegen; O(lines²) per doc, bounded by doc
    * size. Mirrors exactly: Spark's `array_position` and DuckDB's
    * `list_position` both return 0 on miss. */
  def dedupLines(text: Column): Column = {
    val ls = split(text, "\n", -1)
    concat_ws("\n", filter(ls, (x, i) => array_position(slice(ls, lit(1), i), x) === 0))
  }
  def dedupLinesSql(text: String): String = {
    val ls = s"string_split(${text}, chr(10))"
    s"array_to_string(list_filter(${ls}, (x, i) -> list_position((${ls})[1:i-1], x) = 0), chr(10))"
  }

  /** Language-ID heuristic: argmax of per-language stopword hit counts
    * (n-gram/stopword heuristic; 'und' when nothing matches). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  def langId(text: Column): Column = {
    val ts = tokens(text)
    val scores = LangMarkers.map { case (lang, ws) =>
      lang -> size(filter(ts, t => t.isin(ws: _*)))
    }
    val best = scores.map(_._2).reduce(greatest(_, _))
    scores.foldLeft(when(best <= 0, lit("und"))) { case (acc, (lang, s)) =>
      acc.when(s === best, lit(lang))
    }.otherwise(lit("und"))
  }
  def langIdSql(text: String): String = {
    val ts = tokensSql(text)
    val scores = LangMarkers.map { case (lang, ws) =>
      val list = ws.map(w => s"'$w'").mkString("[", ",", "]")
      lang -> s"len(list_filter(${ts}, t -> list_contains(${list}, t)))"
    }
    val best = scores.map(_._2).reduceLeft((a, b) => s"greatest(${a}, ${b})")
    // single-pass via a lateral alias is not portable; inline best everywhere
    val inlined = scores.map { case (lang, s) => s"WHEN ${s} = ${best} THEN '${lang}'" }
    s"CASE WHEN ${best} <= 0 THEN 'und' ${inlined.mkString(" ")} ELSE 'und' END"
  }

  /** Document fingerprint: digest of the sorted distinct token set
    * (content-defined, order-insensitive — `rolling hash` family). */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))
  def fingerprintSql(text: String): String =
    s"md5(array_to_string(list_sort(list_distinct(${tokensSql(text)})), ' '))"

  /** Rolling-window fingerprint: min over the u60 hashes of every w-char
    * window of the text (Rabin/winnowing-style content fingerprint — a
    * near-identical doc shares the minimum window with high probability).
    * NULL for texts shorter than the window. */
  def rollingFingerprint(text: Column, w: Int = 16): Column =
    when(length(text) >= w,
      array_min(transform(sequence(lit(1), length(text) - (w - 1)),
        i => Gen.u60(text.substr(i, lit(w)), "roll"))))
      .otherwise(lit(null))
  def rollingFingerprintSql(text: String, w: Int = 16): String = {
    val h = OracleGen.u60(s"substr(${text}, i, ${w})", "roll")
    s"CASE WHEN length(${text}) >= ${w} THEN " +
      s"list_min(list_transform(generate_series(1, length(${text}) - ${w - 1}), i -> ${h})) " +
      "ELSE NULL END"
  }

  /** BPE-ish subword token count: letter-runs, digits, and punctuation
    * each count as one token (regex is RE2-safe for the oracle). */
  def bpeishCount(text: Column): Column =
    regexp_count(text, lit("[a-z]+|[0-9]|[^a-z0-9 ]")).cast("int")
  def bpeishCountSql(text: String): String =
    s"len(regexp_extract_all(${text}, '[a-z]+|[0-9]|[^a-z0-9 ]'))::INT"

  // ---------------------------------------------------------------------
  // PII scrubbing + Gopher-style quality flags — per-row expressions
  // (no shuffle), the redaction/filter stages of a training-data pipeline.
  // ---------------------------------------------------------------------

  /** PII patterns (RE2-safe so Spark and the DuckDB oracle agree): emails,
    * IPv4 addresses, then phone-like digit runs — applied in that order so
    * a scrubbed token can't re-match a later pattern. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b" -> "<IP>",
    "\\+?[0-9][0-9() -]{6,}[0-9]" -> "<PHONE>")

  def piiScrub(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (p, r)) => regexp_replace(c, p, r) }
  def piiScrubSql(text: String): String =
    PiiPatterns.foldLeft(text) { case (c, (p, r)) =>
      // DuckDB single-quoted strings are escape-free: the regex goes in
      // verbatim (only quotes doubled)
      s"regexp_replace(${c}, '${p.replace("'", "''")}', '${r}', 'g')"
    }

  /** Per-pattern PII match counts on the RAW text — the audit complement
    * of [[piiScrub]] ("how much PII is in this corpus" before redacting).
    * Each pattern counts independently (scrub order doesn't apply to
    * counting); RE2-safe patterns keep Java and RE2 counts identical. */
  def piiCounts(text: Column): Seq[Column] =
    PiiPatterns.map { case (p, _) => regexp_count(text, lit(p)) }
  def piiCountsSql(text: String): Seq[String] =
    PiiPatterns.map { case (p, _) =>
      s"len(regexp_extract_all(${text}, '${p.replace("'", "''")}'))::INT"
    }
  /** Output column names for [[piiCounts]], in pattern order. */
  val PiiCountNames: Seq[String] = Seq("n_email", "n_ip", "n_phone")

  /** Fraction of tokens containing a letter (Gopher-style "alpha words"
    * signal). */
  def alphaFrac(text: Column): Column =
    size(filter(tokens(text), t => t.rlike("[a-z]"))).cast("double") /
      greatest(tokenCount(text).cast("double"), lit(1.0))
  def alphaFracSql(text: String): String =
    s"(len(list_filter(${tokensSql(text)}, t -> regexp_matches(t, '[a-z]')))::DOUBLE / " +
      s"greatest(${tokenCountSql(text)}::DOUBLE, 1.0))"

  /** Within-document repetition: fraction of word n-gram positions whose
    * n-gram already occurred earlier in the doc (1 - distinct/total).
    * High values flag boilerplate/looped generations (the Gopher
    * "duplicate n-gram fraction" family). 0.0 for docs shorter than n. */
  def repetitionFrac(text: Column, n: Int = 3): Column = {
    val sh = shingles(text, n)
    when(size(sh) > 0,
      lit(1.0) - size(array_distinct(sh)).cast("double") / size(sh).cast("double"))
      .otherwise(lit(0.0))
  }
  def repetitionFracSql(text: String, n: Int = 3): String = {
    val sh = shinglesSql(text, n)
    s"CASE WHEN len(${sh}) > 0 THEN " +
      s"1.0 - len(list_distinct(${sh}))::DOUBLE / len(${sh})::DOUBLE ELSE 0.0 END"
  }

  /** Gopher-style document keep flag: token count, mean token length,
    * stopword fraction, and alpha fraction all inside their envelopes
    * (Rae et al. 2021 §A1.1 heuristics, re-expressed over this corpus's
    * whitespace tokens; thresholds are parameters, not constants). */
  def gopherKeep(text: Column, minTok: Int = 5, maxTok: Int = 100000,
                 minMeanLen: Double = 2.0, maxMeanLen: Double = 12.0,
                 minStopFrac: Double = 0.02, minAlphaFrac: Double = 0.6): Column = {
    val nTok = tokenCount(text).cast("double")
    val stopFrac = stopwordCount(text).cast("double") / greatest(nTok, lit(1.0))
    (nTok >= minTok) && (nTok <= maxTok) &&
      (meanTokenLen(text) >= minMeanLen) && (meanTokenLen(text) <= maxMeanLen) &&
      (stopFrac >= minStopFrac) && (alphaFrac(text) >= minAlphaFrac)
  }
  def gopherKeepSql(text: String, minTok: Int = 5, maxTok: Int = 100000,
                    minMeanLen: Double = 2.0, maxMeanLen: Double = 12.0,
                    minStopFrac: Double = 0.02, minAlphaFrac: Double = 0.6): String = {
    val nTok = s"${tokenCountSql(text)}::DOUBLE"
    val stopFrac = s"(${stopwordCountSql(text)}::DOUBLE / greatest(${nTok}, 1.0))"
    s"((${nTok} >= ${minTok}) AND (${nTok} <= ${maxTok}) AND " +
      s"(${meanTokenLenSql(text)} >= ${minMeanLen}) AND " +
      s"(${meanTokenLenSql(text)} <= ${maxMeanLen}) AND " +
      s"(${stopFrac} >= ${minStopFrac}) AND (${alphaFracSql(text)} >= ${minAlphaFrac}))"
  }
}
