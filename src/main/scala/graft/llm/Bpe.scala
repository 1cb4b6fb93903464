package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE tokenizer induction — the classic word-frequency
  * formulation (Sennrich et al. 2016): ONE corpus pass aggregates the
  * word-frequency table, then every merge iteration runs over that
  * Zipf-small table only, never the corpus again. Each round is a
  * map-side-combinable pair-count aggregate + a 1-row TakeOrdered
  * (bounded driver reduction) + a narrow per-row string rewrite,
  * localCheckpointed so lineage stays flat across rounds. At 100 TB the
  * expensive step runs exactly once (the word count); a production run
  * would additionally pre-sample the corpus (hashSample / DSIR weights)
  * before induction, which composes trivially here.
  *
  * Words are held as U+0001-delimited symbol strings (SEP c1 SEP c2 ...
  * SEP); applying a merge (a,b) is a plain substring replace of
  * SEP+a+SEP+b+SEP with SEP+ab+SEP — left-to-right non-overlapping in
  * both engines, which IS BPE's application order (in "go go go",
  * merging (go,go) yields "gogo go", not "gogo gogo"). Argmax ties
  * break by (count desc, lhs asc, rhs asc) so induction is
  * deterministic in any engine and under any partitioning.
  */
object Bpe {

  val Sep = "\u0001"

  /** word -> sep-delimited character-symbol string. (?s) makes `.` match
    * every code point in BOTH regex engines (Java's `.` excludes more
    * line terminators than RE2's by default); words containing the
    * separator itself are excluded upstream. */
  private def toSymbols(w: Column): Column =
    concat(lit(Sep), regexp_replace(w, "(?s)(.)", "$1" + Sep))

  /** Corpus -> (freq, s) word table: one map-side-combinable aggregate,
    * the only corpus-sized step of the whole induction. */
  def wordTable(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextOps.tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0 && !col("w").contains(Sep))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("freq"), toSymbols(col("w")).as("s"))

  /** Adjacent symbol pairs of every word, weighted by word frequency. */
  private def pairCounts(words: DataFrame): DataFrame = {
    val syms = filter(split(col("s"), Sep), x => length(x) > 0)
    words.select(col("freq"), syms.as("syms"))
      .select(col("freq"), explode(when(size(col("syms")) >= 2,
        transform(sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("lhs"),
            element_at(col("syms"), i + 1).as("rhs"))))
        .otherwise(array().cast("array<struct<lhs:string,rhs:string>>"))).as("p"))
      .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
      .agg(sum("freq").as("pair_count"))
  }

  /** Run `nMerges` BPE merge rounds; returns the learned merge rules
    * (step, lhs, rhs, pair_count) — the tokenizer artifact. Stops early
    * if the pair space is exhausted (fewer rows than `nMerges`). */
  def train(df: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    require(nMerges >= 1, "Bpe.train: need >= 1 merges")
    val spark = df.sparkSession
    // each round's word table replaces (and releases) the one before it;
    // the returned merges are a local collection, so the last table goes too
    var words = graft.plans.Checkpoints.materialize(wordTable(df, textCol))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      val best = pairCounts(words)
        .orderBy(col("pair_count").desc, col("lhs"), col("rhs"))
        .limit(1).collect() // bounded: one row
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, c) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((step, l, r, c))
        val next = graft.plans.Checkpoints.materialize(words.withColumn("s",
          replace(col("s"), lit(Sep + l + Sep + r + Sep), lit(Sep + l + r + Sep))))
        graft.plans.Checkpoints.unpersistCheckpoint(words)
        words = next
        step += 1
      }
    }
    graft.plans.Checkpoints.unpersistCheckpoint(words)
    import spark.implicits._
    merges.toSeq.toDF("step", "lhs", "rhs", "pair_count")
  }

  /** Apply a merge table to one token column: fold the merges (in rule
    * order) over the char-symbol string — each application is the same
    * left-to-right non-overlapping replace the trainer uses. */
  private def applyMerges(t: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(toSymbols(t)) { case (c, (a, b)) =>
      replace(c, lit(Sep + a + Sep + b + Sep), lit(Sep + a + b + Sep))
    }

  /** Per-document token count under a GIVEN BPE merge table (e.g. the
    * output of [[train]], or a fixed production tokenizer's rules) —
    * the sizing signal the token-budget / packing / mixing operators
    * consume, under the real tokenizer instead of the whitespace proxy.
    *
    * Pure per-row expression work (HOF fold over the doc's tokens, a
    * replace chain per token): no shuffle, no UDF, corpus never leaves
    * its scan partitions. Symbol count per token = separators - 1
    * (counted as a length difference). Output: (idCol, n_ws_tokens,
    * n_bpe_tokens). */
  def tokenCount(df: DataFrame, idCol: String, textCol: String,
                 merges: Seq[(String, String)]): DataFrame = {
    val toks = filter(TextOps.tokens(col(textCol)), t => length(t) > 0)
    val perTok = transform(toks, t => {
      val s = applyMerges(t, merges)
      length(s) - length(replace(s, lit(Sep))) - 1
    })
    df.select(col(idCol), size(toks).cast("long").as("n_ws_tokens"),
      aggregate(perTok, lit(0L), (acc, x) => acc + x).as("n_bpe_tokens"))
  }

  def tokenCountSql(table: String, idCol: String, textCol: String,
                    merges: Seq[(String, String)]): String = {
    val base = s"chr(1) || regexp_replace(t, '(?s)(.)', '\\1' || chr(1), 'g')"
    val applied = merges.foldLeft(base) { case (c, (a, b)) =>
      val esc = (x: String) => x.replace("'", "''")
      s"replace(${c}, chr(1) || '${esc(a)}' || chr(1) || '${esc(b)}' || chr(1), " +
        s"chr(1) || '${esc(a)}${esc(b)}' || chr(1))"
    }
    val toks = s"list_filter(${TextOps.tokensSql(textCol)}, t -> length(t) > 0)"
    s"""SELECT ${idCol}, len(${toks})::BIGINT AS n_ws_tokens,
          coalesce(list_sum(list_transform(${toks},
            t -> length(${applied}) - length(replace(${applied}, chr(1), '')) - 1)), 0)::BIGINT
            AS n_bpe_tokens
        FROM ${table}"""
  }

  /** Unrolled-CTE DuckDB rendering of the identical induction: round i
    * computes its pair table from round i-1's words, its argmax merge,
    * and the rewritten word table; an exhausted round contributes no
    * merge row (the coalesce sentinel chr(2) never matches any symbol
    * string, so later word tables pass through unchanged — mirroring
    * the Spark early stop). Every CTE is MATERIALIZED: DuckDB inlines
    * plain CTEs, and with three consumers per round the inlined tree
    * (and its parquet opens) grows 3^rounds — materialization keeps the
    * oracle linear in rounds, like the engine. */
  def trainSql(table: String, textCol: String, nMerges: Int): String = {
    val w0 =
      s"""w0 AS MATERIALIZED (
            SELECT count(*)::BIGINT AS freq,
                   chr(1) || regexp_replace(w, '(?s)(.)', '\\1' || chr(1), 'g') AS s
            FROM (
              SELECT unnest(${TextOps.tokensSql(textCol)}) AS w FROM ${table})
            WHERE length(w) > 0 AND NOT contains(w, chr(1))
            GROUP BY w)"""
    val rounds = (1 to nMerges).map { i =>
      val prev = s"w${i - 1}"
      s"""p$i AS MATERIALIZED (
            SELECT syms[i] AS lhs, syms[i+1] AS rhs, sum(freq)::BIGINT AS pair_count
            FROM (
              SELECT freq, unnest(generate_series(1, len(syms) - 1)) AS i, syms
              FROM (
                SELECT freq, list_filter(string_split(s, chr(1)), x -> length(x) > 0) AS syms
                FROM ${prev}))
            GROUP BY 1, 2),
          m$i AS MATERIALIZED (SELECT lhs, rhs, pair_count FROM p$i
                  ORDER BY pair_count DESC, lhs, rhs LIMIT 1),
          w$i AS MATERIALIZED (
            SELECT freq, replace(s,
              coalesce((SELECT chr(1) || lhs || chr(1) || rhs || chr(1) FROM m$i), chr(2)),
              coalesce((SELECT chr(1) || lhs || rhs || chr(1) FROM m$i), chr(2))) AS s
            FROM ${prev})"""
    }
    val union = (1 to nMerges)
      .map(i => s"SELECT $i AS step, lhs, rhs, pair_count FROM m$i")
      .mkString(" UNION ALL ")
    s"WITH ${(w0 +: rounds).mkString(", ")} SELECT * FROM (${union})"
  }
}
