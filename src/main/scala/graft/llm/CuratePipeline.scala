package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.pipeline.ConfigLoader

/** Config-driven CURATION pipeline — the LLM-data counterpart of the
  * masking `Lifecycle dump`: one JSON config chains the corpus operators
  * (normalize, exact/near dedup, quality/length/language filters, PII
  * scrub, decontamination, deterministic sampling, per-source token
  * budgets) into a single declarative run, so a pipeline user composes
  * steps the way a masking user composes transformers.
  *
  * ```json
  * { "input": "documents", "id": "doc_id", "text": "text",
  *   "steps": [
  *     {"op": "normalize"},
  *     {"op": "dedup_exact"},
  *     {"op": "dedup_minhash"},
  *     {"op": "length_filter", "min_tokens": "5", "max_tokens": "10000"},
  *     {"op": "quality_filter", "min_milli": "300"},
  *     {"op": "langid_filter", "keep": "en,de"},
  *     {"op": "pii_scrub"},
  *     {"op": "decontaminate", "holdout": "holdout_table"},
  *     {"op": "sample_hash", "rate": "2"},
  *     {"op": "token_budget", "group": "source", "budget": "50000"}
  *   ] }
  * ```
  *
  * Every step is the already-oracle-checked operator applied verbatim —
  * the chain stays one lazy plan (no step-boundary materialization; the
  * optional per-step report counts are separate actions for operators,
  * opt-in via `"report": true`). All sampling/dedup decisions come from
  * the salted hash streams, so a re-run over re-partitioned input
  * produces the identical curated corpus.
  */
object CuratePipeline {

  case class Step(op: String, params: Map[String, String])
  case class Config(input: String, id: String, text: String,
                    steps: Seq[Step], report: Boolean)

  def parse(json: String, env: Map[String, String] = sys.env): Config = {
    implicit val fmt: Formats = DefaultFormats
    val root = JsonMethods.parse(ConfigLoader.interpolate(json, env))
    val steps = (root \ "steps") match {
      case JArray(ss) => ss.map { s =>
        val op = (s \ "op").extractOpt[String].getOrElse(
          throw new IllegalArgumentException("curate: step missing 'op'"))
        val params = s match {
          case JObject(fields) => fields.collect {
            case (k, JString(v)) if k != "op" => k -> v
            case (k, JInt(v)) if k != "op" => k -> v.toString
            case (k, JBool(v)) if k != "op" => k -> v.toString
            case (k, JDouble(v)) if k != "op" => k -> v.toString
          }.toMap
          case _ => Map.empty[String, String]
        }
        Step(op, params)
      }
      case _ => throw new IllegalArgumentException("curate: missing 'steps' array")
    }
    Config(
      (root \ "input").extractOpt[String].getOrElse("documents"),
      (root \ "id").extractOpt[String].getOrElse("doc_id"),
      (root \ "text").extractOpt[String].getOrElse("text"),
      steps,
      (root \ "report").extractOpt[Boolean].getOrElse(false))
  }

  /** Apply one step. `resolve` maps a table name to a DataFrame (for
    * holdout-referencing steps). */
  def applyStep(df: DataFrame, id: String, text: String, step: Step,
                resolve: String => DataFrame): DataFrame = {
    def p(k: String): String = step.params.getOrElse(k,
      throw new IllegalArgumentException(s"curate: ${step.op} missing '$k'"))
    step.op match {
      case "normalize" =>
        df.withColumn(text, TextOps.normalize(col(text)))
      case "dedup_exact" =>
        // keep the minimal-id representative of each exact content class
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("__ch").orderBy(col(id))
        df.withColumn("__ch", sha2(col(text), 256))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__ch", "__rn")
      case "dedup_minhash" =>
        // keep docs that are their own LSH band representative
        val reps = Dedup.minhashLsh(df, id, text)
          .filter(col("near_dup_rep") === col(id)).select(col(id))
        df.join(reps, Seq(id), "left_semi")
      case "length_filter" =>
        val n = TextOps.tokenCount(col(text))
        df.filter(n >= p("min_tokens").toInt && n <= p("max_tokens").toInt)
      case "quality_filter" =>
        // milli-quantized threshold compare (exact both engines)
        df.filter(floor(TextOps.qualityScore(col(text)) * lit(1000.0) + lit(0.5))
          >= p("min_milli").toLong)
      case "langid_filter" =>
        val keep = p("keep").split(",").map(_.trim).toSeq
        df.filter(TextOps.langId(col(text)).isin(keep: _*))
      case "pii_scrub" =>
        df.withColumn(text, TextOps.piiScrub(col(text)))
      case "decontaminate" =>
        val holdout = resolve(p("holdout"))
        df.withColumn("__ch", sha2(col(text), 256))
          .join(broadcast(holdout.select(sha2(col(text), 256).as("__ch")).distinct()),
            Seq("__ch"), "left_anti")
          .drop("__ch")
      case "decontaminate_near" =>
        // LSH-band near-decontamination (drop anything resembling holdout)
        Dedup.crossCorpusNear(df, resolve(p("holdout")), id, text)
      case "boilerplate_lines" =>
        // replace text with the boilerplate-stripped rebuild, keep schema
        val cleaned = Corpus.removeBoilerplateLines(
          df.select(col(id), col(text)), id, text, p("min_docs").toInt)
        df.drop(text).join(cleaned.withColumnRenamed("clean_text", text), Seq(id))
      case "dedup_spans" =>
        // cross-document duplicated-span removal (ExactSubstr-style);
        // note: rewrites text in canonical single-space token form
        val rewritten = Dedup.dedupSpansAcross(df, id, text,
          step.params.get("k").map(_.toInt).getOrElse(6))
        df.drop(text).join(
          rewritten.withColumnRenamed("text_dedup", text), Seq(id))
      case "stratified_quota" =>
        Sampling.stratifiedQuota(df, p("group"), id, p("quota").toInt)
      case "sample_hash" =>
        Sampling.hashSample(df, id, p("rate").toInt)
      case "mix_by_group" =>
        // proportions as "src1=0.5,src2=1.0"; absent groups use 'default'
        val props = p("proportions").split(",").map { kv =>
          val Array(g, v) = kv.split("="); g.trim -> v.trim.toDouble
        }.toMap
        Sampling.mixByGroup(df, id, p("group"), props,
          step.params.get("default").map(_.toDouble).getOrElse(0.0))
      case "weighted_topk" =>
        // exact-k per group, inclusion proportional to token count
        Sampling.weightedTopK(df, p("group"), id,
          TextOps.tokenCount(col(text)).cast("double"), p("k").toInt)
      case "expect_gate" =>
        // fail-fast data-quality gate mid-chain: evaluates EAGERLY (rule
        // verdicts need an action) and aborts the pipeline on violation —
        // curating a corpus that fails its contract wastes the whole run
        val rules = graft.pipeline.Expectations.parse(p("rules"))
        val rep = graft.pipeline.Expectations.check(df, rules).collect()
        val failed = rep.filter(!_.getBoolean(3))
        require(failed.isEmpty,
          "curate: expect_gate failed: " + failed.map(r =>
            s"${r.getString(1)}/${r.getString(2)}=${r.getLong(4)}m").mkString(", "))
        df
      case "chunk" =>
        // TERMINAL step: explodes docs into fixed-token chunks — schema
        // becomes (id, chunk_id, chunk_text, n_chunk_tokens)
        Sampling.chunkDocuments(df, id, text,
          p("chunk_tokens").toInt,
          step.params.get("overlap").map(_.toInt).getOrElse(0))
      case "token_budget" =>
        Sampling.tokenBudgetPerGroup(
          df.withColumn("__nt", TextOps.tokenCount(col(text)).cast("long")),
          id, p("group"), "__nt", p("budget").toLong).drop("__nt")
      case other =>
        throw new IllegalArgumentException(s"curate: unknown op '$other'")
    }
  }

  /** Fold the configured steps over the input. Returns the curated frame
    * and, when `cfg.report`, the per-step surviving row counts (extra
    * actions — opt-in). */
  def run(cfg: Config, resolve: String => DataFrame): (DataFrame, Seq[(String, Long)]) = {
    val init = resolve(cfg.input)
    val stats = Seq.newBuilder[(String, Long)]
    if (cfg.report) stats += ("input" -> init.count())
    val out = cfg.steps.foldLeft(init) { (df, s) =>
      val next = applyStep(df, cfg.id, cfg.text, s, resolve)
      if (cfg.report) stats += (s.op -> next.count())
      next
    }
    (out, stats.result())
  }

  /** CLI entry: read config, curate, write parquet + report JSON. */
  def main(spark: SparkSession, configJson: String, sfDir: String,
           outDir: String): Unit = {
    val cfg = parse(configJson)
    def resolve(t: String): DataFrame = graft.pipeline.Catalog.load(spark, sfDir, t)
    val (out, stats) = run(cfg, resolve)
    out.write.mode("overwrite").parquet(s"$outDir/curated.parquet")
    val report = stats.map { case (k, v) => s"""{"step":"$k","rows":$v}""" }
      .mkString("[", ",", "]")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/curate_report.json"), report)
  }
}
