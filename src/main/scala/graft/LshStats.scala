package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.Catalog

/** LSH candidate-volume instrument (VERDICT r14 #1): the dedup family's
  * 100 TB risk is not correctness — it's banding SELECTIVITY. Candidate
  * generation is a band-bucket self-join, so its work is
  * Σ_buckets n·(n−1)/2 per band: linear in corpus size only while bucket
  * occupancy stays flat. This main measures exactly that, per band, for
  * the MinHash-LSH (shingleN=3, 4 bands × 2 rows — `Dedup.minhashLsh`'s
  * defaults) and SimHash (4 × 15-bit bands — `Dedup.simhashHammingPairs`)
  * paths over a fixture's `documents` table, and prints ONE JSON line.
  * Run it at sf0.1 / sf1 / sf1-perturbed and compare `total_cand_pairs`
  * against corpus growth: super-linear growth in any band is the
  * q_fuzzy_link_multi failure mode and gets the same block-cap
  * treatment.
  *
  * Every census keys its buckets exactly as the operators do: MinHash
  * bands through `TextOps.minhashBands`, SimHash bands through
  * `Dedup.simhashBand`, the one band-key function of both SimHash
  * paths.
  *
  * With `--planted=<srcSfDir>` (a ScaleFixture --perturb output whose
  * SOURCE dir is given) it additionally measures PLANTED-PAIR RECALL:
  * every odd-replica document is a deliberate near-duplicate of its
  * replica-0 base (light ≡1 mod 4 ≈ Jaccard 0.85, heavy ≡3 mod 4
  * ≈ 0.6 — ScaleFixture.perturbText), and a pair counts as recalled
  * when base and copy share at least one band bucket. This is the
  * banding-selectivity number correctness tests can't give: exact-copy
  * fixtures recall 1.0 by construction, so only the perturbed fixture
  * shows where the band/row trade-off actually sits under edit noise.
  *
  * Usage: runMain graft.LshStats <sfDir> [label] [--planted=<srcSfDir>]
  */
object LshStats {

  /** Per-band bucket census for a (doc, band-hash) edge list: bucket
    * count, the largest bucket, and the exact candidate-pair volume the
    * band join would produce. */
  private def bandCensus(edges: DataFrame): Seq[(Int, Long, Long, Long)] =
    edges.groupBy("band_idx", "band")
      .agg(count(lit(1)).as("n"))
      .groupBy("band_idx")
      .agg(count(lit(1)).as("n_buckets"),
        max("n").as("max_bucket"),
        sum(expr("(n * (n - 1)) div 2")).as("cand_pairs"))
      .orderBy("band_idx")
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq

  /** Planted near-dup pairs of a perturbed fixture: (base replica-0 id,
    * odd-replica id, intensity). The replica unit re-derives exactly as
    * ScaleFixture computed it — next power of 10 above the SOURCE max. */
  private def plantedPairs(spark: SparkSession, srcDir: String,
                           fixtureDocs: DataFrame): DataFrame = {
    val srcMax = Catalog.load(spark, srcDir, "documents")
      .agg(max(col("doc_id").cast("long"))).head.getLong(0)
    // the fixture's own unit rule — shared, so this can't drift
    val unit = ScaleFixture.pow10Above(srcMax)
    fixtureDocs.select((col("doc_id") / unit).cast("long").as("rep"),
        pmod(col("doc_id"), lit(unit)).as("base_id"), col("doc_id").as("pert_id"))
      .filter(pmod(col("rep"), lit(2)) === 1)
      .withColumn("intensity",
        when(pmod(col("rep"), lit(4)) === 1, lit("light")).otherwise(lit("heavy")))
      .select("base_id", "pert_id", "intensity")
  }

  /** Fraction of planted pairs whose two sides share >= 1 band bucket. */
  private def recallOf(pairs: DataFrame, edges: DataFrame): Map[String, (Long, Long)] = {
    val hit = pairs
      .join(edges.select(col("doc_id").as("base_id"),
        col("band_idx"), col("band")), Seq("base_id"))
      .join(edges.select(col("doc_id").as("pert_id"),
        col("band_idx"), col("band")), Seq("pert_id", "band_idx", "band"), "left_semi")
      .select("base_id", "pert_id", "intensity").distinct()
      .groupBy("intensity").agg(count(lit(1)).as("hits"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    pairs.groupBy("intensity").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (hit.getOrElse(r.getString(0), 0L), r.getLong(1)))
      .toMap
  }

  def statsJson(spark: SparkSession, sfDir: String, label: String,
                plantedSrc: Option[String] = None,
                collapsed: Boolean = false): String = {
    import graft.llm.{Dedup, TextOps}
    val raw = Catalog.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    // --collapsed: census over DISTINCT contents (rep = min doc_id per
    // identical text) — the candidate volume the collapse-rewritten
    // verifiers' band joins actually see, vs the id-level volume of the
    // default census. The gap between the two runs is the duplicate-mass
    // work the collapse removed.
    val docs = if (!collapsed) raw else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(sha2(col("text"), 256)).orderBy(col("doc_id"))
      raw.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }
    val nDocs = docs.count()

    // MinHash-LSH band census (Dedup.minhashLsh's exact banding)
    val (bands, rowsPerBand) = (4, 2)
    val withMh = docs.select(col("doc_id"), TextOps.minhashSignatureFromText(col("text"), 3,
      TextOps.minhashDigests(bands, rowsPerBand)).as("__mh"))
    // census + (optionally) two recall joins read this — materialize so
    // the signature pass over the corpus runs once
    val mhEdges = graft.plans.Checkpoints.materialize(withMh.select(col("doc_id"),
      posexplode(TextOps.minhashBands(col("__mh"), bands, rowsPerBand))
        .as(Seq("band_idx", "band")))
      .filter(col("band").isNotNull))
    val mhCensus = bandCensus(mhEdges)

    // SimHash 4×15-bit band census (simhashHammingPairs's banding)
    val shEdges = graft.plans.Checkpoints.materialize(docs
      .select(col("doc_id"), TextOps.simhash60(col("text")).as("sh"))
      .select(col("doc_id"), posexplode(array((0 until 4).map(b =>
        Dedup.simhashBand(col, Seq("sh"), 4, b)): _*))
        .as(Seq("band_idx", "band"))))
    val shCensus = bandCensus(shEdges)

    // WIDE 120-bit band censuses, one per wideBandPlan the engine can
    // route to (simhashHammingPairsWide): 8×15 (radius 7), 6×20
    // (radius 5), 4×30 (radius 3). The saturation instrument: the r16
    // sf100 run (2.28M distinct contents) measured 8×15 at 2.9× the
    // 60-bit volume — more bands over the same 15-bit key space only ADD
    // candidates — while the radius-3 4×30 plan's 2^30 key space
    // collapses the volume by orders of magnitude. Comparing these
    // totals on a decade-up corpus records which plan survives 100 TB.
    val wideSigs = graft.plans.Checkpoints.materialize(docs
      .select(col("doc_id"), TextOps.simhash60(col("text")).as("sh1"),
        TextOps.simhash60b(col("text")).as("sh2")))
    def wideCensus(nBands: Int): Seq[(Int, Long, Long, Long)] =
      bandCensus(wideSigs
        .select(col("doc_id"), posexplode(array((0 until nBands).map(b =>
          Dedup.simhashBand(col, Seq("sh1", "sh2"), nBands, b)): _*))
          .as(Seq("band_idx", "band"))))
    val shwCensus = wideCensus(8)
    val shw20Census = wideCensus(6)
    val shw30Census = wideCensus(4)

    def js(census: Seq[(Int, Long, Long, Long)]): String =
      census.map { case (b, nb, mx, cp) =>
        s"""{"band":$b,"n_buckets":$nb,"max_bucket":$mx,"cand_pairs":$cp}"""
      }.mkString("[", ",", "]")
    val mhTotal = mhCensus.map(_._4).sum
    val shTotal = shCensus.map(_._4).sum
    val planted = plantedSrc.map { src =>
      val pairs = graft.plans.Checkpoints.materialize(plantedPairs(spark, src, docs))
      def block(recall: Map[String, (Long, Long)]): String =
        Seq("light", "heavy").map { k =>
          val (h, n) = recall.getOrElse(k, (0L, 0L))
          val r = if (n == 0) 0.0 else h.toDouble / n
          f""""$k":{"pairs":$n,"recalled":$h,"recall":$r%.4f}"""
        }.mkString("{", ",", "}")
      s""","planted":{"minhash":${block(recallOf(pairs, mhEdges))},""" +
        s""""simhash":${block(recallOf(pairs, shEdges))}}"""
    }.getOrElse("")
    // user-supplied strings must not break the one-line JSON contract
    def jsStr(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")
    def wideJs(name: String, c: Seq[(Int, Long, Long, Long)]): String =
      s""""$name":{"bands":${js(c)},"total_cand_pairs":${c.map(_._4).sum}}"""
    s"""{"tool":"lsh_stats","label":"${jsStr(label)}","sf":"${jsStr(sfDir)}","n_docs":$nDocs,""" +
      s""""minhash":{"bands":${js(mhCensus)},"total_cand_pairs":$mhTotal},""" +
      s""""simhash":{"bands":${js(shCensus)},"total_cand_pairs":$shTotal},""" +
      s"""${wideJs("simhash_wide", shwCensus)},""" +
      s"""${wideJs("simhash_w20", shw20Census)},""" +
      s"""${wideJs("simhash_w30", shw30Census)}$planted}"""
  }

  def main(args: Array[String]): Unit = {
    val planted = args.collectFirst {
      case a if a.startsWith("--planted=") => a.stripPrefix("--planted=")
    }
    val collapsed = args.contains("--collapsed")
    val pos = args.filterNot(_.startsWith("--"))
    // an unknown flag (a typo like --plant=..., or the space form
    // '--planted <src>') would otherwise be silently dropped and the
    // recall block silently missing — fail loud instead (mirrors
    // ScaleFixture's guard)
    val badFlags = args.filter(_.startsWith("--"))
      .filterNot(f => f == "--collapsed" || f.startsWith("--planted="))
    require(badFlags.isEmpty,
      s"graft.LshStats: unknown flag(s) ${badFlags.mkString(", ")} — " +
        "usage: graft.LshStats <sfDir> [label] [--planted=<srcSfDir>] [--collapsed]")
    require(pos.nonEmpty,
      "usage: graft.LshStats <sfDir> [label] [--planted=<srcSfDir>] [--collapsed]")
    val spark = LocalSession()
    println(statsJson(spark, pos(0), pos.drop(1).headOption.getOrElse(""),
      planted, collapsed))
    spark.stop()
  }
}
