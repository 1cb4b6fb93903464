package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.llm.{Corpus, Dedup}
import graft.pipeline.FkRef
import graft.subset.SubsetPlanner
import graft.plans.{Checkpoints, FixpointStats}

/** 10x scale soak of the fix-point operators — pins the "survives 100x"
  * claim with measurements instead of plan-shape argument (round-6 advice
  * #2): inflating the corpus 10x (union + id remap, so graph SHAPE is
  * preserved) must keep iteration counts flat — label propagation
  * converges in band-graph-diameter hops and path doubling in
  * log2(chain-depth) rounds, both independent of row count — and must not
  * accumulate checkpoint storage blocks across iterations. */
class ScaleSoakSpec extends SparkSpec {

  private def docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    .select("doc_id", "text")

  private def inflate(df: DataFrame, k: Int): DataFrame =
    (0 until k).map(i =>
      df.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"), col("text")))
      .reduce(_ unionByName _)

  test("LSH clustering: 10x rows, flat iteration count, bounded storage blocks") {
    def run(df: DataFrame): (Long, Int, Int) = {
      val n = Dedup.minhashLshClusters(df, "doc_id", "text").count()
      val iters = FixpointStats.last("minhashLshClusters").get
      Checkpoints.releaseAll()
      (n, iters, spark.sparkContext.getRDDStorageInfo.length)
    }
    val (n1, i1, b1) = run(docs)
    val (n10, i10, b10) = run(inflate(docs, 10))
    assert(n10 == n1 * 10) // one labeled row per doc, at both scales
    // identical copies attach to existing clusters as distance-1 leaves,
    // so the band-graph diameter — and with it the iteration count —
    // must not grow with volume
    assert(i10 <= i1 + 1, s"iterations grew with data volume: $i1 -> $i10")
    assert(b10 <= b1 + 2, s"storage blocks accumulated: $b1 -> $b10")
  }

  test("self-FK path doubling: 10x rows adds at most one round") {
    // same id/2 ancestor chain as q_subset_selffk: depth log2(n), so 10x
    // rows deepens the chain by ~3 hops and the doubling window needs at
    // most one extra round to span it
    def chain(n: Long): DataFrame = spark.range(0, n).select(
      col("id"),
      when(col("id") === 0, lit(null)).otherwise((col("id") / 2).cast("long")).as("parent_id"))
    // on both closure paths, which must agree on rows and rounds
    def run(n: Long): (Long, Int, Int) = {
      val (rows, iters) = onBothSelfFkPaths(SubsetPlanner.plan(Map("t" -> chain(n)),
        Map("t" -> Seq("id")), Seq(FkRef("t", Seq("parent_id"), "t", Seq("id"), nullable = true)),
        Map("t" -> Seq("id % 10 <> 3")))("t").count())
      (rows, iters, spark.sparkContext.getRDDStorageInfo.length)
    }
    val (r1, i1, b1) = run(2000)
    val (r10, i10, b10) = run(20000)
    assert(r1 > 0 && r10 > r1 * 5) // closure actually ran at both scales
    assert(i10 <= i1 + 1, s"doubling rounds grew: $i1 -> $i10")
    assert(b10 <= b1 + 2, s"storage blocks accumulated: $b1 -> $b10")
  }

  test("self-FK path doubling stops at its first zero-flip round") {
    // the product path's shape: c_parent = id / 2 with row 0 its own
    // parent (an all-good cycle, so some row stays live every round),
    // every row above depth 4 kept and id 16 always dropped. The nearest
    // failing ancestor is at most 4 hops away, so the flips end in round
    // 3 and round 4 flips nothing; the log2(n)+1 cap would allow 10
    val chain = spark.range(0, 300).select(
      col("id").as("c_custkey"), (col("id") / 2).cast("long").as("c_parent"))
    // on both closure paths, which must agree on rows and rounds
    val (kept, rounds) = onBothSelfFkPaths(SubsetPlanner.plan(Map("customer" -> chain),
      Map("customer" -> Seq("c_custkey")),
      Seq(FkRef("customer", Seq("c_parent"), "customer", Seq("c_custkey"))),
      Map("customer" -> Seq(
        "c_custkey <> 16 AND (c_custkey < 16 OR pmod(xxhash64(c_custkey, 7L), 10) <> 0)")))(
      "customer").count())
    assert(kept > 16 && kept < 300 - 16) // the closure dropped rows and kept rows
    assert(rounds <= 4, s"closure ran $rounds rounds past its zero-flip round")
  }

  test("cyclic subset fix-point: 10x rows (more blocks, same cycle length) keeps iterations flat") {
    import spark.implicits._
    // one 8-cycle per block across two mutually-referencing tables; the
    // cond breaks each cycle at index 3, so the whole block drains hop by
    // hop — iteration count is the CYCLE length, not the row count
    def tables(blocks: Int) = {
      val ids = for (c <- 0 until blocks; i <- 0L until 8L) yield (c * 1000L + i, c * 1000L + (i + 1) % 8)
      (ids.map { case (id, _) => (id, id) }.toDF("id", "b_ref"),
        ids.toDF("id", "a_ref"))
    }
    def run(blocks: Int): (Long, Int) = {
      val (a, b) = tables(blocks)
      val surviving = SubsetPlanner.plan(
        Map("a" -> a, "b" -> b), Map("a" -> Seq("id"), "b" -> Seq("id")),
        Seq(FkRef("a", Seq("b_ref"), "b", Seq("id"), nullable = false),
          FkRef("b", Seq("a_ref"), "a", Seq("id"), nullable = false)),
        Map("a" -> Seq("id % 8 <> 3"), "b" -> Nil))
      val rows = surviving("a").count() + surviving("b").count()
      Checkpoints.releaseAll()
      (rows, FixpointStats.last("cyclicSubset").get)
    }
    val (r1, i1) = run(20)
    val (r10, i10) = run(200)
    assert(r1 == 0 && r10 == 0) // every block fully drains (broken cycles)
    assert(i10 == i1, s"iterations changed with block count: $i1 -> $i10")
  }

  private def docsFull = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    .select("doc_id", "text", "lang", "source")

  private def inflateFull(df: DataFrame, k: Int): DataFrame =
    (0 until k).map(i =>
      df.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        col("text"), col("lang"), col("source")))
      .reduce(_ unionByName _)

  test("unigram cross-entropy: 10x duplication keeps per-token scores stable") {
    import graft.llm.Curation
    def scores(df: DataFrame): Map[Long, (Long, Long)] =
      Curation.unigramCrossEntropy(df, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val s1 = scores(docs)
    val s10 = scores(inflate(docs, 10))
    assert(s10.size == s1.size * 10)
    s1.foreach { case (id, (n, x1)) =>
      val (n10, x10) = s10(id)
      assert(n10 == n)
      // every freq and N scale exactly 10x, so ln(N)-ln(f) is invariant
      // up to the nano-nat quantization of each term: at most a few
      // nanonats of drift per token
      assert(math.abs(x10 - x1) <= 5L * n.max(1L),
        s"doc $id xent drifted: $x1 -> $x10 over $n tokens")
      // copies must score identically to their original (pure function
      // of text + corpus stats)
      assert(s10(id + 10000000L) == ((n10, x10)))
    }
  }

  test("bm25: 10x duplication keeps copies score-identical and per-term weights stable") {
    import graft.llm.Retrieval
    // per-copy invariance is EXACT: tf, dl are per-doc; N,T,df all scale
    // 10x so num/den's 10T factor cancels and idf's inputs are shared by
    // every copy — all 10 copies of a doc must get the same integer score
    def scores(df: DataFrame): Map[(Int, Long), Long] =
      Retrieval.bm25TopK(df, "doc_id", "text", Retrieval.DefaultQueries, k = 30)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val s10 = scores(inflate(docs, 10))
    // every retrieved doc's 9 siblings score identically wherever retrieved
    val byScore = s10.groupBy { case ((q, id), s) => (q, id % 10000000L, s) }
    byScore.keys.groupBy { case (q, base, _) => (q, base) }.foreach {
      case ((q, base), variants) =>
        assert(variants.map(_._3).toSet.size == 1,
          s"copies of doc $base in query $q diverged: $variants")
    }
    // idf drift vs 1x is bounded: ln((20N+2)/(20df+1)) vs ln((2N+2)/(2df+1))
    // differ by < 1e-2 nat => scores within 1% of the 1x run
    val s1 = scores(docs)
    s1.foreach { case ((q, id), v1) =>
      s10.get((q, id)).foreach { v10 =>
        assert(math.abs(v10 - v1) <= v1 / 100 + 5,
          s"($q,$id) drifted: $v1 -> $v10")
      }
    }
  }

  test("dsirWeights: 10x duplication keeps bucket stats at B rows and copies identical") {
    import graft.llm.Curation
    def run(df: DataFrame): Map[Long, (Long, Long)] =
      Curation.dsirWeights(df, "doc_id", "text", col("lang") === "en")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val s1 = run(docsFull)
    val s10 = run(inflateFull(docsFull, 10))
    assert(s10.size == s1.size * 10)
    // NOTE: absolute scores are NOT duplication-invariant — add-one
    // smoothing shrinks relative to 10x bucket counts (ln(10t+1)-ln(t+1)
    // ~ ln 10 for sparse buckets) — but the score stays a pure function
    // of text + corpus stats, and the target-vs-rest separation the
    // weights exist for must survive the scale-up.
    s1.keys.foreach { id =>
      assert(s10(id) == s10(id + 10000000L), s"copy of doc $id scored differently")
      assert(s10(id)._1 == s1(id)._1, s"doc $id token count changed")
    }
    def meanByTarget(df: DataFrame, s: Map[Long, (Long, Long)]): (Double, Double) = {
      val isEn = df.select("doc_id", "lang").collect()
        .map(r => r.getLong(0) -> (r.getString(1) == "en")).toMap
      val (en, rest) = s.toSeq.partition { case (id, _) => isEn(id) }
      (en.map(_._2._2.toDouble).sum / en.size, rest.map(_._2._2.toDouble).sum / rest.size)
    }
    val (en1, rest1) = meanByTarget(docsFull, s1)
    val (en10, rest10) = meanByTarget(inflateFull(docsFull, 10), s10)
    assert(en1 > rest1 && en10 > rest10,
      s"target separation lost: 1x ($en1 vs $rest1), 10x ($en10 vs $rest10)")
  }

  test("decontaminateBloom still equals the exact anti-join at 10x") {
    import graft.llm.{Curation, Dedup}
    val corpus = inflate(docs, 10)
    // holdout from BASE docs only: with copies included every text would
    // be contaminated (copy ids sweep all mod-7 residues) and the
    // equality would hold trivially on empty sets
    val holdout = corpus.filter(col("doc_id") < 10000000L && col("doc_id") % 7 === 0)
    val viaBloom = Curation.decontaminateBloom(corpus, holdout, "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val exact = Dedup.crossCorpusExact(corpus, holdout, "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaBloom == exact)
    assert(viaBloom.nonEmpty)
  }

  test("sourceOverlapMinhash: 10x duplication leaves the estimate matrix identical") {
    import graft.llm.Corpus
    def matrix(df: DataFrame): Set[(String, String, Long)] =
      Corpus.sourceOverlapMinhash(df, "source", "text")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    // duplicating docs does not change any source's shingle set, so the
    // per-source sketches — and the whole pairwise matrix — are invariant
    assert(matrix(inflateFull(docsFull, 10)) == matrix(docsFull))
  }

  test("boilerplate-line removal scales linearly in rows at 10x") {
    def run(df: DataFrame): Long = {
      val n = Corpus.removeBoilerplateLines(df, "doc_id", "text", minDocs = 3).count()
      Checkpoints.releaseAll()
      n
    }
    val n1 = run(docs)
    val n10 = run(inflate(docs, 10))
    assert(n10 == n1 * 10) // one rewritten row per doc at both scales
  }

  test("semdedup: 10x vectors, adaptive k keeps cluster sizes flat") {
    import graft.llm.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select("vec_id", "embedding")
    def inflateVec(k: Int): DataFrame =
      (0 until k).map(i =>
        e.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"), col("embedding")))
        .reduce(_ unionByName _)
    def run(df: DataFrame): (Long, Long, Long) = {
      val out = Similarity.semDedup(df, "vec_id", "embedding", k = 0, tau = 0.45)
      val agg = out.agg(count(lit(1)), countDistinct("cluster")).head()
      val maxSize = out.groupBy("cluster").agg(count(lit(1)).as("n"))
        .agg(max("n")).head().getLong(0)
      Checkpoints.releaseAll()
      (agg.getLong(0), agg.getLong(1), maxSize)
    }
    val (n1, k1, max1) = run(e)
    val (n10, k10, max10) = run(inflateVec(10))
    assert(n10 == n1 * 10) // one flag row per vector at both scales
    // adaptive k = max(8, N/64) must actually scale the cluster count,
    // which is what keeps the within-cluster pair join ~32N instead of
    // quadratic — a fixed k would show max10 ~ 10 * max1 here
    assert(k10 >= k1 * 5, s"cluster count did not scale: $k1 -> $k10")
    assert(max10 <= max1 * 4,
      s"cluster sizes grew with volume (pair join degrading): $max1 -> $max10")
  }

  test("HLL/CMS sketches: exact scaling invariants under 10x duplication") {
    import graft.llm.{Sketches, TextOps}
    def toks(df: DataFrame) = df.select(col("doc_id").cast("string").as("source"),
      explode(TextOps.tokens(col("text"))).as("tok"))
      .withColumn("source", lit("s")) // one group; ids only inflate rows
    // registers depend only on the DISTINCT value set, so a 10x
    // duplicated corpus must produce the IDENTICAL sketch — the bounded-
    // state property that makes the sketch safe at any volume
    val hll1 = Sketches.hllDistinct(toks(docs), "source", "tok")
      .orderBy("grp").collect().toSeq
    val hll10 = Sketches.hllDistinct(toks(inflate(docs, 10)), "source", "tok")
      .orderBy("grp").collect().toSeq
    assert(hll1 == hll10, "duplication changed the distinct sketch")
    // CMS counters are pure sums: every probe estimate scales EXACTLY 10x
    val probes = Seq("join", "hash", "scan")
    val cms1 = Sketches.cmsEstimate(toks(docs), "tok", probes)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val cms10 = Sketches.cmsEstimate(toks(inflate(docs, 10)), "tok", probes)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    probes.foreach { p =>
      assert(cms10(p)._1 == cms1(p)._1 * 10 && cms10(p)._2 == cms1(p)._2 * 10,
        s"$p: ${cms1(p)} -> ${cms10(p)} is not exact 10x")
    }
  }

  test("centroids: 10x duplication leaves means identical, sums exactly 10x") {
    import graft.llm.Similarity
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select("vec_id", "label", "embedding")
    def inflateVecs(k: Int): DataFrame =
      (0 until k).map(i => e.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
        col("label"), col("embedding"))).reduce(_ unionByName _)
    val c1 = Similarity.groupCentroids(e, "label", "embedding")
      .orderBy("grp", "dim").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val c10 = Similarity.groupCentroids(inflateVecs(10), "label", "embedding")
      .orderBy("grp", "dim").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(c1.keySet == c10.keySet)
    c1.foreach { case (k, (n, mean)) =>
      // exact-integer sums: duplication scales n by 10 and leaves the
      // mean IDENTICAL (a float-sum mean would drift)
      assert(c10(k) == ((n * 10, mean)), s"$k: ${c1(k)} -> ${c10(k)}")
    }
  }

  test("entityClusters: 10x disjoint copies — identical labels, FLAT iteration count") {
    import graft.ops.RecordLinkage
    import spark.implicits._
    // a chain (depth forces iteration) + an island + singletons
    val basePairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L), (7L, 8L))
    val baseRecords = (1L to 9L)
    def inflate(k: Int) = (
      (0 until k).flatMap(i => basePairs.map { case (a, b) =>
        (a + i * 1000L, b + i * 1000L) }).toDF("id_a", "id_b"),
      (0 until k).flatMap(i => baseRecords.map(_ + i * 1000L)).toDF("rec_id"))
    val (p1, r1) = inflate(1)
    val out1 = RecordLinkage.entityClusters(r1, "rec_id", p1)
      .as[(Long, Long)].collect().toMap
    val it1 = graft.plans.FixpointStats.last("entityClusters").get
    val (p10, r10) = inflate(10)
    val out10 = RecordLinkage.entityClusters(r10, "rec_id", p10)
      .as[(Long, Long)].collect().toMap
    val it10 = graft.plans.FixpointStats.last("entityClusters").get
    assert(out10.size == out1.size * 10)
    out1.foreach { case (id, rep) =>
      (0 until 10).foreach(i =>
        assert(out10(id + i * 1000L) == rep + i * 1000L, s"copy $i of $id diverged"))
    }
    // convergence is a function of component DIAMETER, not corpus size:
    // 10x disjoint copies leave the hop count identical
    assert(it10 == it1, s"iterations grew with corpus size: $it1 -> $it10")
  }

  test("funnel: 10x users (id remap) keeps per-user results identical") {
    import graft.ops.Funnel
    val ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
      .select(col("user_id"), expr("unix_micros(cast(ts as timestamp))").as("tsu"),
        col("event_type"))
    def inflateUsers(k: Int): DataFrame =
      (0 until k).map(i => ev.select((col("user_id") + lit(i * 1000000000L))
        .as("user_id"), col("tsu"), col("event_type")))
        .reduce(_ unionByName _)
    val steps = SparkEntry.funnelStepTypes
    val r1 = Funnel.steps(ev, "user_id", col("tsu"), "event_type", steps)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val r10map = Funnel.steps(inflateUsers(10), "user_id", col("tsu"), "event_type", steps)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(r10map.size == r1.size * 10) // one row per user at both scales
    // every copy folds to its original's exact result — the per-user
    // state never couples across users, so user-count scales freely
    r1.foreach { case (u, d) =>
      (0 until 10).foreach { i =>
        assert(r10map(u + i * 1000000000L) == d, s"copy $i of user $u diverged")
      }
    }
  }
}
