package graft

import org.apache.spark.sql.functions._
import graft.llm.{Dedup, Sampling, Similarity, TextOps, Multimodal}

/** LLM-pipeline operators: dedup correctness + the no-crossJoin plan
  * guarantee, similarity ranking, text analysis, multimodal plumbing. */
class LlmOpsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"), // near dup of 1
    (4L, "completely different content about spark engines and joins"),
    (5L, "tiny"))
    .toDF("doc_id", "text")

  test("chunking: coverage, overlap stepping, tail-suffix rule, null docs") {
    val docsC = Seq(
      (1L, (1 to 150).map("t" + _).mkString(" ")), // starts 1,49,97; 145 skipped (suffix rule)
      (2L, (1 to 64).map("u" + _).mkString(" ")),  // exactly one chunk
      (3L, "a b c"),                               // shorter than a chunk
      (4L, null.asInstanceOf[String]))             // null -> zero chunks
      .toDF("doc_id", "text")
    val out = Sampling.chunkDocuments(docsC, "doc_id", "text", chunkTokens = 64, overlap = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    assert(!out.exists(_._1 == 4L))
    val toks1 = (1 to 150).map("t" + _)
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    assert(d1.map(_._2).toSeq == Seq(0, 1, 2)) // start 145 > 150-16 dropped
    assert(d1(0)._3 == toks1.slice(0, 64).mkString(" "))
    assert(d1(1)._3 == toks1.slice(48, 112).mkString(" ")) // 48-token step = 16 overlap
    assert(d1(2)._3 == toks1.slice(96, 150).mkString(" ")) // tail clamps
    assert(d1(2)._4 == 54) // 150 - 97 + 1
    val d2 = out.filter(_._1 == 2L)
    assert(d2.length == 1 && d2.head._4 == 64)
    val d3 = out.filter(_._1 == 3L)
    assert(d3.length == 1 && d3.head._3 == "a b c" && d3.head._4 == 3)
  }

  test("span dedup: duplicated k-token spans survive only at the globally-first occurrence") {
    val spanDocs = Seq(
      // doc 1 and doc 2 share the 6-token prefix; doc 1 (min id, min pos)
      // keeps it, doc 2 loses those tokens but keeps its unique tail
      (1L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "alpha beta gamma delta epsilon zeta THETA"),
      // within-doc repeat: the second copy of the 6-token span drops
      (3L, "p q r s t u p q r s t u"),
      // shorter than k: untouched (canonical-token join)
      (4L, "just five tokens right here"))
      .toDF("doc_id", "text")
    val out = Dedup.dedupSpansAcross(spanDocs, "doc_id", "text", k = 6)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "alpha beta gamma delta epsilon zeta eta")
    // doc 2: positions 1..6 covered (span at pos 1 duplicates doc 1's);
    // note pos-2 shingle "beta..THETA" is unique so only 1..6 drop
    assert(out(2L) == "THETA")
    // doc 3: spans starting at 1 and 7 hash-match; 7 is the later copy ->
    // tokens 7..12 drop (the overlapping unique shingles at 2..6 don't
    // repeat, so they cover nothing)
    assert(out(3L) == "p q r s t u")
    assert(out(4L) == "just five tokens right here")
  }

  test("span dedup matches a brute-force witness on random corpora") {
    // independent reimplementation: enumerate every k-window, count shingle
    // occurrences globally, drop covered tokens except at the global first
    // occurrence — plain Scala collections, no limb/packing tricks
    def brute(docsIn: Seq[(Long, String)], k: Int): Map[Long, String] = {
      val toks = docsIn.map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
      val occ = for {
        (id, ts) <- toks.toSeq; j <- 1 to ts.length - k + 1
      } yield (ts.slice(j - 1, j - 1 + k).mkString(" "), id, j)
      val byShingle = occ.groupBy(_._1).filter(_._2.size >= 2)
      val firsts = byShingle.map { case (s, os) => s -> os.map(o => (o._2, o._3)).min }
      val dupStarts = occ.filter { case (s, id, j) =>
        byShingle.contains(s) && firsts(s) != ((id, j))
      }.groupBy(_._2).view.mapValues(_.map(_._3).toSet).toMap
      toks.map { case (id, ts) =>
        val djs = dupStarts.getOrElse(id, Set.empty)
        id -> ts.zipWithIndex.collect {
          case (t, i) if !djs.exists(j => j <= i + 1 && i + 1 < j + k) => t
        }.mkString(" ")
      }
    }
    val rnd = new scala.util.Random(77)
    val vocab = Seq("a", "b", "c", "d", "e")
    for (trial <- 1 to 5) {
      val k = 2 + rnd.nextInt(3)
      val corpus = (1L to 12L).map(id =>
        id -> Seq.fill(3 + rnd.nextInt(15))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      val got = Dedup.dedupSpansAcross(corpus.toDF("doc_id", "text"), "doc_id", "text", k)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == brute(corpus, k), s"trial $trial (k=$k) diverged from brute force")
    }
  }

  test("span dedup is partition-count invariant") {
    val spanDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta"),
      (2L, "alpha beta gamma delta epsilon zeta THETA"),
      (3L, "p q r s t u p q r s t u"))
      .toDF("doc_id", "text")
    def run(parts: Int) = Dedup.dedupSpansAcross(spanDocs.repartition(parts),
      "doc_id", "text", k = 6).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(run(1) == run(7))
  }

  test("exact dedup groups identical content under min-id representative") {
    val reps = Dedup.exactWithRep(docs, "doc_id", "text")
      .select("doc_id", "rep_id").as[(Long, Long)].collect().toMap
    assert(reps(1L) == 1L && reps(2L) == 1L)
    assert(reps(3L) == 3L && reps(4L) == 4L)
  }

  test("quality-aware dedup keeps the longest variant, deterministic tie-break") {
    val variants = Seq(
      (1L, "The  quick, brown fox!"),        // normalizes same as 2
      (2L, "the quick brown fox"),
      (3L, "the quick brown fox JUMPED far"), // distinct content
      (4L, "the quick brown fox jumped far")) // same normalized as 3, same len
    val df = variants.toDF("doc_id", "text")
    val out = Dedup.exactQualityRep(df, "doc_id", "text")
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(out(1L) && !out(2L)) // 1 is longer than 2 after same normalization
    assert(out(3L) && !out(4L)) // equal length => lower id wins
  }

  test("normalize collapses case, punctuation, and whitespace runs") {
    val n = Seq("  The,, QUICK--brown   fox!  ").toDF("t")
      .select(TextOps.normalize(col("t"))).as[String].head()
    assert(n == "the quick brown fox")
  }

  test("minhash LSH: exact dups share a representative, distinct docs don't") {
    val reps = Dedup.minhashLsh(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(reps(1L) == reps(2L))
    assert(reps(4L) != reps(1L))
  }

  test("minhash LSH and jaccard plans contain no CartesianProduct") {
    for (df <- Seq(
      Dedup.minhashLsh(docs, "doc_id", "text"),
      Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.1),
      Dedup.simhashHammingPairs(docs, "doc_id", "text"),
      graft.llm.Similarity.cosineNearDupPairs(
        docs.select($"doc_id".as("vec_id"),
          org.apache.spark.sql.functions.array_repeat($"doc_id".cast("float"), 4)
            .as("embedding")), "vec_id", "embedding", nPlanes = 4, dim = 4))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), plan)
    }
  }

  test("simhash hamming pairs: identical docs at distance 0, banding finds them") {
    val pairs = Dedup.simhashHammingPairs(docs, "doc_id", "text", maxHamming = 3)
      .as[(Long, Long, Int)].collect()
    // docs 1 and 2 are exact dups in this fixture -> hamming 0
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
    pairs.foreach(p => assert(p._3 <= 3))
    // first-matching-band emission makes pairs unique BY CONSTRUCTION —
    // no pair-level distinct(), so no aggregate keyed on the pair ids may
    // appear (the signature collapse DOES aggregate, but only over `sh`:
    // a linear map-side-combinable distinct, never the candidate pairs)
    assert(pairs.map(p => (p._1, p._2)).distinct.length == pairs.length)
    val plan = Dedup.simhashHammingPairs(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    val pairKeyedAgg = "HashAggregate\\(keys=\\[[^\\]]*id_[ab]".r
    assert(pairKeyedAgg.findFirstIn(plan).isEmpty, plan)
  }

  test("simhashPairs router: wide path for radius > 3 or saturated corpora") {
    // decision rule is pure and pinned here; the routed DataFrames must
    // carry each path's semantics (radius-5 pairs only exist on the wide
    // path — the 60-bit op REJECTS maxHamming > 3 outright)
    assert(!Dedup.wideSignatureNeeded(3, 1000L))
    assert(Dedup.wideSignatureNeeded(4, 1000L), "radius > 3 needs 8 bands")
    assert(Dedup.wideSignatureNeeded(3, Dedup.WideSignatureCutoff + 1),
      "past saturation the wide signature must win at any radius")
    assert(!Dedup.wideSignatureNeeded(3, 0L), "unknown size routes by radius")
    val stream = (1 to 60).map(i => s"w$i")
    val corpus = (0 until 20).map { i =>
      ((i + 1).toLong, stream.slice(i, i + 18).mkString(" "))
    }.toDF("doc_id", "text")
    val wide = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 5)
      .as[(Long, Long, Int)].collect()
    assert(wide.forall(_._3 <= 5))
    // brute-force witness on the 120-bit signature: routing really took
    // the wide path (radius-5 completeness is a wide-only property)
    val sigs = corpus.select(col("doc_id"), TextOps.simhash60(col("text")).as("s1"),
        TextOps.simhash60b(col("text")).as("s2"))
      .as[(Long, Long, Long)].collect()
    val want = (for {
      a <- sigs; b <- sigs if a._1 < b._1
      h = java.lang.Long.bitCount(a._2 ^ b._2) + java.lang.Long.bitCount(a._3 ^ b._3)
      if h <= 5
    } yield (a._1, b._1) -> h).toMap
    assert(wide.map(r => (r._1, r._2) -> r._3).toMap == want)
    graft.plans.Checkpoints.releaseAll()
  }

  test("simhashPairs self-sizing: unknown corpus size probes the leaf and routes by measurement") {
    // r16 verdict #2: routing by radius alone was the one silent scale
    // hazard left (a >1M-distinct corpus on the default path saturated
    // the 15-bit bands). The router measures distinct contents from the
    // materialized signature leaf; the `cutoff` knob lets this spec pin
    // BOTH routes on one corpus (49 distinct docs: cutoff 10 must go
    // wide, default must stay narrow), and the two routes must agree on
    // the pair set exactly (both are pigeonhole-complete at radius <= 3).
    val stream = (1 to 90).map(i => s"w$i")
    val corpus = (0 until 49).map { i =>
      ((i + 1).toLong, stream.slice(i, i + 18).mkString(" "))
    }.toDF("doc_id", "text")
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.analyzed.toString
    // measured 49 > cutoff 10 → wide (the 120-bit second stream's sh2
    // attribute only exists on wide plans — both its direct and
    // collapsed variants; narrow plans carry a single sh)
    val wide = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3, cutoff = 10L)
    assert(planOf(wide).contains("sh2"), "cutoff 10 must route the 49-doc corpus WIDE")
    val wideSet = wide.as[(Long, Long, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    graft.plans.Checkpoints.releaseAll()
    // measured 49 << default cutoff (2^20) → narrow, probe leaf reused
    val narrow = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 3)
    assert(!planOf(narrow).contains("sh2"), "default cutoff must keep 49 docs NARROW")
    val narrowSet = narrow.as[(Long, Long, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    graft.plans.Checkpoints.releaseAll()
    // each route is pigeonhole-complete FOR ITS OWN SIGNATURE (radius 3
    // over 120 bits is a stricter estimator than over 60 — the sets are
    // not comparable across routes): brute-force both witnesses
    val sigs = corpus.select(col("doc_id"), TextOps.simhash60(col("text")).as("s1"),
        TextOps.simhash60b(col("text")).as("s2"))
      .as[(Long, Long, Long)].collect()
    def brute(width120: Boolean) = (for {
      a <- sigs; b <- sigs if a._1 < b._1
      h = java.lang.Long.bitCount(a._2 ^ b._2) +
        (if (width120) java.lang.Long.bitCount(a._3 ^ b._3) else 0)
      if h <= 3
    } yield (a._1, b._1) -> h).toMap
    assert(wideSet == brute(width120 = true), "wide route incomplete for the 120-bit signature")
    assert(narrowSet == brute(width120 = false), "narrow route incomplete for the 60-bit signature")
  }

  test("simhash collapse gate: both plan paths equal the brute-force pair set") {
    // the adaptive gate routes a duplicate-free corpus to direct banding
    // and a duplicate-heavy one through the signature collapse — both
    // must produce EXACTLY the brute-force pair set (the gate is a plan
    // choice, never a contract change), on the 60-bit path at radius 3
    // and on the 120-bit path at radii 3 and 7
    val stream = (1 to 60).map(i => s"w$i")
    val clean = (0 until 24).map { i =>
      ((i + 1).toLong, stream.slice(i, i + 18).mkString(" "))
    }
    // duplicate-heavy: 4 exact copies of each text under fresh ids
    val duped = clean ++ (for {
      (id, t) <- clean; r <- 1 to 3
    } yield (id + 100L * r, t))
    for (corpus <- Seq(clean, duped)) {
      val df = corpus.toDF("doc_id", "text")
      def pairSet(pairs: org.apache.spark.sql.DataFrame): Map[(Long, Long), Int] =
        pairs.as[(Long, Long, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
      val sigs = df.select(col("doc_id"), TextOps.simhash60(col("text")).as("s1"),
          TextOps.simhash60b(col("text")).as("s2"))
        .as[(Long, Long, Long)].collect()
      def brute(maxHamming: Int, width120: Boolean) = (for {
        a <- sigs; b <- sigs if a._1 < b._1
        h = java.lang.Long.bitCount(a._2 ^ b._2) +
          (if (width120) java.lang.Long.bitCount(a._3 ^ b._3) else 0)
        if h <= maxHamming
      } yield (a._1, b._1) -> h).toMap
      val got = pairSet(Dedup.simhashHammingPairs(df, "doc_id", "text", maxHamming = 3))
      val want = brute(3, width120 = false)
      assert(got == want, s"60-bit gate path diverged: got ${got.size}, want ${want.size}")
      for (h <- Seq(3, 7)) {
        val gotW = pairSet(Dedup.simhashHammingPairsWide(df, "doc_id", "text", maxHamming = h))
        val wantW = brute(h, width120 = true)
        assert(gotW == wantW,
          s"120-bit gate path diverged at radius $h: got ${gotW.size}, want ${wantW.size}")
      }
      graft.plans.Checkpoints.releaseAll()
    }
  }

  test("wide simhash pairs = ALL hamming<=7 pairs (pigeonhole completeness), brute-forced") {
    // 8 bands over 120 bits: any pair within hamming 7 shares a band, so
    // the op's output must EQUAL the brute-force set computed straight
    // from the signatures — banding is a pure optimization, zero recall
    // loss inside the covered radius.
    val stream = (1 to 70).map(i => s"w$i")
    val corpus = (0 until 30).map { i =>
      ((i + 1).toLong, stream.slice(i, i + 20).mkString(" "))
    }.toDF("doc_id", "text")
    val got = Dedup.simhashHammingPairsWide(corpus, "doc_id", "text", maxHamming = 7)
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val sigs = corpus.select(col("doc_id"), TextOps.simhash60(col("text")).as("s1"),
        TextOps.simhash60b(col("text")).as("s2"))
      .as[(Long, Long, Long)].collect()
    val want = (for {
      a <- sigs; b <- sigs if a._1 < b._1
      h = java.lang.Long.bitCount(a._2 ^ b._2) + java.lang.Long.bitCount(a._3 ^ b._3)
      if h <= 7
    } yield (a._1, b._1) -> h).toMap
    assert(got == want, s"wide banding must be complete: got ${got.size}, want ${want.size}")
    // pairs are unique by construction (first-matching-band emission)
    val dup = Dedup.simhashHammingPairsWide(corpus, "doc_id", "text")
      .groupBy("id_a", "id_b").count().filter(col("count") > 1).count()
    assert(dup == 0)
    // every band plan the radius ladder selects (2×60, 4×30, 6×20) is
    // complete within its radius too — the r16 saturation fix must not
    // cost recall (pigeonhole holds per plan; pinned by brute force)
    for (h <- Seq(1, 3, 5)) {
      val gotH = Dedup.simhashHammingPairsWide(corpus, "doc_id", "text", maxHamming = h)
        .as[(Long, Long, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
      val wantH = want.filter { case (_, d) => d <= h }
      assert(gotH == wantH, s"radius $h (plan ${Dedup.wideBandPlan(h)}): " +
        s"got ${gotH.size}, want ${wantH.size}")
    }
    assert(Dedup.wideBandPlan(3) == (4, 30) && Dedup.wideBandPlan(5) == (6, 20) &&
      Dedup.wideBandPlan(7) == (8, 15) && Dedup.wideBandPlan(0) == (2, 60))
    graft.plans.Checkpoints.releaseAll()
  }

  test("pointer-jumped cluster labels equal exact connected components on a chained corpus") {
    // Sliding-window corpus: doc i shares most tokens with its neighbors,
    // so the band graph forms long chains — the shape whose diameter made
    // plain one-hop propagation hit the sf10 maxIter wall. Labels must
    // equal EXACT union-find components of the band edge list (the ground
    // truth pointer jumping is not allowed to change).
    val stream = (1 to 80).map(i => s"tok$i")
    val chained = (0 until 40).map { i =>
      ((i + 1).toLong, stream.slice(i, i + 24).mkString(" "))
    }.toDF("doc_id", "text")
    val got = Dedup.minhashLshClusters(chained, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    // reference: exact union-find over the same (doc, band) edges
    val withMh = chained.select(col("doc_id"),
      TextOps.minhashSignatureFromText(col("text"), 3, 4).as("m"))
    val edges = withMh.select(col("doc_id"), explode(array((0 until 4).map(b =>
        TextOps.bandHashFrom((0 until 8).map(i => element_at(col("m"), i + 1)), b * 2, 2)): _*))
        .as("band"))
      .filter(col("band").isNotNull)
      .as[(Long, String)].collect()
    val parent = scala.collection.mutable.Map((1L to 40L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.groupBy(_._2).values.foreach { members =>
      members.map(_._1).reduceLeft { (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        b
      }
    }
    val want = (1L to 40L).map(i => i -> find(i)).toMap
    assert(got == want, s"labels diverge from exact components: ${got.toSeq.sorted}")
    // the chain must actually be non-trivial for this to test anything
    assert(want.values.toSet.size < 40, "fixture degenerated to singletons")
  }

  test("LSH cluster loop prunes singleton bands without changing labels") {
    // all-unique corpus: the active subgraph is empty, every doc is its
    // own rep, and the loop converges immediately
    val words = Seq("apple banana cherry date elderberry",
      "quantum flux capacitor drive unit", "river mountain valley forest lake",
      "crimson azure emerald golden silver", "violin trumpet cello piano drum",
      "gravel cement asphalt timber steel", "sparrow falcon heron crane owl",
      "noodle dumpling risotto taco bagel")
    val unique = words.zipWithIndex.map { case (w, i) => ((i + 1).toLong, w) }
      .toDF("doc_id", "text")
    val reps = Dedup.minhashLshClusters(unique, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(reps == (1L to 8L).map(i => i -> i).toMap)
  }

  test("cross-corpus exact decontamination removes only content present in holdout") {
    val train = docs
    val holdout = Seq((100L, "the quick brown fox jumps over the lazy dog"),
      (101L, "unrelated holdout text")).toDF("doc_id", "text")
    val kept = Dedup.crossCorpusExact(train, holdout, "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L, 5L)) // 1,2 match holdout text exactly
  }

  test("cross-corpus near decontamination removes band-sharing neighbors too") {
    val holdout = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val kept = Dedup.crossCorpusNear(docs, holdout, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    // 1,2 are exact matches; 3 is a near dup sharing LSH bands; 4 unrelated
    assert(!kept(1L) && !kept(2L))
    assert(kept(4L))
    // near-variant must remove at least everything the exact variant does
    val keptExact = Dedup.crossCorpusExact(docs, holdout, "text")
      .select("doc_id").as[Long].collect().toSet
    assert(kept.subsetOf(keptExact))
  }

  test("minhash similarity estimate: 1.0 for identical docs, bounded, candidate-set = jaccard's") {
    val est = Dedup.minhashSimilarityPairs(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
    assert(est.exists { case (a, b, e) => a == 1L && b == 2L && e == 1.0 })
    est.foreach { case (_, _, e) => assert(e >= 0.0 && e <= 1.0) }
    val jacIds = Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(est.map(p => (p._1, p._2)).toSet == jacIds) // same LSH candidates
  }

  test("deterministic shuffle: same order at any partitioning, key = u60(doc_id)") {
    val a = Sampling.shuffleDeterministic(docs, "doc_id")
      .select("doc_id").as[Long].collect().toSeq
    val b = Sampling.shuffleDeterministic(docs.repartition(7), "doc_id")
      .select("doc_id").as[Long].collect().toSeq
    assert(a == b)
    assert(a != Seq(1L, 2L, 3L, 4L, 5L)) // actually permuted for this fixture
    assert(a.toSet == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("jaccard verify finds the near-dup pair with high score") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", threshold = 0.3)
      .as[(Long, Long, Double)].collect()
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 2L && j == 1.0 })
  }

  test("containment flags a subsumed short doc that jaccard dilutes") {
    // doc 20's shingles are a strict subset of doc 21's: containment 1.0
    // on the short side while jaccard is only |A|/|B|. The subset must
    // still be LARGE relative to B to surface as an LSH candidate —
    // P(minhash agreement) per stream is exactly |A|/|B| for subsets,
    // which is WHY containment-verify complements (not replaces) the
    // jaccard gate: it re-scores candidates, it cannot conjure ones LSH
    // never emits.
    val quoted = Seq(
      (20L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (21L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu " +
        "nu xi omicron pi rho"))
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(quoted, "doc_id", "text", threshold = 0.9)
      .as[(Long, Long, Double, Double, Boolean)].collect()
    val p = pairs.find(r => r._1 == 20L && r._2 == 21L)
    assert(p.isDefined, s"candidate pair missing: ${pairs.toSeq}")
    assert(p.get._3 == 1.0, s"short-side containment: ${p.get}")
    assert(p.get._4 < 0.7)   // long side only partially covered
    assert(p.get._5)         // subsumed under the max-containment rule
    val j = Dedup.jaccardPairs(quoted, "doc_id", "text", threshold = 0.0)
      .as[(Long, Long, Double)].collect().find(r => r._1 == 20L && r._2 == 21L)
    assert(j.exists(_._3 < 0.7), s"jaccard should dilute: $j")
  }

  test("duplicate collapse expands pairs exactly, flipping containment orientation") {
    // Content groups: {20, 22} share the SHORT text (strict subset of 21's).
    // The collapse verifies the (20, 21) representative pair once; the
    // member combo (21, 22) then EXPANDS with least/greatest orientation —
    // id_a = 21 is the LONG side there, so cont_a/cont_b must swap relative
    // to the representative scores. (22, 20) is a same-content pair:
    // containment 1.0 both ways, jaccard 1.0, no shingle work spent.
    val short = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val long = short + " nu xi omicron pi rho"
    val docs3 = Seq((20L, short), (21L, long), (22L, short)).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs3, "doc_id", "text", threshold = 0.9)
      .as[(Long, Long, Double, Double, Boolean)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(cont.keySet == Set((20L, 21L), (21L, 22L), (20L, 22L)), cont.keySet)
    val direct = cont((20L, 21L))
    val flipped = cont((21L, 22L))
    assert(direct._3 == 1.0 && direct._4 < 0.7, s"direct orientation: $direct")
    assert(flipped._3 < 0.7 && flipped._4 == 1.0, s"flipped orientation: $flipped")
    assert(direct._4 == flipped._3, "one verification, two orientations")
    val within = cont((20L, 22L))
    assert(within._3 == 1.0 && within._4 == 1.0 && within._5)
    val jac = Dedup.jaccardPairs(docs3, "doc_id", "text", threshold = 0.0)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(jac.keySet == Set((20L, 21L), (21L, 22L), (20L, 22L)))
    assert(jac((20L, 22L)) == 1.0 && jac((20L, 21L)) == jac((21L, 22L)))
    val est = Dedup.minhashSimilarityPairs(docs3, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(est.keySet == jac.keySet && est((20L, 22L)) == 1.0)
  }

  test("simhash: identical docs identical hash, near docs close hamming") {
    val hs = Dedup.simhashBuckets(docs, "doc_id", "text")
    val byDoc = docs.select(col("doc_id"), TextOps.simhash60(col("text")).as("h"))
      .as[(Long, Long)].collect().toMap
    assert(byDoc(1L) == byDoc(2L))
    // 60-bit signature: near-dups flip a minority of bits (threshold
    // scaled from the old 16-bit bound of 6, i.e. < ~40% of the width)
    val hamming = java.lang.Long.bitCount(byDoc(1L) ^ byDoc(3L))
    assert(hamming <= 22, s"near-dup hamming too far: $hamming")
  }

  test("native minhash signature is value-identical to the composed form") {
    val sh = TextOps.shingles(col("text"), 3)
    val composed = docs.select(col("doc_id"),
      array((0 until 8).map(i => TextOps.minhash(sh, i)): _*).as("m"))
      .orderBy("doc_id").as[(Long, Seq[Option[Long]])].collect()
    val native = docs.select(col("doc_id"),
      TextOps.minhashSignature(sh, 4).as("m"))
      .orderBy("doc_id").as[(Long, Seq[Option[Long]])].collect()
    val fused = docs.select(col("doc_id"),
      TextOps.minhashSignatureFromText(col("text"), 3, 4).as("m"))
      .orderBy("doc_id").as[(Long, Seq[Option[Long]])].collect()
    assert(native.toSeq == composed.toSeq)
    assert(fused.toSeq == composed.toSeq)
  }

  test("shingles: short docs yield empty array, no descending-sequence bug") {
    val sh = docs.filter(col("doc_id") === 5L)
      .select(TextOps.shingles(col("text"), 3).as("s")).as[Seq[String]].head()
    assert(sh.isEmpty)
  }

  test("brute-force top-k ranks the query's own vector first") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f)),
      (4L, Seq(-1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      Seq(1.0, 0.0, 0.0), 2).as[(Long, Double)].collect()
    assert(top.head._1 == 1L && math.abs(top.head._2 - 1.0) < 1e-9)
    assert(top(1)._1 == 2L)
  }

  test("ann recall@k: probing every cluster recovers the brute set exactly") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // nProbe == nCent degenerates IVF to brute force -> recall must be 1.0
    val full = Similarity.annRecallAtK(vecs, "vec_id", "embedding",
      Similarity.probeQueries(2, 64), k = 10, nCent = 4, nProbe = 4)
      .as[(Int, Long, Double)].collect()
    assert(full.forall { case (_, n, r) => n == 10L && r == 1.0 }, full.toSeq.toString)
    // fewer probes can only lose candidates: recall monotonically <= 1
    val part = Similarity.annRecallAtK(vecs, "vec_id", "embedding",
      Similarity.probeQueries(2, 64), k = 10, nCent = 4, nProbe = 1)
      .as[(Int, Long, Double)].collect()
    part.zip(full).foreach { case ((_, n1, _), (_, nf, _)) => assert(n1 <= nf) }
  }

  test("LSH bucketing is deterministic and bucket join finds identical vectors") {
    val vecs = Seq(
      (1L, Seq.fill(8)(0.5f)), (2L, Seq.fill(8)(0.5f)), (3L, Seq.fill(8)(-0.5f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding",
      threshold = 0.99, nPlanes = 4, dim = 8).as[(Long, Long, Double)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L))
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L))
  }

  test("deterministic sampling: stable across runs, quota respected") {
    val big = (1L to 1000L).map(i => (i, s"lang${i % 3}")).toDF("doc_id", "lang")
    val s1 = Sampling.hashSample(big, "doc_id", 10).as[(Long, String)].collect().toSet
    val s2 = Sampling.hashSample(big.repartition(7), "doc_id", 10).as[(Long, String)].collect().toSet
    assert(s1 == s2) // partition-invariant
    assert(s1.size > 50 && s1.size < 200) // ~10%
    val strat = Sampling.stratifiedQuota(big, "lang", "doc_id", 7)
      .groupBy("lang").count().as[(String, Long)].collect().toMap
    assert(strat.values.forall(_ == 7))
    intercept[IllegalArgumentException](Sampling.hashSample(big, "doc_id", 1))
  }

  test("epoch repeat: copies hit the token target within one doc, partition-invariant") {
    val df = ((1L to 4L).map(i => (i, "a", 10L)) ++
      (5L to 8L).map(i => (i, "b", 10L)) ++
      (9L to 12L).map(i => (i, "c", 10L)))
      .toDF("doc_id", "grp", "n_tok")
    val targets = Map("a" -> 100L, "c" -> 15L) // a: 2.5 epochs; c: 0.375
    val out = Sampling.epochRepeat(df, "doc_id", "grp", "n_tok", targets)
      .select("doc_id", "grp", "n_tok", "n_copies")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    // group a: base 2 copies each + remainder 20 -> exactly 2 docs get a 3rd
    val a = out.filter(_._2 == "a")
    assert(a.length == 4 && a.map(_._4).sum == 10) // 4*2 + 2 extras
    assert(a.map(r => r._4 * r._3).sum == 100L)    // exactly on target
    // group b: default target 0 -> dropped entirely
    assert(!out.exists(_._2 == "b"))
    // group c: base 0 -> pure down-sample; >= target, overshoot < one doc
    val c = out.filter(_._2 == "c")
    val cTok = c.map(r => r._4 * r._3).sum
    assert(c.forall(_._4 == 1) && cTok >= 15L && cTok < 15L + 10L)
    // decisions are a pure function of the data
    val rep = Sampling.epochRepeat(df.repartition(7), "doc_id", "grp", "n_tok", targets)
      .select("doc_id", "grp", "n_tok", "n_copies")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(rep.toSeq == out.toSeq)
  }

  test("text analysis stats are sane") {
    val row = docs.filter(col("doc_id") === 1L).select(
      TextOps.tokenCount(col("text")).as("n"),
      TextOps.stopwordCount(col("text")).as("stop"),
      TextOps.langId(col("text")).as("lang"),
      TextOps.fingerprint(col("text")).as("fp"),
      TextOps.bpeishCount(col("text")).as("bpe"))
      .as[(Int, Int, String, String, Int)].head()
    assert(row._1 == 9)
    assert(row._2 == 2) // 'the' twice
    assert(row._3 == "en")
    assert(row._4.matches("[0-9a-f]{32}"))
    assert(row._5 >= 8)
    // fingerprint is order-insensitive
    val fp2 = Seq("dog lazy the over jumps fox brown quick the").toDF("text")
      .select(TextOps.fingerprint(col("text"))).as[String].head()
    assert(row._4 == fp2)
  }

  test("binary-file scan reads blobs with metadata") {
    val dir = java.nio.file.Files.createTempDirectory("blobs")
    java.nio.file.Files.write(dir.resolve("a.bin"), Array[Byte](1, 2, 3))
    java.nio.file.Files.write(dir.resolve("b.jpg"), Array[Byte](4, 5))
    val all = Multimodal.readBinaryFiles(spark, dir.toString).collect()
    assert(all.length == 2 && all.map(_.getAs[Long]("length")).sorted.toSeq == Seq(2L, 3L))
    val jpgs = Multimodal.readBinaryFiles(spark, dir.toString, "*.jpg").collect()
    assert(jpgs.length == 1 && jpgs.head.getAs[Array[Byte]]("content").toSeq == Seq[Byte](4, 5))
  }

  test("multimodal: features deterministic, frame sampling bounded, resize fits") {
    val media = Multimodal.asMedia(docs, "doc_id", "text")
    val feats = Multimodal.extractFeatures(media)
    val collected = feats.collect()
    assert(collected.length == 5)
    assert(collected.forall(f => f.width >= 1 && f.width <= 1024))
    assert(collected.map(_.kind).toSet.subsetOf(Set("image", "audio", "video")))
    val frames = Multimodal.frameSample(media, stride = 4).collect()
    assert(frames.forall(_.getInt(1) < 8)) // take(8) bound
    val resized = Multimodal.resize(feats, 100, 100).collect()
    assert(resized.forall(f => f.width <= 100 && f.height <= 100 && f.width >= 1))
  }

  test("rolling fingerprint: shared for identical docs, null for short docs") {
    val fps = docs.select(col("doc_id"), TextOps.rollingFingerprint(col("text")).as("fp"))
      .as[(Long, Option[Long])].collect().toMap
    assert(fps(1L).isDefined && fps(1L) == fps(2L)) // identical docs
    assert(fps(5L).isEmpty) // "tiny" shorter than window
  }

  test("best-match contract: per-doc argmax of the pair stream, smallest-partner ties") {
    // docs 2 and 3 are exact copies, both near-dups of 1: jaccard(1,2) ==
    // jaccard(1,3) EXACTLY (same shingle sets), so doc 1's best match
    // must tie-break to partner 2; 2 and 3 pick each other at 1.0
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "the quick brown fox jumps over the lazy cat"),
      (4L, "completely unrelated text about catalyst plan rewrites"))
      .toDF("doc_id", "text")
    // expected = symmetrized argmax over the (already brute-proven)
    // jaccardPairs output, computed in plain Scala
    val pairs = Dedup.jaccardPairs(corpus, "doc_id", "text", threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = (pairs.map { case (a, b, j) => (a, b, j) } ++
        pairs.map { case (a, b, j) => (b, a, j) })
      .groupBy(_._1).map { case (id, cs) =>
        val best = cs.minBy { case (_, p, j) => (-j, p) }
        (id, best._2, best._3)
      }.toSet
    val got = Dedup.bestMatchPairs(corpus, "doc_id", "text", threshold = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected)
    val byId = got.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byId(1L)._1 == 2L)            // tie vs {2,3} breaks to smaller id
    assert(byId(2L) == ((3L, 1.0)))      // exact copies pick each other
    assert(byId(3L) == ((2L, 1.0)))
    assert(!byId.contains(4L))           // no candidate -> no row
    // the bounded contract: at most one row per doc regardless of how
    // many partners the pair stream carries
    assert(got.size == got.map(_._1).size)
  }

  test("best-match output stays O(N) under duplicate mass while pairs grow quadratically") {
    val g = 12
    val rep = (0 until g).map(i => (100L + i, "a shared replicated payload of many tokens " +
      "that shingles identically every time")).toDF("doc_id", "text")
    val pairCount = Dedup.jaccardPairs(rep, "doc_id", "text", threshold = 0.0).count()
    assert(pairCount == g.toLong * (g - 1) / 2) // the quadratic contract
    val best = Dedup.bestMatchPairs(rep, "doc_id", "text", threshold = 0.0).collect()
    assert(best.length == g)                    // the bounded contract
    assert(best.forall(_.getDouble(2) == 1.0))
    // every doc's best partner is the smallest OTHER id (ties -> min id)
    assert(best.forall(r => r.getLong(1) ==
      (if (r.getLong(0) == 100L) 101L else 100L)))
  }

  test("lsh candidate census forecasts the band join exactly on a known corpus") {
    // 3 identical docs + 2 distinct: the identical trio shares all 4
    // band values (4 buckets of 3), the distinct docs collide with
    // nothing (seed-42-deterministic fixture)
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the lazy dog"),
      (4L, "completely unrelated text about catalyst plan rewrites"),
      (5L, "a second unrelated document mentioning shuffle exchanges"))
      .toDF("doc_id", "text")
    val row = Dedup.lshCandidateCensus(corpus, "doc_id", "text").collect().head
    val (nBuckets, candPairs, maxBucket, ge2, docsWith) =
      (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4))
    assert(candPairs == 4L * 3)  // C(3,2) per band x 4 bands, pre-dedup
    assert(maxBucket == 3L)
    assert(ge2 == 4L)
    assert(docsWith == 3L)
    assert(nBuckets == 4L + 8L)  // trio's 4 shared + 2 distinct docs x 4
    // and the census PREDICTS the deduped pair stream's upper bound
    val pairs = Dedup.jaccardPairs(corpus, "doc_id", "text", threshold = 0.0).count()
    assert(pairs <= candPairs)
  }

  test("simhash best match: per-doc argMIN of the hamming pair stream") {
    // docs fixture: 1 and 2 identical (hamming 0, mutual best), 3 a near
    // dup of both (ties across equal hamming break to smaller partner)
    val pairs = Dedup.simhashHammingPairs(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.nonEmpty)
    val expected = (pairs ++ pairs.map { case (a, b, h) => (b, a, h) })
      .groupBy(_._1).map { case (id, cs) =>
        val best = cs.minBy { case (_, p, h) => (h, p) }
        (id, best._2, best._3)
      }.toSet
    val got = Dedup.simhashBestMatch(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected)
    val byId = got.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byId(1L) == ((2L, 0)) && byId(2L) == ((1L, 0))) // exact copies
    // radius > 3 routes through the WIDE 120-bit path (the r16 router);
    // the argmin contract holds against the wide pair stream
    val widePairs = Dedup.simhashHammingPairsWide(docs, "doc_id", "text", 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val wideExpected = (widePairs ++ widePairs.map { case (a, b, h) => (b, a, h) })
      .groupBy(_._1).map { case (id, cs) =>
        val best = cs.minBy { case (_, p, h) => (h, p) }
        (id, best._2, best._3)
      }.toSet
    val wideGot = Dedup.simhashBestMatch(docs, "doc_id", "text", 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(wideGot == wideExpected)
  }

  test("simhash band-plan census: five plans, one pass, the band-width law visible") {
    // 3 identical docs share EVERY band of EVERY plan; 2 distinct docs
    // collide with nothing (deterministic fixture) — so candidate volume
    // per plan is exactly nBands x C(3,2)
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the lazy dog"),
      (4L, "completely unrelated text about catalyst plan rewrites"),
      (5L, "a second unrelated document mentioning shuffle exchanges"))
      .toDF("doc_id", "text")
    val rows = Dedup.simhashBandPlanCensus(corpus, "doc_id", "text").collect()
      .map(r => r.getString(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val bandsOf = Map("narrow_4x15" -> 4, "wide_2x60" -> 2, "wide_4x30" -> 4,
      "wide_6x20" -> 6, "wide_8x15" -> 8)
    assert(rows.keySet == bandsOf.keySet)
    bandsOf.foreach { case (plan, nb) =>
      val (covers, nBuckets, candPairs, maxBucket) = rows(plan)
      assert(covers == nb - 1, s"$plan pigeonhole radius")
      assert(candPairs == nb.toLong * 3, s"$plan: nBands x C(3,2)")
      assert(maxBucket == 3L, plan)
      assert(nBuckets == nb.toLong * 3, s"$plan: trio's $nb shared + 2 distinct x $nb")
    }
    // THE LAW: at the same covered radius (3), the 30-bit-key plan
    // probes fewer candidates than the 15-bit-key plan would at its
    // radius — more bands over the same rows only add volume
    assert(rows("wide_4x30")._3 < rows("wide_8x15")._3)
  }

  test("cosine best match: argmax parity with the pair stream, NaN candidates demoted") {
    val plane = Similarity.hyperplanes(1, 4).head
    def scaled(f: Double) = plane.map(x => (x * f).toFloat)
    val perp = Array(plane(1).toFloat, -plane(0).toFloat, 0f, 0f)
    val vecs = Seq(
      (1L, scaled(1.0)),
      (2L, scaled(2.0)),                                     // cosine(1,2) = 1
      (3L, plane.zip(Seq(0.1, -0.1, 0.1, -0.1)).map { case (x, d) => (x + d).toFloat }),
      (5L, Array(0f, 0f, 0f, 0f)))                           // zero-norm: NaN cosine
      .toDF("vec_id", "embedding")
    // all four share the single positive-margin bucket (zero margin
    // counts as positive), so the pair stream is full pairwise
    val pairs = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding",
        threshold = 0.5, nPlanes = 1, dim = 4)
      .select(col("id_a"), col("id_b"), nanvl(col("cosine"), lit(-2.0)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(pairs.exists(_._3 == -2.0), "zero-norm candidate should pass the NaN filter")
    val expected = (pairs ++ pairs.map { case (a, b, c) => (b, a, c) })
      .groupBy(_._1).map { case (id, cs) =>
        val best = cs.minBy { case (_, p, c) => (-c, p) }
        (id, best._2, best._3)
      }.filter(_._3 > -2.0).toSet
    val got = Similarity.cosineBestMatch(vecs, "vec_id", "embedding",
        threshold = 0.5, nPlanes = 1, dim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected)
    val byId = got.map(t => t._1 -> ((t._2, t._3))).toMap
    // the zero-norm vector's candidates are ALL demoted, so its winning
    // score is the -2.0 sentinel and the row is dropped outright (r17
    // ADVICE: no consumer may mistake -2.0 for a real match)
    assert(!byId.contains(5L))
    // real vectors prefer real candidates over demoted NaN ones — and
    // still surface (a demoted candidate never drags a real vector out)
    assert(byId(1L)._1 == 2L && byId(1L)._2 > 0.99)
  }
}
