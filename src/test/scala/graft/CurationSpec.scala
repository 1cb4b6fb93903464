package graft

import org.apache.spark.sql.functions._
import graft.llm.{Curation, Dedup}

/** Curation scoring ops: unigram cross-entropy, DSIR weights, bloom
  * decontamination, leak-free splits, temperature mixture weights —
  * model-checked against independent in-JVM reimplementations, plus the
  * nano-nat quantization-boundary safety margin on the real fixture. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private def lnNano(x: Long): Long =
    math.floor(math.log(x.toDouble) * 1e9 + 0.5).toLong

  private val docs = Seq(
    (1L, "the cat sat on the mat", "en"),
    (2L, "the dog sat on the log", "en"),
    (3L, "le chat aime le lait", "fr"),
    (4L, "cat cat cat", "en"),
    (5L, "", "fr")).toDF("doc_id", "text", "lang")

  test("unigramCrossEntropy matches an exact integer model") {
    val got = Curation.unigramCrossEntropy(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // independent model: corpus unigram freqs over whitespace tokens
    val toks = Map(
      1L -> Seq("the", "cat", "sat", "on", "the", "mat"),
      2L -> Seq("the", "dog", "sat", "on", "the", "log"),
      3L -> Seq("le", "chat", "aime", "le", "lait"),
      4L -> Seq("cat", "cat", "cat"),
      5L -> Seq.empty[String])
    val freq = toks.values.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = freq.values.sum
    val expect = toks.map { case (id, ts) =>
      (id, ts.size.toLong, ts.map(t => lnNano(n) - lnNano(freq(t))).sum)
    }.toSeq.sortBy(_._1)
    assert(got.toSeq == expect)
    // rare-token docs must score higher per token than common-token docs:
    // doc 4 is all "cat" (freq 4); doc 3 is unique French tokens
    val perTok = got.map(r => r._1 -> (if (r._2 == 0) 0.0 else r._3.toDouble / r._2)).toMap
    assert(perTok(3L) > perTok(4L))
    assert(perTok(5L) == 0.0)
  }

  test("bigramCrossEntropy matches an exact integer model; repetition scores low") {
    val corpus = docs.union(Seq((6L, "go go go go go go", "en")).toDF("doc_id", "text", "lang"))
    val got = Curation.bigramCrossEntropy(corpus, "doc_id", "text")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val toks = Map(
      1L -> Seq("the", "cat", "sat", "on", "the", "mat"),
      2L -> Seq("the", "dog", "sat", "on", "the", "log"),
      3L -> Seq("le", "chat", "aime", "le", "lait"),
      4L -> Seq("cat", "cat", "cat"),
      5L -> Seq.empty[String],
      6L -> Seq("go", "go", "go", "go", "go", "go"))
    val fu = toks.values.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bigrams = toks.view.mapValues(ts => ts.zip(ts.drop(1))).toMap
    val fb = bigrams.values.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expect = bigrams.map { case (id, bs) =>
      (id, bs.size.toLong, bs.map(b => lnNano(fu(b._1)) - lnNano(fb(b))).sum)
    }.toSeq.sortBy(_._1)
    assert(got.toSeq == expect)
    // "go go go..." is perfectly predictable under its own bigram LM:
    // p(go|go) = 5/6 -> near-zero xent per bigram; doc 1's bigrams are
    // mostly unique given their prefix -> high xent
    val perBg = got.map(r => r._1 -> (if (r._2 == 0) 0.0 else r._3.toDouble / r._2)).toMap
    assert(perBg(6L) < perBg(1L) / 2)
    // conditional probabilities <= 1 => every per-doc total stays >= 0
    // (up to one nano-nat of quantization per bigram)
    got.foreach(r => assert(r._3 >= -r._2))
  }

  test("bigramCrossEntropy reuses the (doc,bigram) exchange — one corpus explode") {
    // the explicit id-notnull filter keeps the fb branch and the per-doc
    // branch canonically identical, so AQE materializes the corpus-scale
    // explode+shuffle once; without it the shuffle runs twice at 100 TB
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = Curation.bigramCrossEntropy(d, "doc_id", "text")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"),
      s"(doc,bg) exchange no longer reused:\n$plan")
  }

  test("dsirWeights matches an exact integer model and prefers target-like docs") {
    val buckets = 16
    val got = Curation.dsirWeights(docs, "doc_id", "text",
      col("lang") === "en", buckets, tweak = "tst")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // independent model via the engine's own u60 (already model-checked in
    // GenSpec) evaluated through a 1-column DataFrame
    val allToks = Seq(
      (1L, true, Seq("the", "cat", "sat", "on", "the", "mat")),
      (2L, true, Seq("the", "dog", "sat", "on", "the", "log")),
      (3L, false, Seq("le", "chat", "aime", "le", "lait")),
      (4L, true, Seq("cat", "cat", "cat")),
      (5L, false, Seq.empty[String]))
    val vocabulary = allToks.flatMap(_._3).distinct
    val b = vocabulary.toDF("token")
      .select(col("token"), (generators.Gen.u60(col("token"), "tst") % buckets).as("b"))
      .as[(String, Long)].collect().toMap
    val flat = allToks.flatMap { case (id, tgt, ts) => ts.map(t => (id, tgt, b(t))) }
    val r = flat.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val t = flat.groupBy(_._3).view.mapValues(_.count(_._2).toLong).toMap
    val (bigR, bigT) = (flat.size.toLong, flat.count(_._2).toLong)
    val expect = allToks.map { case (id, _, ts) =>
      val s = ts.map { tok =>
        lnNano(t(b(tok)) + 1) - lnNano(r(b(tok)) + 1)
      }.sum + ts.size * (lnNano(bigR + buckets) - lnNano(bigT + buckets))
      (id, ts.size.toLong, s)
    }.sortBy(_._1)
    assert(got.toSeq == expect)
    // direction: an English doc should be more target-like than the French one
    val w = got.map(x => x._1 -> x._3).toMap
    assert(w(1L) > w(3L), s"en doc should outscore fr doc: $w")
  }

  test("decontaminateBloom equals the exact anti-join on the fixture corpus") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val holdout = corpus.filter(col("doc_id") % 3 === 0)
    val viaBloom = Curation.decontaminateBloom(corpus, holdout, "text")
      .select("doc_id").as[Long].collect().toSet
    val exact = Dedup.crossCorpusExact(corpus, holdout, "text")
      .select("doc_id").as[Long].collect().toSet
    assert(viaBloom == exact)
    assert(viaBloom.nonEmpty)
    // false-negative impossibility, spot-checked: no holdout text survives
    val holdoutTexts = holdout.select("text").as[String].collect().toSet
    val survivors = Curation.decontaminateBloom(corpus, holdout, "text")
      .select("text").as[String].collect()
    assert(!survivors.exists(holdoutTexts.contains))
  }

  test("decontaminateBloom with an empty holdout keeps everything") {
    val corpus = docs
    val out = Curation.decontaminateBloom(corpus, corpus.filter(lit(false)), "text")
    assert(out.count() == corpus.count())
  }

  test("leakFreeSplit keeps every near-dup cluster in one split") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val split = Curation.leakFreeSplit(corpus, "doc_id", "text", testPm = 200, valPm = 200)
    val rows = split.as[(Long, Long, String)].collect()
    assert(rows.map(_._1).toSet == corpus.select("doc_id").as[Long].collect().toSet)
    assert(rows.map(_._3).toSet.subsetOf(Set("train", "val", "test")))
    // every cluster maps to exactly one split
    val byCluster = rows.groupBy(_._2).view.mapValues(_.map(_._3).toSet)
    assert(byCluster.values.forall(_.size == 1))
    // the split is a pure function of the rep: recompute independently
    val reps = rows.map(_._2).distinct.toSeq
    val bucketOf = reps.toDF("r")
      .select(col("r"), (generators.Gen.u60(col("r"), "split") % 1000).as("b"))
      .as[(Long, Long)].collect().toMap
    rows.foreach { case (_, rep, s) =>
      val b = bucketOf(rep)
      val want = if (b < 200) "test" else if (b < 400) "val" else "train"
      assert(s == want, s"rep $rep bucket $b: got $s want $want")
    }
    // with 20/20/60 all three splits should be populated on 100 docs
    assert(rows.map(_._3).toSet.size == 3)
  }

  test("temperatureMixWeights matches the exact sqrt model and upsamples small groups") {
    val budget = 1000000L
    val got = Curation.temperatureMixWeights(docs, "lang", "text", budget)
      .as[(String, Long, Long, Double, Double, Long)].collect().sortBy(_._1)
    // model: groups sorted, fold left-to-right, exactly-rounded ops only
    val toks = Map("en" -> (3L, 15L), "fr" -> (2L, 6L)) // (n_docs, n_tokens)
    val ordered = toks.toSeq.sortBy(_._1)
    val total = ordered.foldLeft(0.0) { case (a, (_, (_, nt))) => a + math.sqrt(nt.toDouble) }
    val expect = ordered.map { case (g, (nd, nt)) =>
      val w = math.sqrt(nt.toDouble)
      (g, nd, nt, w, w / total, math.floor(budget.toDouble * w / total).toLong)
    }
    assert(got.toSeq == expect)
    // temperature flattening: fr holds 6/21 of tokens but gets a larger share
    val fr = got.find(_._1 == "fr").get
    assert(fr._5 > 6.0 / 21.0)
    // grants never overshoot the budget
    assert(got.map(_._6).sum <= budget)
  }

  test("empty-token docs count zero tokens in both scoring ops") {
    // doc 5 has empty text: n_tokens 0, scores 0 (left-join coalesce path)
    val x = Curation.unigramCrossEntropy(docs, "doc_id", "text")
      .filter(col("doc_id") === 5).as[(Long, Long, Long)].head()
    assert(x == ((5L, 0L, 0L)))
    val d = Curation.dsirWeights(docs, "doc_id", "text", col("lang") === "en")
      .filter(col("doc_id") === 5).as[(Long, Long, Long)].head()
    assert(d == ((5L, 0L, 0L)))
  }

  test("sourceOverlapMinhash: identical sources estimate 1.0, disjoint ones are absent") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "s1"),
      (2L, "alpha beta gamma delta epsilon zeta", "s2"), // identical shingles as s1
      (3L, "one two three four five six seven", "s3") // disjoint from both
    ).toDF("doc_id", "text", "source")
    val got = graft.llm.Corpus.sourceOverlapMinhash(corpus, "source", "text")
      .as[(String, String, Long, Double)].collect().toSeq.sortBy(r => (r._1, r._2))
    // s1/s2 share every shingle -> every stream minimum agrees -> est 1.0;
    // s3 shares no shingle with either -> no stream can agree (min over
    // disjoint sets collides only by hash accident) -> pair absent
    assert(got == Seq(("s1", "s2", 32L, 1.0)))
  }

  test("sourceOverlapMinhash estimate tracks true Jaccard on a half-overlap") {
    // two sources sharing half their shingle universe: J = 1/3
    val a = (0 until 40).map(i => s"common$i w$i x$i").zipWithIndex
      .map { case (t, i) => (i.toLong, t, "sa") }
    val b = (0 until 40).map(i => s"common$i w$i x$i").zipWithIndex
      .map { case (t, i) => (100L + i, t, "sb") } // identical: J = 1
    val c = (0 until 40).map(i => s"other$i y$i z$i").zipWithIndex
      .map { case (t, i) => (200L + i, t, "sc") } // disjoint from sa
    val corpus = (a ++ b ++ c).toDF("doc_id", "text", "source")
    val est = graft.llm.Corpus.sourceOverlapMinhash(corpus, "source", "text")
      .as[(String, String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._4).toMap
    assert(est(("sa", "sb")) == 1.0)
    assert(!est.contains(("sa", "sc")))
  }

  test("Bpe.train matches an independent in-JVM BPE on the fixture corpus") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val got = graft.llm.Bpe.train(corpus, "text", nMerges = 8)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    // reference: classic Sennrich-style BPE over the word-frequency dict
    val words = corpus.select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0).groupBy("w").count()
      .as[(String, Long)].collect().toMap
    var syms: Map[Vector[String], Long] =
      words.toSeq.map { case (w, f) => w.toVector.map(_.toString) -> f }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    def applyMerge(s: Vector[String], a: String, b: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < s.length) {
        if (i < s.length - 1 && s(i) == a && s(i + 1) == b) { out += (a + b); i += 2 }
        else { out += s(i); i += 1 }
      }
      out.result()
    }
    val expect = (1 to 8).map { step =>
      val pairs = syms.toSeq.flatMap { case (s, f) =>
        s.zip(s.drop(1)).map(p => p -> f)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val ((a, b), c) = pairs.toSeq.minBy { case ((l, r), n) => (-n, l, r) }
      syms = syms.toSeq.map { case (s, f) => applyMerge(s, a, b) -> f }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      (step, a, b, c)
    }
    assert(got == expect)
    // merged symbols grow: later rounds can merge earlier merge outputs
    assert(got.exists(m => m._2.length > 1 || m._3.length > 1),
      s"no compound merge in 8 rounds: $got")
  }

  test("BPE merge application is left-to-right non-overlapping") {
    val corpus = Seq((1L, "go go go")).toDF("doc_id", "text")
    // unigram chars: g,o ; best first merge is (g,o) count 3; second round
    // has [go,go,go] per word... one word "go" repeated as 3 tokens: word
    // table is {go: 3} -> symbols [g,o]; merge 1 = (g,o)x3 -> [go];
    // no adjacent pairs remain -> exhausted after 1 merge
    val got = graft.llm.Bpe.train(corpus, "text", nMerges = 5)
      .as[(Int, String, String, Long)].collect().toSeq
    assert(got == Seq((1, "g", "o", 3L)))
  }

  test("Bpe.train releases every word-table checkpoint it made") {
    val before = graft.plans.Checkpoints.trackedCount
    val merges = graft.llm.Bpe.train(docs, "text", nMerges = 8).collect()
    assert(merges.length == 8)
    assert(graft.plans.Checkpoints.trackedCount == before)
  }

  test("Bpe.tokenCount applies a merge table like the reference fold") {
    val corpus = Seq(
      (1L, "the thin thing"),
      (2L, "and other things er in"),
      (3L, "")).toDF("doc_id", "text")
    val merges = graft.SparkEntry.bpeFixedMerges
    val got = graft.llm.Bpe.tokenCount(corpus, "doc_id", "text", merges)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    def applyAll(word: String): Vector[String] = {
      var s = word.toVector.map(_.toString)
      merges.foreach { case (a, b) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < s.length) {
          if (i < s.length - 1 && s(i) == a && s(i + 1) == b) { out += (a + b); i += 2 }
          else { out += s(i); i += 1 }
        }
        s = out.result()
      }
      s
    }
    val expect = Seq(
      (1L, "the thin thing"), (2L, "and other things er in"), (3L, "")).map {
      case (id, t) =>
        val ws = t.split(" ").filter(_.nonEmpty).toSeq
        (id, ws.size.toLong, ws.map(w => applyAll(w).size.toLong).sum)
    }
    assert(got.toSeq == expect)
    // sanity on the rules: "the" -> [th]+[e] -> [the]? no: merges are
    // (t,h) then (th,e) -> one symbol; "thing" -> th,in,g -> th,ing: 2
    assert(applyAll("the") == Vector("the"))
    assert(applyAll("thing") == Vector("th", "ing"))
    // BPE always compresses vs characters, never below 1 symbol per word
    got.filter(_._2 > 0).foreach(r => assert(r._3 >= r._2))
  }

  test("madOutliers flags the planted extreme, not the robust bulk") {
    // group g: tight bulk around 100 plus one wild value; group h all-equal
    val rows = Seq(
      (1L, "g", 100L), (2L, "g", 101L), (3L, "g", 99L), (4L, "g", 102L),
      (5L, "g", 98L), (6L, "g", 5000L),
      (7L, "h", 7L), (8L, "h", 7L), (9L, "h", 7L)).toDF("doc_id", "lang", "n_chars")
    val got = graft.llm.Corpus.madOutliers(rows, "doc_id", "lang", "n_chars")
      .as[(Long, String, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // g sorted: 98,99,100,101,102,5000 -> lower median rank 3 = 100;
    // devs: 2,1,0,1,2,4900 -> sorted 0,1,1,2,2,4900 -> mad = 1
    (1L to 5L).foreach(id => assert(!got(id)._6, s"bulk doc $id flagged"))
    assert(got(6L)._6, "planted extreme not flagged")
    assert(got(6L)._4 == 100L && got(6L)._5 == 1L)
    // all-equal group: mad 0 -> guard max(mad,1); nothing flagged
    (7L to 9L).foreach(id => assert(!got(id)._6))
    // a mean/stddev rule would be dragged by the 5000: median was not
    assert(got(1L)._4 == 100L)
  }

  test("randomized model parity: unigram/bigram xent and DSIR on generated corpora") {
    val rnd = new scala.util.Random(8118)
    val alphabet = Vector("ab", "cd", "ef", "gh", "ij", "kl", "mn", "op")
    (1 to 3).foreach { trial =>
      val corpus = (0 until 40).map { i =>
        val n = rnd.nextInt(12) // 0-token docs included
        (i.toLong, Seq.fill(n)(alphabet(rnd.nextInt(alphabet.size))).mkString(" "),
          if (rnd.nextBoolean()) "en" else "fr")
      }
      val df = corpus.toDF("doc_id", "text", "lang")
      val toks = corpus.map { case (id, t, _) =>
        id -> t.split(" ").filter(_.nonEmpty).toSeq
      }.toMap

      // unigram xent model
      val fu = toks.values.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = fu.values.sum.max(1L)
      val wantU = toks.view.mapValues(ts =>
        (ts.size.toLong, ts.map(t => lnNano(n) - lnNano(fu(t))).sum)).toMap
      val gotU = Curation.unigramCrossEntropy(df, "doc_id", "text")
        .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      assert(gotU == wantU, s"trial $trial unigram mismatch")

      // bigram xent model
      val bgs = toks.view.mapValues(ts => ts.zip(ts.drop(1))).toMap
      val fb = bgs.values.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val wantB = bgs.view.mapValues(bs =>
        (bs.size.toLong, bs.map(b => lnNano(fu(b._1)) - lnNano(fb(b))).sum)).toMap
      val gotB = Curation.bigramCrossEntropy(df, "doc_id", "text")
        .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      assert(gotB == wantB, s"trial $trial bigram mismatch")

      // DSIR model (reuse the engine's u60 only for the bucket routing)
      val buckets = 8
      val bkt = alphabet.toDF("token")
        .select(col("token"), (generators.Gen.u60(col("token"), "dsir") % buckets).as("b"))
        .as[(String, Long)].collect().toMap
      val isEn = corpus.map(c => c._1 -> (c._3 == "en")).toMap
      val flat = toks.toSeq.flatMap { case (id, ts) => ts.map(t => (isEn(id), bkt(t))) }
      val r = flat.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val t = flat.groupBy(_._2).view.mapValues(_.count(_._1).toLong).toMap
      val (bigR, bigT) = (flat.size.toLong, flat.count(_._1).toLong)
      val wantD = toks.map { case (id, ts) =>
        id -> (ts.size.toLong,
          ts.map(tok => lnNano(t.getOrElse(bkt(tok), 0L) + 1) -
            lnNano(r.getOrElse(bkt(tok), 0L) + 1)).sum +
            ts.size * (lnNano(bigR + buckets) - lnNano(bigT + buckets)))
      }
      val gotD = Curation.dsirWeights(df, "doc_id", "text",
        col("lang") === "en", buckets).as[(Long, Long, Long)].collect()
        .map(x => x._1 -> (x._2, x._3)).toMap
      assert(gotD == wantD, s"trial $trial dsir mismatch")
    }
  }

  test("contaminationFraction grades overlap; binary check is its threshold") {
    val corpus = Seq(
      (1L, "the cat sat on the mat today ok"), // shares shingles with probe
      (2L, "completely different words here entirely"),
      (3L, "the cat sat"), // exactly one shingle, in probe
      (4L, "x")).toDF("doc_id", "text") // too short for any shingle
    val probe = graft.llm.Corpus.probeShingles("the cat sat on the mat")
    val got = graft.llm.Corpus.contaminationFraction(corpus, "doc_id", "text", probe)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._3 == 4L && got(1L)._2 == 6L && got(1L)._4 == 4.0 / 6)
    assert(got(2L)._3 == 0L && got(2L)._4 == 0.0)
    assert(got(3L) == ((3L, 1L, 1L, 1.0)))
    assert(got(4L) == ((4L, 0L, 0L, 0.0)))
    // consistency with the binary operator: hit iff frac > 0
    val binary = graft.llm.Corpus.contaminatedIds(corpus, "doc_id", "text", probe)
      .as[Long].collect().toSet
    assert(binary == got.filter(_._2._4 > 0).keySet)
  }

  test("sourceQualityReport aggregates volume, dups, quality and language spread") {
    val corpus = Seq(
      (1L, "the cat sat on the mat and ran", "en", "sa"),
      (2L, "the cat sat on the mat and ran", "en", "sa"), // exact dup of 1
      (3L, "a completely original document with more words", "de", "sa"),
      (4L, "x", "fr", "sb")) // fails the quality gate (too few tokens)
      .toDF("doc_id", "text", "lang", "source")
    val got = graft.llm.Corpus.sourceQualityReport(corpus, "source", "text", "lang")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val sa = got("sa")
    assert(sa._2 == 3 && sa._3 == 8 + 8 + 7)
    assert(sa._4 == 2, "exact dup must collapse in distinct-text count")
    assert(sa._6 > 0 && sa._7 == 2)
    val sb = got("sb")
    assert(sb._2 == 1 && sb._5 == 0, "1-token doc must fail the quality gate")
  }

  test("every registered query carries an oracle except the inherent PRNG row") {
    val noOracle = graft.SparkEntry.queries.keySet -- graft.SparkEntry.oracleSql.keySet
    // q_random_engine is non-deterministic BY CONTRACT (PRNG engine) —
    // nothing else may silently ship rows-only
    assert(noOracle == Set("q_random_engine"), s"rows-only queries crept in: $noOracle")
  }

  test("nano-nat quantization boundary margin holds on the sf0.01 fixture domain") {
    // The oracle contract tolerates a 1-ulp ln() discrepancy between the
    // JVM and DuckDB ONLY because no ln input in the fixture domain lands
    // within ~2e-6 of a flooring boundary. Pin a 1e-4 margin over every
    // value lnNano actually sees at sf0.01: corpus freqs, totals, DSIR
    // smoothed bucket counts and totals.
    val d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val toks = d.select(explode(split(col("text"), " ")).as("token"))
      .filter(length(col("token")) > 0)
    val freqs = toks.groupBy("token").count().select("count").as[Long].collect()
    val n = freqs.sum
    val buckets = 256
    val bucketed = toks.select((generators.Gen.u60(col("token"), "dsir") % buckets).as("b"))
      .groupBy("b").count().select("count").as[Long].collect()
    val bigramFreqs = d.select(explode(graft.llm.TextOps.shingles(col("text"), 2)).as("bg"))
      .groupBy("bg").count().select("count").as[Long].collect()
    val domain = (freqs ++ bucketed.map(_ + 1) ++ bigramFreqs ++
      Seq(n, n + buckets) ++ (1L to 1000L)).distinct
    domain.foreach { v =>
      val x = math.log(v.toDouble) * 1e9 + 0.5
      val dist = math.abs(x - math.rint(x))
      assert(dist > 1e-4, s"ln($v)*1e9 too close to a flooring boundary: $x")
    }
  }
}
