package graft

import org.apache.spark.sql.functions._
import graft.ops.Skew
import graft.llm.Similarity

/** Scale tooling: salted aggregation/join equivalence, bucketed
  * zero-shuffle joins, IVF probe behavior. */
class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  private val skewed = (Seq.fill(500)("hot") ++ Seq("a", "b", "c")).zipWithIndex
    .map { case (k, i) => (k, i.toLong) }.toDF("k", "v")

  test("salted count equals plain count") {
    val plain = skewed.groupBy("k").count().as[(String, Long)].collect().toMap
    val salted = Skew.saltedCount(skewed, "k").as[(String, Long)].collect().toMap
    assert(salted == plain)
  }

  test("salted sum equals plain sum") {
    val plain = skewed.groupBy("k").agg(sum("v")).as[(String, Long)].collect().toMap
    val salted = Skew.saltedSum(skewed, "k", "v").as[(String, Long)].collect().toMap
    assert(salted == plain)
  }

  test("salted join equals plain join") {
    val dim = Seq(("hot", "H"), ("a", "A"), ("zzz", "Z")).toDF("k", "label")
    val plain = skewed.join(dim, "k").groupBy("label").count()
      .as[(String, Long)].collect().toMap
    val salted = Skew.saltedJoin(skewed, dim, "k").groupBy("label").count()
      .as[(String, Long)].collect().toMap
    assert(salted == plain)
  }

  test("bucketed tables join without a shuffle") {
    val left = (1 to 1000).map(i => (i.toLong, s"l$i")).toDF("k", "lv")
    val right = (1 to 1000).map(i => (i.toLong, s"r$i")).toDF("k", "rv")
    for (t <- Seq("bkt_left", "bkt_right")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    Skew.writeBucketed(left, "bkt_left", "k", 8)
    Skew.writeBucketed(right, "bkt_right", "k", 8)
    // disable broadcast so the join exercises the bucketed (co-located
    // sort-merge) path — the 100 TB shape where neither side broadcasts
    withBroadcastOff {
      val joined = spark.table("bkt_left").join(spark.table("bkt_right"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"bucketed join should be shuffle-free:\n$plan")
      assert(plan.contains("Bucketed: true"), s"scan should use buckets:\n$plan")
      assert(joined.count() == 1000)
    }
  }

  test("int8 quantization: bounds, sign symmetry, zero vectors, reconstruction") {
    import graft.llm.Similarity
    val vecs = Seq(
      (1L, Array(1.0f, -1.0f, 0.5f, -0.5f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)),       // zero vector
      (3L, Array(0.003f, -0.001f, 0.002f, 0.0f)) // small magnitudes
    ).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(vecs, "vec_id", "embedding")
      .orderBy("vec_id").as[(Long, Double, String)].collect()
    val codes = out.map(r => (r._1, r._2, r._3.split(",").map(_.toInt)))
    // extremes hit exactly +-127; zero vector -> zeros with scale 0
    assert(codes(0)._3.toSeq == Seq(127, -127, 64, -63))
    assert(codes(1)._2 == 0.0 && codes(1)._3.forall(_ == 0))
    // every code in [-127, 127]; dequantization error <= scale/254 + eps
    for ((id, scale, qs) <- codes; if scale > 0) {
      val orig = vecs.filter($"vec_id" === id).as[(Long, Array[Float])].head()._2
      qs.zip(orig).foreach { case (q, x) =>
        assert(q >= -127 && q <= 127)
        assert(math.abs(q * scale / 127.0 - x) <= scale / 254.0 + 1e-9)
      }
    }
  }

  test("l2Normalize yields unit vectors, passes zero vectors through") {
    import graft.llm.Similarity
    val vecs = Seq(
      (1L, Array(3.0f, 4.0f)), (2L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val norms = vecs.select($"vec_id",
        Similarity.norm(Similarity.l2Normalize($"embedding")).as("n"))
      .orderBy("vec_id").as[(Long, Double)].collect().toMap
    assert(math.abs(norms(1L) - 1.0) < 1e-6)
    assert(norms(2L) == 0.0)
  }

  test("k-means refinement improves (or keeps) partial-probe recall") {
    // two tight clusters around +e1 and -e1
    val vecs = (0 until 200).map { i =>
      val sign = if (i % 2 == 0) 1.0f else -1.0f
      (i.toLong, Seq(sign, (i % 5).toFloat / 50f, ((i % 3) - 1).toFloat / 50f))
    }.toDF("vec_id", "embedding")
    val q = Seq(1.0, 0.0, 0.0)
    val initial = Similarity.ivfCentroids(vecs, "vec_id", "embedding", 4)
    val refined = Similarity.kmeansRefine(vecs, "embedding", initial, iters = 3)
    assert(refined.size == initial.size)
    val brute = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", q, 10)
      .select("vec_id").as[Long].collect().toSet
    def recall(cs: Seq[Array[Double]], nProbe: Int = 1) =
      Similarity.ivfTopK(vecs, "vec_id", "embedding", q, 10, cs, nProbe)
        .select("vec_id").as[Long].collect().count(brute) / 10.0
    // Lloyd's optimizes quantization error, not query recall — recall at
    // a fixed tiny probe budget may move either way with seeding, so the
    // asserted properties are the actual theorems:
    // (1) probing more lists never loses candidates (superset + same metric)
    assert(recall(refined, nProbe = 2) >= recall(refined, nProbe = 1))
    assert(recall(refined, nProbe = 3) >= recall(refined, nProbe = 2))
    // (2) refinement improves (or keeps) mean assignment quality —
    //     average best-centroid cosine over the corpus
    def meanBestCos(cs: Seq[Array[Double]]): Double = {
      import org.apache.spark.sql.functions.{array, array_max, avg, col}
      vecs.select(avg(array_max(array(
        cs.map(c => Similarity.cosineTo(col("embedding"), c.toSeq)): _*))))
        .as[Double].collect().head
    }
    assert(meanBestCos(refined) >= meanBestCos(initial) - 1e-9)
    // (3) a 3-of-4 probe budget covers the query's cluster region
    assert(recall(refined, nProbe = 3) >= 0.9)
    // full probe with refined centroids is still exact
    val full = Similarity.ivfTopK(vecs, "vec_id", "embedding", q, 10, refined, nProbe = 4)
      .select("vec_id").as[Long].collect().toSet
    assert(full == brute)
  }

  test("multi-probe ANN recall dominates single-bucket recall") {
    val vecs = (0 until 300).map { i =>
      (i.toLong, Seq((if (i % 2 == 0) 1.0f else -1.0f),
        (i % 11).toFloat / 11f, ((i % 5) - 2).toFloat / 5f))
    }.toDF("vec_id", "embedding")
    val q = Seq(1.0, 0.05, 0.0)
    val brute = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", q, 15)
      .select("vec_id").as[Long].collect().toSet
    def recall(probes: Int) =
      Similarity.annTopKMultiProbe(vecs, "vec_id", "embedding", q, 15,
          nPlanes = 6, probes = probes)
        .select("vec_id").as[Long].collect().count(brute)
    // superset of candidate buckets + same exact metric => monotone recall
    assert(recall(2) >= recall(1))
    assert(recall(4) >= recall(2))
    // probes=1 equals the plain single-bucket annTopK
    val single = Similarity.annTopK(vecs, "vec_id", "embedding", q, 15, nPlanes = 6)
      .select("vec_id").as[Long].collect().toSet
    val mp1 = Similarity.annTopKMultiProbe(vecs, "vec_id", "embedding", q, 15,
      nPlanes = 6, probes = 1).select("vec_id").as[Long].collect().toSet
    assert(mp1 == single)
  }

  test("IVF: full probe equals brute force; partial probe is a valid subset") {
    val vecs = (0 until 200).map { i =>
      val base = if (i % 4 == 0) 1.0f else if (i % 4 == 1) -1.0f else 0.5f
      (i.toLong, Seq(base, (i % 7).toFloat / 7f, ((i % 3) - 1).toFloat))
    }.toDF("vec_id", "embedding")
    val q = Seq(1.0, 0.1, 0.0)
    val centroids = Similarity.ivfCentroids(vecs, "vec_id", "embedding", 8)
    assert(centroids.size == 8 && centroids.head.length == 3)
    val brute = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", q, 10)
      .select("vec_id").as[Long].collect().toSeq
    val full = Similarity.ivfTopK(vecs, "vec_id", "embedding", q, 10, centroids, nProbe = 8)
      .select("vec_id").as[Long].collect().toSeq
    assert(full == brute) // probing every list == exact search
    val partial = Similarity.ivfTopK(vecs, "vec_id", "embedding", q, 10, centroids, nProbe = 2)
      .select("vec_id").as[Long].collect().toSeq
    assert(partial.size == 10)
    val recall = partial.count(brute.contains).toDouble / 10
    assert(recall >= 0.3, s"suspiciously low recall: $recall") // sanity floor
  }
}
