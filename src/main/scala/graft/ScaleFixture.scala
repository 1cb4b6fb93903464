package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, ShortType}

/** Deterministic scale-up fixture builder: replicates a driver testdata
  * directory N× with KEY-SHIFTING, preserving referential integrity so
  * the whole oracle battery runs unchanged at the synthesized scale
  * (round-14 rehearsal: sf0.1 × 10 ≈ sf1).
  *
  * Replica i shifts every key in a FOREIGN-KEY DOMAIN by i × unit(domain),
  * where unit is the next power of 10 above the domain's source maximum —
  * customer/orders agree on the custkey shift, orders/lineitem on
  * orderkey, part/lineitem on partkey, supplier/lineitem on suppkey, so
  * every join in the battery finds its rows in every replica.
  * Fixed-cardinality dimensions (region, nation) are NOT replicated:
  * scaling fact tables against fixed dims is how the real schema grows.
  * Non-key payloads copy verbatim — each document's text gains N exact
  * copies (cross-replica duplicates are REAL work for the dedup family)
  * and each user's event stream replicates under a shifted user_id
  * (N× sessions, not N×-longer sessions).
  *
  * NEAR-DUP PERTURBATION (`perturb = true`): verbatim replication only
  * exercises the EXACT-duplicate path of the dedup family — every
  * cross-replica pair has Jaccard 1.0, so MinHash/SimHash banding always
  * fires and its selectivity under realistic edit noise goes untested at
  * scale. With perturbation on, ODD replicas apply deterministic
  * hash-seeded token edits to `documents.text` (drops + in-place token
  * mutations; even replicas stay verbatim), planting near-duplicate
  * pairs at two edit intensities: replica ≡ 1 (mod 4) is light
  * (~7% of tokens touched, Jaccard ~0.85 — above typical LSH
  * thresholds) and replica ≡ 3 (mod 4) is heavy (~18%, Jaccard ~0.6 —
  * the band-miss regime). Same seed columns (doc_id, replica, position,
  * xxhash64) ⇒ the same fixture every run; no rand() anywhere.
  *
  * Key-shift SAFETY: shifted keys are cast back to the source column's
  * type; a 32-bit key whose domain shift exceeds Int.MaxValue would wrap
  * silently under non-ANSI Spark and break the uniqueness/FK-closure
  * promises, so every (column, replicas) combination is bounds-checked
  * up front and fails loudly instead (ADVICE r14).
  *
  * Spark-shaped: one scan per table; explode(replica array) multiplies
  * rows map-side with no shuffle; output lands as multi-file parquet so
  * downstream scans parallelize like a real lake layout (the driver
  * fixtures' single-row-group files serialize narrow plans — see
  * COVERAGE "layout, not plan").
  */
object ScaleFixture {
  /** Replica key-shift unit: next power of 10 above the source-domain
    * max. Shared (not private) so instruments that re-derive planted
    * pairs — LshStats --planted — use the SAME rule by construction. */
  private[graft] def pow10Above(n: Long): Long = {
    var u = 1L
    while (u <= n) u *= 10
    u
  }

  /** (table, key column → shift domain). Everything else copies as-is. */
  private val ShiftedKeys: Map[String, Seq[(String, String)]] = Map(
    "customer" -> Seq("c_custkey" -> "custkey"),
    "supplier" -> Seq("s_suppkey" -> "suppkey"),
    "part" -> Seq("p_partkey" -> "partkey"),
    "orders" -> Seq("o_orderkey" -> "orderkey", "o_custkey" -> "custkey"),
    "lineitem" -> Seq("l_orderkey" -> "orderkey", "l_partkey" -> "partkey",
      "l_suppkey" -> "suppkey"),
    "events" -> Seq("event_id" -> "eventid", "user_id" -> "userid"),
    "documents" -> Seq("doc_id" -> "docid"),
    "embeddings" -> Seq("vec_id" -> "vecid"))

  private val FixedDims = Seq("region", "nation")

  /** Largest value the column's storage type can hold (the cast-back
    * ceiling); non-integral key types never appear in ShiftedKeys. */
  private def typeCeiling(dt: DataType): Long = dt match {
    case ByteType => Byte.MaxValue.toLong
    case ShortType => Short.MaxValue.toLong
    case IntegerType => Int.MaxValue.toLong
    case _ => Long.MaxValue
  }

  /** Deterministic token-level edit noise for planted near-duplicates.
    * Two passes over the token array, each seeded by
    * xxhash64(doc_id, replica, position[, salt]) so the SAME document in
    * the SAME replica always takes the SAME edits:
    *   1. mutation — every token whose hash ≡ 0 (mod mutMod) is replaced
    *      in place by its reversal (a "synonym": same position, same
    *      length class, different shingles);
    *   2. drop — every token whose salted hash ≡ 0 (mod dropMod) is
    *      removed.
    * Light replicas (≡1 mod 4): dropMod 20, mutMod 40 (~7% touched).
    * Heavy replicas (≡3 mod 4): dropMod 8, mutMod 16 (~18% touched). */
  private def perturbText(text: Column, docId: Column, rep: Column): Column = {
    val dropMod = when(pmod(rep, lit(4)) === 1, lit(20L)).otherwise(lit(8L))
    val mutMod = when(pmod(rep, lit(4)) === 1, lit(40L)).otherwise(lit(16L))
    val toks = split(text, " ")
    val mutated = transform(toks, (tok, pos) =>
      when(pmod(xxhash64(docId, rep, pos), mutMod) === 0, reverse(tok))
        .otherwise(tok))
    val kept = filter(mutated, (_, pos) =>
      pmod(xxhash64(docId, rep, pos, lit(7L)), dropMod) =!= 0)
    when(pmod(rep, lit(2)) === 1, array_join(kept, " ")).otherwise(text)
  }

  /** @param tables restrict the build to these tables (default: all).
    *        A partial fixture CANNOT run the oracle battery (FK targets
    *        missing) — it exists for single-table instruments like the
    *        LshStats sf100 saturation probe, where replicating lineitem
    *        ×1000 alongside 5M documents would be pure waste. */
  def replicate(spark: SparkSession, src: String, out: String,
                replicas: Int, files: Int = 32,
                perturb: Boolean = false,
                tables: Option[Set[String]] = None): Unit = {
    def rd(t: String): DataFrame = graft.pipeline.Catalog.load(spark, src, t)
    val wanted: String => Boolean = t => tables.forall(_.contains(t))
    tables.foreach { ts =>
      val known = (ShiftedKeys.keySet ++ FixedDims).toSet
      val bad = ts.diff(known)
      require(bad.isEmpty, s"[scale-fixture] unknown table(s): ${bad.mkString(", ")}")
    }
    def maxOf(t: String, c: String): Long =
      rd(t).agg(max(col(c).cast("long"))).head.getLong(0)
    val srcMax = Map(
      "custkey" -> maxOf("customer", "c_custkey"),
      "orderkey" -> maxOf("orders", "o_orderkey"),
      "partkey" -> maxOf("part", "p_partkey"),
      "suppkey" -> maxOf("supplier", "s_suppkey"),
      "eventid" -> maxOf("events", "event_id"),
      "userid" -> maxOf("events", "user_id"),
      "docid" -> maxOf("documents", "doc_id"),
      "vecid" -> maxOf("embeddings", "vec_id"))
    val unit = srcMax.map { case (d, m) => d -> pow10Above(m) }
    // fail-loudly bounds check BEFORE writing anything: the largest
    // shifted key per column must fit the column's own storage type
    // (BigInt sidesteps Long overflow in the check itself)
    ShiftedKeys.filter(kv => wanted(kv._1)).foreach { case (t, keys) =>
      val schema = rd(t).schema
      keys.foreach { case (c, dom) =>
        val top = BigInt(srcMax(dom)) +
          BigInt(replicas - 1) * BigInt(unit(dom))
        val ceiling = BigInt(typeCeiling(schema(c).dataType))
        require(top <= ceiling,
          s"[scale-fixture] $t.$c (${schema(c).dataType.simpleString}) " +
            s"cannot hold replica-shifted keys: max shifted value $top > " +
            s"type ceiling $ceiling — widen the column or lower replicas " +
            s"($replicas)")
      }
    }
    FixedDims.filter(wanted).foreach { t =>
      rd(t).write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    ShiftedKeys.filter(kv => wanted(kv._1)).foreach { case (t, keys) =>
      val df = rd(t)
      val rep = df.withColumn("__replica",
        explode(lit((0 until replicas).toArray)))
      val shifted = keys.foldLeft(rep) { case (d, (c, dom)) =>
        d.withColumn(c, (col(c) + col("__replica").cast("long") *
          lit(unit(dom))).cast(df.schema(c).dataType))
      }
      val noised =
        if (perturb && t == "documents")
          shifted.withColumn("text",
            perturbText(col("text"), col("doc_id"), col("__replica")))
        else shifted
      noised.drop("__replica").repartition(files).write.mode("overwrite")
        .parquet(s"$out/$t.parquet")
      println(s"[scale-fixture] $t ×$replicas -> $out/$t.parquet " +
        s"(keys: ${keys.map { case (c, d) => s"$c+i*${unit(d)}" }.mkString(", ")}" +
        (if (perturb && t == "documents") "; near-dup perturbation on odd replicas"
         else "") + ")")
    }
  }

  def main(args: Array[String]): Unit = {
    val (flags, pos) = args.partition(_.startsWith("--"))
    require(pos.length >= 2,
      "usage: graft.ScaleFixture <srcSfDir> <outDir> [replicas=10] " +
        "[--perturb] [--tables=t1,t2]")
    // fail loudly on unknown/malformed flags: a silently-dropped
    // "--perturb=true" (or a typo) would build a VERBATIM fixture and the
    // downstream near-dup rehearsal would measure exact-copy recall 1.0 —
    // exactly the misleading number the flag exists to avoid
    val unknown = flags.filterNot(f => f == "--perturb" || f.startsWith("--tables="))
    require(unknown.isEmpty,
      s"unknown flag(s): ${unknown.mkString(", ")} — supported: --perturb, --tables=")
    val replicas = if (pos.length > 2) pos(2).toInt else 10
    val perturb = flags.contains("--perturb")
    val tables = flags.collectFirst {
      case f if f.startsWith("--tables=") =>
        f.stripPrefix("--tables=").split(",").map(_.trim).filter(_.nonEmpty).toSet
    }
    val spark = LocalSession()
    replicate(spark, pos(0), pos(1), replicas, perturb = perturb, tables = tables)
    spark.stop()
  }
}
