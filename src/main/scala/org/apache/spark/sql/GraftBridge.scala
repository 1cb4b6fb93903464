package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge to Spark 4's private[sql] Column<->Expression converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`), required to register
  * custom Catalyst expressions (e.g. graft.expressions.U60Hash) as
  * Columns without going through a FunctionRegistry extension. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Block until the listener bus has delivered every event posted so
    * far (`LiveListenerBus` is private[spark]). */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Eager local checkpoint with EXACT, freshly-counted statistics —
    * the fix-point-safe alternative to `Dataset.localCheckpoint`.
    *
    * Spark 4's `Dataset.localCheckpoint` funnels through
    * `LogicalRDD.fromDataset`, which PROPAGATES the origin plan's
    * estimated Statistics onto the checkpoint leaf. In an iterative
    * loop whose round plan joins the previous checkpoint with itself
    * (directly or transitively), the propagated `sizeInBytes` COMPOUNDS
    * multiplicatively — visitJoin multiplies child sizes — so the BigInt
    * doubles its digit count every round; by round ~24 the driver spends
    * MINUTES inside BigInteger.multiply computing a number with 2^24
    * digits (found live: FixpointSoak's entity_clusters run pinned one
    * core in Toom-Cook multiplication, r15). Checkpointing the RDD
    * directly skips the origin-stats computation entirely, and the row
    * count we take for eagerness doubles as an exact Statistics, so
    * downstream joins still broadcast a small frontier.
    *
    * Returns (checkpointed frame, row count). Release the blocks with
    * `graft.plans.Checkpoints.unpersistCheckpoint` exactly like a
    * `localCheckpoint` result. */
  def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val rdd = df.queryExecution.toRdd.map(_.copy())
    rdd.localCheckpoint()
    val n = rdd.count()
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils
      .toAttributes(df.schema)
    val stats = org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = BigInt(n).max(1) * math.max(8, df.schema.defaultSize),
      rowCount = Some(BigInt(n)))
    val plan = org.apache.spark.sql.execution.LogicalRDD(attrs, rdd)(
      session, Some(stats), None)
    (classic.Dataset.ofRows(session, plan), n)
  }

  /** `df` with its plan executed ONCE: AQE runs every upstream query
    * stage now, and the returned frame scans the final stage's RDD, so
    * plans built on it do not run those stages again (`df.rdd` and
    * every action each plan and run `df` anew). Returns the frame and
    * its partition count. */
  def executedOnce(df: DataFrame): (DataFrame, Int) = {
    val session = df.sparkSession.asInstanceOf[classic.SparkSession]
    val rdd = df.queryExecution.toRdd
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils
      .toAttributes(df.schema)
    val plan = org.apache.spark.sql.execution.LogicalRDD(attrs, rdd)(
      session, None, None)
    (classic.Dataset.ofRows(session, plan), rdd.getNumPartitions)
  }

  /** Register graft's native expressions as SQL functions on a session
    * (the FunctionRegistry injection a SparkSessionExtensions would do;
    * exposed directly so `spark.sql("... u60_hash(col, 'prefix') ...")`
    * works without a restart). */
  def registerFunctions(spark: SparkSession): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.types.StringType
    val registry = spark.sessionState.functionRegistry
    registry.createOrReplaceTempFunction("u60_hash", exprs => {
      require(exprs.size == 2, "u60_hash(input, prefix_literal)")
      val prefix = exprs(1) match {
        case Literal(v, StringType) => v.toString
        case other => throw new IllegalArgumentException(s"u60_hash: prefix must be a string literal, got $other")
      }
      graft.expressions.U60Hash(Cast(exprs(0), StringType), prefix)
    }, "built-in")
    registry.createOrReplaceTempFunction("minhash60", exprs => {
      require(exprs.size == 3, "minhash60(shingle_array, salt_literal, n_digests)")
      (exprs(1), exprs(2)) match {
        case (Literal(s, StringType), Literal(n, _)) =>
          graft.expressions.MinHash60(exprs(0), s.toString, n.toString.toInt)
        case other => throw new IllegalArgumentException(s"minhash60: literal args required, got $other")
      }
    }, "built-in")
    registry.createOrReplaceTempFunction("digest_hex", exprs => {
      require(exprs.size == 2, "digest_hex(input, algo_literal)")
      exprs(1) match {
        case Literal(a, StringType) =>
          graft.expressions.DigestHex(Cast(exprs(0), StringType), a.toString)
        case other => throw new IllegalArgumentException(s"digest_hex: algo must be a string literal, got $other")
      }
    }, "built-in")
    registry.createOrReplaceTempFunction("big_uniform_mod", exprs => {
      // big_uniform_mod(digits, width_literal, min_units_literal, scale)
      require(exprs.size == 4, "big_uniform_mod(digits, width_lit, min_units_lit, scale_lit)")
      (exprs(1), exprs(2), exprs(3)) match {
        case (Literal(w, StringType), Literal(m, StringType), Literal(s, _)) =>
          graft.expressions.BigUniformMod(Cast(exprs(0), StringType),
            w.toString, m.toString, s.toString.toInt)
        case other => throw new IllegalArgumentException(
          s"big_uniform_mod: width/min/scale must be literals, got $other")
      }
    }, "built-in")
    registry.createOrReplaceTempFunction("json_edit", exprs => {
      // json_edit(doc, 'set:a.b=1;delete:k' [, sort_keys]) — same compact
      // op spec as the Json registry factory
      require(exprs.size == 2 || exprs.size == 3, "json_edit(doc, ops_literal[, sort_keys])")
      val ops = exprs(1) match {
        case Literal(s, StringType) => graft.expressions.JsonEditOp.parseSpec(s.toString)
        case other => throw new IllegalArgumentException(s"json_edit: ops must be a string literal, got $other")
      }
      val sortKeys = if (exprs.size == 3) exprs(2) match {
        case Literal(b, _) => b.toString.toBoolean
        case _ => true
      } else true
      graft.expressions.JsonEditExpr(Cast(exprs(0), StringType), ops, sortKeys)
    }, "built-in")
    registry.createOrReplaceTempFunction("simhash_bits", exprs => {
      require(exprs.size == 3, "simhash_bits(token_array, prefix_literal, bits_literal)")
      (exprs(1), exprs(2)) match {
        case (Literal(p, StringType), Literal(b, _)) =>
          graft.expressions.SimHashBits(exprs(0), p.toString, b.toString.toInt)
        case other => throw new IllegalArgumentException(
          s"simhash_bits: literal args required, got $other")
      }
    }, "built-in")
    registry.createOrReplaceTempFunction("shingle_md5", exprs => {
      require(exprs.size == 2, "shingle_md5(token_array, k_literal)")
      exprs(1) match {
        case Literal(k, _) => graft.expressions.ShingleMd5(exprs(0), k.toString.toInt)
        case other => throw new IllegalArgumentException(
          s"shingle_md5: k must be a literal, got $other")
      }
    }, "built-in")
    registry.createOrReplaceTempFunction("cosine_pair", exprs => {
      require(exprs.size == 2, "cosine_pair(vec_a, vec_b)")
      graft.expressions.CosinePair(exprs(0), exprs(1))
    }, "built-in")
  }
}
