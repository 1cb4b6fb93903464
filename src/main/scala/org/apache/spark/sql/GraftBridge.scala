package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution}

/** Bridge to Spark 4 internals: the private[sql] Column<->Expression
  * converters (to register custom Catalyst expressions such as
  * graft.expressions.U60Hash as Columns), the `LogicalRDD` leaves behind
  * the one checkpoint primitive, and private[spark] utilities. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Block until the listener bus has delivered every event posted so
    * far (`LiveListenerBus` is private[spark]). */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** A fresh directory under `java.io.tmpdir` that Spark's shutdown hook
    * deletes, with its contents, at JVM exit (`Utils` is private[spark]). */
  def tempDirUntilExit(prefix: String): java.io.File =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix)

  /** Whether Spark's file listing skips a file or directory named `name`
    * (`_`- and `.`-prefixed names other than the parquet summaries;
    * `HadoopFSUtils` is private[spark]). */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  private val observations = new java.util.concurrent.atomic.AtomicLong()

  /** Eager local checkpoint of `df` that also returns aggregates over the
    * rows it materialized, from the same job: the one way graft
    * materializes a frame (`graft.plans.Checkpoints.materialize` is its
    * registered form). `count(lit(1))` and `aggs` ride the plan as a
    * `Dataset.observe` under a name fresh to this call (an observation
    * name is single-use per plan), so a caller learns the frame's size and
    * any census over it without a second action over the checkpoint.
    * Returns the frame and the row `(count, aggs…)`, equal to
    * `df.agg(count(lit(1)), aggs…).head()`.
    *
    * The leaf's statistics are what it stores: the exact row count and
    * the summed `UnsafeRow` bytes of its rows, counted by the same job
    * (how Spark's `InMemoryRelation` reports a loaded cache). Not
    * `Dataset.localCheckpoint`, whose leaf copies the origin plan's
    * ESTIMATE: in a loop whose round joins the previous checkpoint with
    * itself the copied `sizeInBytes` compounds (visitJoin multiplies child
    * sizes) until planning spends minutes in BigInteger.multiply, and
    * `schema.defaultSize` under-reports strings and arrays (a 1 KB text
    * row stores 1,024 bytes against a default of 28). Release the blocks
    * with `graft.plans.Checkpoints.unpersistCheckpoint`. */
  def checkpointObserved(df: DataFrame, aggs: Column*): (DataFrame, Row) = {
    val name = s"__graft_checkpoint_${observations.incrementAndGet()}"
    val qe = df.observe(name, functions.count(functions.lit(1)), aggs: _*).queryExecution
    val rdd = qe.toRdd.map(_.copy())
    rdd.localCheckpoint()
    val fallback = math.max(8L, df.schema.defaultSize.toLong)
    val bytes = rdd.sparkContext.runJob(rdd, (rows: Iterator[InternalRow]) =>
      rows.foldLeft(0L)((b, r) => b + (r match {
        case u: UnsafeRow => u.getSizeInBytes.toLong
        case _ => fallback
      }))).sum
    val row = qe.observedMetrics(name)
    (rddLeaf(qe, rdd, Some(Statistics(
      sizeInBytes = BigInt(bytes).max(1), rowCount = Some(BigInt(row.getLong(0)))))), row)
  }

  /** `df` with its plan executed ONCE: AQE runs every upstream query
    * stage now, and the returned frame scans the final stage's RDD, so
    * plans built on it do not run those stages again (`df.rdd` and
    * every action each plan and run `df` anew). Returns the frame and
    * its partition count. */
  def executedOnce(df: DataFrame): (DataFrame, Int) = {
    val rdd = df.queryExecution.toRdd
    (rddLeaf(df.queryExecution, rdd, None), rdd.getNumPartitions)
  }

  /** A frame scanning `rdd`, the rows of `qe`'s plan, with `stats` on its
    * leaf. The leaf also carries the plan's constraints, as
    * `Dataset.localCheckpoint` does: without them the optimizer re-infers
    * filters the rows already satisfy (`isnotnull` on a join key) on one
    * read of the leaf but not another, and exchange reuse no longer sees
    * the two reads as one subtree. */
  private def rddLeaf(qe: QueryExecution, rdd: RDD[InternalRow],
                      stats: Option[Statistics]): DataFrame = {
    val out = DataTypeUtils.toAttributes(qe.analyzed.schema)
    val origin = qe.optimizedPlan
    val constraints = LogicalRDD.buildOutputAssocForRewrite(origin.output, out)
      .map(LogicalRDD.rewriteConstraints(origin.constraints, _))
    classic.Dataset.ofRows(qe.sparkSession,
      LogicalRDD(out, rdd)(qe.sparkSession, stats, constraints))
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
