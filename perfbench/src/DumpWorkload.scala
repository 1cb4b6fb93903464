package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{coalesce, col, expr, lit}
import graft.pipeline.{Catalog, ConfigLoader, PgToc, Planner}
import graft.plans.{Checkpoints, FixpointStats}
import graft.sources.{CopyText, PgArchive, PgRestore, PgSource}
import graft.subset.SubsetPlanner
import Main._

/** `subset-mask-restore`: the product path a user runs. One operation is
  * config parse -> validate -> FK-closed subset (a seeded root cond on
  * customer, closed over the self-FK `c_parent` and then over
  * orders/lineitem) -> masked plans -> gzip pg_dump directory
  * archive -> `PgRestore.restore` into an empty database of a live
  * PostgreSQL cluster. */
final class DumpWorkload(ctx: Ctx) {
  import ctx._

  private val fixture = s"$work/fixture"
  private val archive = s"$work/archive"
  // The seeded cond drops a tenth of the customers. The top four levels
  // of the c_parent tree are always kept and customer 16 is always
  // dropped, so every seed runs the same number of fix-point rounds and
  // no seed drops more than a sixteenth of the customers in one subtree.
  private val cond =
    s"c_custkey <> 16 AND (c_custkey < 16 OR pmod(xxhash64(c_custkey, ${seed}L), 10) <> 0)"
  private val cfgJson = maskConfig(Some(cond))
  private val edges = (Catalog.fkRefs :+ SelfFk)
    .filter(e => DumpTables.contains(e.childTable) && DumpTables.contains(e.parentTable))
  private val pks = Catalog.tables.map(t => t.name -> t.primaryKey).toMap
  private val deps = edges.filter(e => !e.virtual && e.childTable != e.parentTable)
    .groupBy(_.childTable).map { case (c, es) => c -> es.map(_.parentTable).distinct }
  private val psqlBase = Seq("-h", pgSock, "-U", "graft")
  private var tracing = false

  private def span[T](name: String)(f: => T): T = if (tracing) trace(name)(f) else f

  final case class Chain(kept: Map[String, DataFrame], masked: Seq[(String, DataFrame)],
                         dumpS: Double)

  /** Config to closed archive, through public calls only. */
  def chain(dir: String, out: String): Chain = {
    rmrf(out)
    val t0 = System.nanoTime()
    val cfgs = span("pipeline.config")(ConfigLoader.fromJson(cfgJson))
    val byTable = cfgs.map(c => c.table -> c).toMap
    val dfs = DumpTables.map(t => t -> Catalog.load(spark, dir, t)).toMap
    span("pipeline.validate")(cfgs.flatMap(c => Planner.validate(dfs(c.table), c)))
    val conds = cfgs.map(c => c.table -> c.subsetConds).toMap
    val kept = span("subset.plan")(SubsetPlanner.plan(dfs, pks, edges, conds))
    val masked = span("pipeline.plan")(DumpTables.map(t => t ->
      byTable.get(t).fold(kept(t))(c => Planner.plan(kept(t), c.copy(subsetConds = Nil)))))
    span("sources.archive")(PgToc.dumpArchive(masked, out, "perfbench", deps = deps,
      includeSchema = true, compress = "gzip"))
    Chain(kept, masked, (System.nanoTime() - t0) / 1e9)
  }

  private def psql(db: String, sql: String): Unit = {
    val p = new ProcessBuilder((Seq("psql", "-X", "-q", "-v", "ON_ERROR_STOP=1")
      ++ psqlBase ++ Seq("-d", db, "-c", sql)): _*).redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    require(p.waitFor() == 0, s"psql failed: $sql: $out")
  }

  private def freshDb(db: String): Unit = {
    psql("postgres", s"DROP DATABASE IF EXISTS $db")
    psql("postgres", s"CREATE DATABASE $db")
  }

  private def restore(db: String): Double = {
    freshDb(db)
    time(span("sources.restore")(
      PgRestore.restore(archive, psqlBase ++ Seq("-d", db), jobs = math.min(4, cores))))._2
  }

  final case class Op(chain: Chain, dumpS: Double, restoreS: Double, sha: String) {
    def seconds: Double = dumpS + restoreS
  }

  /** One operation: chain, then restore. The checkpoints of the
    * previous operation are released first, outside the timed part, so
    * the last operation's subset stays readable for the checks. */
  private def operation(db: String): Op = {
    span("plans.release")(Checkpoints.releaseAll())
    val c = chain(fixture, archive)
    val r = restore(db)
    Op(c, c.dumpS, r, sha256Dir(archive))
  }

  private def writeFixture(dir: String, sf: Double): Unit = {
    rmrf(dir)
    Fixture.write(spark, dir, seed, sf, files = cores, tables = DumpTables, selfFk = true)
  }

  def run(): Unit = {
    rep.diag("fixture_s") = time(writeFixture(fixture, DumpSf))._2.toString
    rep.diag("input_lineitem_rows") = spark.read.parquet(s"$fixture/lineitem.parquet").count().toString
    rep.mark("fixture")
    // setup_s: the program's warm-up before the first timed sample
    val ((cold, warm), setupS) = time {
      noiseDateDefect()
      val cold = operation("target")
      (cold, (1 to WarmPasses).map(_ => operation("target")))
    }
    rep.diag("cold_op_s") = cold.seconds.toString
    rep.diag("warm_op_s") = warm.map(o => f"${o.seconds}%.3f").mkString("[", ",", "]")
    rep.mark("warm")
    if (!traced) {
      rep.series("setup_s", Seq(setupS), "s")
      val ops = sample(ctx)(rep.op("operation")(operation("target"))).flatten
      rep.mark("timed")
      rep.series("op_s", ops.map(_.seconds), "s")
      rep.series("dump_s", ops.map(_.dumpS), "s", asMetric = false)
      rep.series("load_s", ops.map(_.restoreS), "s", asMetric = false)
      rep.check("archive_sha256_identical_across_samples")((cold +: warm ++: ops).map(_.sha).distinct.size == 1)
      if (ops.nonEmpty) checks(ops.last.chain)
    } else tracedRun(cold +: warm)
    Checkpoints.releaseAll()
  }

  /** FIXTURES.md section 3's `NoiseDate` on `orders.o_orderdate`
    * (TIMESTAMP_NTZ) fails analysis in `Planner.plan` while
    * `Planner.validate` stays silent. It is attempted once per run and
    * reported, outside the timed config, until the program is fixed. */
  private def noiseDateDefect(): Unit = {
    val cfg = ConfigLoader.fromJson(NoiseDateLine).head
    val orders = Catalog.load(spark, fixture, "orders")
    val warnings = Planner.validate(orders, cfg)
    val outcome =
      try { Planner.plan(orders, cfg).queryExecution.assertAnalyzed(); "analyzes" }
      catch { case e: Throwable =>
        val m = String.valueOf(e.getMessage)
        if (m.contains("DATATYPE_MISMATCH")) "fails DATATYPE_MISMATCH" else s"fails ${e.getClass.getSimpleName}" }
    rep.diag("known_defect_noise_date") =
      str(s"plan $outcome; validate warnings ${warnings.size}")
    rep.metric("pipeline.noise_date_defect", if (outcome == "analyzes") 0 else 1, "count")
    System.err.println(s"[perfbench] known defect NoiseDate(o_orderdate): plan $outcome, " +
      s"validate warnings ${warnings.size}")
  }

  /** Untimed correctness checks on the last operation: its subset and
    * its archive, restored in the "target" database. */
  private def checks(c: Chain): Unit = {
    val dfs = DumpTables.map(t => t -> Catalog.load(spark, fixture, t)).toMap
    val conds = Map("customer" -> Seq(cond))
    val keptCounts = DumpTables.map(t => t -> c.kept(t).count()).toMap
    rep.diag("kept_rows") = keptCounts.map { case (t, n) => s""""$t":$n""" }.mkString("{", ",", "}")
    rep.detail("archive_bytes_per_row") =
      s"""{"value":${dirBytes(archive).toDouble / keptCounts.values.sum},"unit":"B/row"}"""
    // per FK edge: no kept row points at a dropped parent
    edges.filter(e => keptCounts(e.parentTable) < dfs(e.parentTable).count()).foreach { e =>
      rep.check(s"fk_closed_${e.childTable}.${e.childCols.mkString("_")}") {
        val parent = c.kept(e.parentTable).select(e.parentCols.zipWithIndex.map { case (p, i) =>
          col(p).as(s"__p$i") }: _*)
        val on = e.childCols.zipWithIndex.map { case (k, i) => col(k) === col(s"__p$i") }.reduce(_ && _)
        c.kept(e.childTable).filter(e.childCols.map(col(_).isNotNull).reduce(_ && _))
          .join(parent, on, "left_anti").isEmpty
      }
    }
    // every dropped row fails its own cond or points at a dropped parent
    DumpTables.filter(t => keptCounts(t) < dfs(t).count()).foreach { t =>
      rep.check(s"dropped_rows_explained_$t") {
        val dropped = dfs(t).join(c.kept(t), pks(t), "left_anti")
        val own = conds.get(t).map(cs => !coalesce(cs.map(expr).reduce(_ && _), lit(false)))
        val viaParents = edges.filter(_.childTable == t).zipWithIndex.map { case (e, i) =>
          val deadKeys = dfs(e.parentTable).join(c.kept(e.parentTable), pks(e.parentTable), "left_anti")
            .select(e.parentCols.zipWithIndex.map { case (p, j) => col(p).as(s"__d${i}_$j") }: _*)
            .withColumn(s"__dead$i", lit(true))
          (deadKeys, e.childCols.zipWithIndex.map { case (k, j) => col(k) === col(s"__d${i}_$j") }
            .reduce(_ && _), col(s"__dead$i").isNotNull)
        }
        val flagged = viaParents.foldLeft(dropped) { case (d, (dk, on, _)) => d.join(dk, on, "left") }
        val explained = (own.toSeq ++ viaParents.map(_._3)).reduce(_ || _)
        flagged.filter(!explained).isEmpty
      }
    }
    // restored database: PgRestore against native pg_restore of the same archive
    freshDb("native")
    val p = new ProcessBuilder((Seq("pg_restore", "--no-owner") ++ psqlBase ++
      Seq("-d", "native", archive)): _*).redirectErrorStream(true).start()
    val pgOut = new String(p.getInputStream.readAllBytes(), "UTF-8")
    rep.check("native_pg_restore_loads_archive")(p.waitFor() == 0 || { System.err.println(pgOut); false })
    DumpTables.foreach { t =>
      rep.check(s"pg_diff_match_$t") {
        val a = PgSource.tableFingerprint(psqlBase ++ Seq("-d", "target"), t)
        val b = PgSource.tableFingerprint(psqlBase ++ Seq("-d", "native"), t)
        a == b && a._1 == keptCounts(t)
      }
    }
  }

  /** Per-layer metrics: traced operations, then the isolation passes and
    * the fixed-cost fit, all outside the traced chain. */
  private def tracedRun(earlier: Seq[Op]): Unit = {
    val layers = Seq("pipeline.config", "pipeline.validate", "pipeline.plan", "subset.plan",
      "sources.archive", "sources.restore", "plans.release")
    def tracedOp(): (Op, Map[String, Double], Int) = {
      tracing = true
      val before = trace.all.size
      val op = trace("op")(operation("target"))
      val held = Checkpoints.trackedCount
      tracing = false
      val slice = trace.all.drop(before)
      (op, layers.map(l => l -> Trace.self(slice, l)).toMap, held)
    }
    // traced and untraced operations alternate, two of each, so the
    // overhead compares medians of equally many samples
    val pairs = (1 to 2).map(_ => (rep.op("traced operation")(tracedOp()),
      rep.op("operation")(operation("target"))))
    val passes = pairs.flatMap(_._1)
    val untraced = pairs.flatMap(_._2)
    rep.check("archive_sha256_identical_across_samples")(
      (earlier ++ untraced ++ passes.map(_._1)).map(_.sha).distinct.size == 1)
    if (passes.isEmpty || untraced.isEmpty) return
    passes.foreach { case (op, ls, _) => System.err.println(f"[perfbench] traced op ${op.seconds}%.3f s: " +
      ls.map { case (l, v) => f"$l=$v%.3f" }.mkString(" ")) }
    layers.foreach(l => rep.metric(l + "_s", median(passes.map(_._2(l))), "s"))
    rep.metric("trace.overhead_s", median(passes.map(_._1.seconds)) - median(untraced.map(_.seconds)), "s")
    rep.metric("plans.checkpoints_held", passes.map(_._3).max.toDouble, "count")
    rep.metric("subset.rounds", FixpointStats.last("selfFkClosure").getOrElse(0).toDouble, "count")

    // isolation passes on the last traced operation's input and output,
    // each the faster of two runs
    val c = passes.last._1.chain
    val total = DumpTables.map(t => Catalog.load(spark, fixture, t).count()).sum
    rep.metric("subset.keep_ratio", DumpTables.map(t => c.kept(t).count()).sum.toDouble / total, "ratio")
    def fastest(f: => Unit): Double = math.min(time(f)._2, time(f)._2)
    def noop(dfs: Seq[DataFrame]): Double =
      fastest(dfs.foreach(_.write.format("noop").mode("overwrite").save()))
    val scan = noop(DumpTables.map(c.kept))
    rep.metric("sources.scan_s", scan, "s")
    rep.metric("transformers.mask_s", noop(c.masked.map(_._2)) - scan, "s")
    val mat = c.masked.map { case (t, df) => t -> Checkpoints.materialize(df) }
    def encode(algo: Int): Double = fastest(mat.foreach { case (t, df) =>
      CopyText.writeDatFile(df, s"$work/encode-$t.dat", algo) })
    val plain = encode(0)
    rep.metric("sources.encode_s", plain, "s")
    rep.metric("sources.compress_s", encode(1) - plain, "s")
    rep.metric("sources.ingest_s", time(trace("sources.ingest")(PgArchive.loadTyped(spark, archive)
      .foreach { case (t, df) => df.write.mode("overwrite").parquet(s"$work/ingest/$t.parquet") }))._2, "s")
    Checkpoints.releaseAll()

    // fixed-cost read: dump time against input lineitem rows at three sizes
    def rows(dir: String) = spark.read.parquet(s"$dir/lineitem.parquet").count() / 1e6
    val points = (rows(fixture), median(passes.map(_._1.dumpS))) +:
      Seq(DumpSf * 5, DumpSf * 15).map { sf =>
        val dir = s"$work/fixture-fit"
        writeFixture(dir, sf)
        val t = chain(dir, s"$work/archive-fit").dumpS
        Checkpoints.releaseAll()
        (rows(dir), t)
      }
    val (a, b) = fit(points)
    rep.diag("fit_points") = points.map { case (r, t) => f"[$r%.4f,$t%.3f]" }.mkString("[", ",", "]")
    rep.metric("sources.dump_fixed_s", a, "s")
    rep.metric("sources.dump_s_per_mrow", b, "s/Mrow")
  }

  /** Least-squares line t = a + b * rows. */
  private def fit(ps: Seq[(Double, Double)]): (Double, Double) = {
    val n = ps.size; val mx = ps.map(_._1).sum / n; val my = ps.map(_._2).sum / n
    val b = ps.map { case (x, y) => (x - mx) * (y - my) }.sum / ps.map { case (x, _) => (x - mx) * (x - mx) }.sum
    (my - b * mx, b)
  }
}
