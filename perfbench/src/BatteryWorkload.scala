package perfbench

import graft.plans.Checkpoints
import Main._

/** `operators`: queries of the headline battery through
  * `graft.SparkEntry.queries`, each into a `noop` sink, with `Bench`'s
  * untimed `Checkpoints.releaseAll()` + `System.gc()` between queries.
  * The untraced run times [[Main.Operators]]; the traced run times the
  * whole [[Main.Battery]]. The inputs are fixed so the outputs can be
  * pinned by golden digests. */
final class BatteryWorkload(ctx: Ctx) {
  import ctx._

  private val fixture = s"$work/fixture"

  private def span[T](on: Boolean, name: String)(f: => T): T = if (on) trace(name)(f) else f

  /** One query's construct time (returning the DataFrame, including
    * the eager jobs an operator runs to build it), `noop` write time,
    * checkpoints it held, and the time to release them. */
  final case class Q(construct: Double, exec: Double, held: Int, release: Double) {
    def total: Double = construct + exec
  }

  private def query(name: String, traced: Boolean): Q = {
    val fn = graft.SparkEntry.queries(name)
    val (df, c) = time(span(traced, "battery.construct")(fn(spark, fixture)))
    val (_, e) = time(span(traced, "battery.exec")(df.write.format("noop").mode("overwrite").save()))
    val held = Checkpoints.trackedCount
    val (_, r) = time(Checkpoints.releaseAll())
    System.gc()
    Q(c, e, held, r)
  }

  private def pass(queries: Seq[String], traced: Boolean): Seq[(String, Q)] =
    queries.map(q => q -> span(traced, s"battery.$q")(query(q, traced)))

  def run(): Unit = {
    val tables = if (traced) Fixture.Tables else OperatorTables
    rep.diag("fixture_s") = time(Fixture.write(spark, fixture, BatteryFixtureSeed, BatterySf,
      files = 1, tables = tables))._2.toString
    val timed = if (traced) Battery else Operators
    rep.diag("queries") = timed.size.toString
    rep.mark("fixture")
    // setup_s: the program's warm-up before the first timed sample
    val (warm, setupS) = time {
      rep.diag("cold_pass_s") = time(checks(timed))._2.toString
      rep.mark("cold")
      if (traced) Nil else (1 to WarmPasses).map(_ => time(pass(Operators, traced = false))._2)
    }
    if (!traced) {
      rep.series("setup_s", Seq(setupS), "s")
      rep.diag("warm_pass_s") = warm.map(v => f"$v%.3f").mkString("[", ",", "]")
      rep.mark("warm")
      val passes = sample(ctx)(rep.op("operators pass")(pass(Operators, traced = false))).flatten
      // op_s: sum over queries of each query's median pass time, so one
      // query's slow pass moves it by that query's share only
      val perQuery = Operators.map(q => q -> passes.flatMap(_.find(_._1 == q)).map(_._2.total))
      val opS = perQuery.map(q => median(q._2)).sum
      rep.metric("op_s", opS, "s")
      rep.detail("op_s") = s"""{"sum_of_query_medians":$opS,"n":${passes.size},"unit":"s"}"""
      rep.series("battery_s", passes.map(_.map(_._2.total).sum), "s", asMetric = false)
      perQuery.foreach { case (q, ts) => rep.series(s"battery.${q}_s", ts, "s", asMetric = false) }
    } else {
      val tr = trace("battery")(pass(Battery, traced = true))
      tr.foreach { case (q, r) => rep.metric(s"battery.${q}_s", r.total, "s") }
      rep.metric("battery.construct_s", tr.map(_._2.construct).sum, "s")
      rep.metric("battery.exec_s", tr.map(_._2.exec).sum, "s")
      rep.metric("plans.checkpoints_held", tr.map(_._2.held).sum.toDouble, "count")
      rep.metric("plans.release_s", tr.map(_._2.release).sum, "s")
      val untraced = pass(Operators, traced = false).map(_._2.total).sum
      rep.metric("trace.overhead_s", tr.filter(q => Operators.contains(q._1)).map(_._2.total).sum - untraced, "s")
    }
  }

  /** Writes the battery fixture and prints every query's digest, for
    * `record_golden.py`. */
  def record(): Unit = {
    Fixture.write(spark, fixture, BatteryFixtureSeed, BatterySf, files = 1)
    val ds = Battery.map { q =>
      val d = digest(graft.SparkEntry.queries(q)(spark, fixture))
      Checkpoints.releaseAll()
      s""""$q":"$d""""
    }
    println(ds.mkString("{\"digests\":{", ",", "}}"))
    spark.stop()
    sys.exit(0)
  }

  /** Untimed: each query's output digest against the golden digest
    * recorded once from a run that the DuckDB oracle passed. This cold
    * pass also warms the JIT and the code-generation caches. */
  private def checks(queries: Seq[String]): Unit = {
    val golden = Golden.load(BatterySf)
    queries.foreach { q =>
      rep.check(s"golden_$q") {
        val d = digest(graft.SparkEntry.queries(q)(spark, fixture))
        Checkpoints.releaseAll()
        golden.get(q).contains(d) || {
          System.err.println(s"[perfbench] $q digest $d, golden ${golden.get(q)}"); false }
      }
    }
  }
}
