package graft

import org.apache.spark.sql.functions._
import graft.pipeline.FkRef
import graft.subset.SubsetPlanner

import scala.util.Random

/** Property test: on random FK graphs (cycles allowed) with random conds,
  * the DataFrame subset planner must equal a brute-force in-memory
  * fix-point (the defining semantics: a row survives iff its conds pass
  * and every non-null FK points at a surviving parent row). */
class SubsetPropertySpec extends SparkSpec {
  import spark.implicits._

  private case class Tbl(name: String, rows: Seq[(Int, Option[Int])], ref: Option[String],
                         nullableRef: Boolean = true)

  /** Brute-force reference implementation over plain collections.
    * Nullable edge: a NULL FK survives vacuously. Non-nullable edge: a
    * NULL FK (or a dangling one) kills the row. */
  private def bruteForce(tables: Seq[Tbl], killed: Map[String, Set[Int]]): Map[String, Set[Int]] = {
    var surviving: Map[String, Set[Int]] = tables.map(t =>
      t.name -> t.rows.map(_._1).filterNot(killed.getOrElse(t.name, Set.empty)).toSet).toMap
    var changed = true
    while (changed) {
      changed = false
      for (t <- tables; parent <- t.ref) {
        val keep = t.rows.collect {
          case (id, fk) if surviving(t.name)(id) &&
            (if (t.nullableRef) fk.forall(surviving(parent))
             else fk.exists(surviving(parent))) => id
        }.toSet
        if (keep != surviving(t.name)) { surviving += t.name -> keep; changed = true }
      }
    }
    surviving
  }

  test("planner matches brute-force fix-point on 12 random graphs") {
    runTrials(seed = 20260812L, trials = 12, mixedNullability = false)
  }

  test("rewrite mode (no declared PKs) matches brute-force fix-point on the same 12 graphs") {
    // tombstone mode needs a PK on every component table; withholding
    // them sends every cyclic component through the rewrite loop
    runTrials(seed = 20260812L, trials = 12, mixedNullability = false, withholdPks = true)
  }

  test("planner matches brute-force fix-point with mixed FK nullability") {
    // non-nullable edges: NULL/dangling FKs kill rows instead of escaping
    runTrials(seed = 31415926L, trials = 12, mixedNullability = true)
  }

  test("self-FK path doubling resolves a 4096-deep chain (one-hop loop could not)") {
    // linear chain id -> id-1, root id=0 fails the cond: every row's
    // ancestor chain hits the failure, so NOTHING survives. Depth 4096
    // needs 4096 one-hop iterations (>> maxIter=50) but only ~13 doubling
    // rounds — this passing at default maxIter proves the O(log depth)
    // path is taken and correct.
    val n = 4096
    val rows = (0 until n).map(id => (id, if (id == 0) None else Some(id - 1)))
    val dfs = Map("t" -> rows.toDF("id", "fk"))
    val edges = Seq(FkRef("t", Seq("fk"), "t", Seq("id"), nullable = true))
    val out = SubsetPlanner.plan(dfs, Map("t" -> Seq("id")), edges,
      Map("t" -> Seq("id <> 0")))
    assert(out("t").count() == 0)

    // and the complement: kill a mid-chain row, everything above survives
    val out2 = SubsetPlanner.plan(dfs, Map("t" -> Seq("id")), edges,
      Map("t" -> Seq(s"id <> ${n / 2}")))
    assert(out2("t").select("id").as[Int].collect().toSet == (0 until n / 2).toSet)
  }

  test("self-FK closure matches brute force on random trees, chains and cycles within its round bound") {
    // one self-referencing table per trial: id / k trees and linear chains
    // (rooted by a NULL or a self-loop), all-good cycles with chains
    // hanging off them, dangling and NULL FKs, and killed rows at random
    // depths, so the farthest failing ancestor ranges from 0 hops to the
    // full depth
    val rnd = new Random(20261017L)
    for (trial <- 1 to 16) {
      val n = 50 + rnd.nextInt(351)
      val nullable = rnd.nextBoolean()
      val selfLoopRoot = rnd.nextBoolean()
      val cycleLen = 2 + rnd.nextInt(7)
      val parent: Int => Option[Int] = trial % 4 match {
        case 0 =>
          val k = 2 + rnd.nextInt(3)
          (i: Int) => if (i == 0) Option.when(selfLoopRoot)(0) else Some(i / k)
        case 1 => (i: Int) => if (i == 0) Option.when(selfLoopRoot)(0) else Some(i - 1)
        case 2 =>
          // one cycle, the rest hangs off it as deep chains and bushes
          val hang = (cycleLen until n).map(i =>
            i -> (if (rnd.nextBoolean()) i - 1 else rnd.nextInt(i))).toMap
          (i: Int) => Some(if (i < cycleLen) (i + 1) % cycleLen else hang(i))
        case _ =>
          // back-to-back cycles, every other one feeding the previous
          (i: Int) => {
            val start = i - i % cycleLen
            if (i == start && start > 0 && (start / cycleLen) % 2 == 1) Some(start - 1)
            else Some(start + (i - start + 1) % math.min(cycleLen, n - start))
          }
      }
      val dangling = Seq.fill(rnd.nextInt(3))(rnd.nextInt(n)).toSet
      val nulled = Seq.fill(rnd.nextInt(3))(1 + rnd.nextInt(n - 1)).toSet -- dangling
      val rows = (0 until n).map { i =>
        i -> (if (dangling(i)) Some(n + rnd.nextInt(100)) else if (nulled(i)) None else parent(i))
      }
      val killed = Seq.fill(rnd.nextInt(4))(rnd.nextInt(n)).toSet ++
        (if (rnd.nextInt(4) == 0) Set(0) else Set.empty[Int])

      val fkOf = rows.toMap
      // hops from r to its nearest failing position; None = r survives
      @annotation.tailrec
      def failDist(r: Int, d: Int, seen: Set[Int]): Option[Int] =
        if (killed(r)) Some(d)
        else fkOf(r) match {
          case None => if (nullable) None else Some(d)
          case Some(p) if !fkOf.contains(p) => Some(d + 1)
          case Some(_) if seen(r) => None
          case Some(p) => failDist(p, d + 1, seen + r)
        }
      val dists = rows.map { case (id, _) => id -> failDist(id, 0, Set.empty) }
      val expected = bruteForce(Seq(Tbl("t", rows, Some("t"), nullable)), Map("t" -> killed))("t")
      assert(expected == dists.collect { case (id, None) => id }.toSet,
        s"trial $trial: the failing-distance model disagrees with the brute force")

      val cond = if (killed.isEmpty) "id >= 0" else s"id NOT IN (${killed.mkString(",")})"
      // on both closure paths, which must agree on rows and rounds
      val (actual, rounds) = onBothSelfFkPaths(SubsetPlanner.plan(Map("t" -> rows.toDF("id", "fk")),
        Map("t" -> Seq("id")), Seq(FkRef("t", Seq("fk"), "t", Seq("id"), nullable = nullable)),
        Map("t" -> Seq(cond)))("t").select("id").as[Int].collect().toSet)
      assert(actual == expected, s"trial $trial (n=$n, shape ${trial % 4}, nullable=$nullable): " +
        s"planner=${actual.size} rows brute=${expected.size} rows killed=$killed " +
        s"dangling=$dangling nulled=$nulled")
      val maxD = dists.flatMap(_._2).foldLeft(0)(math.max)
      val bound = (32 - Integer.numberOfLeadingZeros(maxD)) + 1 // ceil(log2(maxD + 1)) + 1
      assert(rounds <= bound, s"trial $trial: $rounds rounds, max failing distance $maxD")
    }
  }

  private def runTrials(seed: Long, trials: Int, mixedNullability: Boolean,
                        withholdPks: Boolean = false): Unit = {
    val rnd = new Random(seed)
    for (trial <- 1 to trials) {
      val nTables = 2 + rnd.nextInt(3)
      val names = (0 until nTables).map(i => s"t$i")
      val tables = names.zipWithIndex.map { case (n, i) =>
        // each table may reference a random other table (cycles allowed)
        val ref = if (rnd.nextBoolean()) Some(names(rnd.nextInt(nTables))) else None
        val rows = (0 until 8 + rnd.nextInt(8)).map { id =>
          val fk = if (ref.isDefined && rnd.nextDouble() > 0.15) Some(rnd.nextInt(14)) else None
          (id, fk)
        }
        Tbl(n, rows, ref.filter(_ != n || rnd.nextBoolean()), // self-refs sometimes
          nullableRef = if (mixedNullability) rnd.nextBoolean() else true)
      }
      val killed = tables.map(t =>
        t.name -> t.rows.map(_._1).filter(_ => rnd.nextDouble() < 0.25).toSet).toMap

      val expected = bruteForce(tables, killed)

      val dfs = tables.map(t => t.name -> t.rows.toDF("id", "fk")).toMap
      val edges = tables.flatMap(t => t.ref.map(p =>
        FkRef(t.name, Seq("fk"), p, Seq("id"), nullable = t.nullableRef)))
      val conds = killed.collect { case (t, ks) if ks.nonEmpty =>
        t -> Seq(s"id NOT IN (${ks.mkString(",")})")
      }
      val pks = if (withholdPks) Map.empty[String, Seq[String]]
        else tables.map(t => t.name -> Seq("id")).toMap
      val planned = SubsetPlanner.plan(dfs, pks, edges, conds)
      val actual = planned.map { case (t, df) => t -> df.select("id").as[Int].collect().toSet }

      // affected-set pruning: tables outside every cond path legitimately
      // keep dangling rows; restrict the comparison to affected tables
      val affected = {
        var set = conds.keySet
        var grew = true
        while (grew) {
          grew = false
          edges.foreach(e => if (set(e.parentTable) && !set(e.childTable)) {
            set += e.childTable; grew = true
          })
        }
        set
      }
      for (t <- names if affected(t)) {
        assert(actual(t) == expected(t),
          s"trial $trial table $t: planner=${actual(t).toSeq.sorted} " +
            s"brute=${expected(t).toSeq.sorted} killed=$killed " +
            s"edges=${edges.map(e => s"${e.childTable}->${e.parentTable}")}")
      }
    }
  }
}
