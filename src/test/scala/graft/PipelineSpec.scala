package graft

import org.apache.spark.sql.functions._
import graft.pipeline._
import graft.transformers._

/** Planner semantics: keep-untransformed `when` gating, type preservation,
  * validation warnings, apply_for_references propagation, validator diff. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq(
    (1, "alice", 10, "A"), (2, "bob", 20, "B"), (3, "carol", 30, "C"))
    .toDF("id", "name", "score", "seg")

  test("table-level when keeps failing rows untransformed (not dropped)") {
    val out = Planner.plan(df, TableConfig("t",
      when = Some("id % 2 = 1"),
      transforms = Seq(ColumnTransform("name", Replace("X")))))
    val rows = out.select("id", "name").as[(Int, String)].collect().toMap
    assert(rows == Map(1 -> "X", 2 -> "bob", 3 -> "X"))
    assert(out.count() == 3) // nothing dropped
  }

  test("transformer-level when composes with table-level when") {
    val out = Planner.plan(df, TableConfig("t",
      when = Some("id >= 2"),
      transforms = Seq(ColumnTransform("name", Replace("X"), when = Some("score > 20")))))
    val rows = out.select("id", "name").as[(Int, String)].collect().toMap
    assert(rows == Map(1 -> "alice", 2 -> "bob", 3 -> "X"))
  }

  test("transformed column keeps its original data type") {
    val out = Planner.plan(df, TableConfig("t",
      transforms = Seq(ColumnTransform("score", RandomInt(0, 5)))))
    assert(out.schema("score").dataType == df.schema("score").dataType)
  }

  test("subset conds filter, dropColumns prune, limit caps") {
    val out = Planner.plan(df, TableConfig("t",
      subsetConds = Seq("score >= 20"), dropColumns = Seq("seg"), limit = Some(1)))
    assert(out.columns.toSeq == Seq("id", "name", "score"))
    assert(out.count() == 1)
  }

  test("validation flags unknown columns and PK transforms") {
    val warns = Planner.validate(df, TableConfig("customer", transforms = Seq(
      ColumnTransform("nope", SetNull()),
      ColumnTransform("c_custkey", RandomInt(0, 9)))))
    assert(warns.exists(w => w.severity == "error" && w.column == "nope"))
    // c_custkey is customer's PK in the catalog but not in this df => both warnings fire
    assert(warns.exists(w => w.severity == "warning" && w.column == "c_custkey"))
  }

  test("validation flags type mismatches and FK-affecting transforms") {
    val warns = Planner.validate(df, TableConfig("t", transforms = Seq(
      ColumnTransform("score", Masking("default")), // int into string-only masker
      ColumnTransform("name", Masking("default")))))
    assert(warns.exists(w => w.severity == "error" && w.column == "score" &&
      w.msg.contains("not in allowed types")))
    assert(!warns.exists(w => w.column == "name"))
    // type override silences the mismatch
    val overridden = Planner.validate(df, TableConfig("t",
      typeOverrides = Map("score" -> "string"),
      transforms = Seq(ColumnTransform("score", Masking("default")))))
    assert(!overridden.exists(_.severity == "error"))
    // FK child column warning (orders.o_custkey references customer)
    val ordersDf = Seq((1L, 2L)).toDF("o_orderkey", "o_custkey")
    val fkWarns = Planner.validate(ordersDf, TableConfig("orders",
      transforms = Seq(ColumnTransform("o_custkey", RandomInt(0, 9)))))
    assert(fkWarns.exists(w => w.msg.contains("foreign-key")))
  }

  test("applyForReferences propagates to referencing FK columns") {
    val t = RandomInt(0, 99, tweak = "ref")
    val extra = Planner.applyForReferences("customer", "c_custkey", t, Catalog.fixture)
    assert(extra.keySet == Set("orders", "events"))
    assert(extra("orders").column == "o_custkey")
  }

  test("FK-consistent masking preserves join cardinality") {
    val t = RandomInt(0, 999999, tweak = "joinmask")
    val parent = Seq(1L, 2L, 3L).toDF("k")
    val child = Seq(1L, 1L, 2L, 3L, 3L).toDF("k")
    val before = child.join(parent, "k").count()
    val after = child.select(t.applied(col("k")).as("k"))
      .join(parent.select(t.applied(col("k")).as("k")), "k").count()
    assert(before == after)
  }

  test("Validator.diff counts exactly the transformed columns") {
    val masked = Planner.plan(df, TableConfig("t",
      transforms = Seq(ColumnTransform("name", Masking("default")))))
    val d = Validator.diff(df, masked, Seq("id")).collect().head
    val m = d.schema.fieldNames.zip(d.toSeq).toMap
    assert(m("name_changed") == 3L && m("name_total") == 3L)
    assert(m("score_changed") == 0L && m("seg_changed") == 0L)
  }

  test("schemaDiff detects add/remove/retype") {
    val after = df.withColumn("extra", lit(1)).drop("seg")
      .withColumn("score", col("score").cast("long"))
    val diff = Validator.schemaDiff(df.schema, after.schema)
    assert(diff.contains("removed:seg") && diff.contains("added:extra"))
    assert(diff.exists(_.startsWith("retyped:score:int->bigint")))
  }

  test("Registry builds transformers from stringly params") {
    val t = Registry.build("RandomInt", Map("min" -> "5", "max" -> "9"))
    val vals = (1 to 50).map(_.toString).toDF("x")
      .select(t.applied(col("x")).as("v")).as[Long].collect()
    assert(vals.forall(v => v >= 5 && v <= 9))
    intercept[IllegalArgumentException](Registry.build("NoSuch", Map.empty))
    assert(Registry.factories.size >= 45) // scalar + faker families registered
  }

  test("Registry builds the unbounded-numeric family from stringly params") {
    // 45-digit bounds with a m*10^k width — far past DecimalType(38)
    val min = "1" + "0" * 44
    val max = BigInt(min).+(BigInt(25) * BigInt(10).pow(43)).-(1).toString
    val t = Registry.build("RandomNumericBig", Map("min" -> min, "max" -> max))
    val vals = (1 to 30).map(_.toString).toDF("x")
      .select(t.applied(col("x")).as("v")).as[String].collect()
    assert(vals.forall(v => BigDecimal(v) >= BigDecimal(min) && BigDecimal(v) <= BigDecimal(max)))
    assert(vals.forall(_.length == 45))
    val sz = Registry.build("RandomNumericBigSize", Map("digits" -> "42", "scale" -> "2"))
    val sv = (1 to 30).map(_.toString).toDF("x")
      .select(sz.applied(col("x")).as("v")).as[String].collect()
    assert(sv.forall(v => BigDecimal(v).abs < BigDecimal(BigInt(10).pow(42))))
    val nz = Registry.build("NoiseNumericBig", Map("ratio" -> "0.05", "scale" -> "0",
      "max" -> ("2" + "0" * 44)))
    val nv = (1 to 30).map(i => vals(i % vals.length)).toDF("x")
      .select(nz.applied(col("x")).as("v")).as[String].collect()
    assert(nv.forall(v => BigDecimal(v) <= BigDecimal("2" + "0" * 44)))
  }
}
