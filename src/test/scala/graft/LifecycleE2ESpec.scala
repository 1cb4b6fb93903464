package graft

import graft.pipeline.{CatalogKeys, ConfigLoader, FkRef, Manifest, TableMeta}

import java.nio.file.Files

/** Full lifecycle end-to-end: JSON config -> dump (validate + subset +
  * transform + manifest) -> restore in topo order -> validate report.
  * The Spark edition of the reference's dump/restore/validate commands
  * (SURVEY §3). */
class LifecycleE2ESpec extends SparkSpec {
  import spark.implicits._

  private val config =
    """{ "tables": [
      |  { "table": "customer",
      |    "subset_conds": ["c_acctbal > 0"],
      |    "transforms": [
      |      {"column": "c_name", "name": "Masking", "params": {"type": "name"}},
      |      {"column": "c_nationkey", "name": "RandomInt", "params": {"min": "0", "max": "24"}}
      |    ] },
      |  { "table": "orders",
      |    "transforms": [
      |      {"column": "o_orderpriority", "name": "Replace", "params": {"value": "X"}},
      |      {"column": "o_orderstatus", "name": "RandomNumericBigSize",
      |       "params": {"digits": "45", "scale": "2"}}
      |    ] }
      |] }""".stripMargin

  test("config loader builds table configs through the registry") {
    val cfgs = ConfigLoader.fromJson(config)
    assert(cfgs.map(_.table) == Seq("customer", "orders"))
    assert(cfgs.head.subsetConds == Seq("c_acctbal > 0"))
    assert(cfgs.head.transforms.size == 2)
    intercept[IllegalArgumentException](ConfigLoader.fromJson("""{"no_tables": []}"""))
    intercept[IllegalArgumentException](
      ConfigLoader.fromJson("""{"tables":[{"table":"t","transforms":[{"column":"c"}]}]}"""))
  }

  test("dump -> manifest -> restore round-trip with subset + masking") {
    val sfDir = "/root/testdata/sf0.001"
    val outDir = Files.createTempDirectory("graftdump").toString
    val manifest = Lifecycle.dump(spark, config, sfDir, outDir)

    // manifest wiring: orders depends on customer (FK graph)
    val orders = manifest.entries.find(_.table == "orders").get
    val customer = manifest.entries.find(_.table == "customer").get
    assert(orders.dependsOn.contains(customer.dumpId))

    // masked + subset data on disk
    val c = spark.read.parquet(s"$outDir/customer")
    assert(c.filter($"c_acctbal" <= 0).count() == 0) // subset applied
    assert(c.select("c_name").as[String].collect().forall(_.matches(".\\*\\*"))) // masked
    // subset closure: every surviving order points at a surviving customer
    val o = spark.read.parquet(s"$outDir/orders")
    val ck = c.select("c_custkey").as[Long].collect().toSet
    assert(o.select("o_custkey").as[Long].collect().forall(ck))
    assert(o.select("o_orderpriority").distinct().as[String].collect().toSeq == Seq("X"))
    // unbounded-numeric transformer through the config path: ±45-digit
    // decimal TEXT, deterministic on the input (hash engine)
    val bigVals = o.select("o_orderstatus").as[String].collect()
    assert(bigVals.forall(v => BigDecimal(v).abs < BigDecimal(BigInt(10).pow(45))))
    assert(bigVals.exists(v => BigDecimal(v).abs >= BigDecimal(BigInt(10).pow(39))))

    // restore in topo order (customer before orders)
    val target = Files.createTempDirectory("graftrestore").toString
    val order = Lifecycle.restore(spark, s"$outDir/manifest.json", target)
    assert(order == Seq("customer", "orders"))
    assert(spark.read.parquet(s"$target/customer").count() == c.count())

    // restore-list filter keeps dependencies
    val target2 = Files.createTempDirectory("graftrestore2").toString
    val only = Lifecycle.restore(spark, s"$outDir/manifest.json", target2, Some(Set("orders")))
    assert(only == Seq("customer", "orders")) // customer pulled in as dep

    // JDBC restore target (COPY-mode bulk path end-to-end)
    val jdbcUrl = "jdbc:derby:memory:graftrestore;create=true"
    Lifecycle.restore(spark, s"$outDir/manifest.json", jdbcUrl, Some(Set("customer")))
    val restored = spark.read.jdbc(jdbcUrl, "customer", new java.util.Properties())
    assert(restored.count() == c.count())
  }

  test("validate reports warnings and diff counts as JSON lines") {
    val badConfig =
      """{"tables":[{"table":"customer","transforms":[
        |  {"column":"c_acctbal","name":"Masking","params":{"type":"name"}},
        |  {"column":"c_name","name":"Masking","params":{"type":"default"}}]}]}""".stripMargin
    val lines = Lifecycle.validate(spark, badConfig, "/root/testdata/sf0.001", rowsLimit = 50)
    assert(lines.exists(l => l.contains("\"severity\":\"error\"") && l.contains("c_acctbal")))
    assert(!lines.exists(_.contains("\"diff\""))) // fatal error => no data pass
    val goodConfig =
      """{"tables":[{"table":"customer","transforms":[
        |  {"column":"c_name","name":"Masking","params":{"type":"default"}}]}]}""".stripMargin
    val ok = Lifecycle.validate(spark, goodConfig, "/root/testdata/sf0.001", rowsLimit = 50)
    assert(ok.exists(l => l.contains("\"diff\"") && l.contains("\"c_name_changed\":50")))
    // dump aborts on validation errors
    intercept[IllegalArgumentException](
      Lifecycle.dump(spark, badConfig, "/root/testdata/sf0.001",
        Files.createTempDirectory("graftbad").toString))
  }

  test("dump closes a subset over the catalog value it is given, not only the TPC-H keys") {
    val sfDir = Files.createTempDirectory("graft_acct").toString
    (1 to 40).map(i => (i.toLong, s"a$i")).toDF("id", "name")
      .write.parquet(s"$sfDir/acct.parquet")
    (1 to 200).map(i => (i.toLong, (i % 40 + 1).toLong, i * 10)).toDF("tid", "acct_id", "amt")
      .write.parquet(s"$sfDir/txn.parquet")
    val keys = CatalogKeys(Seq(TableMeta("acct", Seq("id")), TableMeta("txn", Seq("tid"))),
      Seq(FkRef("txn", Seq("acct_id"), "acct", Seq("id"))))
    val outDir = Files.createTempDirectory("graft_acct_out").toString
    val manifest = Lifecycle.dump(spark,
      """{"tables":[{"table":"txn"},{"table":"acct","subset_conds":["id % 4 <> 0"]}]}""",
      sfDir, outDir, keys)
    val acct = spark.read.parquet(s"$outDir/acct")
    val txn = spark.read.parquet(s"$outDir/txn")
    assert(acct.count() == 30)
    // no child row keeps a dropped parent
    assert(txn.join(acct, txn("acct_id") === acct("id"), "left_anti").count() == 0)
    assert(txn.count() == 150)
    val ids = manifest.entries.map(e => e.table -> e.dumpId).toMap
    assert(manifest.entries.find(_.table == "txn").get.dependsOn == Seq(ids("acct")))
  }
}
