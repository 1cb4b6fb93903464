package graft

import graft.pipeline.RestoreSink

import java.sql.DriverManager
import java.util.Properties

/** Restore sinks against embedded Derby (the JDBC driver Spark ships
  * with): bulk COPY-mode write, INSERT-mode with duplicate-key exclusion. */
class RestoreSinkSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftdb;create=true"

  test("bulk JDBC restore writes and reads back") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    df.write.mode("overwrite").jdbc(url, "bulk_t", new Properties())
    val back = spark.read.jdbc(url, "bulk_t", new Properties())
    assert(back.count() == 3)
    RestoreSink.bulk(df.filter($"id" > 2), url, "bulk_t", batchSize = 2)
    assert(spark.read.jdbc(url, "bulk_t", new Properties()).count() == 4)
  }

  test("partitioned JDBC scan reads every row across concurrent stride partitions") {
    val purl = "jdbc:derby:memory:graftpart;create=true"
    val src = (1L to 100L).map(i => (i, s"row$i")).toDF("id", "v")
    src.write.mode("overwrite").jdbc(purl, "part_t", new Properties())
    val back = graft.pipeline.Catalog.loadJdbcPartitioned(spark, purl, "part_t",
      "id", numPartitions = 4)
    assert(back.rdd.getNumPartitions == 4) // one stride per worker
    assert(back.count() == 100)
    assert(back.agg(org.apache.spark.sql.functions.sum("id")).head().getLong(0) == 5050L)
  }

  test("insert-mode restore excludes duplicate-key errors instead of failing") {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE ins_t") catch { case _: Throwable => () }
      st.execute("CREATE TABLE ins_t (id BIGINT PRIMARY KEY, v VARCHAR(20))")
      st.execute("INSERT INTO ins_t VALUES (2, 'existing')")
      st.close()
    } finally conn.close()

    val df = Seq((1L, "one"), (2L, "dup"), (3L, "three")).toDF("id", "v").coalesce(1)
    // Derby duplicate key SQLSTATE 23505 — excluded like the reference's
    // error-exclusion config; batchSize=1 so only the dup row is dropped
    RestoreSink.insertRows(df, url, "ins_t", ignoreSqlStates = Set("23505"), batchSize = 1)
    val back = spark.read.jdbc(url, "ins_t", new Properties())
      .as[(Long, String)].collect().toMap
    assert(back.keySet == Set(1L, 2L, 3L))
    assert(back(2L) == "existing") // original row kept, dup skipped
  }

  test("insert-mode without exclusions propagates the failure") {
    intercept[Exception] {
      RestoreSink.insertRows(Seq((2L, "dup")).toDF("id", "v"), url, "ins_t")
    }
  }

  test("insertStatement renders the reference's literal clauses in the exact positions") {
    // table_insert_format.go:170-188: OVERRIDING between the column list
    // and VALUES; ON CONFLICT trailing — live-PG execution of these
    // exact texts is proven in PgInteropSpec
    assert(RestoreSink.insertStatement("t", Seq("a", "b")) ==
      "INSERT INTO t (a, b) VALUES (?, ?)")
    assert(RestoreSink.insertStatement("t", Seq("a", "b"),
      onConflictDoNothing = true) ==
      "INSERT INTO t (a, b) VALUES (?, ?) ON CONFLICT DO NOTHING")
    assert(RestoreSink.insertStatement("t", Seq("a", "b"),
      overridingSystemValue = true) ==
      "INSERT INTO t (a, b) OVERRIDING SYSTEM VALUE VALUES (?, ?)")
    assert(RestoreSink.insertStatement("t", Seq("a"),
      onConflictDoNothing = true, overridingSystemValue = true) ==
      "INSERT INTO t (a) OVERRIDING SYSTEM VALUE VALUES (?) ON CONFLICT DO NOTHING")
  }

  test("integrity statement plan mirrors the reference setupTx/resetTx (PG dialect)") {
    import graft.pipeline.IntegrityOptions
    val o = IntegrityOptions(sessionReplicationRoleReplica = true,
      disableTriggers = true, superUser = Some("postgres"))
    assert(o.setupStatements("public.t") == Seq(
      "SET ROLE postgres",
      "SET session_replication_role = 'replica'",
      "ALTER TABLE public.t DISABLE TRIGGER ALL",
      "RESET ROLE"))
    // reset order mirrors base.go:144-148: triggers re-enabled first
    assert(o.resetStatements("public.t") == Seq(
      "SET ROLE postgres",
      "ALTER TABLE public.t ENABLE TRIGGER ALL",
      "RESET session_replication_role",
      "RESET ROLE"))
    assert(IntegrityOptions().isNoop && !o.isNoop)
    // --use-set-session-authorization flips the impersonation form
    val ssa = o.copy(useSetSessionAuthorization = true)
    assert(ssa.setupStatements("public.t").head == "SET SESSION AUTHORIZATION postgres")
    assert(ssa.setupStatements("public.t").last == "RESET SESSION AUTHORIZATION")
    assert(ssa.resetStatements("public.t").head == "SET SESSION AUTHORIZATION postgres")
  }

  test("integrity setup/reset statements execute on the restore connections") {
    import graft.pipeline.IntegrityOptions
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE integ_t") catch { case _: Throwable => () }
      try st.execute("DROP TABLE integ_log") catch { case _: Throwable => () }
      st.execute("CREATE TABLE integ_t (id BIGINT PRIMARY KEY, v VARCHAR(20))")
      st.execute("CREATE TABLE integ_log (phase VARCHAR(10))")
      st.close()
    } finally conn.close()
    // Derby-neutral stand-in statements prove the execution path (the PG
    // statements themselves are target-specific, covered above)
    val integ = IntegrityOptions(
      extraSetup = Seq("INSERT INTO integ_log VALUES ('setup')"),
      extraReset = Seq("INSERT INTO integ_log VALUES ('reset')"))
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
    RestoreSink.insertRows(df, url, "integ_t", integrity = integ)
    val log = spark.read.jdbc(url, "integ_log", new Properties())
      .as[String].collect().sorted.toSeq
    assert(log == Seq("reset", "setup"))
    assert(spark.read.jdbc(url, "integ_t", new Properties()).count() == 2)
    // a failing setup statement fails the restore, not silently skipped
    intercept[Exception] {
      RestoreSink.insertRows(df, url, "integ_t",
        integrity = IntegrityOptions(extraSetup = Seq("INSERT INTO no_such_t VALUES (1)")))
    }
  }

  test("JDBC catalog introspection discovers PKs and FKs") {
    val url = "jdbc:derby:memory:graftcat;create=true" // isolated db
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      for (t <- Seq("intro_child", "intro_parent"))
        try st.execute(s"DROP TABLE $t") catch { case _: Throwable => () }
      st.execute("CREATE TABLE intro_parent (pid BIGINT PRIMARY KEY, name VARCHAR(10))")
      st.execute("CREATE TABLE intro_child (cid BIGINT PRIMARY KEY, " +
        "pref BIGINT REFERENCES intro_parent(pid))")
      st.close()
    } finally conn.close()
    val keys = graft.pipeline.Catalog.introspectJdbc(url, "APP")
    val (tables, refs) = (keys.tables, keys.fks)
    val byName = tables.map(t => t.name -> t).toMap
    assert(byName("intro_parent").primaryKey == Seq("pid"))
    assert(byName("intro_child").primaryKey == Seq("cid"))
    val fk = refs.find(_.childTable == "intro_child").get
    assert(fk.parentTable == "intro_parent" &&
      fk.childCols == Seq("pref") && fk.parentCols == Seq("pid"))
  }
}
