package graft

import org.apache.spark.sql.functions._
import graft.pipeline.PgToc
import graft.sources.PgRestore.Options
import graft.streaming.StreamingMask

/** LIVE PostgreSQL interop — the strongest archive-compat evidence
  * available: a scratch single-user cluster (initdb + pg_ctl on a unix
  * socket, no TCP) is stood up for the suite, then
  *
  *  1. read-side: a REAL `pg_dump -Fd` archive's toc.dat parses with
  *     [[PgToc.read]] and carries the expected TABLE DATA shape
  *     (NULL-vs-"" semantics included), and
  *  2. write-side: [[PgToc.dumpArchive]] output — toc.dat + COPY-text
  *     data files produced from Spark DataFrames with adversarial
  *     strings — loads through the real `pg_restore` into a live
  *     database and reads back value-identical via COPY TO.
  *
  * All tests auto-cancel when the postgres binaries are absent. Runs as
  * root via `su postgres` (initdb refuses uid 0) or directly otherwise.
  */
class PgInteropSpec extends SparkSpec {

  private val pgBin = "/usr/local/bin"
  private val haveBinaries =
    new java.io.File(s"$pgBin/initdb").canExecute &&
      new java.io.File("/usr/bin/psql").canExecute &&
      new java.io.File("/usr/bin/pg_dump").canExecute &&
      new java.io.File("/usr/bin/pg_restore").canExecute

  private var base: java.io.File = _
  private def dataDir = s"$base/data"
  private def sockDir = s"$base/sock"
  private var clusterUp = false

  private def sh(cmd: String): (Int, String) = {
    val p = new ProcessBuilder("/bin/sh", "-c", cmd)
      .redirectErrorStream(true).start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    (p.waitFor(), out)
  }

  /** initdb/pg_ctl must not run as uid 0 — reroute through the postgres
    * system user when root. */
  private def asPg(cmd: String): (Int, String) =
    if (System.getProperty("user.name") == "root")
      sh(s"""cd /tmp && su postgres -s /bin/sh -c '$cmd'""")
    else sh(cmd)

  private def psql(db: String, sql: String): (Int, String) =
    sh(s"""PGHOST=$sockDir PGUSER=graft /usr/bin/psql -X -v ON_ERROR_STOP=1 -d $db -A -t -c "$sql" """)

  override def beforeAll(): Unit = {
    super.beforeAll()
    if (haveBinaries) {
      base = java.nio.file.Files.createTempDirectory("graft_pg").toFile
      new java.io.File(dataDir).mkdirs(); new java.io.File(sockDir).mkdirs()
      sh(s"chmod 777 $base $sockDir && chown -R postgres $base || true")
      val (rc1, out1) = asPg(s"$pgBin/initdb -D $dataDir --no-sync -A trust -U graft")
      val (rc2, out2) =
        if (rc1 == 0)
          asPg(s"""$pgBin/pg_ctl -D $dataDir -o "-k $sockDir -c listen_addresses=" -l $base/pg.log -w start""")
        else (rc1, out1)
      clusterUp = rc2 == 0
      if (clusterUp) Runtime.getRuntime.addShutdownHook(stopHook)
      else
        info(s"postgres cluster unavailable (skipping live tests): ${out1.takeRight(200)} ${out2.takeRight(200)}")
    }
  }

  override def afterAll(): Unit = {
    if (clusterUp) {
      Runtime.getRuntime.removeShutdownHook(stopHook)
      stopCluster()
    }
    super.afterAll()
  }

  private def stopCluster(): Unit = asPg(s"$pgBin/pg_ctl -D $dataDir -m immediate stop")
  // a test JVM that is stopped mid-suite never reaches afterAll: the
  // hook stops the cluster then, so no postgres is left without an owner
  private val stopHook = new Thread(() => stopCluster(), "graft-pg-stop")

  private def live(): Unit =
    assume(haveBinaries && clusterUp, "live postgres cluster not available")

  test("read-side: a real pg_dump -Fd toc.dat parses with the expected shape") {
    live()
    psql("postgres", "CREATE DATABASE rsrc")
    // PRIMARY KEY makes pg_dump render `id integer NOT NULL` inline —
    // the constrained-DDL shape loadTyped must strip; numeric + bytea
    // exercise precision and hex decode on REAL pg_dump output
    assert(psql("rsrc",
      "CREATE TABLE public.src(id int PRIMARY KEY, name text, " +
        "amount numeric(8,2) DEFAULT 0 NOT NULL, blob bytea); " +
        "INSERT INTO src VALUES (1,'a', 12.34, '\\xdead'::bytea), " +
        "(2, NULL, -5.00, NULL)")._1 == 0)
    val dump = s"$base/realdump"
    val (rc, out) = sh(s"PGHOST=$sockDir PGUSER=graft /usr/bin/pg_dump -Fd --compress=0 -d rsrc -f $dump")
    assert(rc == 0, out)
    val toc = PgToc.readFile(s"$dump/toc.dat")
    assert(toc.header.versionMajor == 1 && toc.header.dbName.contains("rsrc"))
    val data = toc.entries.filter(_.desc.contains("TABLE DATA"))
    assert(data.size == 1)
    val e = data.head
    assert(e.tag.contains("src") && e.hadDumper == 1)
    assert(e.section == PgToc.SectionData)
    assert(e.copyStmt.exists(_.startsWith("COPY public.src")))
    assert(e.fileName.exists(_.endsWith(".dat")))
    // pg_dump's semantic NULLs survive the read (not collapsed to "")
    assert(e.defn.isEmpty && e.tableam.isEmpty && e.tablespace.isEmpty)
    // the dependency id points at the TABLE definition entry
    val tableEntry = toc.entries.find(_.desc.contains("TABLE")).get
    assert(e.dependencies.contains(tableEntry.dumpId))
    // and the archive's DATA loads into Spark value-identically
    val loaded = graft.sources.PgArchive.load(spark, dump)
    assert(loaded.map(_._1) == Seq("src"))
    val rows = loaded.head._2.orderBy("id").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(("1", "a"), ("2", null)))
    // loadTyped against REAL pg_dump DDL: inline NOT NULL / DEFAULT
    // strip, numeric keeps its declared precision, bytea hex decodes
    val typed = graft.sources.PgArchive.loadTyped(spark, dump)
      .collectFirst { case ("src", d) => d }.get
    assert(typed.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("id" -> "int", "name" -> "string",
        "amount" -> "decimal(8,2)", "blob" -> "binary"))
    val trows = typed.orderBy("id").collect()
    assert(trows.map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(trows(0).getDecimal(2).toPlainString == "12.34" &&
      trows(1).getDecimal(2).toPlainString == "-5.00")
    assert(trows(0).getAs[Array[Byte]](3).toSeq ==
      Seq(0xDE.toByte, 0xAD.toByte) && trows(1).isNullAt(3))
  }

  test("PgArchive loads a DEFAULT (gzipped) pg_dump -Fd archive") {
    live()
    psql("postgres", "CREATE DATABASE gzsrc")
    assert(psql("gzsrc",
      "CREATE TABLE public.gz(id int, v text); " +
        "INSERT INTO gz VALUES (1, 'x'), (2, 'tab\thard')")._1 == 0)
    val dump = s"$base/gzdump"
    val (rc, out) = sh(s"PGHOST=$sockDir PGUSER=graft /usr/bin/pg_dump -Fd -d gzsrc -f $dump")
    assert(rc == 0, out)
    assert(new java.io.File(dump).listFiles().exists(_.getName.endsWith(".dat.gz")),
      "expected gzipped payloads from default pg_dump")
    val rows = graft.sources.PgArchive.load(spark, dump)
      .collectFirst { case ("gz", df) => df }.get
      .orderBy("id").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(("1", "x"), ("2", "tab\thard")))
    // CLI: the same archive lands as a parquet lake
    val lake = s"$base/gz_lake"
    graft.sources.PgArchive.load(spark, dump).foreach { case (t, df) =>
      df.write.mode("overwrite").parquet(s"$lake/$t")
    }
    val back = spark.read.parquet(s"$lake/gz").orderBy("id")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(back == rows)
  }

  test("write-side: Spark-built archive restores through real pg_restore, values identical") {
    live()
    import spark.implicits._
    // adversarial payloads: tab, newline, CR, backslash, \N lookalike,
    // unicode, empty string, SQL-quote, and a genuine NULL
    val rows = Seq(
      (1L, "alpha"), (2L, "tab\there"), (3L, "nl\nline"), (4L, "cr\rline"),
      (5L, "back\\slash"), (6L, "\\N"), (7L, "unié中"), (8L, ""),
      (9L, "it's"), (10L, null.asInstanceOf[String]))
    val df = rows.toDF("id", "payload")
    val parents = Seq((1L, "p1"), (2L, "p2")).toDF("id", "label")
    val arch = s"$base/ourdump"
    PgToc.dumpArchive(
      Seq("parent" -> parents, "child" -> df), arch, "wtgt",
      deps = Map("child" -> Seq("parent")))
    psql("postgres", "CREATE DATABASE wtgt")
    assert(psql("wtgt",
      "CREATE TABLE public.parent(id bigint, label text); " +
        "CREATE TABLE public.child(id bigint, payload text)")._1 == 0)
    val (rc, out) = sh(s"PGHOST=$sockDir PGUSER=graft /usr/bin/pg_restore -a -d wtgt $arch")
    assert(rc == 0, s"pg_restore failed:\n$out")
    // value-identical read-back through COPY TO (decode with the same
    // codec the writer used — symmetric escape coverage)
    val (rc2, copyOut) = psql("wtgt",
      "COPY (SELECT id, payload FROM child ORDER BY id) TO STDOUT")
    assert(rc2 == 0, copyOut)
    val got = copyOut.split("\n", -1).filter(_.nonEmpty).map { line =>
      val Array(id, p) = line.split("\t", 2)
      id.toLong -> (if (p == "\\N") null else graft.sources.CopyText.decodeField(p))
    }.toSeq
    assert(got == rows.map { case (i, p) => i -> p },
      s"round-trip mismatch:\n$got")
    assert(psql("wtgt", "SELECT count(*) FROM parent")._2.trim == "2")
    // and the archive lists cleanly with the dependency recorded
    val (rc3, lst) = sh(s"/usr/bin/pg_restore -l $arch")
    assert(rc3 == 0 && lst.contains("TABLE DATA public child graft"), lst)
  }

  test("full workflow: live PII source -> COPY ingest -> mask -> schema+data archive -> pg_restore -> live target") {
    live()
    import graft.pipeline.{Planner, TableConfig, ColumnTransform}
    import graft.transformers.{Masking, HashText}
    import graft.sources.PgSource
    // 1. a source database holding PII
    psql("postgres", "CREATE DATABASE pii_src")
    assert(psql("pii_src",
      "CREATE TABLE public.people(id bigint, full_name text, email text, note text); " +
        "INSERT INTO people VALUES " +
        "(1, 'Ada Lovelace', 'ada@calc.org', 'vip'), " +
        "(2, 'Tab\tTricky', 'tab@x.io', NULL), " +
        "(3, 'Nl\nNasty', 'nl@x.io', 'weird''quote')")._1 == 0)
    // 2. ingest over the COPY protocol (the reference's dump path)
    val psqlArgs = Seq("-h", sockDir, "-U", "graft", "-d", "pii_src")
    val src = PgSource.table(spark, psqlArgs, "people")
    assert(src.columns.toSeq == Seq("id", "full_name", "email", "note"))
    assert(src.count() == 3)
    // 3. the engine's masking plan (deterministic hash-engine transforms)
    val masked = Planner.plan(src, TableConfig("people", transforms = Seq(
      ColumnTransform("full_name", Masking("name")),
      ColumnTransform("email", HashText("sha256", maxLength = 16)))))
    // 4. schema-carrying archive: pg_restore alone creates AND loads
    //    (sequence position replayed via a SEQUENCE SET entry)
    val arch = s"$base/masked_arch"
    PgToc.dumpArchive(Seq("people" -> masked), arch, "pii_tgt",
      includeSchema = true, sequences = Map("people_id_seq" -> 42L))
    psql("postgres", "CREATE DATABASE pii_tgt")
    assert(psql("pii_tgt", "CREATE SEQUENCE public.people_id_seq")._1 == 0)
    val (rc, out) = sh(s"PGHOST=$sockDir PGUSER=graft /usr/bin/pg_restore -d pii_tgt $arch")
    assert(rc == 0, s"pg_restore failed:\n$out")
    // 5. the live target holds masked rows: PII gone, ids + note intact
    val (rc2, copyOut) = psql("pii_tgt",
      "COPY (SELECT id, full_name, email, note FROM people ORDER BY id) TO STDOUT")
    assert(rc2 == 0, copyOut)
    val got = copyOut.split("\n", -1).filter(_.nonEmpty).map(_.split("\t", -1))
    assert(got.map(_(0)).toSeq == Seq("1", "2", "3"))
    assert(!got.map(_(1)).contains("Ada Lovelace"), "name not masked")
    assert(got.forall(r => !r(2).contains("@")), "emails not hashed")
    assert(got.forall(r => r(2).length == 16), "hash truncation lost")
    assert(got(0)(3) == "vip" && got(1)(3) == "\\N", "untransformed cols changed")
    // masking is the engine's deterministic rendering: target == plan
    val expected = masked.orderBy("id").collect()
      .map(r => (r.getString(1), r.getString(2)))
    val gotPairs = got.map(r =>
      (graft.sources.CopyText.decodeField(r(1)), r(2)))
    assert(gotPairs.toSeq == expected.toSeq)
    // the SEQUENCE SET entry replayed the sequence position
    assert(psql("pii_tgt", "SELECT last_value FROM people_id_seq")._2.trim == "42")
  }

  test("mixed-case identifiers and 1-col empty strings survive the full loop") {
    live()
    import spark.implicits._
    // mixed-case table + column names force the quoting path end-to-end
    val df = Seq((1L, "A"), (2L, "")).toDF("rowId", "payloadText")
    val arch = s"$base/mixed_arch"
    PgToc.dumpArchive(Seq("CaseTable" -> df), arch, "mixed_tgt",
      includeSchema = true)
    psql("postgres", "CREATE DATABASE mixed_tgt")
    val (rc, out) = sh(s"PGHOST=$sockDir PGUSER=graft /usr/bin/pg_restore -d mixed_tgt $arch")
    assert(rc == 0, out)
    val (rc2, rows) = psql("mixed_tgt",
      "COPY (SELECT \\\"rowId\\\", \\\"payloadText\\\" FROM \\\"CaseTable\\\" ORDER BY 1) TO STDOUT")
    assert(rc2 == 0, rows)
    assert(rows.split("\n").filter(_.nonEmpty).toSeq == Seq("1\tA", "2\t"))
    // and our own loader reads its archive back, quoting included
    val loaded = graft.sources.PgArchive.load(spark, arch)
    assert(loaded.map(_._1) == Seq("CaseTable"))
    val back = loaded.head._2
    assert(back.columns.toSeq == Seq("rowId", "payloadText"))
    assert(back.orderBy("rowId").collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("1", "A"), ("2", "")))

    // single-column table with an empty-string row: the terminator-aware
    // reader keeps it (it used to be dropped as padding)
    val one = Seq("x", "", "z").toDF("v")
    val arch2 = s"$base/onecol_arch"
    PgToc.dumpArchive(Seq("onecol" -> one), arch2, "whatever")
    val got = graft.sources.PgArchive.load(spark, arch2).head._2
      .collect().map(_.getString(0)).sorted.toSeq
    assert(got == Seq("", "x", "z"))
  }

  test("loadTyped: schema-carrying archive round-trips Spark types") {
    // pure file-level round-trip — no live cluster needed
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, 7, 1.5d, true, BigDecimal("12.34"), "txt"),
      (2L, -3, -0.25d, false, BigDecimal("-5.00"), "more"))
      .toDF("idL", "n_int", "ratio", "flag", "amount", "note")
      .select(col("idL"), col("n_int"), col("ratio"), col("flag"),
        col("amount").cast("decimal(10,2)").as("amount"), col("note"))
    val arch = java.nio.file.Files.createTempDirectory("graft_typed").toString
    PgToc.dumpArchive(Seq("typed" -> df), arch, "t", includeSchema = true)
    val back = graft.sources.PgArchive.loadTyped(spark, arch)
      .collectFirst { case ("typed", d) => d }.get
    assert(back.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("idL" -> "bigint", "n_int" -> "int", "ratio" -> "double",
        "flag" -> "boolean", "amount" -> "decimal(10,2)", "note" -> "string"))
    val rows = back.orderBy("idL").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rows.map(_.getInt(1)).toSeq == Seq(7, -3))
    assert(rows.map(_.getDouble(2)).toSeq == Seq(1.5d, -0.25d))
    assert(rows.map(_.getBoolean(3)).toSeq == Seq(true, false))
    assert(rows.map(_.getDecimal(4).toPlainString).toSeq == Seq("12.34", "-5.00"))
  }

  test("compressed archive (concatenated gzip members) restores through pg_restore") {
    live()
    import spark.implicits._
    val df = (1L to 500L).map(i => (i, s"val-$i")).toDF("id", "v")
      .repartition(4) // several parts -> several gzip members per payload
    val arch = s"$base/gz_arch"
    PgToc.dumpArchive(Seq("gztab" -> df), arch, "gz_tgt",
      includeSchema = true, compress = "gzip")
    assert(new java.io.File(arch).listFiles().exists(_.getName.endsWith(".dat.gz")),
      "payload not gzipped")
    psql("postgres", "CREATE DATABASE gz_tgt")
    val (rc, out) = sh(s"PGHOST=$sockDir PGUSER=graft /usr/bin/pg_restore -d gz_tgt $arch")
    assert(rc == 0, out)
    assert(psql("gz_tgt", "SELECT count(*), min(v), max(id) FROM gztab")._2.trim
      == "500|val-1|500")
    // and our own loader reads the compressed archive back
    val back = graft.sources.PgArchive.load(spark, arch).head._2
    assert(back.count() == 500)
  }

  test("zstd archive restores into live PG through our pg-restore CLI") {
    live()
    import spark.implicits._
    // PG16's --compress=zstd archive shape; the container's pg_restore is
    // PostgreSQL 15 (predates the format), so the live replay runs through
    // OUR restore path — psql fed by the same frame decoders the loader
    // uses, which is exactly what a PG15-tooling user needs for these
    // archives anyway
    val df = (1L to 500L).map(i => (i, s"val-$i")).toDF("id", "v")
      .repartition(4) // several parts -> several zstd frames per payload
    val arch = s"$base/zstd_arch"
    PgToc.dumpArchive(Seq("zstab" -> df), arch, "zstd_tgt",
      includeSchema = true, compress = "zstd")
    assert(new java.io.File(arch).listFiles().exists(_.getName.endsWith(".dat.zst")),
      "payload not zstd")
    psql("postgres", "CREATE DATABASE zstd_tgt")
    graft.sources.PgRestore.restore(arch,
      Seq("-d", s"host=$sockDir dbname=zstd_tgt user=graft"))
    assert(psql("zstd_tgt", "SELECT count(*), min(v), max(id) FROM zstab")._2.trim
      == "500|val-1|500")
  }

  test("partitioned source: parent config expands to leaves; pg-diff green on parent AND leaves") {
    live()
    psql("postgres", "CREATE DATABASE psrc")
    assert(psql("psrc", "CREATE TABLE pmeas (id bigint, city text, day date) PARTITION BY RANGE (day)")._1 == 0)
    assert(psql("psrc", "CREATE TABLE pmeas_2024 PARTITION OF pmeas FOR VALUES FROM ('2024-01-01') TO ('2025-01-01')")._1 == 0)
    assert(psql("psrc", "CREATE TABLE pmeas_2025 PARTITION OF pmeas FOR VALUES FROM ('2025-01-01') TO ('2026-01-01')")._1 == 0)
    assert(psql("psrc", "INSERT INTO pmeas SELECT g, 'city-' || g, DATE '2024-01-01' + (g % 500) FROM generate_series(1, 400) g")._1 == 0)
    val conninfo = s"host=$sockDir dbname=psrc user=graft"

    // catalog discovery: the recursive leaf walk and the relkind map
    assert(graft.sources.PgSource.relkinds(Seq("-d", conninfo)).get("pmeas").contains('p'))
    assert(graft.sources.PgSource.partitionLeaves(Seq("-d", conninfo))("pmeas").toSet
      == Set("pmeas_2024", "pmeas_2025"))

    // a parent config WITHOUT apply_for_inherited is an ERROR (reference
    // config_builder.go:226-233 parity) — not a silent one-table dump
    val ex = intercept[IllegalArgumentException](graft.Lifecycle.pgDump(spark,
      """{"tables":[{"table":"pmeas"}]}""", conninfo, s"$base/part_err"))
    assert(ex.getMessage.contains("apply_for_inherited"))

    // passthrough dump: data routing contract = per-LEAF TABLE DATA (what
    // real pg_dump emits); the parent rides the schema TOC only
    val arch = s"$base/part_arch"
    val toc = graft.Lifecycle.pgDump(spark,
      """{"tables":[{"table":"pmeas","apply_for_inherited":true}]}""",
      conninfo, arch)
    val dataTags = toc.entries.filter(_.desc.contains("TABLE DATA")).flatMap(_.tag)
    assert(dataTags.toSet == Set("pmeas_2024", "pmeas_2025"),
      s"expected per-leaf data entries, got $dataTags")
    assert(toc.entries.exists(e => e.desc.contains("TABLE") && e.tag.contains("pmeas")),
      "parent DDL entry must ride the merged schema TOC")

    // NATIVE pg_restore into an empty DB reproduces the partitioned shape
    psql("postgres", "CREATE DATABASE ptgt")
    val (rc, out) = sh(s"PGHOST=$sockDir PGUSER=graft /usr/bin/pg_restore -d ptgt $arch")
    assert(rc == 0, out)
    // pg-diff green on the parent AND every leaf (count + order-free
    // content fingerprint, computed server-side on both databases)
    for (t <- Seq("pmeas", "pmeas_2024", "pmeas_2025")) {
      val a = graft.sources.PgSource.tableFingerprint(Seq("-d", conninfo), t)
      val b = graft.sources.PgSource.tableFingerprint(
        Seq("-d", s"host=$sockDir dbname=ptgt user=graft"), t)
      assert(a == b, s"$t fingerprints diverge: $a vs $b")
    }

    // masked variant: every leaf inherits the parent's plan; row routing
    // and per-leaf counts survive, and the mask applied on ALL leaves
    val archM = s"$base/part_arch_m"
    graft.Lifecycle.pgDump(spark,
      """{"tables":[{"table":"pmeas","apply_for_inherited":true,
           "transforms":[{"column":"city","name":"Masking","params":{"type":"name"}}]}]}""",
      conninfo, archM)
    psql("postgres", "CREATE DATABASE ptgt2")
    graft.sources.PgRestore.restore(archM,
      Seq("-d", s"host=$sockDir dbname=ptgt2 user=graft"))
    assert(psql("ptgt2", "SELECT count(*) FROM pmeas")._2.trim == "400")
    for (leaf <- Seq("pmeas_2024", "pmeas_2025"))
      assert(psql("ptgt2", s"SELECT count(*) FROM $leaf")._2.trim ==
        psql("psrc", s"SELECT count(*) FROM $leaf")._2.trim, s"$leaf count")
    assert(psql("ptgt2",
      "SELECT count(*) FROM pmeas WHERE city <> 'c**'")._2.trim == "0",
      "mask must hold across every leaf")
  }

  test("TWO-LEVEL partition tree: recursive leaf walk live-proven, dump/restore green at every level") {
    live()
    psql("postgres", "CREATE DATABASE p2src")
    // parent 'p' → sub-partitioned child 'p' → leaves 'r', plus one
    // plain leaf directly under the parent — the shape the recursive
    // pg_inherits walk claims to handle but had only been proven one
    // level deep against a live server
    assert(psql("p2src",
      "CREATE TABLE ev (id bigint, city text, region text, day date) PARTITION BY RANGE (day)")._1 == 0)
    assert(psql("p2src",
      "CREATE TABLE ev_2024 PARTITION OF ev FOR VALUES FROM ('2024-01-01') TO ('2025-01-01') PARTITION BY LIST (region)")._1 == 0)
    assert(psql("p2src",
      "CREATE TABLE ev_2024_eu PARTITION OF ev_2024 FOR VALUES IN ('eu')")._1 == 0)
    assert(psql("p2src",
      "CREATE TABLE ev_2024_us PARTITION OF ev_2024 FOR VALUES IN ('us')")._1 == 0)
    assert(psql("p2src",
      "CREATE TABLE ev_2025 PARTITION OF ev FOR VALUES FROM ('2025-01-01') TO ('2026-01-01')")._1 == 0)
    assert(psql("p2src",
      "INSERT INTO ev SELECT g, 'city-' || g, CASE WHEN g % 2 = 0 THEN 'eu' ELSE 'us' END, " +
        "DATE '2024-01-01' + (g % 600) FROM generate_series(1, 300) g")._1 == 0)
    val conninfo = s"host=$sockDir dbname=p2src user=graft"

    // the walk maps EVERY 'p' table to the true leaves ('r') of its own
    // subtree — the top parent sees all three, the intermediate level
    // sees its two, and no 'p' node ever appears as a value (reference
    // TableGetChildPatsQuery walks from whichever table the config names)
    assert(graft.sources.PgSource.relkinds(Seq("-d", conninfo)).get("ev_2024").contains('p'))
    val leaves = graft.sources.PgSource.partitionLeaves(Seq("-d", conninfo))
    assert(leaves("ev").toSet == Set("ev_2024_eu", "ev_2024_us", "ev_2025"))
    assert(leaves("ev_2024").toSet == Set("ev_2024_eu", "ev_2024_us"))

    // a config naming the INTERMEDIATE level dumps exactly its subtree's
    // leaves (the reference's named-table child walk)
    val tocMid = graft.Lifecycle.pgDump(spark,
      """{"tables":[{"table":"ev_2024","apply_for_inherited":true}]}""",
      conninfo, s"$base/p2_mid")
    assert(tocMid.entries.filter(_.desc.contains("TABLE DATA")).flatMap(_.tag).toSet
      == Set("ev_2024_eu", "ev_2024_us"))

    // passthrough dump: TABLE DATA per LEAF only; both 'p' levels ride
    // the schema TOC; native pg_restore reproduces the tree, and the
    // fingerprints agree at EVERY level (root, intermediate, 3 leaves)
    val arch = s"$base/p2_arch"
    val toc = graft.Lifecycle.pgDump(spark,
      """{"tables":[{"table":"ev","apply_for_inherited":true}]}""", conninfo, arch)
    assert(toc.entries.filter(_.desc.contains("TABLE DATA")).flatMap(_.tag).toSet
      == Set("ev_2024_eu", "ev_2024_us", "ev_2025"))
    psql("postgres", "CREATE DATABASE p2tgt")
    val (rc, out) = sh(s"PGHOST=$sockDir PGUSER=graft /usr/bin/pg_restore -d p2tgt $arch")
    assert(rc == 0, out)
    for (t <- Seq("ev", "ev_2024", "ev_2024_eu", "ev_2024_us", "ev_2025")) {
      val a = graft.sources.PgSource.tableFingerprint(Seq("-d", conninfo), t)
      val b = graft.sources.PgSource.tableFingerprint(
        Seq("-d", s"host=$sockDir dbname=p2tgt user=graft"), t)
      assert(a == b, s"$t fingerprints diverge: $a vs $b")
    }

    // masked dump through OUR pg-restore: counts survive at every level
    // and the inherited mask holds across both branches of the tree
    val archM = s"$base/p2_arch_m"
    graft.Lifecycle.pgDump(spark,
      """{"tables":[{"table":"ev","apply_for_inherited":true,
           "transforms":[{"column":"city","name":"Masking","params":{"type":"name"}}]}]}""",
      conninfo, archM)
    psql("postgres", "CREATE DATABASE p2tgt2")
    graft.sources.PgRestore.restore(archM,
      Seq("-d", s"host=$sockDir dbname=p2tgt2 user=graft"))
    for (t <- Seq("ev", "ev_2024", "ev_2024_eu", "ev_2024_us", "ev_2025"))
      assert(psql("p2tgt2", s"SELECT count(*) FROM $t")._2.trim ==
        psql("p2src", s"SELECT count(*) FROM $t")._2.trim, s"$t count")
    assert(psql("p2tgt2",
      "SELECT count(*) FROM ev WHERE city <> 'c**'")._2.trim == "0",
      "inherited mask must hold across every leaf of the 2-level tree")

    // --load-via-partition-root (native pg_dump flag): payloads stay
    // per-leaf but every COPY statement targets the ROOT, so the server
    // re-routes rows through the partition tree on restore
    val archR = s"$base/p2_arch_root"
    val tocR = graft.Lifecycle.pgDump(spark,
      """{"tables":[{"table":"ev","apply_for_inherited":true}]}""",
      conninfo, archR, loadViaPartitionRoot = true)
    val dataStmts = tocR.entries.filter(_.desc.contains("TABLE DATA"))
      .flatMap(_.copyStmt)
    assert(dataStmts.size == 3 &&
      dataStmts.forall(_.startsWith("COPY public.ev (")),
      s"every COPY must target the root: $dataStmts")
    psql("postgres", "CREATE DATABASE p2tgt3")
    graft.sources.PgRestore.restore(archR,
      Seq("-d", s"host=$sockDir dbname=p2tgt3 user=graft"))
    for (t <- Seq("ev", "ev_2024", "ev_2024_eu", "ev_2024_us", "ev_2025")) {
      val a = graft.sources.PgSource.tableFingerprint(Seq("-d", conninfo), t)
      val b = graft.sources.PgSource.tableFingerprint(
        Seq("-d", s"host=$sockDir dbname=p2tgt3 user=graft"), t)
      assert(a == b, s"root-routed $t fingerprints diverge: $a vs $b")
    }
  }

  test("pg-restore --use-list: selective restore; --with-deps pulls the closure") {
    live()
    import spark.implicits._
    val parent = Seq((1L, "p1"), (2L, "p2")).toDF("id", "name")
    val child = Seq((10L, 1L), (11L, 2L)).toDF("cid", "pid")
    val arch = s"$base/uselist_arch"
    val toc = PgToc.dumpArchive(
      Seq("ulparent" -> parent, "ulchild" -> child), arch, "ul_tgt",
      includeSchema = true, deps = Map("ulchild" -> Seq("ulparent")))
    val ids = toc.entries.map(e => (e.tag.get, e.desc.get) -> e.dumpId).toMap
    // exact-list mode (native -L semantics): only the parent's DDL +
    // data replay; the child never reaches the target. The data id is
    // listed TWICE (a hand-edited list can carry duplicates) — it must
    // replay once, not double the rows.
    psql("postgres", "CREATE DATABASE ul_tgt")
    graft.sources.PgRestore.restore(arch,
      Seq("-d", s"host=$sockDir dbname=ul_tgt user=graft"),
      Options(useList = Some(Seq(ids("ulparent" -> "TABLE"),
        ids("ulparent" -> "TABLE DATA"), ids("ulparent" -> "TABLE DATA")))))
    assert(psql("ul_tgt", "SELECT count(*) FROM ulparent")._2.trim == "2",
      "duplicate list ids must not restore twice")
    assert(psql("ul_tgt", "SELECT count(*) FROM ulchild")._1 != 0,
      "skipped entry must be absent from the target")
    // --with-deps: listing ONLY the child's data pulls its DDL and the
    // parent chain transitively, in TOC (restore-safe) order —
    // replayed under --restore-in-order (strict sequential TOC order,
    // the native flag's deterministic path)
    psql("postgres", "CREATE DATABASE ul_tgt2")
    graft.sources.PgRestore.restore(arch,
      Seq("-d", s"host=$sockDir dbname=ul_tgt2 user=graft"),
      Options(useList = Some(Seq(ids("ulchild" -> "TABLE DATA"))), withDeps = true),
      restoreInOrder = true)
    assert(psql("ul_tgt2", "SELECT count(*) FROM ulchild")._2.trim == "2")
    assert(psql("ul_tgt2", "SELECT count(*) FROM ulparent")._2.trim == "2")
  }

  test("INSERT-mode literal clauses: ON CONFLICT skips server-side, OVERRIDING lands in identity columns") {
    live()
    // No PostgreSQL JDBC driver ships in this container (Derby only), so
    // the live proof executes the EXACT statement text insertRows
    // prepares — placeholders bound as psql PREPARE/EXECUTE arguments —
    // against a real server. The JDBC wire path around that text is
    // covered by RestoreSinkSpec (Derby).
    psql("postgres", "CREATE DATABASE insmode")
    psql("insmode",
      "CREATE TABLE idt(id bigint GENERATED ALWAYS AS IDENTITY, k int UNIQUE, v text)")
    def prepared(stmt: String, types: Seq[String], args: String): (Int, String) = {
      var i = 0
      val pgStmt = stmt.flatMap {
        case '?' => i += 1; s"$$$i"
        case c   => c.toString
      }
      // via -f, not -c: the $n placeholders must reach psql unexpanded
      val f = java.nio.file.Files.createTempFile("insmode", ".sql")
      java.nio.file.Files.writeString(f,
        s"PREPARE st(${types.mkString(",")}) AS $pgStmt;\nEXECUTE st($args);\n")
      val r = sh(s"PGHOST=$sockDir PGUSER=graft /usr/bin/psql -X " +
        s"-v ON_ERROR_STOP=1 -d insmode -A -t -f $f")
      java.nio.file.Files.delete(f)
      r
    }
    val conflictSql = graft.pipeline.RestoreSink.insertStatement(
      "idt", Seq("k", "v"), onConflictDoNothing = true)
    assert(conflictSql.endsWith("ON CONFLICT DO NOTHING"), conflictSql)
    // same key twice: WITHOUT the clause the server raises 23505 (the
    // row-wise-replay trigger); WITH it the statement succeeds silently
    assert(prepared(conflictSql, Seq("int", "text"), "1, 'a'")._1 == 0)
    val (rcDup, outDup) = prepared(graft.pipeline.RestoreSink.insertStatement(
      "idt", Seq("k", "v")), Seq("int", "text"), "1, 'dup'")
    assert(rcDup != 0 && outDup.contains("duplicate key"), outDup)
    assert(prepared(conflictSql, Seq("int", "text"), "1, 'dup'")._1 == 0,
      "duplicate must skip server-side with no error to replay")
    assert(psql("insmode", "SELECT count(*), min(v) FROM idt WHERE k=1")._2.trim
      == "1|a", "first row wins; duplicate skipped")
    // GENERATED ALWAYS identity: explicit id rejected without the
    // clause, accepted verbatim with OVERRIDING SYSTEM VALUE
    val plainId = graft.pipeline.RestoreSink.insertStatement(
      "idt", Seq("id", "k", "v"))
    val (rcId, outId) = prepared(plainId, Seq("bigint", "int", "text"), "42, 2, 'x'")
    assert(rcId != 0 && outId.contains("GENERATED ALWAYS"), outId)
    val overridingSql = graft.pipeline.RestoreSink.insertStatement(
      "idt", Seq("id", "k", "v"), overridingSystemValue = true)
    assert(overridingSql.contains(") OVERRIDING SYSTEM VALUE VALUES ("), overridingSql)
    assert(prepared(overridingSql, Seq("bigint", "int", "text"), "42, 2, 'x'")._1 == 0)
    assert(psql("insmode", "SELECT id FROM idt WHERE k=2")._2.trim == "42",
      "explicit identity value must land under OVERRIDING SYSTEM VALUE")
    // both clauses compose (the reference emits them together when both
    // options are set)
    val bothSql = graft.pipeline.RestoreSink.insertStatement(
      "idt", Seq("id", "k", "v"), onConflictDoNothing = true,
      overridingSystemValue = true)
    assert(prepared(bothSql, Seq("bigint", "int", "text"), "42, 2, 'again'")._1 == 0)
    assert(psql("insmode", "SELECT count(*) FROM idt")._2.trim == "2")
  }

  test("composed streaming flow: live PG -> pg-dump zstd watch dir -> copyIngestStream masks -> batch parity") {
    live()
    import spark.implicits._
    import graft.pipeline.{ColumnTransform, Planner, TableConfig}
    import graft.transformers.Masking
    // live source
    psql("postgres", "CREATE DATABASE streamsrc")
    psql("streamsrc", "CREATE TABLE pii(id int, name text, email text)")
    psql("streamsrc",
      "INSERT INTO pii SELECT g, 'user'||g, 'u'||g||'@x.io' FROM generate_series(1, 300) g")
    val conninfo = s"host=$sockDir user=graft dbname=streamsrc"

    // UNMASKED zstd dump lands in the watch dir — the stream is the
    // masking stage here (the dump spool -> continuous-ingest shape)
    val watchDir = s"$base/stream_watch"
    graft.Lifecycle.pgDump(spark, """{"tables":[{"table":"pii"}]}""",
      conninfo, watchDir, schemaFromSource = false, compress = "zstd")
    assert(new java.io.File(watchDir).listFiles().exists(_.getName.endsWith(".dat.zst")))

    val cfg = TableConfig("pii",
      transforms = Seq(ColumnTransform("name", Masking("name"))))
    // the stream watches the LIVE archive dir — toc.dat, metadata.json,
    // the heartbeat stamp and .idx sidecars all sit next to the payload
    // and must never decode as COPY rows
    val decoded = StreamingMask.copyIngestStream(spark, watchDir,
      Seq("id", "name", "email"))
    val maskedStream = StreamingMask.maskStream(decoded, cfg)
    val q = maskedStream.writeStream.format("memory")
      .queryName("pg_stream_out").outputMode("append").start()
    try {
      q.processAllAvailable()
      def streamed(): Set[(String, String, String)] =
        spark.table("pg_stream_out").as[(String, String, String)].collect().toSet
      // batch twin: same archive payload through the batch loader + the
      // same masking plan
      def batchMasked(dir: String): Set[(String, String, String)] =
        graft.sources.PgArchive.load(spark, dir).collect { case ("pii", df) =>
          Planner.plan(df, cfg).as[(String, String, String)].collect().toSet
        }.head
      val b1 = batchMasked(watchDir)
      assert(b1.size == 300)
      assert(streamed() == b1, "stream-masked rows must equal batch-masked rows")

      // continuous: more source rows, a SECOND dump spools in — the new
      // member lands in the watch dir and only the new rows stream
      psql("streamsrc",
        "INSERT INTO pii SELECT g, 'user'||g, 'u'||g||'@x.io' FROM generate_series(301, 380) g")
      psql("streamsrc", "DELETE FROM pii WHERE id <= 300")
      val dir2 = s"$base/stream_watch_2"
      graft.Lifecycle.pgDump(spark, """{"tables":[{"table":"pii"}]}""",
        conninfo, dir2, schemaFromSource = false, compress = "zstd")
      val member2 = new java.io.File(dir2).listFiles()
        .find(_.getName.endsWith(".dat.zst")).get
      java.nio.file.Files.copy(member2.toPath,
        java.nio.file.Paths.get(watchDir, "late_spool.dat.zst"))
      q.processAllAvailable()
      val b2 = batchMasked(dir2)
      assert(b2.size == 80)
      assert(streamed() == b1 ++ b2,
        "late spool member must stream exactly the second batch's rows")
    } finally q.stop()
  }

  test("pg-restore native flags: --exit-on-error, --clean, --create, -t, --strict-names") {
    live()
    import spark.implicits._
    // archive with two tables; `bad` carries DUPLICATE keys so a target
    // that declares a PRIMARY KEY poisons its COPY
    val good = (1L to 40L).map(i => (i, s"g$i")).toDF("k", "v")
    val bad = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("k", "v")
    val arch = s"$base/flags_arch"
    PgToc.dumpArchive(Seq("good" -> good, "bad" -> bad), arch, "flagtgt",
      includeSchema = true)
    val conn = s"host=$sockDir dbname=flagtgt user=graft"

    // --create: the DATABASE entry (stored unconditionally, like real
    // pg_dump) stands the target up via the maintenance connection
    assert(psql("flagtgt", "SELECT 1")._1 != 0, "target must not pre-exist")
    graft.sources.PgRestore.restore(arch, Seq("-d", conn), Options(create = true))
    assert(psql("flagtgt", "SELECT count(*) FROM good")._2.trim == "40")

    // poison `bad`: re-create it with a PRIMARY KEY the archive's
    // duplicate rows violate
    psql("flagtgt", "DROP TABLE bad")
    psql("flagtgt", "CREATE TABLE bad(k bigint PRIMARY KEY, v text)")
    psql("flagtgt", "DELETE FROM good") // avoid dup noise on re-COPY

    // WITH -e (exitOnError): first failure aborts the restore
    val e = intercept[IllegalArgumentException] {
      graft.sources.PgRestore.restore(arch, Seq("-d", conn),
        Options(dataOnly = true), exitOnError = true)
    }
    assert(e.getMessage.contains("COPY bad failed"), e.getMessage)

    // WITHOUT -e (native default): the failed table's transaction rolls
    // back, the wave continues, and the run closes with the summary line
    psql("flagtgt", "DELETE FROM good")
    val lines = graft.sources.PgRestore.restore(arch, Seq("-d", conn),
      Options(dataOnly = true), exitOnError = false)
    assert(lines.exists(_.startsWith("errors ignored on restore:")), lines)
    // the returned log is the SUCCESS record: the healthy table reads
    // as restored, the failed one must NOT
    assert(lines.contains("TABLE DATA good"), lines)
    assert(!lines.contains("TABLE DATA bad"),
      s"a failed COPY must not be reported as restored: $lines")
    assert(psql("flagtgt", "SELECT count(*) FROM good")._2.trim == "40",
      "continue-mode must still load the healthy table")
    assert(psql("flagtgt", "SELECT count(*) FROM bad")._2.trim == "0",
      "the poisoned COPY rolled back — no partial rows")

    // -t selection: only the named table (DDL + data) replays; --clean
    // drops it first so the replay into a non-empty target succeeds
    psql("flagtgt", "INSERT INTO good VALUES (999, 'stale')")
    graft.sources.PgRestore.restore(arch, Seq("-d", conn),
      Options(clean = true, tables = Seq("good")), exitOnError = true)
    assert(psql("flagtgt", "SELECT count(*), max(k) FROM good")._2.trim == "40|40",
      "--clean must have dropped the stale row before re-creating")
    assert(psql("flagtgt", "SELECT count(*) FROM bad")._2.trim == "0",
      "-t good must not touch bad")

    // --strict-names: a selection that matches nothing is an error with
    // it, an empty (no-op) selection without it
    val s = intercept[IllegalArgumentException] {
      graft.sources.PgRestore.restore(arch, Seq("-d", conn),
        Options(tables = Seq("nope"), strictNames = true))
    }
    assert(s.getMessage.contains("\"nope\" not found"), s.getMessage)
    assert(graft.sources.PgRestore.restore(arch, Seq("-d", conn),
      Options(tables = Seq("nope"))).isEmpty, "non-strict unmatched selection is empty")

    // maintenance-args derivation covers all conninfo shapes
    assert(graft.sources.PgRestore.maintenanceArgs(
      Seq("-d", "host=/x dbname=foo user=u")) ==
      Seq("-d", "host=/x dbname=postgres user=u"))
    assert(graft.sources.PgRestore.maintenanceArgs(Seq("-d", "foo")) ==
      Seq("-d", "postgres"))
    intercept[IllegalArgumentException](
      graft.sources.PgRestore.maintenanceArgs(Seq("-h", "/x")))
    // URI conninfo: only the PATH component swaps — host/port/user and
    // query params must survive (a wholesale swap would point CREATE
    // DATABASE at the local default server)
    assert(graft.sources.PgRestore.maintenanceArgs(
      Seq("-d", "postgresql://u:p@db.example:5433/foo?sslmode=disable")) ==
      Seq("-d", "postgresql://u:p@db.example:5433/postgres?sslmode=disable"))
    assert(graft.sources.PgRestore.maintenanceArgs(
      Seq("-d", "postgres://db.example:5433")) ==
      Seq("-d", "postgres://db.example:5433/postgres"))
    assert(graft.sources.PgRestore.maintenanceArgs(
      Seq("-d", "postgresql:///foo")) == Seq("-d", "postgresql:///postgres"))
    // a path- or port-bearing non-URI value is NOT a bare dbname —
    // refuse loudly rather than guess
    intercept[IllegalArgumentException](
      graft.sources.PgRestore.maintenanceArgs(Seq("-d", "/var/run/pg/db")))
  }

  test("pg-restore -O/-X: owner statements filtered, ACL entries skipped") {
    live()
    // table owned by a role that is GONE at restore time — the
    // operational case -O exists for
    psql("postgres", "CREATE ROLE deadrole")
    psql("postgres", "CREATE DATABASE ownsrc")
    psql("ownsrc", "CREATE TABLE ot(k int)")
    psql("ownsrc", "INSERT INTO ot VALUES (1)")
    psql("ownsrc", "ALTER TABLE ot OWNER TO deadrole")
    psql("ownsrc", "GRANT SELECT ON ot TO deadrole")
    val arch = s"$base/own_arch"
    val (rcD, outD) = asPg(s"PGHOST=$sockDir PGUSER=graft " +
      s"/usr/bin/pg_dump -Fd -d ownsrc -f $arch")
    assert(rcD == 0, outD)
    sh(s"chmod -R a+rX $arch")
    psql("ownsrc", "REASSIGN OWNED BY deadrole TO graft")
    psql("ownsrc", "DROP OWNED BY deadrole")
    psql("postgres", "DROP ROLE deadrole")

    // without -O: the SYNTHESIZED `ALTER TABLE ot OWNER TO deadrole`
    // (native behavior — ownership is a TOC FIELD, not a defn statement)
    // hits the missing role; continue-mode counts it, data still lands
    psql("postgres", "CREATE DATABASE owntgt1")
    val l1 = graft.sources.PgRestore.restore(arch,
      Seq("-d", s"host=$sockDir dbname=owntgt1 user=graft"), exitOnError = false)
    assert(l1.exists(_.startsWith("errors ignored")), l1)
    assert(psql("owntgt1", "SELECT count(*) FROM ot")._2.trim == "1")
    // with -O and -X: clean restore, table owned by the connecting user
    psql("postgres", "CREATE DATABASE owntgt2")
    val l2 = graft.sources.PgRestore.restore(arch,
      Seq("-d", s"host=$sockDir dbname=owntgt2 user=graft"),
      Options(noOwner = true, noPrivileges = true),
      exitOnError = false)
    assert(!l2.exists(_.startsWith("errors ignored")), l2)
    assert(psql("owntgt2", "SELECT count(*) FROM ot")._2.trim == "1")
    assert(psql("owntgt2",
      "SELECT tableowner FROM pg_tables WHERE tablename='ot'")._2.trim == "graft")
  }

  test("pg-restore -f script output and -1 single-transaction atomicity") {
    live()
    import spark.implicits._
    val good = (1L to 30L).map(i => (i, s"g$i")).toDF("k", "v")
    val bad = Seq((1L, "a"), (1L, "b")).toDF("k", "v") // dup keys
    val arch = s"$base/script_arch"
    PgToc.dumpArchive(Seq("sgood" -> good, "sbad" -> bad), arch, "scripttgt",
      includeSchema = true)

    // -f: the archive renders as ONE plain SQL script; feeding it through
    // stock psql reproduces the direct restore exactly
    val script = java.nio.file.Files.createTempFile("graft_script", ".sql")
    val os = java.nio.file.Files.newOutputStream(script)
    val n = try graft.sources.PgRestore.toScript(arch, os) finally os.close()
    assert(n >= 4, s"expected schema+data entries rendered, got $n")
    val text = java.nio.file.Files.readString(script)
    assert(text.contains("CREATE TABLE") && text.contains("COPY ") &&
      text.contains("FROM stdin;") && text.contains("\\."), text.take(200))
    psql("postgres", "CREATE DATABASE scr1")
    val (rcS, outS) = sh(s"PGHOST=$sockDir PGUSER=graft /usr/bin/psql -X -q " +
      s"-o /dev/null -d scr1 -f $script")
    assert(rcS == 0, outS.takeRight(300))
    psql("postgres", "CREATE DATABASE scr2")
    graft.sources.PgRestore.restore(arch,
      Seq("-d", s"host=$sockDir dbname=scr2 user=graft"), exitOnError = true)
    for (t <- Seq("sgood", "sbad")) {
      val a = graft.sources.PgSource.tableFingerprint(
        Seq("-d", s"host=$sockDir dbname=scr1 user=graft"), t)
      val b = graft.sources.PgSource.tableFingerprint(
        Seq("-d", s"host=$sockDir dbname=scr2 user=graft"), t)
      assert(a == b, s"script vs direct restore diverge on $t: $a vs $b")
    }
    java.nio.file.Files.delete(script)

    // -1: poison sbad on the target (PK the archive's duplicates violate);
    // the single transaction rolls EVERYTHING back — sgood lands nothing
    psql("postgres", "CREATE DATABASE scr3")
    psql("scr3", "CREATE TABLE sgood(k bigint, v text)")
    psql("scr3", "CREATE TABLE sbad(k bigint PRIMARY KEY, v text)")
    val e = intercept[IllegalArgumentException] {
      graft.sources.PgRestore.restore(arch,
        Seq("-d", s"host=$sockDir dbname=scr3 user=graft"),
        Options(dataOnly = true, singleTransaction = true))
    }
    assert(e.getMessage.contains("rolled back"), e.getMessage)
    assert(psql("scr3", "SELECT count(*) FROM sgood")._2.trim == "0",
      "-1 must roll back the healthy table's rows too (atomicity)")
    // contrast: the default wave restore lands sgood and skips sbad
    graft.sources.PgRestore.restore(arch,
      Seq("-d", s"host=$sockDir dbname=scr3 user=graft"),
      Options(dataOnly = true), exitOnError = false)
    assert(psql("scr3", "SELECT count(*) FROM sgood")._2.trim == "30")
    assert(psql("scr3", "SELECT count(*) FROM sbad")._2.trim == "0")
    // and a CLEAN single-transaction run applies everything atomically
    psql("scr3", "DELETE FROM sgood")
    psql("scr3", "DROP TABLE sbad")
    psql("scr3", "CREATE TABLE sbad(k bigint, v text)")
    val ok = graft.sources.PgRestore.restore(arch,
      Seq("-d", s"host=$sockDir dbname=scr3 user=graft"),
      Options(dataOnly = true, singleTransaction = true))
    assert(ok.exists(_.startsWith("single transaction:")), ok)
    assert(psql("scr3", "SELECT count(*) FROM sgood")._2.trim == "30")
    assert(psql("scr3", "SELECT count(*) FROM sbad")._2.trim == "2")
    // continue mode + --disable-triggers as a role that may not set
    // session_replication_role: the SET rides with each COPY, so the
    // schema is created and only the two loads fail
    psql("postgres", "CREATE ROLE scr_nosu LOGIN")
    psql("postgres", "CREATE DATABASE scr4 OWNER scr_nosu")
    val nosu = graft.sources.PgRestore.restore(arch,
      Seq("-d", s"host=$sockDir dbname=scr4 user=scr_nosu"), Options(noOwner = true),
      exitOnError = false, disableTriggers = true)
    assert(nosu.toSet == Set("TABLE sgood", "TABLE sbad", "errors ignored on restore: 2") &&
      nosu.last == "errors ignored on restore: 2", nosu)
    assert(psql("scr4", "SELECT count(*) FROM sgood")._2.trim == "0")
    // -1 reports the statements and COPYs it sent, as the -f script counts them
    psql("postgres", "CREATE DATABASE scr5")
    val nScript = graft.sources.PgRestore.toScript(arch, new java.io.ByteArrayOutputStream())
    val one = graft.sources.PgRestore.restore(arch,
      Seq("-d", s"host=$sockDir dbname=scr5 user=graft"), Options(singleTransaction = true))
    assert(one == Seq(s"single transaction: $nScript entries applied"), one)
    // -C inside -1 is refused (CREATE DATABASE is not transactional)
    intercept[IllegalArgumentException] {
      graft.sources.PgRestore.restore(arch,
        Seq("-d", s"host=$sockDir dbname=scr3 user=graft"),
        Options(singleTransaction = true, create = true))
    }
    // -1 + --disable-triggers: the session SET rides at the top of the
    // rendered script, so a row-mangling trigger on the target must NOT
    // fire during the COPY replay (graft is the cluster superuser)
    psql("scr3", "DELETE FROM sgood")
    psql("scr3", "DELETE FROM sbad")
    psql("scr3",
      "CREATE FUNCTION mangle() RETURNS trigger AS 'BEGIN NEW.v := ''X''; RETURN NEW; END;' LANGUAGE plpgsql")
    psql("scr3",
      "CREATE TRIGGER sgood_mangle BEFORE INSERT ON sgood FOR EACH ROW EXECUTE FUNCTION mangle()")
    graft.sources.PgRestore.restore(arch,
      Seq("-d", s"host=$sockDir dbname=scr3 user=graft"),
      Options(dataOnly = true, singleTransaction = true), disableTriggers = true)
    assert(psql("scr3", "SELECT count(*) FROM sgood WHERE v = 'X'")._2.trim == "0",
      "--disable-triggers under -1 must suppress the trigger")
    assert(psql("scr3", "SELECT count(*) FROM sgood")._2.trim == "30")
    // and WITHOUT the flag the same replay shows the trigger firing —
    // proving the SET (not luck) is what suppressed it above
    psql("scr3", "DELETE FROM sgood"); psql("scr3", "DELETE FROM sbad")
    graft.sources.PgRestore.restore(arch,
      Seq("-d", s"host=$sockDir dbname=scr3 user=graft"),
      Options(dataOnly = true, singleTransaction = true))
    assert(psql("scr3", "SELECT count(*) FROM sgood WHERE v = 'X'")._2.trim == "30")
    // scripts hooks cannot ride the -1 script detour — rejected loudly,
    // never silently skipped
    val sErr = intercept[IllegalArgumentException] {
      graft.sources.PgRestore.restore(arch,
        Seq("-d", s"host=$sockDir dbname=scr3 user=graft"),
        Options(singleTransaction = true),
        scripts = Map("pre-data" -> Seq(graft.sources.PgRestore.Script(
          "x", "before", query = Some("SELECT 1")))))
    }
    assert(sErr.getMessage.contains("--scripts"), sErr.getMessage)
  }

  test("pg-restore -P/-T/--no-publications/--enable-row-security") {
    live()
    psql("postgres", "CREATE DATABASE featsrc")
    psql("featsrc", "CREATE TABLE ft(k int, v text)")
    psql("featsrc", "INSERT INTO ft VALUES (1, 'a')")
    psql("featsrc",
      "CREATE FUNCTION bump() RETURNS trigger AS 'BEGIN NEW.v := NEW.v || ''!''; RETURN NEW; END;' LANGUAGE plpgsql")
    psql("featsrc",
      "CREATE TRIGGER ft_bump BEFORE INSERT ON ft FOR EACH ROW EXECUTE FUNCTION bump()")
    assert(psql("featsrc", "CREATE PUBLICATION ftpub FOR TABLE ft")._1 == 0)
    val arch = s"$base/feat_arch"
    val (rcD, outD) = asPg(s"PGHOST=$sockDir PGUSER=graft " +
      s"/usr/bin/pg_dump -Fd -d featsrc -f $arch")
    assert(rcD == 0, outD)
    sh(s"chmod -R a+rX $arch")

    // full restore WITHOUT --no-publications carries the publication
    psql("postgres", "CREATE DATABASE feattgt1")
    graft.sources.PgRestore.restore(arch,
      Seq("-d", s"host=$sockDir dbname=feattgt1 user=graft"), exitOnError = true)
    assert(psql("feattgt1",
      "SELECT count(*) FROM pg_publication WHERE pubname='ftpub'")._2.trim == "1")
    assert(psql("feattgt1",
      "SELECT count(*) FROM pg_trigger WHERE tgname='ft_bump'")._2.trim == "1")
    // --no-publications drops it; everything else lands
    psql("postgres", "CREATE DATABASE feattgt2")
    graft.sources.PgRestore.restore(arch,
      Seq("-d", s"host=$sockDir dbname=feattgt2 user=graft"),
      Options(noPublications = true), exitOnError = true)
    assert(psql("feattgt2",
      "SELECT count(*) FROM pg_publication WHERE pubname='ftpub'")._2.trim == "0")
    assert(psql("feattgt2", "SELECT count(*) FROM ft")._2.trim == "1")

    // -P bump / -T ft_bump: ONLY the named function / trigger replays
    // (onto a target that already holds the table shape they attach to)
    psql("postgres", "CREATE DATABASE feattgt3")
    psql("feattgt3", "CREATE TABLE ft(k int, v text)")
    val selLines = graft.sources.PgRestore.restore(arch,
      Seq("-d", s"host=$sockDir dbname=feattgt3 user=graft"),
      Options(functions = Seq("bump"), triggers = Seq("ft_bump")), exitOnError = true)
    assert(psql("feattgt3",
      "SELECT count(*) FROM pg_proc WHERE proname='bump'")._2.trim == "1",
      s"restore replayed: ${selLines.mkString("; ")}")
    assert(psql("feattgt3",
      "SELECT count(*) FROM pg_trigger WHERE tgname='ft_bump'")._2.trim == "1")
    assert(psql("feattgt3", "SELECT count(*) FROM ft")._2.trim == "0",
      "-P/-T selection must not move table data")
    // trigger live: the restored function+trigger fire on insert
    psql("feattgt3", "INSERT INTO ft VALUES (2, 'b')")
    assert(psql("feattgt3", "SELECT v FROM ft WHERE k=2")._2.trim == "b!")
    // --strict-names over -P
    val e = intercept[IllegalArgumentException] {
      graft.sources.PgRestore.restore(arch,
        Seq("-d", s"host=$sockDir dbname=feattgt3 user=graft"),
        Options(functions = Seq("nope"), strictNames = true))
    }
    assert(e.getMessage.contains("function \"nope\" not found"), e.getMessage)

    // --enable-row-security: COPY into an RLS-enabled table succeeds
    // under a permissive policy with row_security=on in the session
    psql("postgres", "CREATE DATABASE rlstgt")
    psql("rlstgt", "CREATE TABLE ft(k int, v text)")
    psql("rlstgt", "ALTER TABLE ft ENABLE ROW LEVEL SECURITY")
    psql("rlstgt", "ALTER TABLE ft FORCE ROW LEVEL SECURITY")
    psql("rlstgt", "CREATE POLICY allow_all ON ft FOR ALL USING (true) WITH CHECK (true)")
    graft.sources.PgRestore.restore(arch,
      Seq("-d", s"host=$sockDir dbname=rlstgt user=graft"),
      Options(dataOnly = true), enableRowSecurity = true, exitOnError = false,
      noDataForFailedTables = false)
    assert(psql("rlstgt", "SELECT count(*) FROM ft")._2.trim == "1")
  }

  test("pg-restore -s/-n/-N/--no-comments: schema-only restore and namespace selection") {
    live()
    // two-schema source with a comment, dumped by the real pg_dump
    psql("postgres", "CREATE DATABASE nssrc")
    psql("nssrc", "CREATE SCHEMA s1")
    psql("nssrc", "CREATE SCHEMA s2")
    psql("nssrc", "CREATE TABLE s1.t1(k int)")
    psql("nssrc", "CREATE TABLE s2.t2(k int)")
    psql("nssrc", "INSERT INTO s1.t1 VALUES (1), (2)")
    psql("nssrc", "INSERT INTO s2.t2 VALUES (3)")
    psql("nssrc", "COMMENT ON TABLE s1.t1 IS 'hello'")
    val arch = s"$base/ns_arch"
    val (rcD, outD) = asPg(s"PGHOST=$sockDir PGUSER=graft " +
      s"/usr/bin/pg_dump -Fd -d nssrc -f $arch")
    assert(rcD == 0, outD)
    sh(s"chmod -R a+rX $arch")

    // -s: all DDL, no data moves
    psql("postgres", "CREATE DATABASE nstgt1")
    graft.sources.PgRestore.restore(arch,
      Seq("-d", s"host=$sockDir dbname=nstgt1 user=graft"),
      Options(schemaOnly = true), exitOnError = true)
    assert(psql("nstgt1", "SELECT count(*) FROM s1.t1")._2.trim == "0")
    assert(psql("nstgt1", "SELECT count(*) FROM s2.t2")._2.trim == "0",
      "-s must create every table empty")
    assert(psql("nstgt1",
      "SELECT obj_description('s1.t1'::regclass)")._2.trim == "hello")

    // -n s1: only schema s1's objects (+ its data); s2 never appears.
    // Native quirk (verified against pg_restore 15): -n does NOT create
    // the schema itself — its SCHEMA entry has no namespace and is
    // dropped by the filter — so the operator pre-creates it, exactly
    // as with the native tool. --no-comments drops the COMMENT entry.
    psql("postgres", "CREATE DATABASE nstgt2")
    psql("nstgt2", "CREATE SCHEMA s1")
    graft.sources.PgRestore.restore(arch,
      Seq("-d", s"host=$sockDir dbname=nstgt2 user=graft"),
      Options(schemas = Seq("s1"), noComments = true), exitOnError = true)
    assert(psql("nstgt2", "SELECT count(*) FROM s1.t1")._2.trim == "2")
    assert(psql("nstgt2", "SELECT count(*) FROM s2.t2")._1 != 0,
      "-n s1 must not create s2 objects")
    assert(psql("nstgt2", "SELECT obj_description('s1.t1'::regclass)")._2.trim
      == "", "--no-comments must drop the COMMENT entry")

    // -N s2: everything except s2
    psql("postgres", "CREATE DATABASE nstgt3")
    graft.sources.PgRestore.restore(arch,
      Seq("-d", s"host=$sockDir dbname=nstgt3 user=graft"),
      Options(excludeSchemas = Seq("s2")), exitOnError = true)
    assert(psql("nstgt3", "SELECT count(*) FROM s1.t1")._2.trim == "2")
    assert(psql("nstgt3", "SELECT count(*) FROM s2.t2")._1 != 0)

    // --strict-names over -n
    val e = intercept[IllegalArgumentException] {
      graft.sources.PgRestore.restore(arch,
        Seq("-d", s"host=$sockDir dbname=nstgt3 user=graft"),
        Options(schemas = Seq("nope"), strictNames = true))
    }
    assert(e.getMessage.contains("\"nope\" not found"), e.getMessage)
    // -s and -a are mutually exclusive (native)
    intercept[IllegalArgumentException] {
      graft.sources.PgRestore.restore(arch,
        Seq("-d", s"host=$sockDir dbname=nstgt3 user=graft"),
        Options(schemaOnly = true, dataOnly = true))
    }
  }

  test("structured use-list: --list-format json/yaml parse entries[].dumpId in order") {
    import graft.sources.PgRestore
    val json = """{"entries":[{"dumpId":7,"table":"a"},{"dumpId":3,"table":"b"}]}"""
    assert(PgRestore.parseStructuredRestoreList(json, "json") == Seq(7, 3))
    val yaml = "entries:\n  - dumpId: 7\n    table: a\n  - dumpId: 3\n    table: b\n"
    assert(PgRestore.parseStructuredRestoreList(yaml, "yaml") == Seq(7, 3))
    // dumpId 0 / missing = broken file (reference's error)
    val broken = intercept[IllegalArgumentException](
      PgRestore.parseStructuredRestoreList("""{"entries":[{"table":"x"}]}""", "json"))
    assert(broken.getMessage.contains("must not be 0"), broken.getMessage)
    intercept[IllegalArgumentException](
      PgRestore.parseStructuredRestoreList("{}", "json"))
    intercept[IllegalArgumentException](
      PgRestore.parseStructuredRestoreList("{}", "toml"))
    // the engine's own manifest.json IS the structured shape
    val dir = java.nio.file.Files.createTempDirectory("graft_lf").toString
    import spark.implicits._
    val df = Seq((1L, "x")).toDF("id", "v")
    df.write.mode("overwrite").parquet(s"$dir/t")
    graft.pipeline.Manifest.write(
      graft.pipeline.Manifest.build(Seq(("t", df, s"$dir/t")),
        keys = graft.pipeline.CatalogKeys(Nil, Nil)),
      s"$dir/manifest.json")
    val ids = PgRestore.parseStructuredRestoreList(
      java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/manifest.json")), "json")
    assert(ids.nonEmpty && ids.forall(_ > 0))
  }

  test("pg-restore: --if-exists, --section, --no-data-for-failed-tables") {
    live()
    import spark.implicits._
    val good = (1L to 10L).map(i => (i, s"g$i")).toDF("k", "v")
    val arch = s"$base/flags2_arch"
    PgToc.dumpArchive(Seq("ietab" -> good), arch, "ietgt", includeSchema = true)
    psql("postgres", "CREATE DATABASE ietgt")
    val conn = s"host=$sockDir dbname=ietgt user=graft"

    // --clean on an EMPTY database: without --if-exists the drop errors
    // (counted, continue-mode) — with it the drop is a clean no-op
    val e = intercept[IllegalArgumentException] {
      graft.sources.PgRestore.restore(arch, Seq("-d", conn),
        Options(clean = true), exitOnError = true)
    }
    assert(e.getMessage.contains("DROP for"), e.getMessage)
    val lines = graft.sources.PgRestore.restore(arch, Seq("-d", conn),
      Options(clean = true, ifExists = true), exitOnError = true)
    assert(!lines.exists(_.startsWith("errors ignored")), lines)
    assert(psql("ietgt", "SELECT count(*) FROM ietab")._2.trim == "10")
    // idempotent now: clean+if-exists replays over the populated target
    graft.sources.PgRestore.restore(arch, Seq("-d", conn),
      Options(clean = true, ifExists = true), exitOnError = true)
    assert(psql("ietgt", "SELECT count(*) FROM ietab")._2.trim == "10")

    // the textual rewrite itself (native pg_backup_archiver shape)
    assert(graft.sources.PgRestore.injectIfExists("DROP TABLE public.t;\n")
      == "DROP TABLE IF EXISTS public.t;\n")
    assert(graft.sources.PgRestore.injectIfExists(
      "DROP MATERIALIZED VIEW public.mv;\n")
      == "DROP MATERIALIZED VIEW IF EXISTS public.mv;\n")
    assert(graft.sources.PgRestore.injectIfExists(
      "ALTER TABLE t DROP CONSTRAINT c_pk;\n")
      == "ALTER TABLE t DROP CONSTRAINT IF EXISTS c_pk;\n")
    assert(graft.sources.PgRestore.injectIfExists(
      "DROP TABLE IF EXISTS t;\n") == "DROP TABLE IF EXISTS t;\n")

    // --section: pre-data creates the (empty) table, data fills it
    psql("postgres", "CREATE DATABASE sectgt")
    val connS = s"host=$sockDir dbname=sectgt user=graft"
    graft.sources.PgRestore.restore(arch, Seq("-d", connS),
      Options(section = Some("pre-data")), exitOnError = true)
    assert(psql("sectgt", "SELECT count(*) FROM ietab")._2.trim == "0",
      "--section=pre-data must move no data")
    graft.sources.PgRestore.restore(arch, Seq("-d", connS),
      Options(section = Some("data")), exitOnError = true)
    assert(psql("sectgt", "SELECT count(*) FROM ietab")._2.trim == "10")
    intercept[IllegalArgumentException](graft.sources.PgRestore.restore(
      arch, Seq("-d", connS), Options(section = Some("nope"))))

    // --no-data-for-failed-tables: a table whose CREATE failed (already
    // exists, holding its OWN rows) must not get archive data appended
    psql("postgres", "CREATE DATABASE ndftgt")
    val connN = s"host=$sockDir dbname=ndftgt user=graft"
    psql("ndftgt", "CREATE TABLE ietab(k bigint, v text)")
    psql("ndftgt", "INSERT INTO ietab VALUES (99, 'mine')")
    graft.sources.PgRestore.restore(arch, Seq("-d", connN),
      exitOnError = false, noDataForFailedTables = true)
    assert(psql("ndftgt", "SELECT count(*), min(v) FROM ietab")._2.trim == "1|mine",
      "existing table's rows must stay untouched, archive data skipped")
    // contrast: without the flag the data DOES land (native default)
    graft.sources.PgRestore.restore(arch, Seq("-d", connN),
      exitOnError = false)
    assert(psql("ndftgt", "SELECT count(*) FROM ietab")._2.trim == "11")

    // failed-table tracking is keyed by (namespace, tag) — native tracks
    // the failed ENTRY, so a failed a.t must NOT suppress the data load
    // of an unrelated b.t that merely shares the name
    psql("postgres", "CREATE DATABASE nssrc")
    psql("nssrc", "CREATE SCHEMA a"); psql("nssrc", "CREATE SCHEMA b")
    psql("nssrc", "CREATE TABLE a.t(k int)")
    psql("nssrc", "INSERT INTO a.t VALUES (1),(2)")
    psql("nssrc", "CREATE TABLE b.t(k int)")
    psql("nssrc", "INSERT INTO b.t SELECT g FROM generate_series(1,5) g")
    val nsArch = s"$base/ndf_ns_arch"
    val (rcNs, outNs) = asPg(s"PGHOST=$sockDir PGUSER=graft " +
      s"/usr/bin/pg_dump -Fd -d nssrc -f $nsArch")
    assert(rcNs == 0, outNs)
    sh(s"chmod -R a+rX $nsArch")
    psql("postgres", "CREATE DATABASE nstgt")
    psql("nstgt", "CREATE SCHEMA a")
    psql("nstgt", "CREATE TABLE a.t(k int)") // poisons a.t's CREATE
    psql("nstgt", "INSERT INTO a.t VALUES (99)")
    graft.sources.PgRestore.restore(nsArch,
      Seq("-d", s"host=$sockDir dbname=nstgt user=graft"),
      exitOnError = false, noDataForFailedTables = true)
    assert(psql("nstgt", "SELECT count(*) FROM a.t")._2.trim == "1",
      "failed a.t keeps its own rows (--no-data-for-failed-tables)")
    assert(psql("nstgt", "SELECT count(*) FROM b.t")._2.trim == "5",
      "b.t shares only the NAME with the failed a.t — its data must load")

    // a failure inside a shared session lands on ITS entry: the 2nd of 3
    // CREATEs fails (the table exists, holding its own row); the other
    // two are created and loaded, and only the failed table's data is
    // skipped; under -e the exception names the same entry
    val trio = s"$base/ndf_trio_arch"
    PgToc.dumpArchive(Seq("tr1" -> good, "tr2" -> good, "tr3" -> good), trio,
      "triotgt", includeSchema = true)
    def poisoned(db: String): Seq[String] = {
      psql("postgres", s"CREATE DATABASE $db")
      psql(db, "CREATE TABLE tr2(k bigint, v text)")
      psql(db, "INSERT INTO tr2 VALUES (99, 'mine')")
      Seq("-d", s"host=$sockDir dbname=$db user=graft")
    }
    val trioErr = new java.io.ByteArrayOutputStream()
    val stderr0 = System.err
    System.setErr(new java.io.PrintStream(trioErr, true, "UTF-8"))
    val trioLines = try graft.sources.PgRestore.restore(trio, poisoned("triotgt"),
      exitOnError = false, noDataForFailedTables = true)
    finally System.setErr(stderr0)
    val warned = trioErr.toString("UTF-8").linesIterator
      .filter(_.contains("warning:")).toSeq
    assert(warned.size == 1 && warned.head.contains("TABLE tr2 failed") &&
      warned.head.contains("already exists"), warned)
    assert(trioLines.last == "errors ignored on restore: 1", trioLines)
    assert(Seq("TABLE tr1", "TABLE DATA tr1", "TABLE tr3", "TABLE DATA tr3")
      .forall(trioLines.contains) && !trioLines.exists(_.endsWith("tr2")), trioLines)
    assert(psql("triotgt", "SELECT (SELECT count(*) FROM tr1) || ',' || " +
      "(SELECT count(*) FROM tr3) || ',' || (SELECT min(v) || count(*) FROM tr2)")
      ._2.trim == "10,10,mine1")
    val eTrio = intercept[IllegalArgumentException](graft.sources.PgRestore.restore(
      trio, poisoned("triotgt_e"), exitOnError = true))
    assert(eTrio.getMessage.contains("TABLE tr2 failed") &&
      eTrio.getMessage.contains("already exists"), eTrio.getMessage)
    assert(psql("triotgt_e", "SELECT to_regclass('tr1') IS NOT NULL, " +
      "to_regclass('tr3') IS NULL")._2.trim == "t|t", "-e stops at the failed entry")

    // the CLI -f script path forwards the FULL flag set: -n must filter
    // the rendered script exactly as it filters a direct restore
    val cliScript = java.nio.file.Files.createTempFile("graft_cli_f", ".sql")
    Lifecycle.pgRestoreCli(nsArch, "unused-conninfo",
      List("-n", "b", "-f", cliScript.toString))
    val cliText = java.nio.file.Files.readString(cliScript)
    assert(cliText.contains("CREATE TABLE b.t"), cliText.take(400))
    assert(!cliText.contains("CREATE TABLE a.t"),
      s"-n b on the -f path must exclude schema a: ${cliText.take(400)}")
    java.nio.file.Files.delete(cliScript)
  }

  test("pg-restore --no-tablespaces / --no-table-access-method / --verbose") {
    live()
    // a REAL custom tablespace: location dir owned by the server's OS user
    val tsDir = s"$base/ts1"
    new java.io.File(tsDir).mkdirs()
    sh(s"chown -R postgres $tsDir && chmod 700 $tsDir")
    psql("postgres", s"CREATE TABLESPACE graftts LOCATION '$tsDir'")
    psql("postgres", "CREATE DATABASE tssrc")
    psql("tssrc", "CREATE TABLE tst(k int) TABLESPACE graftts")
    psql("tssrc", "INSERT INTO tst VALUES (1),(2),(3)")
    val arch = s"$base/ts_arch"
    val (rcD, outD) = asPg(s"PGHOST=$sockDir PGUSER=graft " +
      s"/usr/bin/pg_dump -Fd -d tssrc -f $arch")
    assert(rcD == 0, outD)
    sh(s"chmod -R a+rX $arch")
    // the dump's tablespace is GONE on the target side — the operational
    // case --no-tablespaces exists for
    psql("tssrc", "DROP TABLE tst")
    psql("postgres", "DROP TABLESPACE graftts")

    psql("postgres", "CREATE DATABASE tstgt")
    val conn = s"host=$sockDir dbname=tstgt user=graft"
    // without the flag: the synthesized SET default_tablespace names the
    // missing tablespace and the CREATE fails
    val e = intercept[IllegalArgumentException] {
      graft.sources.PgRestore.restore(arch, Seq("-d", conn), exitOnError = true)
    }
    assert(e.getMessage.contains("graftts"), e.getMessage)
    // with it: everything lands in the target's default tablespace
    graft.sources.PgRestore.restore(arch, Seq("-d", conn),
      Options(noTablespaces = true),
      exitOnError = true)
    assert(psql("tstgt", "SELECT count(*) FROM tst")._2.trim == "3")

    // script form: SETs synthesized from the TOC fields, change-tracked;
    // the flags suppress them (pg_dump 15 stamps tableam on tables)
    def script(noTs: Boolean, noAm: Boolean): String = {
      val bos = new java.io.ByteArrayOutputStream()
      graft.sources.PgRestore.toScript(arch, bos,
        Options(noTablespaces = noTs, noTableAccessMethod = noAm))
      bos.toString("UTF-8")
    }
    val full = script(noTs = false, noAm = false)
    assert(full.contains("SET default_tablespace = graftts;"), full.take(800))
    assert(full.contains("SET default_table_access_method = "), full.take(800))
    val stripped = script(noTs = true, noAm = true)
    assert(!stripped.contains("default_tablespace"),
      "--no-tablespaces must strip the SET")
    assert(!stripped.contains("default_table_access_method"),
      "--no-table-access-method must strip the SET")

    // --verbose narrates per-entry progress on stderr
    psql("postgres", "CREATE DATABASE tstgt2")
    val errBuf = new java.io.ByteArrayOutputStream()
    val oldErr = System.err
    System.setErr(new java.io.PrintStream(errBuf, true, "UTF-8"))
    try graft.sources.PgRestore.restore(arch,
      Seq("-d", s"host=$sockDir dbname=tstgt2 user=graft"),
      Options(noTablespaces = true),
      exitOnError = true, verbose = true)
    finally System.setErr(oldErr)
    val narr = errBuf.toString("UTF-8")
    assert(narr.contains("creating TABLE"), narr.take(400))
    assert(narr.contains("processing data for table"), narr.take(400))
  }

  test("differential: selection surface vs native pg_restore -l over a flag matrix") {
    live()
    // rich source: two schemas, serial PK, explicit index, view, function,
    // trigger, comments, a GRANT (ACL entry), a publication
    psql("postgres", "CREATE DATABASE rich")
    psql("rich", "CREATE SCHEMA a"); psql("rich", "CREATE SCHEMA b")
    psql("rich", "CREATE TABLE a.t1(k serial PRIMARY KEY, v text)")
    psql("rich", "CREATE TABLE a.t2(k int, v text)")
    psql("rich", "CREATE INDEX idx_t2 ON a.t2(k)")
    psql("rich", "INSERT INTO a.t1(v) VALUES ('x'),('y')")
    psql("rich", "INSERT INTO a.t2 VALUES (1,'a')")
    psql("rich", "CREATE VIEW b.v1 AS SELECT * FROM a.t2")
    psql("rich",
      "CREATE FUNCTION b.f1(i integer) RETURNS integer AS 'SELECT i + 1' LANGUAGE sql")
    psql("rich",
      "CREATE FUNCTION a.bump() RETURNS trigger AS 'BEGIN NEW.v := NEW.v; RETURN NEW; END;' LANGUAGE plpgsql")
    psql("rich",
      "CREATE TRIGGER tg1 BEFORE INSERT ON a.t1 FOR EACH ROW EXECUTE FUNCTION a.bump()")
    psql("rich", "COMMENT ON TABLE a.t1 IS 'a table'")
    psql("rich", "COMMENT ON COLUMN a.t1.v IS 'a column'")
    psql("rich", "GRANT SELECT ON a.t2 TO PUBLIC")
    psql("rich", "CREATE PUBLICATION richpub FOR TABLE a.t1")
    // SECTION_NONE entries that pg_dump places after post-data ones:
    // each must slide into post-data, behind the object it annotates
    psql("rich", "COMMENT ON INDEX a.idx_t2 IS 'an index'")
    psql("rich", "COMMENT ON CONSTRAINT t1_pkey ON a.t1 IS 'a key'")
    val arch = s"$base/rich_arch"
    val (rcD, outD) = asPg(s"PGHOST=$sockDir PGUSER=graft " +
      s"/usr/bin/pg_dump -Fd -d rich -f $arch")
    assert(rcD == 0, outD)
    sh(s"chmod -R a+rX $arch")

    import graft.sources.PgRestore
    def nativeIds(flags: String): Seq[Int] = {
      val (rc, out) = sh(s"/usr/bin/pg_restore -l $flags $arch")
      assert(rc == 0, s"pg_restore -l $flags: $out")
      out.linesIterator.flatMap(l =>
        "^(\\d+);".r.findFirstMatchIn(l.trim).map(_.group(1).toInt)).toSeq
    }
    val combos: Seq[(String, () => Seq[Int])] = Seq(
      "" -> (() => PgRestore.listSelectedIds(arch)),
      "-a" -> (() => PgRestore.listSelectedIds(arch, Options(dataOnly = true))),
      "-s" -> (() => PgRestore.listSelectedIds(arch, Options(schemaOnly = true))),
      "-t t1" -> (() => PgRestore.listSelectedIds(arch, Options(tables = Seq("t1")))),
      "-t t1 -t t2" -> (() =>
        PgRestore.listSelectedIds(arch, Options(tables = Seq("t1", "t2")))),
      "-t nope" -> (() => PgRestore.listSelectedIds(arch, Options(tables = Seq("nope")))),
      "-n a" -> (() => PgRestore.listSelectedIds(arch, Options(schemas = Seq("a")))),
      "-n b" -> (() => PgRestore.listSelectedIds(arch, Options(schemas = Seq("b")))),
      "-N a" -> (() =>
        PgRestore.listSelectedIds(arch, Options(excludeSchemas = Seq("a")))),
      "-n a -N b" -> (() => PgRestore.listSelectedIds(arch,
        Options(schemas = Seq("a"), excludeSchemas = Seq("b")))),
      "-I idx_t2" -> (() =>
        PgRestore.listSelectedIds(arch, Options(indexes = Seq("idx_t2")))),
      "-P 'f1(integer)'" -> (() =>
        PgRestore.listSelectedIds(arch, Options(functions = Seq("f1(integer)")))),
      "-T 't1 tg1'" -> (() =>
        PgRestore.listSelectedIds(arch, Options(triggers = Seq("t1 tg1")))),
      "--section=pre-data" -> (() =>
        PgRestore.listSelectedIds(arch, Options(section = Some("pre-data")))),
      "--section=data" -> (() =>
        PgRestore.listSelectedIds(arch, Options(section = Some("data")))),
      "--section=post-data" -> (() =>
        PgRestore.listSelectedIds(arch, Options(section = Some("post-data")))),
      "-a -t t1" -> (() =>
        PgRestore.listSelectedIds(arch, Options(dataOnly = true, tables = Seq("t1")))),
      "-s -n a" -> (() =>
        PgRestore.listSelectedIds(arch, Options(schemaOnly = true, schemas = Seq("a")))),
      "--no-comments" -> (() =>
        PgRestore.listSelectedIds(arch, Options(noComments = true))),
      "-t t1 --section=data" -> (() => PgRestore.listSelectedIds(arch,
        Options(tables = Seq("t1"), section = Some("data")))),
      "-n a -t t1" -> (() => PgRestore.listSelectedIds(arch,
        Options(schemas = Seq("a"), tables = Seq("t1")))),
      "-t v1" -> (() => PgRestore.listSelectedIds(arch, Options(tables = Seq("v1")))),
      "-t t1_k_seq" -> (() =>
        PgRestore.listSelectedIds(arch, Options(tables = Seq("t1_k_seq")))),
      "-C" -> (() => PgRestore.listSelectedIds(arch, Options(create = true))),
      "-C -a" -> (() =>
        PgRestore.listSelectedIds(arch, Options(create = true, dataOnly = true))),
      "-t t2" -> (() => PgRestore.listSelectedIds(arch, Options(tables = Seq("t2")))),
      "-t t2 --no-privileges" -> (() => PgRestore.listSelectedIds(arch,
        Options(tables = Seq("t2"), noPrivileges = true))),
      "--no-privileges" -> (() =>
        PgRestore.listSelectedIds(arch, Options(noPrivileges = true))),
      "--no-publications" -> (() =>
        PgRestore.listSelectedIds(arch, Options(noPublications = true))),
      "-n a --no-comments -a" -> (() => PgRestore.listSelectedIds(arch,
        Options(schemas = Seq("a"), noComments = true, dataOnly = true))))
    val failures = combos.flatMap { case (flags, ours) =>
      val n = nativeIds(flags)
      val o = ours()
      if (n == o) None else Some(s"[$flags] native=$n ours=$o")
    }
    assert(failures.isEmpty,
      s"${failures.size}/${combos.size} combos diverge:\n${failures.mkString("\n")}")

    // strict-names error parity: same miss, same loud shape
    val (rcN, outN) = sh(s"/usr/bin/pg_restore -l -t nope --strict-names $arch")
    assert(rcN != 0 && outN.contains("\"nope\" not found"), outN)
    val e = intercept[IllegalArgumentException] {
      PgRestore.listSelectedIds(arch, Options(tables = Seq("nope"), strictNames = true))
    }
    assert(e.getMessage.contains("\"nope\" not found"), e.getMessage)

    // the same archive restored into empty databases three ways — direct
    // with -e, the -f script through psql ON_ERROR_STOP, and -1 — lands
    // the schema native pg_restore -d lands, the post-data COMMENTs
    // included (pg_dump 15.14+ brackets its output with a random
    // \restrict key, so those two lines are dropped before comparing)
    def schemaOf(db: String): String = {
      val (rc, out) = sh(s"PGHOST=$sockDir PGUSER=graft /usr/bin/pg_dump --schema-only -d $db")
      assert(rc == 0, out)
      out.linesIterator.filterNot(l => l.startsWith("\\restrict") ||
        l.startsWith("\\unrestrict")).mkString("\n")
    }
    def conn(db: String): Seq[String] = Seq("-d", s"host=$sockDir dbname=$db user=graft")
    for (db <- Seq("rich_native", "rich_direct", "rich_script", "rich_1tx"))
      psql("postgres", s"CREATE DATABASE $db")
    val (rcR, outR) = sh(s"PGHOST=$sockDir PGUSER=graft /usr/bin/pg_restore -d rich_native $arch")
    assert(rcR == 0, outR)
    PgRestore.restore(arch, conn("rich_direct"), exitOnError = true)
    val script = s"$base/rich.sql"
    val os = java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(script))
    try PgRestore.toScript(arch, os) finally os.close()
    val (rcS, outS) = sh(s"PGHOST=$sockDir PGUSER=graft /usr/bin/psql -X -q " +
      s"-v ON_ERROR_STOP=1 -d rich_script -f $script")
    assert(rcS == 0, outS)
    PgRestore.restore(arch, conn("rich_1tx"), Options(singleTransaction = true))
    val want = schemaOf("rich_native")
    assert(want.contains("COMMENT ON CONSTRAINT t1_pkey ON a.t1") &&
      want.contains("COMMENT ON INDEX a.idx_t2"), want)
    for (db <- Seq("rich_direct", "rich_script", "rich_1tx"))
      assert(schemaOf(db) == want, s"$db: schema differs from native pg_restore -d")
  }

  test("pg-restore -f / -1: a missing payload fails as on the direct path") {
    live()
    psql("postgres", "CREATE DATABASE mp_src")
    psql("mp_src", "CREATE TABLE t(k int PRIMARY KEY, v text)")
    psql("mp_src", "INSERT INTO t SELECT g, 'v' || g FROM generate_series(1, 20) g")
    val arch = s"$base/mp_arch"
    val (rcD, outD) = asPg(s"PGHOST=$sockDir PGUSER=graft " +
      s"/usr/bin/pg_dump -Fd -d mp_src -f $arch")
    assert(rcD == 0, outD)
    sh(s"chmod -R a+rX $arch")
    val data = PgToc.readFile(s"$arch/toc.dat").entries
      .find(_.desc.contains("TABLE DATA")).get
    assert(graft.sources.Compress.probeFile(arch, data.fileName.get).get.delete())
    import graft.sources.PgRestore
    def missing(restore: => Any): Unit = {
      val e = intercept[IllegalArgumentException](restore)
      assert(e.getMessage.contains(s"missing payload ${data.fileName.get}"), e.getMessage)
    }
    psql("postgres", "CREATE DATABASE mp_tgt")
    val conn = Seq("-d", s"host=$sockDir dbname=mp_tgt user=graft")
    // -1 must not commit an empty table and report success
    missing(PgRestore.restore(arch, conn, Options(singleTransaction = true)))
    assert(psql("mp_tgt", "SELECT to_regclass('public.t') IS NULL")._2.trim == "t",
      "a failed single-transaction restore must apply nothing")
    missing(PgRestore.toScript(arch, new java.io.ByteArrayOutputStream()))
    missing(PgRestore.restore(arch, conn, exitOnError = true))
    // native pg_restore -1 refuses the same archive
    psql("postgres", "CREATE DATABASE mp_native")
    val (rcN, outN) = sh(s"PGHOST=$sockDir PGUSER=graft /usr/bin/pg_restore -1 -d mp_native $arch")
    assert(rcN != 0 && outN.contains("could not open input file"), outN)
    // a TRUNCATED payload fails its COPY in continue mode and commits no
    // prefix of the table (the feed breaks mid-COPY, so psql is killed)
    val cut = s"$base/mp_cut_arch"
    val (rcC, outC) = asPg(s"PGHOST=$sockDir PGUSER=graft " +
      s"/usr/bin/pg_dump -Fd -d mp_src -f $cut")
    assert(rcC == 0, outC)
    sh(s"chmod -R a+rwX $cut")
    val gz = graft.sources.Compress.probeFile(cut, data.fileName.get).get.toPath
    val bytes = java.nio.file.Files.readAllBytes(gz)
    java.nio.file.Files.write(gz, bytes.take(bytes.length / 2))
    psql("postgres", "CREATE DATABASE mp_cut")
    val cutLines = PgRestore.restore(cut,
      Seq("-d", s"host=$sockDir dbname=mp_cut user=graft"), exitOnError = false)
    assert(cutLines.last == "errors ignored on restore: 1" &&
      !cutLines.contains("TABLE DATA t"), cutLines)
    assert(psql("mp_cut", "SELECT count(*) FROM t")._2.trim == "0")
    // an uncompressed payload cut at a row boundary lacks its `\.` line:
    // the COPY fails instead of waiting for rows that never come
    val raw = s"$base/mp_raw_arch"
    val (rcR, outR) = asPg(s"PGHOST=$sockDir PGUSER=graft " +
      s"/usr/bin/pg_dump -Fd --compress=0 -d mp_src -f $raw")
    assert(rcR == 0, outR)
    sh(s"chmod -R a+rwX $raw")
    val dat = graft.sources.Compress.probeFile(raw, data.fileName.get).get.toPath
    val rows = java.nio.file.Files.readAllBytes(dat)
    java.nio.file.Files.write(dat, rows.take(rows.indexOf('\n'.toByte, rows.length / 2) + 1))
    psql("postgres", "CREATE DATABASE mp_raw")
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val rawLines = Await.result(Future(PgRestore.restore(raw,
      Seq("-d", s"host=$sockDir dbname=mp_raw user=graft"), exitOnError = false))(
      ExecutionContext.global), 60.seconds)
    assert(rawLines.last == "errors ignored on restore: 1" &&
      !rawLines.contains("TABLE DATA t"), rawLines)
    assert(psql("mp_raw", "SELECT count(*) FROM t")._2.trim == "0")
  }

  test("restore wave pool: poisoned-wave semantics, exact error count, idle watchdog") {
    live()
    import spark.implicits._
    // three tables; wchild's TABLE DATA is hand-stamped to depend on
    // wparent's, putting it in a SECOND wave behind {wparent, waux}
    val parent = (1L to 20L).map(i => (i, s"p$i")).toDF("k", "v")
    val child = (1L to 10L).map(i => (i, s"c$i")).toDF("k", "v")
    val aux = (1L to 5L).map(i => (i, s"a$i")).toDF("k", "v")
    val arch = s"$base/wave_arch"
    PgToc.dumpArchive(Seq("wparent" -> parent, "wchild" -> child, "waux" -> aux),
      arch, "wavetgt", includeSchema = true)
    val toc0 = PgToc.readFile(s"$arch/toc.dat")
    val pid = toc0.entries.find(e =>
      e.desc.contains("TABLE DATA") && e.tag.contains("wparent")).get.dumpId
    PgToc.writeFile(toc0.copy(entries = toc0.entries.map { e =>
      if (e.desc.contains("TABLE DATA") && e.tag.contains("wchild"))
        e.copy(dependencies = e.dependencies :+ pid)
      else e
    }), s"$arch/toc.dat")

    psql("postgres", "CREATE DATABASE wavetgt")
    val conn = s"host=$sockDir dbname=wavetgt user=graft"
    graft.sources.PgRestore.restore(arch, Seq("-d", conn),
      Options(schemaOnly = true), exitOnError = true)
    // poison the PARENT: a PK + a pre-seeded duplicate make its COPY fail
    psql("wavetgt", "DROP TABLE wparent")
    psql("wavetgt", "CREATE TABLE wparent(k bigint PRIMARY KEY, v text)")
    psql("wavetgt", "INSERT INTO wparent VALUES (1, 'dup')")

    // -e: exactly one error surfaces, and the wave BEHIND the failing one
    // never starts
    val e1 = intercept[IllegalArgumentException] {
      graft.sources.PgRestore.restore(arch, Seq("-d", conn),
        Options(dataOnly = true), exitOnError = true, jobs = 4)
    }
    assert(e1.getMessage.contains("COPY wparent failed"), e1.getMessage)
    assert(psql("wavetgt", "SELECT count(*) FROM wchild")._2.trim == "0",
      "a wave after the failing one must not start under -e")

    // continue mode: every healthy table lands (including the DEPENDENT
    // wave — native loads it; the parent's failure is not contagious) and
    // the closing count is EXACT
    psql("wavetgt", "DELETE FROM waux"); psql("wavetgt", "DELETE FROM wchild")
    val lines = graft.sources.PgRestore.restore(arch, Seq("-d", conn),
      Options(dataOnly = true), exitOnError = false, jobs = 4)
    assert(lines.contains("TABLE DATA wchild") && lines.contains("TABLE DATA waux"), lines)
    assert(!lines.contains("TABLE DATA wparent"), lines)
    assert(lines.last == "errors ignored on restore: 1", lines)
    assert(psql("wavetgt", "SELECT count(*) FROM wchild")._2.trim == "10")
    assert(psql("wavetgt", "SELECT count(*) FROM waux")._2.trim == "5")

    // hang guard: hold an ACCESS EXCLUSIVE lock so the COPY hangs
    // silently; --watchdog's server-side lock_timeout cancels it at the
    // deadline and the failure is LOUD (the byte-idle kill has already
    // stood down — this 5-row payload feeds to EOF into the pipe buffer
    // instantly, which is exactly why lock_timeout carries this case)
    psql("wavetgt", "DELETE FROM waux")
    val locker = new ProcessBuilder("/usr/bin/psql", "-X", "-q", "-d",
      s"host=$sockDir dbname=wavetgt user=graft").start()
    locker.getOutputStream.write(
      "BEGIN;\nLOCK TABLE waux IN ACCESS EXCLUSIVE MODE;\n".getBytes("UTF-8"))
    locker.getOutputStream.flush()
    val granted = (1 to 50).exists { _ =>
      val (_, o) = psql("wavetgt",
        "SELECT count(*) FROM pg_locks l JOIN pg_class c ON c.oid = l.relation " +
          "WHERE c.relname = 'waux' AND l.mode = 'AccessExclusiveLock' AND l.granted")
      if (o.trim == "1") true else { Thread.sleep(100); false }
    }
    assert(granted, "locker session failed to take the lock")
    try {
      val t0 = System.nanoTime()
      val e2 = intercept[IllegalArgumentException] {
        graft.sources.PgRestore.restore(arch, Seq("-d", conn),
          Options(dataOnly = true, tables = Seq("waux")), exitOnError = true,
          watchdogSec = 2)
      }
      assert(e2.getMessage.contains("lock timeout"), e2.getMessage)
      val waited = (System.nanoTime() - t0) / 1e9
      assert(waited < 30, s"hang guard must fire near its 2s timeout, waited $waited s")
    } finally locker.destroyForcibly()

    // the false-kill regression (ADVICE r14): a statement that is SILENT
    // but WORKING for longer than the watchdog window must survive —
    // byte-silence is not a hang for DDL. A 4s pg_sleep inside a
    // pre-data defn under --watchdog=2 restores cleanly.
    psql("postgres", "CREATE DATABASE slowddl")
    val slowConn = s"host=$sockDir dbname=slowddl user=graft"
    val slowArch = s"$base/slow_arch"
    val one = Seq((1L, "x")).toDF("k", "v")
    PgToc.dumpArchive(Seq("slowt" -> one), slowArch, "slowddl",
      includeSchema = true)
    val tocS = PgToc.readFile(s"$slowArch/toc.dat")
    val maxId = tocS.entries.map(_.dumpId).max
    val slowEntry = tocS.entries.find(e =>
      e.desc.contains("TABLE") && e.tag.contains("slowt")).get.copy(
      dumpId = maxId + 1, desc = Some("FUNCTION"), tag = Some("slow_fn()"),
      fileName = None, copyStmt = None, dropStmt = None,
      defn = Some("DO $$ BEGIN PERFORM pg_sleep(4); END $$;"))
    PgToc.writeFile(tocS.copy(entries = tocS.entries :+ slowEntry),
      s"$slowArch/toc.dat")
    val slowLines = graft.sources.PgRestore.restore(slowArch,
      Seq("-d", slowConn), exitOnError = true, watchdogSec = 2)
    assert(slowLines.exists(_.contains("slow_fn")), slowLines)
    assert(psql("slowddl", "SELECT count(*) FROM slowt")._2.trim == "1")
  }

  test("pg-restore replays a 3-table FK chain through one psql session") {
    live()
    import spark.implicits._
    val root = (1L to 6L).map(i => (i, s"r$i")).toDF("k", "v")
    val mid = (1L to 12L).map(i => (i, 1 + i % 6)).toDF("k", "root_k")
    val leaf = (1L to 24L).map(i => (i, 1 + i % 12)).toDF("k", "mid_k")
    val arch = s"$base/chain_arch"
    PgToc.dumpArchive(Seq("ch_root" -> root, "ch_mid" -> mid, "ch_leaf" -> leaf),
      arch, "chaintgt", includeSchema = true,
      deps = Map("ch_mid" -> Seq("ch_root"), "ch_leaf" -> Seq("ch_mid")))
    psql("postgres", "CREATE DATABASE chaintgt")
    // sessions the target has seen, read from another database once the
    // restore's backends have exited and flushed their counts: a backend
    // counts its session at connect and reports it when it flushes, at
    // exit for a short one, so the count is read until it holds still
    def sessions(): Long = {
      def read() = psql("postgres", "SELECT sessions FROM pg_stat_database " +
        "WHERE datname = 'chaintgt'")._2.trim.toLong
      Iterator.iterate((-1L, read())) { case (_, cur) => Thread.sleep(300); (cur, read()) }
        .take(20).find { case (last, cur) => last == cur }.get._2
    }
    val before = sessions()
    val lines = graft.sources.PgRestore.restore(arch,
      Seq("-d", s"host=$sockDir dbname=chaintgt user=graft"), jobs = 4)
    // three CREATE TABLEs, three ALTER OWNERs and three one-table waves:
    // every step rides session 0 (read before this spec's own check
    // below connects to the target)
    assert(sessions() - before == 1, "the restore must open exactly one session")
    assert(Seq("ch_root", "ch_mid", "ch_leaf").forall(t =>
      lines.contains(s"TABLE $t") && lines.contains(s"TABLE DATA $t")), lines)
    assert(psql("chaintgt", "SELECT (SELECT count(*) FROM ch_root) || ',' || " +
      "(SELECT count(*) FROM ch_mid) || ',' || (SELECT count(*) FROM ch_leaf)")
      ._2.trim == "6,12,24")
  }

  test("killed-mid-stream INSERT replay re-runs to fingerprint parity with ON CONFLICT DO NOTHING") {
    live()
    // The reference's abort-and-retry story for INSERT-format restores
    // (`table_insert_format.go:139-145`): a restore that dies mid-flight
    // leaves a committed prefix (autocommit per statement); the operator
    // re-runs the SAME restore with --on-conflict-do-nothing and it
    // converges — duplicates skip server-side, missing rows land. Here
    // the first run genuinely DIES: psql replaying our generated INSERT
    // text is SIGKILLed mid-stream.
    psql("postgres", "CREATE DATABASE partret")
    psql("partret", "CREATE TABLE pr(k int PRIMARY KEY, v text)")
    psql("partret", "CREATE TABLE pr_src(k int PRIMARY KEY, v text)")
    psql("partret",
      "INSERT INTO pr_src SELECT g, 'v' || g FROM generate_series(1, 200) g")
    val n = 200
    def replayScript(onConflict: Boolean, throttle: Boolean): java.nio.file.Path = {
      // the EXACT statement text RestoreSink prepares, one EXECUTE per
      // row (the JDBC wire path around it is FaultInjectionSpec/Derby)
      var i = 0
      val pgStmt = graft.pipeline.RestoreSink.insertStatement(
        "pr", Seq("k", "v"), onConflictDoNothing = onConflict).flatMap {
        case '?' => i += 1; s"$$$i"
        case c => c.toString
      }
      val sb = new StringBuilder(s"PREPARE ins(int, text) AS $pgStmt;\n")
      (1 to n).foreach { k =>
        sb.append(s"EXECUTE ins($k, 'v$k');\n")
        // widen the kill window: ~6ms per row => ~1.2s full replay
        if (throttle) sb.append("SELECT pg_sleep(0.006);\n")
      }
      val f = java.nio.file.Files.createTempFile("partret", ".sql")
      java.nio.file.Files.writeString(f, sb.toString); f
    }
    // run 1: no ON CONFLICT (the pre-crash restore), killed mid-stream
    val f1 = replayScript(onConflict = false, throttle = true)
    val p = new ProcessBuilder("/bin/sh", "-c",
      s"PGHOST=$sockDir PGUSER=graft /usr/bin/psql -X -q -o /dev/null -d partret -f $f1")
      .redirectErrorStream(true).start()
    Thread.sleep(600) // mid-stream (~half the rows at the throttle rate)
    p.destroyForcibly(); p.waitFor()
    val midCount = psql("partret", "SELECT count(*) FROM pr")._2.trim.toLong
    assert(midCount < n, s"kill landed after completion ($midCount rows) — raise the throttle")
    info(s"killed after $midCount/$n rows committed")
    // run 2: the recovery re-run over ALL rows with ON CONFLICT DO
    // NOTHING — already-committed rows skip server-side with no error
    val f2 = replayScript(onConflict = true, throttle = false)
    val (rc2, out2) = sh(s"PGHOST=$sockDir PGUSER=graft /usr/bin/psql -X -q -o /dev/null " +
      s"-v ON_ERROR_STOP=1 -d partret -f $f2")
    assert(rc2 == 0, s"recovery re-run failed: ${out2.takeRight(300)}")
    // convergence: fingerprint-identical to the source, no duplicates
    val (nGot, fpGot) = graft.sources.PgSource.tableFingerprint(
      Seq("-d", s"host=$sockDir user=graft dbname=partret"), "pr")
    val (nWant, _) = graft.sources.PgSource.tableFingerprint(
      Seq("-d", s"host=$sockDir user=graft dbname=partret"), "pr_src")
    assert(nGot == n.toLong && nWant == n.toLong)
    val sameRows = psql("partret",
      "SELECT count(*) FROM (SELECT k, v FROM pr EXCEPT SELECT k, v FROM pr_src " +
        "UNION ALL SELECT k, v FROM pr_src EXCEPT SELECT k, v FROM pr) d")._2.trim
    assert(sameRows == "0", s"content diverged after recovery: $sameRows rows differ")
    // and WITHOUT the clause the naive re-run aborts on the first
    // duplicate under ON_ERROR_STOP (why the flag exists)
    val f3 = replayScript(onConflict = false, throttle = false)
    val (rc3, out3) = sh(s"PGHOST=$sockDir PGUSER=graft /usr/bin/psql -X -q -o /dev/null " +
      s"-v ON_ERROR_STOP=1 -d partret -f $f3")
    assert(rc3 != 0 && out3.contains("duplicate key"), out3.takeRight(200))
    java.nio.file.Files.delete(f1); java.nio.file.Files.delete(f2)
    java.nio.file.Files.delete(f3)
  }

  test("pg-dump --schema-only / --data-only: native -s/-a section shapes") {
    live()
    psql("postgres", "CREATE DATABASE secsrc")
    assert(psql("secsrc",
      "CREATE TABLE sec_t (id bigint PRIMARY KEY, v text, n serial)")._1 == 0)
    assert(psql("secsrc",
      "INSERT INTO sec_t (id, v) SELECT g, 'v' || g FROM generate_series(1, 50) g")._1 == 0)
    val conninfo = s"host=$sockDir dbname=secsrc user=graft"
    // which shape carries sequence positions is native pg_dump's call
    def seqSets(toc: PgToc.Toc) =
      toc.entries.filter(_.desc.contains("SEQUENCE SET")).flatMap(_.tag)
    def nativeSeqSets(flag: String) = {
      val dir = s"$base/sec_native$flag"
      val (rc, out) = sh(s"PGHOST=$sockDir PGUSER=graft /usr/bin/pg_dump -Fd $flag -d secsrc -f $dir")
      assert(rc == 0, out)
      seqSets(PgToc.readFile(s"$dir/toc.dat"))
    }

    // --schema-only: NO data moves (no TABLE DATA entries, no payload
    // files); restore stands up the empty table WITH its PK
    val archS = s"$base/sec_schema"
    val tocS = graft.Lifecycle.pgDump(spark,
      """{"tables":[{"table":"sec_t"}]}""", conninfo, archS,
      sections = "schema-only")
    assert(!tocS.entries.exists(_.desc.contains("TABLE DATA")))
    // native -s moves no sequence positions either (SEQUENCE SET is data)
    assert(seqSets(tocS) == nativeSeqSets("-s") && seqSets(tocS).isEmpty)
    assert(!new java.io.File(archS).listFiles()
      .exists(f => f.getName.matches("\\d+\\.dat.*")), "no payloads in -s")
    psql("postgres", "CREATE DATABASE sectgt1")
    graft.sources.PgRestore.restore(archS,
      Seq("-d", s"host=$sockDir dbname=sectgt1 user=graft"))
    assert(psql("sectgt1", "SELECT count(*) FROM sec_t")._2.trim == "0")
    assert(psql("sectgt1",
      "SELECT count(*) FROM pg_constraint WHERE conname = 'sec_t_pkey'")._2.trim == "1",
      "schema-only restore must carry the PK")

    // --data-only: TABLE DATA only, no DDL; replays into the existing
    // table (pg_restore -a shape)
    val archD = s"$base/sec_data"
    val tocD = graft.Lifecycle.pgDump(spark,
      """{"tables":[{"table":"sec_t"}]}""", conninfo, archD,
      sections = "data-only")
    assert(tocD.entries.exists(_.desc.contains("TABLE DATA")))
    assert(!tocD.entries.exists(e => e.desc.contains("TABLE") &&
      !e.desc.contains("TABLE DATA")), "no DDL entries in -a")
    // native pg_dump -a carries the serial's position as SEQUENCE SET
    assert(seqSets(tocD) == nativeSeqSets("-a") && seqSets(tocD) == Seq("sec_t_n_seq"))
    graft.sources.PgRestore.restore(archD,
      Seq("-d", s"host=$sockDir dbname=sectgt1 user=graft"), Options(dataOnly = true))
    assert(psql("sectgt1", "SELECT count(*), max(id) FROM sec_t")._2.trim == "50|50")
    // the -a restore resumes the serial at the source's position
    assert(psql("sectgt1", "SELECT nextval('sec_t_n_seq')")._2.trim == "51")
  }

  test("pg-dump refuses a transform on a missing column before writing any payload") {
    live()
    psql("postgres", "CREATE DATABASE typosrc")
    assert(psql("typosrc",
      "CREATE TABLE typo_t (id bigint, email text); " +
        "INSERT INTO typo_t VALUES (1, 'ada@x.io')")._1 == 0)
    val out = s"$base/typo_arch"
    val config = """{ "tables": [ { "table": "typo_t", "transforms": [
      {"column": "emial", "name": "Masking", "params": {"type": "name"}} ] } ] }"""
    // Planner.plan skips a transform on a missing column, so without
    // the gate `email` would land in the archive unmasked
    val ex = intercept[IllegalArgumentException](graft.Lifecycle.pgDump(spark,
      config, s"host=$sockDir dbname=typosrc user=graft", out))
    assert(ex.getMessage.contains("validation errors"), ex.getMessage)
    val files = Option(new java.io.File(out).listFiles()).toSeq.flatten.map(_.getName)
    assert(!files.exists(_.matches("\\d+\\.dat.*")) && !files.contains("toc.dat"),
      s"payload written before the gate: $files")
  }

  test("generated archive: a mixed-case sequence name survives setval") {
    live()
    import spark.implicits._
    val arch = s"$base/mixseq_arch"
    PgToc.dumpArchive(Seq("mixt" -> Seq((1L, "a")).toDF("id", "v")), arch,
      "mixseq_tgt", sequences = Map("MixSeq" -> 9L))
    psql("postgres", "CREATE DATABASE mixseq_tgt")
    assert(psql("mixseq_tgt",
      "CREATE TABLE mixt (id bigint, v text); CREATE SEQUENCE \\\"MixSeq\\\"")._1 == 0)
    graft.sources.PgRestore.restore(arch,
      Seq("-d", s"host=$sockDir dbname=mixseq_tgt user=graft"),
      Options(dataOnly = true), exitOnError = true)
    assert(psql("mixseq_tgt", "SELECT last_value FROM \\\"MixSeq\\\"")._2.trim == "9")
  }

  test("restore scripts: per-section before/after hooks run in order; failures abort loudly") {
    live()
    import spark.implicits._
    val arch = s"$base/scripts_arch"
    PgToc.dumpArchive(Seq("st" -> Seq((1L, "a"), (2L, "b")).toDF("id", "v")),
      arch, "sc_tgt", includeSchema = true)
    psql("postgres", "CREATE DATABASE sc_tgt")
    val touched = s"$base/script_touched"
    val qf = java.nio.file.Files.createTempFile("script", ".sql")
    java.nio.file.Files.writeString(qf,
      "INSERT INTO script_log VALUES ('data-before', (SELECT count(*) FROM script_log));")
    val scripts = graft.sources.PgRestore.scriptsFromJson(
      s"""{"restore": {"scripts": {
        "pre-data": [
          {"name": "mk-log", "when": "before",
           "query": "CREATE TABLE script_log(step text, ord bigint)"},
          {"name": "pre-after", "when": "after",
           "query": "INSERT INTO script_log VALUES ('pre-after', 0)"}],
        "data": [
          {"name": "from-file", "when": "before", "query_file": "$qf"},
          {"name": "data-after", "when": "after",
           "query": "INSERT INTO script_log VALUES ('data-after', (SELECT count(*) FROM script_log))"}],
        "post-data": [
          {"name": "touch", "when": "after", "command": ["touch", "$touched"]}]
      }}}""")
    val lines = graft.sources.PgRestore.restore(arch,
      Seq("-d", s"host=$sockDir dbname=sc_tgt user=graft"), scripts = scripts)
    assert(lines.count(_.startsWith("script ")) == 5, lines.mkString("; "))
    // the archive's own data landed between the hooks
    assert(psql("sc_tgt", "SELECT count(*) FROM st")._2.trim == "2")
    // section order preserved: pre-after(0) -> data-before(1) -> data-after(2)
    assert(psql("sc_tgt",
      "SELECT step FROM script_log ORDER BY ord")._2.trim.split("\n").toSeq
      == Seq("pre-after", "data-before", "data-after"))
    assert(new java.io.File(touched).exists(), "command script must have run")
    // a failing script aborts the restore loudly, reference message shape
    psql("postgres", "CREATE DATABASE sc_tgt2")
    val bad = graft.sources.PgRestore.scriptsFromJson(
      """{"scripts": {"pre-data": [
           {"name": "boom", "when": "before", "query": "SELECT 1/0"}]}}""")
    val ex = intercept[IllegalArgumentException](graft.sources.PgRestore.restore(
      arch, Seq("-d", s"host=$sockDir dbname=sc_tgt2 user=graft"), scripts = bad))
    assert(ex.getMessage.contains("cannot apply script \"boom\""))
    // unknown section / empty script reject at parse time
    intercept[IllegalArgumentException](graft.sources.PgRestore.scriptsFromJson(
      """{"scripts": {"mid-data": []}}"""))
    intercept[IllegalArgumentException](graft.sources.PgRestore.scriptsFromJson(
      """{"scripts": {"data": [{"name": "empty", "when": "before"}]}}"""))
  }

  test("loadLargeObjects: real pg_dump LO payloads land as (oid, bytes)") {
    live()
    psql("postgres", "CREATE DATABASE losrc")
    assert(psql("losrc", "SELECT lo_from_bytea(0, '\\\\xdeadbeef'::bytea)")._1 == 0)
    assert(psql("losrc", "SELECT lo_from_bytea(0, '\\\\x0102'::bytea)")._1 == 0)
    // default pg_dump compresses blob payloads too (.dat.gz path)
    val dump = s"$base/lodump"
    val (rc, out) = sh(s"PGHOST=$sockDir PGUSER=graft /usr/bin/pg_dump -Fd -d losrc -f $dump")
    assert(rc == 0, out)
    val lo = graft.sources.PgArchive.loadLargeObjects(spark, dump)
      .orderBy("lo_oid").collect()
    assert(lo.length == 2)
    val payloads = lo.map(_.getAs[Array[Byte]]("data").toSeq).toSeq
    assert(payloads.contains(Seq(0xDE.toByte, 0xAD.toByte, 0xBE.toByte, 0xEF.toByte)))
    assert(payloads.contains(Seq(0x01.toByte, 0x02.toByte)))
    // archives without LOs yield an empty, correctly-typed frame
    val none = graft.sources.PgArchive.loadLargeObjects(spark, s"$base/realdump")
    assert(none.columns.toSeq == Seq("lo_oid", "data") && none.count() == 0)
  }

  test("large-object WRITE side: Spark-built blobs restore through real pg_restore byte-identical, ACL applied") {
    live()
    import spark.implicits._
    // adversarial payloads: empty, binary-with-NULs, gzip-magic prefix
    val blobs = Seq(
      (77001L, Array[Byte](0xDE.toByte, 0xAD.toByte, 0x00, 0xBE.toByte)),
      (77002L, Array.emptyByteArray),
      (77003L, Array[Byte](0x1F, 0x8B.toByte, 0x01, 0x02, 0x03)))
      .toDF("lo_oid", "data")
    val arch = s"$base/lo_write_arch"
    psql("postgres", "CREATE DATABASE lo_tgt")
    psql("lo_tgt", "CREATE ROLE lo_reader") // grantee for the ACL entry
    PgToc.dumpArchive(Seq.empty, arch, "lo_tgt",
      largeObjects = Some(blobs),
      loAcls = Map(77001L -> "GRANT SELECT ON LARGE OBJECT 77001 TO lo_reader;"))
    // archive shape: blobs.toc records BARE .dat names (pg_dump's own
    // convention), payload files exist, entries list under pg_restore -l
    val tocLines = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(arch, "blobs.toc")), "UTF-8")
    assert(tocLines == "77001 blob_77001.dat\n77002 blob_77002.dat\n77003 blob_77003.dat\n")
    val (rcl, lst) = sh(s"/usr/bin/pg_restore -l $arch")
    assert(rcl == 0 && lst.contains("BLOB - 77001") && lst.contains("BLOBS"), lst)
    assert(lst.contains("ACL - LARGE OBJECT 77001"), lst)
    // the real binary restores them
    val (rc, out) = sh(s"PGHOST=$sockDir PGUSER=graft /usr/bin/pg_restore -d lo_tgt $arch")
    assert(rc == 0, s"pg_restore failed:\n$out")
    val (rc2, got) = psql("lo_tgt",
      "SELECT loid, encode(string_agg(data, '' ORDER BY pageno), 'hex') " +
        "FROM pg_largeobject GROUP BY loid ORDER BY loid")
    assert(rc2 == 0, got)
    // empty blob has no pg_largeobject pages; check its metadata exists
    assert(got.split("\n").filter(_.nonEmpty).toSeq ==
      Seq("77001|dead00be", "77003|1f8b010203"), got)
    assert(psql("lo_tgt",
      "SELECT count(*) FROM pg_largeobject_metadata")._2.trim == "3")
    // ACL entry applied on the target
    assert(psql("lo_tgt", "SELECT lomacl::text FROM pg_largeobject_metadata " +
      "WHERE oid = 77001")._2.contains("lo_reader=r"), "ACL not applied")
    // and OUR loader reads our own archive back byte-identically
    val back = graft.sources.PgArchive.loadLargeObjects(spark, arch)
      .orderBy("lo_oid").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq)
    assert(back.toSeq == Seq(
      77001L -> Seq[Byte](0xDE.toByte, 0xAD.toByte, 0x00, 0xBE.toByte),
      77002L -> Seq.empty[Byte],
      77003L -> Seq[Byte](0x1F, 0x8B.toByte, 0x01, 0x02, 0x03)))

    // compressed variant: .dat.gz payloads, bare names in blobs.toc,
    // readable by our own loader (gzip branch)
    val archGz = s"$base/lo_write_arch_gz"
    PgToc.dumpArchive(Seq.empty, archGz, "x",
      largeObjects = Some(blobs), compress = "gzip")
    assert(new java.io.File(archGz, "blob_77001.dat.gz").exists())
    val backGz = graft.sources.PgArchive.loadLargeObjects(spark, archGz)
      .orderBy("lo_oid").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq)
    assert(backGz.toSeq == back.toSeq)
  }

  test("pg-restore CLI: reference-produced archive loads without the native binary, identical to pg_restore") {
    live()
    import graft.sources.{PgRestore, PgSource}
    psql("postgres", "CREATE DATABASE pr_src")
    assert(psql("pr_src",
      "CREATE TABLE public.t1(id int PRIMARY KEY, v text, amt numeric(8,2)); " +
        "CREATE TABLE public.t2(id int REFERENCES t1(id), note text); " +
        "INSERT INTO t1 VALUES (1, 'tab\there', 1.50), (2, NULL, -3.25); " +
        "INSERT INTO t2 VALUES (1, 'x'), (2, NULL); " +
        "SELECT lo_from_bytea(91001, '\\\\xdeadbeef'::bytea)")._1 == 0)
    // the REAL pg_dump, default settings (gzipped payloads)
    val dump = s"$base/pr_dump"
    val (rcD, outD) = sh(s"PGHOST=$sockDir PGUSER=graft /usr/bin/pg_dump -Fd -d pr_src -f $dump")
    assert(rcD == 0, outD)
    // target A through OUR restorer, target B through the native binary
    psql("postgres", "CREATE DATABASE pr_a")
    psql("postgres", "CREATE DATABASE pr_b")
    val lines = PgRestore.restore(dump, Seq("-d", s"host=$sockDir dbname=pr_a user=graft"))
    assert(lines.exists(_ == "TABLE DATA t1") && lines.exists(_.startsWith("blob ")),
      s"restore log: $lines")
    val (rcB, outB) = sh(s"PGHOST=$sockDir PGUSER=graft /usr/bin/pg_restore -d pr_b $dump")
    assert(rcB == 0, outB)
    // pg-diff green between the two targets on every table
    Seq("t1", "t2").foreach { t =>
      val a = PgSource.tableFingerprint(Seq("-d", s"host=$sockDir dbname=pr_a user=graft"), t)
      val b = PgSource.tableFingerprint(Seq("-d", s"host=$sockDir dbname=pr_b user=graft"), t)
      assert(a == b && a._1 == 2L, s"$t diverged: $a vs $b")
    }
    // schema fidelity through OUR restorer: PK and FK landed
    assert(psql("pr_a", "SELECT count(*) FROM pg_constraint c JOIN pg_class t " +
      "ON c.conrelid=t.oid WHERE t.relname='t1' AND c.contype='p'")._2.trim == "1")
    assert(psql("pr_a", "SELECT count(*) FROM pg_constraint c JOIN pg_class t " +
      "ON c.conrelid=t.oid WHERE t.relname='t2' AND c.contype='f'")._2.trim == "1")
    // blob byte-identical on both targets
    val la = psql("pr_a", "SELECT encode(lo_get(91001),'hex')")._2.trim
    val lb = psql("pr_b", "SELECT encode(lo_get(91001),'hex')")._2.trim
    assert(la == "deadbeef" && lb == la, s"blob mismatch: $la vs $lb")
  }

  test("pg-restore CLI: our own schema+data+blobs archive stands up a database with no native tooling") {
    live()
    import spark.implicits._
    import graft.sources.PgRestore
    val users = Seq((1L, "née\ttab"), (2L, null.asInstanceOf[String])).toDF("id", "name")
    val blobs = Seq((88001L, Array[Byte](1, 2, 0, 3))).toDF("lo_oid", "data")
    val arch = s"$base/own_restore_arch"
    PgToc.dumpArchive(Seq("users" -> users), arch, "own_tgt",
      includeSchema = true, sequences = Map("users_seq" -> 17L),
      largeObjects = Some(blobs), compress = "gzip")
    psql("postgres", "CREATE DATABASE own_tgt")
    assert(psql("own_tgt", "CREATE SEQUENCE public.users_seq")._1 == 0)
    PgRestore.restore(arch, Seq("-d", s"host=$sockDir dbname=own_tgt user=graft"))
    val (rc, got) = psql("own_tgt",
      "COPY (SELECT id, name FROM users ORDER BY id) TO STDOUT")
    assert(rc == 0, got)
    val rows = got.split("\n").filter(_.nonEmpty).map { l =>
      val Array(id, n) = l.split("\t", 2)
      id -> (if (n == "\\N") null else graft.sources.CopyText.decodeField(n))
    }.toSeq
    assert(rows == Seq("1" -> "née\ttab", "2" -> null), s"rows: $rows")
    assert(psql("own_tgt", "SELECT last_value FROM users_seq")._2.trim == "17")
    assert(psql("own_tgt", "SELECT encode(lo_get(88001),'hex')")._2.trim == "01020003")
  }

  test("sliced COPY ingest: N ctid-range streams are row-identical to one stream") {
    live()
    import graft.sources.PgSource
    psql("postgres", "CREATE DATABASE slice_src")
    // ~10k rows over a couple hundred heap pages, with text wide enough
    // to spread; one NULL row and one tab row to exercise the codec
    assert(psql("slice_src",
      "CREATE TABLE public.big(id bigint, payload text); " +
        "INSERT INTO big SELECT g, repeat(md5(g::text), 4) FROM generate_series(1, 10000) g; " +
        "INSERT INTO big VALUES (10001, NULL), (10002, 'tab\tin\tpayload'); " +
        "ANALYZE big")._1 == 0)
    val args = Seq("-d", s"host=$sockDir dbname=slice_src user=graft")
    assert(PgSource.relPages(args, "big") > 4, "fixture too small to slice")
    val one = PgSource.table(spark, args, "big")
    val four = PgSource.table(spark, args, "big", slices = 4)
    assert(four.rdd.getNumPartitions >= 1)
    val a = one.orderBy("id").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val b = four.orderBy("id").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(a.size == 10002 && a == b, s"slice divergence: sizes ${a.size} vs ${b.size}")
    // conds compose with slice ranges (server-side subset + slices)
    val sub = PgSource.table(spark, args, "big", conds = Seq("id <= 100"), slices = 3)
    assert(sub.count() == 100)
    // more slices than pages degrades gracefully to page count
    psql("slice_src", "CREATE TABLE public.tiny(x int); INSERT INTO tiny VALUES (1), (2)")
    psql("slice_src", "ANALYZE tiny")
    assert(PgSource.table(spark, args, "tiny", slices = 64)
      .collect().map(_.getString(0)).sorted.toSeq == Seq("1", "2"))
  }

  test("tableFingerprint: identical tables match, any divergence shows") {
    live()
    import graft.sources.PgSource
    psql("postgres", "CREATE DATABASE fp_a")
    psql("postgres", "CREATE DATABASE fp_b")
    // same content inserted in DIFFERENT row order -> same fingerprint
    assert(psql("fp_a", "CREATE TABLE t(id int, v text); " +
      "INSERT INTO t VALUES (1,'x'), (2,'y'), (3, NULL)")._1 == 0)
    assert(psql("fp_b", "CREATE TABLE t(id int, v text); " +
      "INSERT INTO t VALUES (3, NULL), (1,'x'), (2,'y')")._1 == 0)
    val a = PgSource.tableFingerprint(Seq("-d", s"host=$sockDir dbname=fp_a user=graft"), "t")
    val b = PgSource.tableFingerprint(Seq("-d", s"host=$sockDir dbname=fp_b user=graft"), "t")
    assert(a == b && a._1 == 3L)
    // one changed value flips the fingerprint, not the count
    assert(psql("fp_b", "UPDATE t SET v = 'X' WHERE id = 1")._1 == 0)
    val b2 = PgSource.tableFingerprint(Seq("-d", s"host=$sockDir dbname=fp_b user=graft"), "t")
    assert(b2._1 == 3L && b2._2 != a._2)
    // empty table fingerprints as 'empty', not an error
    assert(psql("fp_a", "CREATE TABLE e(x int)")._1 == 0)
    assert(PgSource.tableFingerprint(
      Seq("-d", s"host=$sockDir dbname=fp_a user=graft"), "e") == ((0L, "empty")))
  }

  test("full-fidelity schema: masked archive restores into an EMPTY database with PKs/indexes/FKs/defaults/sequences") {
    live()
    psql("postgres", "CREATE DATABASE fid_src")
    assert(psql("fid_src",
      "CREATE TABLE public.users(id bigserial PRIMARY KEY, name text NOT NULL, " +
        "email text, score int DEFAULT 7); " +
        "CREATE INDEX users_email_idx ON users (email); " +
        "CREATE TABLE public.orders(oid bigint PRIMARY KEY, " +
        "user_id bigint NOT NULL REFERENCES users(id), note text); " +
        "INSERT INTO users(name, email) VALUES ('Ada','ada@x.io'), ('Bob','bob@y.io'); " +
        "INSERT INTO orders VALUES (100, 1, 'first'), (101, 2, NULL)")._1 == 0)
    val out = s"$base/fid_arch"
    val config = """{ "tables": [
      { "table": "orders", "transforms": [] },
      { "table": "users", "transforms": [
        {"column": "name", "name": "Masking", "params": {"type": "name"}} ] } ] }"""
    val toc = Lifecycle.pgDump(spark, config,
      s"host=$sockDir dbname=fid_src user=graft", out)
    // schema sections are the REAL pg_dump's: constraints/index/sequence
    // entries present verbatim, sequence position captured
    assert(toc.entries.exists(_.desc.contains("CONSTRAINT")))
    assert(toc.entries.exists(_.desc.contains("FK CONSTRAINT")))
    assert(toc.entries.exists(_.desc.contains("INDEX")))
    assert(toc.entries.exists(e =>
      e.desc.contains("SEQUENCE SET") && e.tag.contains("users_id_seq")))
    // restore into an EMPTY database — nothing pre-created on the target
    psql("postgres", "CREATE DATABASE fid_tgt")
    val (rc, o) = sh(s"PGHOST=$sockDir PGUSER=graft /usr/bin/pg_restore -d fid_tgt $out")
    assert(rc == 0, o)
    // catalog asserts: PK, FK, index, default all reproduced
    assert(psql("fid_tgt", "SELECT count(*) FROM pg_constraint c " +
      "JOIN pg_class t ON c.conrelid=t.oid " +
      "WHERE t.relname='users' AND c.contype='p'")._2.trim == "1", "PK missing")
    assert(psql("fid_tgt", "SELECT count(*) FROM pg_constraint c " +
      "JOIN pg_class t ON c.conrelid=t.oid " +
      "WHERE t.relname='orders' AND c.contype='f'")._2.trim == "1", "FK missing")
    assert(psql("fid_tgt", "SELECT count(*) FROM pg_indexes " +
      "WHERE tablename='users' AND indexname='users_email_idx'")._2.trim == "1",
      "index missing")
    assert(psql("fid_tgt", "SELECT column_default FROM information_schema.columns " +
      "WHERE table_name='users' AND column_name='score'")._2.trim == "7",
      "column default missing")
    // sequence position replayed from the source's pg_sequences
    assert(psql("fid_tgt", "SELECT last_value FROM users_id_seq")._2.trim == "2")
    // pg-diff green on the untransformed table: fingerprints identical
    val a = graft.sources.PgSource.tableFingerprint(
      Seq("-d", s"host=$sockDir dbname=fid_src user=graft"), "orders")
    val b = graft.sources.PgSource.tableFingerprint(
      Seq("-d", s"host=$sockDir dbname=fid_tgt user=graft"), "orders")
    assert(a == b && a._1 == 2L, s"orders fingerprint diverged: $a vs $b")
    // masked column actually masked
    val (rc2, got) = psql("fid_tgt", "SELECT name FROM users ORDER BY id")
    assert(rc2 == 0 && !got.contains("Ada"), s"name not masked: $got")
  }

  test("Lifecycle.pgDump: config-driven masked dump from live pg, restorable") {
    live()
    psql("postgres", "CREATE DATABASE cli_src")
    assert(psql("cli_src",
      "CREATE TABLE public.accounts(id bigint PRIMARY KEY, holder text, iban text); " +
        "CREATE TABLE public.payments(pid bigint, account_id bigint REFERENCES accounts(id)); " +
        "INSERT INTO accounts VALUES (1,'Jane','DE02120300000000202051'), " +
        "(2,'Omar','FR1420041010050500013M02606'); " +
        "INSERT INTO payments VALUES (10, 1)")._1 == 0)
    val out = s"$base/cli_arch"
    // subset_conds filter on the SOURCE server (inside the COPY SELECT);
    // payments is listed FIRST in the config but depends on accounts —
    // the dumped TOC must reorder parents-first
    // the transform on the FK column account_id keeps it pointing at a
    // kept account, and draws the gate's foreign-key warning
    val config = """{ "tables": [
      { "table": "payments", "transforms": [
        {"column": "account_id", "name": "Replace", "params": {"value": "1"}} ] },
      { "table": "accounts",
        "subset_conds": ["id <= 1"],
        "transforms": [
        {"column": "holder", "name": "Masking", "params": {"type": "name"}},
        {"column": "iban", "name": "Masking", "params": {"type": "id"}} ] } ] }"""
    val errBuf = new java.io.ByteArrayOutputStream()
    val oldErr = System.err
    System.setErr(new java.io.PrintStream(errBuf, true, "UTF-8"))
    val toc =
      try Lifecycle.pgDump(spark, config, s"host=$sockDir dbname=cli_src user=graft", out)
      finally System.setErr(oldErr)
    assert(errBuf.toString("UTF-8").linesIterator.contains(
      "[warning] payments.account_id: transformer affects a foreign-key column; " +
        "use hash engine + apply_for_references on the parent"), errBuf.toString("UTF-8").take(400))
    assert(toc.header.dbName.contains("cli_src"))
    assert(toc.entries.exists(e => e.desc.contains("TABLE") &&
      e.defn.exists(_.contains("CREATE TABLE public.accounts"))))
    // FK-driven ordering: accounts (parent) precedes payments in both
    // sections, and the child's data entry records the dependency
    val tags = toc.entries.filter(_.desc.contains("TABLE DATA")).flatMap(_.tag)
    assert(tags == Seq("accounts", "payments"), s"TOC order: $tags")
    val payData = toc.entries.find(e =>
      e.desc.contains("TABLE DATA") && e.tag.contains("payments")).get
    val acctData = toc.entries.find(e =>
      e.desc.contains("TABLE DATA") && e.tag.contains("accounts")).get
    assert(payData.dependencies.contains(acctData.dumpId))
    psql("postgres", "CREATE DATABASE cli_tgt")
    val (rc, o) = sh(s"PGHOST=$sockDir PGUSER=graft /usr/bin/pg_restore -d cli_tgt $out")
    assert(rc == 0, o)
    val (rc2, rows) = psql("cli_tgt",
      "COPY (SELECT holder, iban FROM accounts ORDER BY id) TO STDOUT")
    assert(rc2 == 0, rows)
    val got = rows.split("\n").filter(_.nonEmpty).map(_.split("\t"))
    assert(!got.map(_(0)).contains("Jane"), "holder not masked")
    // Masking("id") keeps a 6-char prefix and stars the rest; the subset
    // cond dropped row 2 on the source server
    assert(got.map(_(1)).toSeq == Seq("DE0212****"), "subset + mask wrong")
  }

  test("pg-dump closes a root cond over the live FKs: native pg_restore creates every constraint") {
    live()
    psql("postgres", "CREATE DATABASE sub_src")
    // cust <- ord <- item. item's composite FK lists its columns in an
    // order that differs from attnum order on both sides, and it is
    // nullable: items with a NULL key column escape the closure
    assert(psql("sub_src",
      "CREATE TABLE cust(id int PRIMARY KEY, name text); " +
        "CREATE TABLE ord(ord_no int, cust_id int REFERENCES cust(id), note text, " +
        "PRIMARY KEY (cust_id, ord_no)); " +
        "CREATE TABLE item(item_id int PRIMARY KEY, o_cust int, o_no int, qty int, " +
        "FOREIGN KEY (o_no, o_cust) REFERENCES ord(ord_no, cust_id)); " +
        "INSERT INTO cust SELECT g, 'c' || g FROM generate_series(1, 30) g; " +
        "INSERT INTO ord SELECT n, c, 'n' || n FROM generate_series(1, 30) c, " +
        "generate_series(1, 4) n WHERE n <= c % 5; " +
        "INSERT INTO item SELECT g, CASE WHEN g % 7 = 0 THEN NULL ELSE 1 + g % 30 END, " +
        "CASE WHEN g % 11 = 0 THEN NULL ELSE 1 + g % 4 END, g FROM generate_series(1, 300) g " +
        "WHERE g % 7 = 0 OR g % 11 = 0 OR 1 + g % 4 <= (1 + g % 30) % 5")._1 == 0)
    val src = s"host=$sockDir dbname=sub_src user=graft"
    val out = s"$base/sub_arch"
    val config = """{ "tables": [
      { "table": "item" }, { "table": "ord" },
      { "table": "cust", "subset_conds": ["id % 3 <> 0"] } ] }"""
    val t0 = System.nanoTime()
    Lifecycle.pgDump(spark, config, src, out)
    info(f"pg-dump with closure: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    psql("postgres", "CREATE DATABASE sub_tgt")
    val (rc, o) = sh(s"PGHOST=$sockDir PGUSER=graft /usr/bin/pg_restore -d sub_tgt $out")
    assert(rc == 0, o)
    val constraints = "SELECT count(*) FROM pg_constraint WHERE contype IN ('p', 'f') " +
      "AND connamespace = 'public'::regnamespace"
    assert(psql("sub_tgt", constraints)._2.trim == "5", "constraints missing on the target")
    // brute-force closure on the source, fingerprinted like the target
    val closure = Map(
      "cust" -> "SELECT * FROM cust WHERE id % 3 <> 0",
      "ord" -> "SELECT * FROM ord WHERE cust_id IN (SELECT id FROM cust WHERE id % 3 <> 0)",
      "item" -> ("SELECT * FROM item WHERE o_cust IS NULL OR o_no IS NULL OR " +
        "(o_no, o_cust) IN (SELECT ord_no, cust_id FROM ord " +
        "WHERE cust_id IN (SELECT id FROM cust WHERE id % 3 <> 0))"))
    for ((t, q) <- closure) {
      val (_, want) = psql("sub_src", "SELECT count(*) || '|' || " +
        "coalesce(md5(string_agg(h, '' ORDER BY h)), 'empty') " +
        s"FROM (SELECT md5(t.*::text) AS h FROM ($q) t) s")
      val got = graft.sources.PgSource.tableFingerprint(
        Seq("-d", s"host=$sockDir dbname=sub_tgt user=graft"), t)
      assert(s"${got._1}|${got._2}" == want.trim, s"$t: target $got, closure $want")
    }
    // the closure dropped rows on every level, and kept NULL-key items
    val kept = psql("sub_tgt", "SELECT (SELECT count(*) FROM cust) || ',' || " +
      "(SELECT count(*) FROM ord) || ',' || (SELECT count(*) FROM item) || ',' || " +
      "(SELECT count(*) FROM item WHERE o_no IS NULL OR o_cust IS NULL)")._2.trim
      .split(",").map(_.toInt)
    val all = psql("sub_src", "SELECT (SELECT count(*) FROM cust) || ',' || " +
      "(SELECT count(*) FROM ord) || ',' || (SELECT count(*) FROM item)")._2.trim
      .split(",").map(_.toInt)
    assert(kept.take(3).zip(all).forall { case (k, a) => k > 0 && k < a } && kept(3) > 0,
      s"kept ${kept.mkString(",")} of ${all.mkString(",")}")
  }

  test("PgSource.keys: column-ordered composite, nullable and self FKs; namespace- and partition-aware") {
    live()
    psql("postgres", "CREATE DATABASE keys_src")
    assert(psql("keys_src",
      "CREATE TABLE acct(id int PRIMARY KEY, mgr int REFERENCES acct(id)); " +
        "CREATE TABLE book(no int, acct_id int NOT NULL REFERENCES acct(id), " +
        "PRIMARY KEY (acct_id, no)); " +
        "CREATE TABLE line(id int PRIMARY KEY, b_acct int, b_no int NOT NULL, " +
        "FOREIGN KEY (b_no, b_acct) REFERENCES book(no, acct_id)); " +
        "CREATE SCHEMA other; CREATE TABLE other.acct(id int PRIMARY KEY); " +
        "CREATE TABLE note(id int PRIMARY KEY, acct_id int NOT NULL REFERENCES other.acct(id)); " +
        "CREATE TABLE other.memo(id int PRIMARY KEY, acct_id int REFERENCES public.acct(id)); " +
        "CREATE TABLE ev(id int NOT NULL, acct_id int NOT NULL REFERENCES acct(id)) " +
        "PARTITION BY RANGE (id); " +
        "CREATE TABLE ev_1 PARTITION OF ev FOR VALUES FROM (0) TO (100); " +
        // an FK onto a partitioned table: PostgreSQL's per-partition
        // copies (shop -> rp_1) are not declared keys
        "CREATE TABLE rp(id int PRIMARY KEY) PARTITION BY RANGE (id); " +
        "CREATE TABLE rp_1 PARTITION OF rp FOR VALUES FROM (0) TO (100); " +
        "CREATE TABLE shop(id int PRIMARY KEY, rp_id int REFERENCES rp(id))")._1 == 0)
    import graft.pipeline.{FkRef, TableMeta}
    val keys = graft.sources.PgSource.keys(
      Seq("-d", s"host=$sockDir dbname=keys_src user=graft"))
    assert(keys.fks == Seq(
      FkRef("acct", Seq("mgr"), "acct", Seq("id"), nullable = true),
      FkRef("book", Seq("acct_id"), "acct", Seq("id")),
      FkRef("ev", Seq("acct_id"), "acct", Seq("id")),
      FkRef("ev_1", Seq("acct_id"), "acct", Seq("id")),
      FkRef("line", Seq("b_no", "b_acct"), "book", Seq("no", "acct_id"), nullable = true),
      FkRef("shop", Seq("rp_id"), "rp", Seq("id"), nullable = true)))
    assert(keys.tables.toSet == Set(TableMeta("acct", Seq("id")),
      TableMeta("book", Seq("acct_id", "no")), TableMeta("line", Seq("id")),
      TableMeta("note", Seq("id")), TableMeta("ev", Nil), TableMeta("ev_1", Nil),
      TableMeta("rp", Seq("id")), TableMeta("rp_1", Seq("id")), TableMeta("shop", Seq("id"))))
    assert(keys.pks == Map("acct" -> Seq("id"), "book" -> Seq("acct_id", "no"),
      "line" -> Seq("id"), "note" -> Seq("id"), "ev" -> Nil, "ev_1" -> Nil,
      "rp" -> Seq("id"), "rp_1" -> Seq("id"), "shop" -> Seq("id")))
    // rp's rows live in its leaf: shop's dependency is on rp_1
    assert(keys.leaves == Map("ev" -> Seq("ev_1"), "rp" -> Seq("rp_1")))
    assert(keys.deps == Map("book" -> Seq("acct"), "ev" -> Seq("acct"),
      "ev_1" -> Seq("acct"), "line" -> Seq("book"), "shop" -> Seq("rp_1")))
    assert(Seq("line" -> "b_no", "book" -> "no", "shop" -> "rp_id", "rp" -> "id")
      .map(keys.colTypes) == Seq.fill(4)("integer"))
  }

  test("pg-dump --data-only closes an FK onto a partitioned table over its leaves, parents first") {
    live()
    psql("postgres", "CREATE DATABASE part_src")
    val ddl = "CREATE TABLE rp(id int PRIMARY KEY, v text) PARTITION BY RANGE (id); " +
      "CREATE TABLE rp_1 PARTITION OF rp FOR VALUES FROM (0) TO (50); " +
      "CREATE TABLE rp_2 PARTITION OF rp FOR VALUES FROM (50) TO (100); " +
      "CREATE TABLE shop(id int PRIMARY KEY, rp_id int REFERENCES rp(id)); "
    assert(psql("part_src", ddl +
      "INSERT INTO rp SELECT g, 'v' || g FROM generate_series(1, 99) g; " +
      "INSERT INTO shop SELECT g, CASE WHEN g % 10 = 0 THEN NULL ELSE 1 + (g * 7) % 99 END " +
      "FROM generate_series(1, 40) g")._1 == 0)
    val out = s"$base/part_arch"
    // the child is listed first: rp's leaves must still load before it
    val config = """{ "tables": [ { "table": "shop" },
      { "table": "rp", "apply_for_inherited": true, "subset_conds": ["id % 2 = 0"] } ] }"""
    val toc = Lifecycle.pgDump(spark, config, s"host=$sockDir dbname=part_src user=graft", out,
      sections = "data-only")
    val data = toc.entries.filter(_.desc.contains("TABLE DATA"))
    assert(data.flatMap(_.tag) == Seq("rp_1", "rp_2", "shop"), s"TOC order: ${data.flatMap(_.tag)}")
    assert(data.last.dependencies.toSet.intersect(data.map(_.dumpId).toSet) ==
      data.init.map(_.dumpId).toSet, "shop's data entry must depend on both leaves")
    psql("postgres", "CREATE DATABASE part_tgt")
    assert(psql("part_tgt", ddl)._1 == 0)
    // one session, the FK already in place: rows load in TOC order
    val (rc, o) = sh(s"PGHOST=$sockDir PGUSER=graft /usr/bin/pg_restore -a -d part_tgt $out")
    assert(rc == 0, o)
    val closure = Map(
      "rp" -> "SELECT * FROM rp WHERE id % 2 = 0",
      "shop" -> "SELECT * FROM shop WHERE rp_id IS NULL OR rp_id % 2 = 0")
    def fingerprint(q: String) = "SELECT count(*) || '|' || " +
      s"coalesce(md5(string_agg(h, '' ORDER BY h)), 'empty') FROM (SELECT md5(t.*::text) AS h FROM ($q) t) s"
    for ((t, q) <- closure)
      assert(psql("part_tgt", fingerprint(s"SELECT * FROM $t"))._2 ==
        psql("part_src", fingerprint(q))._2, s"$t differs from its closure")
  }

  test("pg-dump refuses a closure over FK keys whose text forms differ, and joins int onto bigint") {
    live()
    psql("postgres", "CREATE DATABASE ktype_src")
    assert(psql("ktype_src",
      "CREATE TABLE np(v numeric(12,4) PRIMARY KEY); " +
        "CREATE TABLE nc(id int PRIMARY KEY, v numeric(10,2) REFERENCES np(v)); " +
        "CREATE TABLE ip(id int PRIMARY KEY); " +
        "CREATE TABLE ic(id int PRIMARY KEY, p bigint NOT NULL REFERENCES ip(id)); " +
        "INSERT INTO np VALUES (1), (2), (3); INSERT INTO nc VALUES (1, 1), (2, 2), (3, 3); " +
        "INSERT INTO ip VALUES (1), (2), (3); INSERT INTO ic VALUES (1, 1), (2, 2), (3, 3)")._1 == 0)
    val src = s"host=$sockDir dbname=ktype_src user=graft"
    // '1.00' and '1.0000' are the same key: a text join would drop every nc row
    val err = intercept[IllegalArgumentException](Lifecycle.pgDump(spark,
      """{ "tables": [ { "table": "nc" }, { "table": "np", "subset_conds": ["v < 3"] } ] }""",
      src, s"$base/ktype_n"))
    assert(err.getMessage.contains("nc(v) numeric(10,2) -> np(v) numeric(12,4)"), err.getMessage)
    val out = s"$base/ktype_i"
    Lifecycle.pgDump(spark,
      """{ "tables": [ { "table": "ic" }, { "table": "ip", "subset_conds": ["id < 3"] } ] }""",
      src, out)
    psql("postgres", "CREATE DATABASE ktype_tgt")
    val (rc, o) = sh(s"PGHOST=$sockDir PGUSER=graft /usr/bin/pg_restore -d ktype_tgt $out")
    assert(rc == 0, o)
    assert(psql("ktype_tgt", "SELECT string_agg(p::text, ',' ORDER BY p) FROM ic")._2.trim == "1,2")
  }

  test("pg-dump passthrough flags reach the real schema capture") {
    live()
    psql("postgres", "CREATE DATABASE pt_src")
    assert(psql("pt_src",
      "CREATE TABLE public.t(id bigint PRIMARY KEY, v text); " +
        "INSERT INTO t VALUES (1,'a'); " +
        // single-quoted body: the psql helper shells out through double
        // quotes, where $$ would expand; pg_dump re-emits dollar quoting
        // by default regardless, which is what the flag test needs
        "CREATE FUNCTION public.f1() RETURNS int LANGUAGE sql AS 'SELECT 42'")._1 == 0)
    val conn = s"host=$sockDir dbname=pt_src user=graft"
    val config = """{ "tables": [ { "table": "t", "transforms": [] } ] }"""

    // the CLI parser forwards exactly the four native passthroughs, both
    // --flag=v and --flag v spellings, and nothing else
    assert(Lifecycle.pgDumpPassthrough(Seq("--encoding=LATIN1",
      "--lock-wait-timeout", "500", "--disable-dollar-quoting",
      "--extra-float-digits=2", "--compress=gzip", "--schema-only")) ==
      Seq("--encoding=LATIN1", "--disable-dollar-quoting",
        "--extra-float-digits=2", "--lock-wait-timeout", "500"))

    // --encoding changes the archive's emitted client_encoding (the
    // first thing a non-UTF8 source operator needs); the default capture
    // carries the server encoding (SQL_ASCII in this no-locale scratch
    // cluster) — the flag demonstrably overrode it
    val tocL = Lifecycle.pgDump(spark, config, conn, s"$base/pt_latin",
      passthrough = Seq("--encoding=LATIN1", "--extra-float-digits=2"))
    val encL = tocL.entries.find(_.desc.contains("ENCODING")).flatMap(_.defn).get
    assert(encL.contains("LATIN1"), encL)
    val tocU = Lifecycle.pgDump(spark, config, conn, s"$base/pt_utf8")
    val encU = tocU.entries.find(_.desc.contains("ENCODING")).flatMap(_.defn).get
    assert(encU.contains("client_encoding") && !encU.contains("LATIN1"), encU)

    // --disable-dollar-quoting: function bodies emit as standard string
    // literals instead of dollar quoting
    def fnDefn(toc: graft.pipeline.PgToc.Toc): String = toc.entries.find(e =>
      e.desc.contains("FUNCTION") && e.tag.exists(_.startsWith("f1"))).flatMap(_.defn).get
    assert(fnDefn(tocU).contains("$"), fnDefn(tocU))
    val tocQ = Lifecycle.pgDump(spark, config, conn, s"$base/pt_noq",
      passthrough = Seq("--disable-dollar-quoting"))
    assert(!fnDefn(tocQ).contains("$"), fnDefn(tocQ))
    assert(fnDefn(tocQ).contains("SELECT 42"), fnDefn(tocQ))

    // --lock-wait-timeout: a held ACCESS EXCLUSIVE lock fails the
    // capture at the deadline instead of blocking the dump forever
    val locker = new ProcessBuilder("/usr/bin/psql", "-X", "-q", "-d", conn).start()
    locker.getOutputStream.write(
      "BEGIN;\nLOCK TABLE public.t IN ACCESS EXCLUSIVE MODE;\n".getBytes("UTF-8"))
    locker.getOutputStream.flush()
    val granted = (1 to 50).exists { _ =>
      val (_, o) = psql("pt_src",
        "SELECT count(*) FROM pg_locks l JOIN pg_class c ON c.oid = l.relation " +
          "WHERE c.relname = 't' AND l.mode = 'AccessExclusiveLock' AND l.granted")
      if (o.trim == "1") true else { Thread.sleep(100); false }
    }
    assert(granted, "locker session failed to take the lock")
    try {
      val t0 = System.nanoTime()
      val ex = intercept[IllegalArgumentException] {
        Lifecycle.pgDump(spark, config, conn, s"$base/pt_locked",
          sections = "schema-only",
          passthrough = Seq("--lock-wait-timeout=800"))
      }
      assert(ex.getMessage.toLowerCase.contains("lock"), ex.getMessage)
      assert((System.nanoTime() - t0) / 1e9 < 30,
        "--lock-wait-timeout must bound the wait")
    } finally locker.destroyForcibly()
  }

  test("pg-dump with dump_slices: sliced ingest feeds the archive, restore is content-identical") {
    live()
    import graft.sources.PgSource
    psql("postgres", "CREATE DATABASE slcfg_src")
    assert(psql("slcfg_src",
      "CREATE TABLE public.wide(id bigint, payload text); " +
        "INSERT INTO wide SELECT g, repeat(md5(g::text), 4) " +
        "FROM generate_series(1, 8000) g; ANALYZE wide")._1 == 0)
    val out = s"$base/slcfg_arch"
    // the per-table knob rides the SAME config the CLI parses
    val toc = Lifecycle.pgDump(spark,
      """{ "tables": [ { "table": "wide", "dump_slices": 4, "transforms": [] } ] }""",
      s"host=$sockDir dbname=slcfg_src user=graft", out)
    assert(toc.entries.exists(e => e.desc.contains("TABLE DATA") && e.tag.contains("wide")))
    psql("postgres", "CREATE DATABASE slcfg_tgt")
    val (rc, o) = sh(s"PGHOST=$sockDir PGUSER=graft /usr/bin/pg_restore -d slcfg_tgt $out")
    assert(rc == 0, o)
    // order-free server-side fingerprints: sliced dump == source content
    val fa = PgSource.tableFingerprint(
      Seq("-d", s"host=$sockDir dbname=slcfg_src user=graft"), "wide")
    val fb = PgSource.tableFingerprint(
      Seq("-d", s"host=$sockDir dbname=slcfg_tgt user=graft"), "wide")
    assert(fa._1 == 8000L && fa == fb, s"sliced dump diverged: $fa vs $fb")
  }
}
