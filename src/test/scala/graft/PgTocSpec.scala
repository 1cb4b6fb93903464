package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Manifest, ManifestEntry, PgToc}
import graft.pipeline.PgToc.{Compression, Crtm, Entry, Header, Toc}
import graft.sources.PgRestore.Options

/** pg_restore-compatible TOC codec: byte round-trips at both supported
  * gate extremes, corruption rejection, and — when the real pg_restore
  * binary is present — an end-to-end `pg_restore -l` acceptance check of
  * our bytes (the strongest interop evidence available offline). */
class PgTocSpec extends AnyFunSuite {

  private def fixtureToc(minor: Int): Toc = {
    val header = Header(1, minor, 0,
      compression = if (minor >= 15) Compression(algorithm = 0) else Compression(),
      crtm = Crtm(30, 15, 10, 14, 7, 126, 0),
      dbName = Some("testdb"), remoteVersion = Some("15.0"),
      dumpVersion = Some("15.18"))
    val entries = Seq(
      Entry(dumpId = 1, hadDumper = 1, tableOid = 0L, oid = 16384L,
        tag = Some("customer"), desc = Some("TABLE DATA"),
        section = PgToc.SectionData,
        copyStmt = Some("COPY public.customer (c_custkey, c_name) FROM stdin;\n"),
        namespace = Some("public"), relkind = 'r'.toByte,
        owner = Some("graft"),
        dependencies = Nil, fileName = Some("customer.dat")),
      Entry(dumpId = 2, hadDumper = 1, tableOid = 0L, oid = 16385L,
        tag = Some("orders"), desc = Some("TABLE DATA"),
        section = PgToc.SectionData,
        copyStmt = Some("COPY public.orders FROM stdin;\n"),
        namespace = Some("public"), relkind = 'r'.toByte,
        owner = Some("graft"),
        dependencies = Seq(1), fileName = Some("orders.dat")),
      // a non-data entry with NULL optionals exercises the -1 string path
      Entry(dumpId = 3, hadDumper = 0, tableOid = 0L, oid = 0L,
        tag = Some("SEQ"), desc = Some("SEQUENCE SET"),
        section = PgToc.SectionNone, owner = Some("graft")))
    Toc(header, entries)
  }

  private def normalized(t: Toc, minor: Int): Toc =
    // fields a version's gates never serialize read back as defaults;
    // only desc and fileName canonicalize None -> "" on write (they are
    // the two fields a real pg_restore segfaults on when NULL — every
    // other None is semantic and passes through)
    t.copy(entries = t.entries.map { e =>
      e.copy(desc = Some(e.desc.getOrElse("")),
        fileName = Some(e.fileName.getOrElse("")),
        tableam = if (minor >= 14) e.tableam else None,
        relkind = if (minor >= 16) e.relkind else 0.toByte)
    })

  test("write -> read round-trips at v1.14 and v1.16 (gate extremes)") {
    Seq(14, 16).foreach { minor =>
      val toc = fixtureToc(minor)
      val back = PgToc.read(new java.io.ByteArrayInputStream(PgToc.writeBytes(toc)))
      assert(back == normalized(toc, minor), s"v1.$minor round-trip diverged")
    }
  }

  test("v1.14 bytes start with the PGDMP magic and version triple") {
    val bs = PgToc.writeBytes(fixtureToc(14))
    assert(new String(bs.take(5), "US-ASCII") == "PGDMP")
    assert(bs(5) == 1 && bs(6) == 14 && bs(7) == 0)
    assert(bs(8) == 4 && bs(9) == 8 && bs(10) == 3) // intSize, offSize, 'tar'
  }

  test("reader rejects bad magic, wrong format byte, and out-of-range versions") {
    val good = PgToc.writeBytes(fixtureToc(14))
    val badMagic = good.clone(); badMagic(0) = 'X'.toByte
    assertThrows[IllegalArgumentException](
      PgToc.read(new java.io.ByteArrayInputStream(badMagic)))
    val badFormat = good.clone(); badFormat(10) = 5 // 'directory' code is NOT stored in toc.dat
    assertThrows[IllegalArgumentException](
      PgToc.read(new java.io.ByteArrayInputStream(badFormat)))
    val tooOld = good.clone(); tooOld(6) = 9 // v1.9 < floor
    assertThrows[IllegalArgumentException](
      PgToc.read(new java.io.ByteArrayInputStream(tooOld)))
    assertThrows[java.io.EOFException](
      PgToc.read(new java.io.ByteArrayInputStream(good.take(40))))
  }

  test("compression gates: lz4/zstd need v1.15+, unknown algorithm bytes reject") {
    // the writer refuses a header that cannot record its own algorithm
    // (pre-1.15 stores only a gzip level int)
    val h14 = fixtureToc(14).header.copy(compression = Compression(algorithm = 2))
    assertThrows[IllegalArgumentException](
      PgToc.writeBytes(fixtureToc(14).copy(header = h14)))
    // v1.15 headers round-trip all three algorithms
    for (a <- Seq(1, 2, 3)) {
      val t15 = fixtureToc(15)
      val t = t15.copy(header = t15.header.copy(compression = Compression(algorithm = a)))
      val back = PgToc.read(new java.io.ByteArrayInputStream(PgToc.writeBytes(t)))
      assert(back.header.compression.algorithm == a)
    }
    // a FUTURE algorithm byte rejects loudly on read instead of silently
    // misdecoding payloads: byte 11 is the v1.15 algorithm position
    // (5 magic + 3 version + intSize + offSize + format)
    val good = PgToc.writeBytes(fixtureToc(15))
    assert(good(11) == 0)
    val unknown = good.clone(); unknown(11) = 7
    val ex = intercept[IllegalArgumentException](
      PgToc.read(new java.io.ByteArrayInputStream(unknown)))
    assert(ex.getMessage.contains("compression algorithm"))
  }

  test("restore-list: listLines round-trips through parseRestoreList; unknown id rejects") {
    import graft.sources.PgRestore
    val dir = java.nio.file.Files.createTempDirectory("rl").toString
    PgToc.writeFile(fixtureToc(14), s"$dir/toc.dat")
    val lines = PgRestore.listLines(dir)
    assert(PgRestore.parseRestoreList(lines.mkString("\n")) == Seq(1, 2, 3))
    // commenting a line out disables it; junk lines are skipped; ids
    // come back in FILE order (the list's order is the restore order)
    val edited = """|; 1; 0 16384 TABLE DATA public customer graft
                    | 3; 0 0 SEQUENCE SET SEQ graft
                    |not a list line
                    |2; 0 16385 TABLE DATA public orders graft""".stripMargin
    assert(PgRestore.parseRestoreList(edited) == Seq(3, 2))
    // a listed id the archive doesn't know fails loudly BEFORE any SQL
    // (reference message shape, cmd/restore.go:337)
    val ex = intercept[IllegalArgumentException](
      PgRestore.restore(dir, Seq("-d", "unused"), Options(useList = Some(Seq(99)))))
    assert(ex.getMessage.contains("dump id 99"))
  }

  test("manifest adapter: TABLE DATA entries, dependency ids, file basenames") {
    val m = Manifest(Seq(
      ManifestEntry(1, "customer", "/dump/customer.parquet", "{}", 100L, Nil),
      ManifestEntry(2, "orders", "/dump/orders.parquet", "{}", 500L, Seq(1))))
    val toc = PgToc.fromManifest(m, "graftdb")
    assert(toc.entries.map(_.tag) == Seq(Some("customer"), Some("orders")))
    assert(toc.entries.forall(_.desc.contains("TABLE DATA")))
    assert(toc.entries(1).dependencies == Seq(1))
    assert(toc.entries.map(_.fileName) ==
      Seq(Some("customer.parquet"), Some("orders.parquet")))
    val back = PgToc.read(new java.io.ByteArrayInputStream(PgToc.writeBytes(toc)))
    assert(back.entries.map(e => (e.dumpId, e.tag, e.dependencies)) ==
      toc.entries.map(e => (e.dumpId, e.tag, e.dependencies)))
  }

  test("splitIdentList honors pg_dump quoting (commas and quotes inside identifiers)") {
    import graft.sources.PgArchive.splitIdentList
    assert(splitIdentList("a, b, c") == Seq("a", "b", "c"))
    assert(splitIdentList("\"userId\", \"a,b\", plain") == Seq("userId", "a,b", "plain"))
    assert(splitIdentList("\"we\"\"ird\"") == Seq("we\"ird"))
    assert(splitIdentList("") == Nil)
    // quoteIdent is its inverse on the writer side
    import graft.sources.PgSource.quoteIdent
    assert(quoteIdent("simple_name") == "simple_name")
    assert(quoteIdent("userId") == "\"userId\"")
    assert(quoteIdent("a,b") == "\"a,b\"")
    assert(quoteIdent("we\"ird") == "\"we\"\"ird\"")
    Seq("userId", "a,b", "we\"ird", "order").foreach { n =>
      assert(splitIdentList(quoteIdent(n)) == Seq(n), s"round-trip of '$n'")
    }
  }

  test("columnsOf: quote-aware COPY column-list extraction") {
    import graft.sources.PgArchive.columnsOf
    def entry(stmt: String) = PgToc.Entry(dumpId = 1, copyStmt = Some(stmt))
    assert(columnsOf(entry("COPY public.t (id, v) FROM stdin;\n")) == Seq("id", "v"))
    // a '(' inside the QUOTED TABLE identifier must not start the list
    assert(columnsOf(entry("COPY public.\"a(b\" (id, \"colX\") FROM stdin;\n"))
      == Seq("id", "colX"))
    // a ')' or ',' inside a QUOTED COLUMN identifier must not end/split it
    assert(columnsOf(entry("COPY public.t (\"a)b\", \"c,d\", e) FROM stdin;\n"))
      == Seq("a)b", "c,d", "e"))
    // doubled quotes inside identifiers scan through
    assert(columnsOf(entry("COPY public.\"we\"\"(rd\" (\"q\"\")t\", z) FROM stdin;\n"))
      == Seq("q\")t", "z"))
    intercept[IllegalArgumentException] {
      columnsOf(entry("COPY public.t FROM stdin;\n")) // no column list
    }
  }

  test("DATABASE PROPERTIES replays only under --create (native createDB gate)") {
    import graft.sources.PgRestore
    // native pg_restore keeps DATABASE PROPERTIES in the TOC but gates
    // its replay on ropt->createDB (_tocEntryRequired): without -C the
    // ALTER DATABASE <source> SET ... would mutate a same-named database
    // already on the target cluster (ADVICE r14, medium)
    val dir = java.nio.file.Files.createTempDirectory("dbprops").toString
    val base = fixtureToc(14)
    val withProps = base.copy(entries =
      Entry(dumpId = 10, tag = Some("testdb"), desc = Some("DATABASE"),
        section = PgToc.SectionPreData, owner = Some("graft"),
        defn = Some("CREATE DATABASE testdb WITH TEMPLATE = template0;\n"),
        dropStmt = Some("DROP DATABASE testdb;\n")) +:
      Entry(dumpId = 11, tag = Some("DATABASE PROPERTIES testdb"),
        desc = Some("DATABASE PROPERTIES"), section = PgToc.SectionPreData,
        owner = Some("graft"),
        defn = Some("ALTER DATABASE testdb SET work_mem TO '64MB';\n"),
        dependencies = Seq(10)) +: base.entries)
    PgToc.writeFile(withProps, s"$dir/toc.dat")
    // every TABLE DATA entry needs its payload: the script path fails
    // on a missing one, like the direct path
    for (f <- Seq("customer.dat", "orders.dat"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, f), "\\.\n")
    def script(create: Boolean): String = {
      val bos = new java.io.ByteArrayOutputStream()
      PgRestore.toScript(dir, bos, Options(create = create))
      bos.toString("UTF-8")
    }
    val plain = script(create = false)
    assert(!plain.contains("ALTER DATABASE"), plain)
    assert(!plain.contains("CREATE DATABASE"), plain)
    val created = script(create = true)
    assert(created.contains("CREATE DATABASE testdb"), created)
    assert(created.contains("ALTER DATABASE testdb SET work_mem"), created)
    // -c must not render a DROP for either session-level entry
    val cleaned = {
      val bos = new java.io.ByteArrayOutputStream()
      PgRestore.toScript(dir, bos, Options(clean = true))
      bos.toString("UTF-8")
    }
    assert(!cleaned.contains("DROP DATABASE"), cleaned)
  }

  test("pre-1.11 archives replay by the sections native ReadToc infers from desc") {
    import graft.sources.PgRestore
    // a v1.10 TOC stores no section: every entry reads back SECTION_NONE,
    // and only the desc says where it belongs
    val dir = java.nio.file.Files.createTempDirectory("legacytoc").toString
    val entries = Seq(
      Entry(dumpId = 1, tag = Some("t"), desc = Some("TABLE"),
        namespace = Some("public"), owner = Some("graft"),
        defn = Some("CREATE TABLE public.t (k integer);\n")),
      Entry(dumpId = 2, hadDumper = 1, tag = Some("t"), desc = Some("TABLE DATA"),
        namespace = Some("public"), owner = Some("graft"),
        copyStmt = Some("COPY public.t (k) FROM stdin;\n"),
        dependencies = Seq(1), fileName = Some("2.dat")),
      Entry(dumpId = 3, tag = Some("t_k"), desc = Some("INDEX"),
        namespace = Some("public"), owner = Some("graft"),
        defn = Some("CREATE INDEX t_k ON public.t USING btree (k);\n"),
        dependencies = Seq(1)),
      Entry(dumpId = 4, tag = Some("INDEX t_k"), desc = Some("COMMENT"),
        namespace = Some("public"), owner = Some("graft"),
        defn = Some("COMMENT ON INDEX public.t_k IS 'k';\n"),
        dependencies = Seq(3)))
    PgToc.writeFile(fixtureToc(10).copy(entries = entries), s"$dir/toc.dat")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "2.dat"), "1\n\\.\n")
    val bos = new java.io.ByteArrayOutputStream()
    PgRestore.toScript(dir, bos)
    val script = bos.toString("UTF-8")
    val at = Seq("CREATE TABLE", "COPY public.t", "CREATE INDEX", "COMMENT ON INDEX")
      .map(script.indexOf(_))
    assert(at.forall(_ >= 0) && at == at.sorted, script)
    assert(PgRestore.listSelectedIds(dir, Options(section = Some("data"))) == Seq(2))
    assert(PgRestore.listSelectedIds(dir, Options(section = Some("post-data"))) ==
      Seq(3, 4))
  }

  test("real pg_restore -l accepts and lists our archive") {
    val pgRestore = new java.io.File("/usr/bin/pg_restore")
    assume(pgRestore.canExecute, "pg_restore binary not present")
    val dir = java.nio.file.Files.createTempDirectory("graft_toc").toFile
    PgToc.writeFile(fixtureToc(14), new java.io.File(dir, "toc.dat").getPath)
    val p = new ProcessBuilder("/usr/bin/pg_restore", "-l", dir.getPath)
      .redirectErrorStream(true).start()
    val outText = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() == 0, s"pg_restore -l failed:\n$outText")
    assert(outText.contains("TABLE DATA public customer graft"), outText)
    assert(outText.contains("TABLE DATA public orders graft"), outText)
    assert(outText.contains("SEQUENCE SET"), outText)
    assert(outText.contains("dbname: testdb"), outText)
  }
}
