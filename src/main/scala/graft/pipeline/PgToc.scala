package graft.pipeline

import java.io.{ByteArrayOutputStream, EOFException, InputStream, OutputStream}
import java.nio.file.{Files, Paths}

/** pg_restore-compatible binary TOC (`toc.dat`) codec — the
  * archive-format interop piece the JSON [[Manifest]] deliberately
  * replaced for the engine's OWN lifecycle, kept here so a user holding
  * reference-produced directory archives (or wanting `pg_restore -l` /
  * selective-restore tooling against ours) is not stranded.
  *
  * Format: the PostgreSQL directory-archive TOC byte layout
  * (`PGDMP` magic; version triple; per-field version gates up to v1.16),
  * matching the reference's re-implementation at
  * `internal/db/postgres/toc/writer.go:43-330` / `reader.go:48-498` and
  * verified here against a REAL `pg_restore -l` (PgTocSpec). Integers
  * are a sign byte + `intSize` little-endian bytes; strings are a length
  * int + bytes with length -1 meaning NULL; oids and dependency ids
  * travel as decimal strings; the dependency list is NULL-terminated.
  * Directory archives store format byte 3 ('tar' — the directory layout
  * is tar-compatible, and `pg_restore` rejects anything else in
  * `toc.dat`).
  *
  * Version support: writes any version in [1.10, 1.16] (gates skip the
  * fields a version predates — write 1.14 for PostgreSQL 15 tooling,
  * 1.16 matches the reference's MaxVersion); reads [1.10, 1.16] and
  * rejects older archives loudly (the pre-1.10 gates cover formats from
  * the 1990s; the reference accepts them, we document the floor).
  */
object PgToc {

  val SectionNone = 1
  val SectionPreData = 2
  val SectionData = 3
  val SectionPostData = 4

  /** Archive format byte stored in toc.dat: directory archives write
    * 'tar' (3) — see scaladoc above. */
  val FormatTar: Int = 3

  def makeVersion(major: Int, minor: Int, rev: Int): Int =
    (major * 256 + minor) * 256 + rev

  val V1_10: Int = makeVersion(1, 10, 0)
  val V1_11: Int = makeVersion(1, 11, 0)
  val V1_14: Int = makeVersion(1, 14, 0)
  val V1_15: Int = makeVersion(1, 15, 0)
  val V1_16: Int = makeVersion(1, 16, 0)

  /** pg_dump compression spec: algorithm 0=none 1=gzip 2=lz4 3=zstd
    * (v1.15+ stores the algorithm byte; older versions store a gzip
    * level int — lz4/zstd are therefore inexpressible below 1.15 and
    * the writer enforces it). Payload members for all three algorithms
    * encode/decode through [[graft.sources.Compress]]. */
  case class Compression(algorithm: Int = 0, level: Int = 0)

  /** struct-tm creation stamp as stored: year is calendar-1900, month
    * 0-based. */
  case class Crtm(sec: Int, min: Int, hour: Int, mday: Int, mon: Int,
                  year: Int, isDst: Int)
  object Crtm {
    def of(dt: java.time.LocalDateTime): Crtm =
      Crtm(dt.getSecond, dt.getMinute, dt.getHour, dt.getDayOfMonth,
        dt.getMonthValue - 1, dt.getYear - 1900, 0)
  }

  case class Header(versionMajor: Int, versionMinor: Int, versionRev: Int,
                    intSize: Int = 4, offSize: Int = 8,
                    format: Int = FormatTar,
                    compression: Compression = Compression(),
                    crtm: Crtm = Crtm(0, 0, 0, 1, 0, 100, 0),
                    dbName: Option[String] = None,
                    remoteVersion: Option[String] = None,
                    dumpVersion: Option[String] = None) {
    def version: Int = makeVersion(versionMajor, versionMinor, versionRev)
  }

  case class Entry(dumpId: Int, hadDumper: Int = 0,
                   tableOid: Long = 0L, oid: Long = 0L,
                   tag: Option[String] = None, desc: Option[String] = None,
                   section: Int = SectionNone,
                   defn: Option[String] = None,
                   dropStmt: Option[String] = None,
                   copyStmt: Option[String] = None,
                   namespace: Option[String] = None,
                   tablespace: Option[String] = None,
                   tableam: Option[String] = None,
                   relkind: Byte = 0,
                   owner: Option[String] = None,
                   dependencies: Seq[Int] = Nil,
                   fileName: Option[String] = None)

  case class Toc(header: Header, entries: Seq[Entry])

  // ---------------------------------------------------------------- write

  def write(toc: Toc, out: OutputStream): Unit = {
    val h = toc.header
    val v = h.version
    require(v >= V1_10 && v <= V1_16,
      s"PgToc.write: version ${h.versionMajor}.${h.versionMinor} outside supported [1.10, 1.16]")
    require(h.intSize == 4, "PgToc.write: only intSize=4 is supported")
    require(h.compression.algorithm >= 0 && h.compression.algorithm <= 3,
      s"PgToc.write: unknown compression algorithm ${h.compression.algorithm}")
    require(h.compression.algorithm <= 1 || v >= V1_15,
      s"PgToc.write: ${graft.sources.Compress.name(h.compression.algorithm)} " +
        "compression requires archive version >= 1.15 (older headers store " +
        "only a gzip level int)")
    def byte(b: Int): Unit = out.write(b & 0xFF)
    def int(i0: Int): Unit = {
      var i = i0
      byte(if (i < 0) 1 else 0)
      if (i < 0) i = -i
      var k = 0
      while (k < h.intSize) { byte(i & 0xFF); i >>= 8; k += 1 }
    }
    def str(s: Option[String]): Unit = s match {
      case None => int(-1)
      case Some(x) =>
        val bs = x.getBytes("UTF-8")
        int(bs.length); out.write(bs)
    }
    out.write("PGDMP".getBytes("US-ASCII"))
    byte(h.versionMajor); byte(h.versionMinor); byte(h.versionRev)
    byte(h.intSize); byte(h.offSize); byte(h.format)
    if (v >= V1_15) byte(h.compression.algorithm)
    else int(h.compression.level)
    int(h.crtm.sec); int(h.crtm.min); int(h.crtm.hour); int(h.crtm.mday)
    int(h.crtm.mon); int(h.crtm.year); int(h.crtm.isDst)
    str(h.dbName); str(h.remoteVersion); str(h.dumpVersion)
    // NULL (-1 length) vs "" is SEMANTIC in this format and real
    // pg_restore cares: a NULL tableam/tablespace means "emit no SET"
    // while "" produces `SET default_table_access_method = "";` and
    // fails the restore; conversely a NULL desc or fileName SEGFAULTS
    // `pg_restore -l` (field-by-field matrix probe against pg_restore
    // 15). So the writer is pg_dump-faithful: None passes through
    // everywhere EXCEPT desc and fileName, which canonicalize to ""
    // (pg_dump always writes both).
    def estr(s: Option[String]): Unit = str(Some(s.getOrElse("")))
    int(toc.entries.size)
    toc.entries.foreach { e =>
      int(e.dumpId); int(e.hadDumper)
      str(Some(e.tableOid.toString)); str(Some(e.oid.toString))
      str(e.tag); estr(e.desc)
      // section field exists from 1.11 (pg_backup_archiver K_VERS_1_11);
      // an ungated write here desyncs a 1.10 reader one int into every
      // entry (caught by PgTocPropertySpec's cross-version fuzz)
      if (v >= V1_11) int(e.section)
      str(e.defn); str(e.dropStmt); str(e.copyStmt)
      str(e.namespace); str(e.tablespace)
      if (v >= V1_14) str(e.tableam)
      if (v >= V1_16) int(e.relkind & 0xFF)
      str(e.owner)
      str(Some("false")) // with-oids, retired since PostgreSQL 12
      e.dependencies.foreach(d => str(Some(d.toString)))
      str(None) // dependency-list terminator
      estr(e.fileName)
    }
    out.flush()
  }

  def writeBytes(toc: Toc): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    write(toc, bos)
    bos.toByteArray
  }

  def writeFile(toc: Toc, path: String): Unit =
    Files.write(Paths.get(path), writeBytes(toc))

  // ----------------------------------------------------------------- read

  def read(in: InputStream): Toc = {
    def byte(): Int = {
      val b = in.read()
      if (b < 0) throw new EOFException("PgToc.read: truncated archive")
      b
    }
    def bytes(n: Int): Array[Byte] = {
      val buf = new Array[Byte](n)
      var off = 0
      while (off < n) {
        val r = in.read(buf, off, n - off)
        if (r < 0) throw new EOFException("PgToc.read: truncated archive")
        off += r
      }
      buf
    }
    val magic = new String(bytes(5), "US-ASCII")
    require(magic == "PGDMP", s"PgToc.read: bad magic '$magic'")
    val major = byte(); val minor = byte()
    val rev = if (major > 1 || minor > 0) byte() else 0
    val v = makeVersion(major, minor, rev)
    require(v >= V1_10 && v <= V1_16,
      s"PgToc.read: archive version $major.$minor outside supported [1.10, 1.16]")
    val intSize = byte()
    require(intSize == 4, s"PgToc.read: unsupported intSize $intSize")
    def int(): Int = {
      val sign = byte()
      var res = 0; var shift = 0; var k = 0
      while (k < intSize) {
        val b = byte()
        if (b != 0) res += b << shift
        shift += 8; k += 1
      }
      if (sign != 0) -res else res
    }
    def str(): Option[String] = {
      val l = int()
      if (l < 0) None else Some(new String(bytes(l), "UTF-8"))
    }
    def strReq(what: String): String =
      str().getOrElse(throw new IllegalArgumentException(
        s"PgToc.read: unexpected NULL $what"))
    val offSize = byte()
    val format = byte()
    require(format == FormatTar,
      s"PgToc.read: format byte $format is not a directory archive (expected 3)")
    val compression =
      if (v >= V1_15) Compression(algorithm = byte())
      else {
        val level = int()
        Compression(algorithm = if (level != 0) 1 else 0, level = level)
      }
    require(compression.algorithm <= 3,
      s"PgToc.read: unknown compression algorithm byte ${compression.algorithm} " +
        "(supported: 0=none, 1=gzip, 2=lz4, 3=zstd — a newer pg_dump format?)")
    val crtm = Crtm(int(), int(), int(), int(), int(), int(), int())
    val dbName = str(); val remoteVersion = str(); val dumpVersion = str()
    val header = Header(major, minor, rev, intSize, offSize, format,
      compression, crtm, dbName, remoteVersion, dumpVersion)
    val n = int()
    val entries = (0 until n).map { _ =>
      val dumpId = int()
      require(dumpId > 0, s"PgToc.read: entry id $dumpId out of range — corrupt TOC")
      val hadDumper = int()
      val tableOid = strReq("tableOid").toLong
      val oid = strReq("oid").toLong
      val tag = str(); val desc = str()
      val section = if (v >= V1_11) int() else SectionNone
      val defn = str(); val dropStmt = str(); val copyStmt = str()
      val namespace = str(); val tablespace = str()
      val tableam = if (v >= V1_14) str() else None
      val relkind = if (v >= V1_16) (int() & 0xFF).toByte else 0.toByte
      val owner = str()
      str() // with-oids marker ("true"/"false"), ignored
      val deps = Iterator.continually(str())
        .takeWhile(_.isDefined).map(_.get.toInt).toSeq
      val fileName = str()
      Entry(dumpId, hadDumper, tableOid, oid, tag, desc, section, defn,
        dropStmt, copyStmt, namespace, tablespace, tableam, relkind, owner,
        deps, fileName)
    }
    Toc(header, entries)
  }

  def readFile(path: String): Toc = {
    val in = Files.newInputStream(Paths.get(path))
    try read(in) finally in.close()
  }

  // ------------------------------------------------------------- manifest

  /** Spark schema -> PostgreSQL column type for generated CREATE TABLE
    * DDL. Unmappable types (arrays, structs, maps) fall back to text —
    * their COPY rendering is a string anyway. */
  def pgType(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => "bigint"
      case IntegerType => "integer"
      case ShortType => "smallint"
      case ByteType => "smallint"
      case StringType => "text"
      case DoubleType => "double precision"
      case FloatType => "real"
      case BooleanType => "boolean"
      case d: DecimalType => s"numeric(${d.precision}, ${d.scale})"
      case DateType => "date"
      case _: TimestampType | _: TimestampNTZType => "timestamp"
      case BinaryType => "bytea"
      case _ => "text"
    }
  }

  /** Write large-object payloads as `blob_<oid>.dat[.gz]` files plus the
    * plain-text `blobs.toc` map (always recording the BARE `.dat` name,
    * exactly like pg_dump — verified against the real binary under both
    * compression settings). `los` must be a (lo_oid: long, data: binary)
    * frame — [[graft.sources.PgArchive.loadLargeObjects]]'s own shape,
    * so read and write sides compose. Streams through `toLocalIterator`:
    * one blob in driver memory at a time (the Row model holds a blob as
    * one value; the reference streams the same content in 1 MiB chunks —
    * `dumpers/large_object.go:35`). Returns the oids written. */
  def writeBlobFiles(los: org.apache.spark.sql.DataFrame, outDir: String,
                     algo: Int = 0): Seq[Long] = {
    Files.createDirectories(Paths.get(outDir))
    val it = los.select("lo_oid", "data").toLocalIterator()
    val oids = Seq.newBuilder[Long]
    val toc = new StringBuilder
    while (it.hasNext) {
      val r = it.next()
      val oid = r.getLong(0)
      val bytes = if (r.isNullAt(1)) Array.emptyByteArray
                  else r.getAs[Array[Byte]](1)
      val name = s"blob_$oid.dat"
      if (algo != 0) {
        val z = graft.sources.Compress.output(algo, Files.newOutputStream(
          Paths.get(outDir, name + graft.sources.Compress.extension(algo))))
        try z.write(bytes) finally z.close()
      } else Files.write(Paths.get(outDir, name), bytes)
      toc.append(oid).append(' ').append(name).append('\n')
      oids += oid
    }
    Files.write(Paths.get(outDir, "blobs.toc"),
      toc.toString.getBytes("UTF-8"))
    oids.result()
  }

  /** TOC entries for large objects, pg_dump-shaped (field values proved
    * against the real binary's output): per blob a pre-data `BLOB` entry
    * (tableOid 2613 = pg_largeobject_metadata, `lo_create`/`lo_unlink`
    * statements) optionally followed by its `ACL` entry (section NONE,
    * tag `LARGE OBJECT <oid>`, depends on the BLOB entry), plus one
    * data-section `BLOBS` entry (hadDumper=1, file `blobs.toc`, no
    * owner/namespace). Returns (pre-data entries, BLOBS data entry). */
  def blobTocEntries(oids: Seq[Long], acls: Map[Long, String],
                     firstId: Int, owner: Option[String]): (Seq[Entry], Entry) = {
    var id = firstId
    val pre = oids.flatMap { oid =>
      val blobId = id
      val blob = Entry(
        dumpId = blobId, hadDumper = 0, tableOid = 2613L, oid = oid,
        tag = Some(oid.toString), desc = Some("BLOB"),
        section = SectionPreData,
        defn = Some(s"SELECT pg_catalog.lo_create('$oid');\n"),
        dropStmt = Some(s"SELECT pg_catalog.lo_unlink('$oid');\n"),
        owner = owner)
      id += 1
      val acl = acls.get(oid).map { sql =>
        val e = Entry(
          dumpId = id, hadDumper = 0,
          tag = Some(s"LARGE OBJECT $oid"), desc = Some("ACL"),
          section = SectionNone,
          defn = Some(if (sql.endsWith("\n")) sql else sql + "\n"),
          owner = owner, dependencies = Seq(blobId))
        id += 1
        e
      }
      blob +: acl.toSeq
    }
    val blobs = Entry(
      dumpId = id, hadDumper = 1,
      tag = Some("BLOBS"), desc = Some("BLOBS"),
      section = SectionData, fileName = Some("blobs.toc"))
    (pre, blobs)
  }

  /** Write every table's `<dumpId>.dat` payload, tables concurrently:
    * per-table concurrency is the dump-side parallelism lever (the
    * reference's worker pool; same Future pool as Lifecycle.dump), and
    * each table's COPY-text encode is itself a distributed Spark job.
    * pg_dump convention: compressed payloads live at `<id>.dat.<ext>`
    * while the TOC records the bare `.dat` name; pg_restore (and
    * PgArchive) probe every suffix. */
  private def writeDataFiles(tables: Seq[(String, org.apache.spark.sql.DataFrame)],
                             outDir: String, dataIds: Map[String, Int],
                             algo: Int): Unit = {
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val ext = ".dat" + graft.sources.Compress.extension(algo)
    tables.map { case (table, df) =>
      Future(graft.sources.CopyText.writeDatFile(
        df, s"$outDir/${dataIds(table)}$ext", algo))
    }.foreach(Await.result(_, Duration.Inf))
  }

  /** The schema TOC a Spark-only archive implies: pg_dump's DATABASE
    * entry (real pg_dump ALWAYS stores it, with and without -C —
    * restore-time --create/-C decides whether to execute it) plus, when
    * `includeSchema`, one pre-data TABLE entry per table with CREATE
    * TABLE DDL generated from the Spark schema (bare tables: no keys,
    * defaults or sequences). TABLE entries take ids 1..n in `tables`
    * order, DATABASE n+1; `deps` (child -> parents) become TABLE->TABLE
    * dependency ids. The v1.14 header is the PostgreSQL 15 shape.
    * [[dumpArchiveMerged]] splices the data into it, exactly as into a
    * real `pg_dump --schema-only` capture. */
  def generatedSchemaToc(tables: Seq[(String, org.apache.spark.sql.DataFrame)],
                         dbName: String,
                         namespace: String = "public", owner: String = "graft",
                         deps: Map[String, Seq[String]] = Map.empty,
                         includeSchema: Boolean): Toc = {
    // pg_dump-style identifier quoting: simple lower-case names pass
    // through, everything else double-quotes — mixed-case Spark column
    // names survive the generated DDL
    def qi(n: String) = graft.sources.PgSource.quoteIdent(n)
    val ids = tables.map(_._1).zipWithIndex.map { case (t, i) => t -> (i + 1) }.toMap
    val tableEntries = if (!includeSchema) Nil else tables.map { case (table, df) =>
      val cols = df.schema.fields
        .map(f => s"    ${qi(f.name)} ${pgType(f.dataType)}").mkString(",\n")
      Entry(
        dumpId = ids(table), hadDumper = 0, oid = ids(table).toLong,
        tag = Some(table), desc = Some("TABLE"),
        section = SectionPreData,
        defn = Some(s"CREATE TABLE ${qi(namespace)}.${qi(table)} (\n$cols\n);\n"),
        dropStmt = Some(s"DROP TABLE ${qi(namespace)}.${qi(table)};\n"),
        namespace = Some(namespace), tablespace = Some(""),
        tableam = Some("heap"), relkind = 'r'.toByte,
        owner = Some(owner),
        dependencies = deps.getOrElse(table, Nil).flatMap(ids.get))
    }
    val dbId = tableEntries.size + 1
    val dbEntry = Entry(
      dumpId = dbId, hadDumper = 0, oid = dbId.toLong,
      tag = Some(dbName), desc = Some("DATABASE"), section = SectionPreData,
      defn = Some(s"CREATE DATABASE ${qi(dbName)};\n"),
      dropStmt = Some(s"DROP DATABASE ${qi(dbName)};\n"),
      owner = Some(owner))
    Toc(Header(1, 14, 0, dbName = Some(dbName),
      remoteVersion = Some("15.0"), dumpVersion = Some("15.0")),
      dbEntry +: tableEntries)
  }

  /** Dump DataFrames as a COMPLETE pg_restore-loadable directory archive
    * over the schema TOC [[generatedSchemaToc]] builds: with
    * `includeSchema`, `pg_restore -d <db> <outDir>` alone creates the
    * tables and loads the data — the reference's masked-dump ->
    * pg_restore workflow, producible straight from Spark; data-only
    * archives restore with `-a` into pre-created tables. Entries,
    * payloads and header come from [[dumpArchiveMerged]]. */
  def dumpArchive(tables: Seq[(String, org.apache.spark.sql.DataFrame)],
                  outDir: String, dbName: String,
                  namespace: String = "public", owner: String = "graft",
                  deps: Map[String, Seq[String]] = Map.empty,
                  includeSchema: Boolean = false,
                  sequences: Map[String, Long] = Map.empty,
                  compress: String = "none",
                  largeObjects: Option[org.apache.spark.sql.DataFrame] = None,
                  loAcls: Map[Long, String] = Map.empty,
                  copyTargets: Map[String, String] = Map.empty): Toc =
    dumpArchiveMerged(tables, outDir,
      generatedSchemaToc(tables, dbName, namespace, owner, deps, includeSchema),
      deps, sequences, namespace, compress, largeObjects, loAcls, copyTargets)

  /** The one archive writer: splice Spark-masked table data into a
    * schema TOC — a REAL `pg_dump --schema-only -Fd` capture (the
    * reference's own dump shape: `internal/db/postgres/cmd/dump.go:
    * 212-251` shells out for the schema sections, `dump.go:551-590`
    * merges the TOC) or [[generatedSchemaToc]]. The schema entries are
    * kept VERBATIM (full-fidelity DDL — primary keys, indexes, FK
    * constraints, defaults, sequences, ACLs, comments, in pg_dump's own
    * order); restoring a capture-based archive into an EMPTY database
    * reproduces the source's complete schema with masked data.
    *
    * Spliced in before the first post-data entry, with ids allocated
    * past the schema TOC's max: large-object BLOB/ACL entries, one
    * TABLE DATA entry per table (explicit column list in the COPY
    * statement, depending on its table's TABLE entry), SEQUENCE SET
    * entries replaying `sequences`, and the BLOBS entry. Payloads are
    * one `<dumpId>.dat` COPY-text file per table
    * (`CopyText.writeDatFile`) plus the blob files.
    *
    * `tables` must already be in restore (parents-first) order; `deps`
    * maps child table -> parent tables and adds data->data dependency
    * ids on top of the data->DDL ones (what `pg_restore -j` reads).
    * Namespace and owner come from each table's or sequence's own
    * schema entry, falling back to `namespace` and to the DATABASE
    * entry's owner. `compress` is a [[graft.sources.Compress]] spec
    * ("none"/"gzip"/"lz4"/"zstd"); lz4/zstd bump a pre-1.15 header to
    * 1.15, the first version that can record them. */
  def dumpArchiveMerged(tables: Seq[(String, org.apache.spark.sql.DataFrame)],
                        outDir: String, schemaToc: Toc,
                        deps: Map[String, Seq[String]] = Map.empty,
                        sequences: Map[String, Long] = Map.empty,
                        namespace: String = "public",
                        compress: String = "none",
                        largeObjects: Option[org.apache.spark.sql.DataFrame] = None,
                        loAcls: Map[Long, String] = Map.empty,
                        copyTargets: Map[String, String] = Map.empty): Toc = {
    val algo = graft.sources.Compress.parse(compress)
    Files.createDirectories(Paths.get(outDir))
    def qi(n: String) = graft.sources.PgSource.quoteIdent(n)
    def ddlByTag(desc: String): Map[String, Entry] = schemaToc.entries
      .filter(_.desc.contains(desc)).flatMap(e => e.tag.map(_ -> e)).toMap
    val tableDdl = ddlByTag("TABLE")
    val seqDdl = ddlByTag("SEQUENCE")
    val dbOwner = schemaToc.entries.find(_.desc.contains("DATABASE")).flatMap(_.owner)
    val maxId = schemaToc.entries.map(_.dumpId).maxOption.getOrElse(0)
    val dataIds = tables.map(_._1).zipWithIndex.map { case (t, i) => t -> (maxId + i + 1) }.toMap
    writeDataFiles(tables, outDir, dataIds, algo)
    val dataEntries = tables.map { case (table, df) =>
      val id = dataIds(table)
      val ddl = tableDdl.get(table)
      val ns = ddl.flatMap(_.namespace).getOrElse(namespace)
      Entry(
        dumpId = id, hadDumper = 1,
        tableOid = ddl.map(_.oid).getOrElse(0L), oid = id.toLong,
        tag = Some(table), desc = Some("TABLE DATA"),
        section = SectionData,
        // --load-via-partition-root: the COPY targets the routing root
        // so the server re-partitions rows on restore (native pg_dump
        // semantics; reference entries/table.go RootPt*)
        copyStmt = Some(s"COPY ${qi(ns)}.${qi(copyTargets.getOrElse(table, table))} " +
          s"(${df.columns.map(qi).mkString(", ")}) FROM stdin;\n"),
        namespace = Some(ns), relkind = 'r'.toByte,
        owner = ddl.flatMap(_.owner).orElse(dbOwner),
        dependencies =
          ddl.map(_.dumpId).toSeq ++
            deps.getOrElse(table, Nil).flatMap(dataIds.get),
        fileName = Some(s"$id.dat"))
    }
    // SEQUENCE SET entries replay sequence positions on the target
    // (`setval`, the reference's sequence restore —
    // `internal/db/postgres/dumpers/sequence.go`): executable statements,
    // no data file
    val seqBase = maxId + tables.size
    val seqEntries = sequences.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((seq, value), i) =>
        val ddl = seqDdl.get(seq)
        val ns = ddl.flatMap(_.namespace).getOrElse(namespace)
        Entry(
          dumpId = seqBase + i + 1, hadDumper = 0, oid = (seqBase + i + 1).toLong,
          tag = Some(seq), desc = Some("SEQUENCE SET"),
          section = SectionData,
          defn = Some(s"SELECT pg_catalog.setval('${qi(ns)}.${qi(seq)}', ${value}, true);\n"),
          namespace = Some(ns),
          owner = ddl.flatMap(_.owner).orElse(dbOwner),
          dependencies = ddl.map(_.dumpId).toSeq)
    }
    // large objects: blob payload files + pg_dump-shaped BLOB/ACL/BLOBS
    // entries (write side of PgArchive.loadLargeObjects)
    val (blobPre, blobData) = largeObjects match {
      case Some(los) =>
        val oids = writeBlobFiles(los, outDir, algo)
        val (preE, dataE) = blobTocEntries(oids, loAcls,
          firstId = seqBase + sequences.size + 1, owner = dbOwner)
        (preE, Seq(dataE))
      case None => (Nil, Nil)
    }
    // splice data before the first post-data entry so single-session
    // pg_restore sees pre-data -> data -> post-data in TOC order (the
    // order pg_dump itself writes); attached entries (COMMENT/ACL) keep
    // their position relative to their objects
    val splitAt = schemaToc.entries.indexWhere(_.section == SectionPostData)
    val (pre, post) =
      if (splitAt < 0) (schemaToc.entries, Seq.empty[Entry])
      else schemaToc.entries.splitAt(splitAt)
    // v1.14 (the PostgreSQL 15 shape) stores a gzip LEVEL int (pg_dump's
    // default 6), enough for none/gzip; lz4/zstd exist only as a v1.15+
    // algorithm byte, so those archives write the 1.15 header (entry
    // layout is unchanged between 1.14 and 1.15 — the gates in between
    // are header-only)
    val bumped =
      if (algo >= 2 && schemaToc.header.version < V1_15)
        schemaToc.header.copy(versionMajor = 1, versionMinor = 15, versionRev = 0)
      else schemaToc.header
    val header = bumped.copy(compression = algo match {
      case 0 => Compression()
      case 1 => Compression(algorithm = 1, level = 6)
      case a => Compression(algorithm = a)
    })
    val toc = Toc(header,
      pre ++ blobPre ++ dataEntries ++ seqEntries ++ blobData ++ post)
    writeFile(toc, s"$outDir/toc.dat")
    toc
  }

  /** Render the engine's [[Manifest]] as a pg_restore-compatible TOC:
    * one TABLE DATA entry per dumped table, dependency ids preserved,
    * data file = the manifest path's basename. `pg_restore -l` then
    * lists our archives; pair with COPY-text data files
    * (`sources/CopyText`) for the full directory-archive shape. */
  def fromManifest(m: Manifest, dbName: String,
                   namespace: String = "public",
                   owner: String = "graft",
                   versionMinor: Int = 14,
                   crtm: Crtm = Crtm(0, 0, 0, 1, 0, 100, 0)): Toc = {
    val header = Header(1, versionMinor, 0, dbName = Some(dbName),
      remoteVersion = Some("15.0"), dumpVersion = Some("15.0"), crtm = crtm)
    val entries = m.entries.map { e =>
      // pg_dump-faithful TABLE DATA shape: defn/drop/tablespace/tableam
      // stay NULL (NULL = "no statement"; "" would make pg_restore emit
      // broken SETs — see write())
      Entry(
        dumpId = e.dumpId, hadDumper = 1,
        oid = e.dumpId.toLong, // synthetic stable oid; engine has no catalog
        tag = Some(e.table), desc = Some("TABLE DATA"),
        section = SectionData,
        copyStmt = Some(s"COPY ${graft.sources.PgSource.quoteIdent(namespace)}." +
          s"${graft.sources.PgSource.quoteIdent(e.table)} FROM stdin;\n"),
        namespace = Some(namespace), relkind = 'r'.toByte,
        owner = Some(owner), dependencies = e.dependsOn,
        fileName = Some(new java.io.File(e.path).getName))
    }
    Toc(header, entries)
  }
}
