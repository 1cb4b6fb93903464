package graft.sources

import graft.pipeline.PgToc

/** `pg_restore` re-implemented over the stock `psql` client: replay a
  * PostgreSQL directory archive (pg_dump -Fd, the reference's output, or
  * [[graft.pipeline.PgToc.dumpArchive]]/`dumpArchiveMerged` output) into
  * a live database WITHOUT the native pg_restore binary — the Spark-side
  * twin of the reference's restore command
  * (`internal/db/postgres/cmd/restore.go`; per-table COPY streaming
  * `restorers/table.go:54-160`, integrity controls `restorers/base.go`,
  * blob restore `restorers/blobs.go:52`).
  *
  * Entries replay in TOC order (pg_dump writes pre-data -> data ->
  * post-data; parents-first inside data — the same order the native
  * single-session pg_restore uses). TABLE DATA payloads stream straight
  * from the archive file into `COPY ... FROM STDIN` — no Spark pass, no
  * re-encode; gzipped payloads decompress inline on the stream. Within
  * the data section, tables load through a pool of long-lived psql
  * sessions in dependency WAVES (the reference's task queue,
  * `restore.go:755-831`, one connection per worker): a table
  * starts only after every data entry it depends on has finished, and
  * independent tables load concurrently.
  *
  * Scale note: one COPY stream per table is the protocol's shape (same
  * as the dump side); `jobs` is the per-table concurrency lever, exactly
  * like `pg_restore -j`.
  */
object PgRestore {

  /** One user-defined restore script (reference `pgrestore/script.go:31`):
    * exactly one of `query` (SQL text), `queryFile` (path to SQL), or
    * `command` (argv exec'd on the restore host). Scripts attach to a
    * section (`pre-data` / `data` / `post-data`) and fire `before` or
    * `after` that section restores — the reference's
    * `RunScripts(section, when)` hook points (`cmd/restore.go:180-222`,
    * called at `:381,:446,:556,:578` and the post-data pair). */
  case class Script(name: String, when: String,
                    query: Option[String] = None,
                    queryFile: Option[String] = None,
                    command: Seq[String] = Nil)

  val ScriptSections: Seq[String] = Seq("pre-data", "data", "post-data")

  /** Parse the reference's `restore.scripts` config block (also accepted
    * at the top level as `scripts`):
    * ```json
    * {"restore": {"scripts": {"pre-data": [
    *    {"name": "mark", "when": "before", "query": "CREATE TABLE ..."},
    *    {"name": "seed", "when": "after", "query_file": "/path/x.sql"},
    *    {"name": "notify", "when": "after", "command": ["touch", "/tmp/f"]}
    * ]}}}
    * ``` */
  def scriptsFromJson(json: String): Map[String, Seq[Script]] = {
    import org.json4s._
    implicit val fmt: Formats = DefaultFormats
    val root = org.json4s.jackson.JsonMethods.parse(json)
    val block = (root \ "restore" \ "scripts") match {
      case JNothing => root \ "scripts"
      case b => b
    }
    block match {
      case JObject(fields) => fields.map { case (section, v) =>
        require(ScriptSections.contains(section),
          s"""pg-restore scripts: unknown "section" value: $section""")
        val ss = v match {
          case JArray(items) => items.map { s =>
            val sc = Script(
              name = (s \ "name").extractOpt[String].getOrElse("unnamed"),
              when = (s \ "when").extractOpt[String].getOrElse("before"),
              query = (s \ "query").extractOpt[String].filter(_.nonEmpty),
              queryFile = (s \ "query_file").extractOpt[String].filter(_.nonEmpty),
              command = (s \ "command").extractOpt[Seq[String]].getOrElse(Nil))
            require(Seq("before", "after").contains(sc.when),
              s"pg-restore scripts: when must be before|after, got ${sc.when}")
            require(sc.query.nonEmpty || sc.queryFile.nonEmpty || sc.command.nonEmpty,
              s"pg-restore scripts: ${sc.name}: nothing to execute")
            sc
          }
          case other => throw new IllegalArgumentException(
            s"pg-restore scripts: section $section must be an array, got $other")
        }
        section -> ss
      }.toMap
      case JNothing => Map.empty
      case other => throw new IllegalArgumentException(
        s"pg-restore scripts: expected an object of sections, got $other")
    }
  }

  /** Execute every script registered for (`section`, `when`), in config
    * order, failing loudly on the first error (the reference aborts the
    * restore when a script fails). Returns one human line per script. */
  private def runScripts(psqlArgs: Seq[String],
                         scripts: Map[String, Seq[Script]],
                         section: String, when: String): Seq[String] =
    scripts.getOrElse(section, Nil).filter(_.when == when).map { s =>
      val (rc, out) = s match {
        case Script(_, _, Some(q), _, _) => exec(psqlArgs, q)
        case Script(_, _, _, Some(f), _) =>
          exec(psqlArgs, java.nio.file.Files.readString(java.nio.file.Paths.get(f)))
        case Script(_, _, _, _, cmd) =>
          val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
          p.getOutputStream.close()
          val o = new String(p.getInputStream.readAllBytes(), "UTF-8")
          (p.waitFor(), o)
      }
      require(rc == 0,
        s"""pg-restore: cannot apply script "${s.name}" $when $section section: $out""")
      s"script ${s.name} ($when $section)"
    }

  /** Idle-activity watchdog — the Pipe operator's discipline
    * (`ops/Pipe.scala:135-155`): arms only when `watchdogSec > 0`; kills
    * the child after that many seconds with NO bytes moving in either
    * direction, but ONLY while `feeding` is still true. Byte-silence is
    * evidence of a hang only where bytes are SUPPOSED to move — the COPY
    * feed; once the payload is fully written the server-side commit tail
    * is legitimately silent, so the feeder drops the flag and the
    * watchdog stands down (silent statements are covered by the
    * server-side `lock_timeout` guard instead — see [[Session]]).
    * Returns the tripped flag. */
  private def armWatchdog(p: Process,
                          lastActivity: java.util.concurrent.atomic.AtomicLong,
                          watchdogSec: Int,
                          feeding: java.util.concurrent.atomic.AtomicBoolean)
      : java.util.concurrent.atomic.AtomicBoolean = {
    val tripped = new java.util.concurrent.atomic.AtomicBoolean(false)
    if (watchdogSec > 0) {
      val timeoutNanos = watchdogSec.toLong * 1000000000L
      val t = new Thread(() => {
        var watching = true
        while (watching && p.isAlive && feeding.get()) {
          val idle = System.nanoTime() - lastActivity.get()
          if (idle >= timeoutNanos) {
            // re-check the flag at the kill decision: a feed that
            // completed during the final sleep must not be killed
            if (feeding.get()) { tripped.set(true); p.destroyForcibly() }
            watching = false
          } else watching = !p.waitFor(
            math.max(50L, (timeoutNanos - idle) / 1000000L),
            java.util.concurrent.TimeUnit.MILLISECONDS)
        }
      }, "graft-pgrestore-watchdog")
      t.setDaemon(true); t.start()
    }
    tripped
  }

  /** One SQL batch in its own psql process, for the calls that run
    * outside a restore's sessions: `--create`'s maintenance-database
    * statement and the script hooks. Returns (rc, combined out). */
  private def exec(psqlArgs: Seq[String], sql: String): (Int, String) = {
    val cmd = Seq("/usr/bin/psql", "-X", "-q", "-v", "ON_ERROR_STOP=1") ++
      psqlArgs ++ Seq("-c", sql)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    p.getOutputStream.close()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    (p.waitFor(), out)
  }

  /** Restore steps as psql script text, shared by the `-f` script
    * ([[toScript]]) and the direct restore's sessions ([[Session]]).
    * Like native it tracks ONE session's tablespace and access method:
    * the `SET default_tablespace` / `SET default_table_access_method`
    * synthesized from an entry's TOC fields (pg_backup_archiver.c
    * `_selectTablespace` / `_printTableAccessMethod`) is written only on
    * CHANGE, including the initial `SET default_tablespace = '';` real
    * pg_dump scripts open tables with; `--no-tablespaces` /
    * `--no-table-access-method` suppress exactly that synthesis. `feed`
    * copies a decompressed COPY payload to `out`. `rendered` counts
    * statements and COPY blocks, not SET lines. */
  private final class ScriptOut(o: Options, out: java.io.OutputStream,
      feed: (java.io.InputStream, java.io.OutputStream) => Unit =
        (in, os) => { in.transferTo(os); () }) {
    private val w = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(out, "UTF-8"))
    private var currTs: String = null
    private var currAm: String = null
    var rendered = 0

    def line(s: String): Unit = { w.write(s); w.write("\n") }

    def stmt(sql: String): Unit = {
      val s = sql.trim
      if (s.nonEmpty) { line(if (s.endsWith(";")) s else s + ";"); rendered += 1 }
    }

    def step(s: Step): Unit = { definition(s); s.owner.foreach(stmt) }

    /** A step without its owner statement: the SETs and the body. */
    def definition(s: Step): Unit = {
      if (!o.noTablespaces) s.entry.tablespace.filter(_ != currTs).foreach { want =>
        line(if (want.isEmpty) "SET default_tablespace = '';"
             else s"SET default_tablespace = ${PgSource.quoteIdent(want)};")
        currTs = want
      }
      if (!o.noTableAccessMethod)
        s.entry.tableam.filter(am => am.nonEmpty && am != currAm).foreach { want =>
          line(s"SET default_table_access_method = ${PgSource.quoteIdent(want)};")
          currAm = want
        }
      s.body.foreach(stmt)
    }

    /** A TABLE DATA entry: `COPY ... FROM stdin;`, then its payload,
      * whose own `\.` terminator ends the COPY. */
    def copy(dir: String, e: PgToc.Entry): Unit = {
      val (copySql, f) = payload(dir, e)
      val in = Compress.input(Compress.algoOfFile(f.getName),
        new java.io.BufferedInputStream(new java.io.FileInputStream(f)))
      try { line(copySql + ";"); w.flush(); feed(in, out) } finally in.close()
      rendered += 1
    }

    /** One large object: (re)create the oid when `create`, then stream
      * its payload through chunked `lo_put` calls — a multi-GB blob
      * never lives in one statement. */
    def largeObject(oid: Long, f: java.io.File, create: Boolean): Unit = {
      if (create) line(s"SELECT pg_catalog.lo_create($oid);")
      val in = Compress.input(Compress.algoOfFile(f.getName),
        new java.io.BufferedInputStream(new java.io.FileInputStream(f)))
      try {
        val buf = new Array[Byte](256 * 1024)
        var off = 0L
        var n = in.read(buf)
        while (n > 0) {
          val hex = java.util.HexFormat.of().formatHex(buf, 0, n)
          line(s"SELECT pg_catalog.lo_put($oid, $off, '\\x$hex');")
          off += n
          n = in.read(buf)
        }
      } finally in.close()
    }

    def flush(): Unit = w.flush()
    def close(): Unit = w.close()
  }

  /** The large objects of a directory archive: each `blobs.toc` line's
    * oid and payload file. */
  private def blobFiles(dir: String): Seq[(Long, java.io.File)] = {
    val toc = new java.io.File(dir, "blobs.toc")
    if (!toc.exists()) Nil
    else java.nio.file.Files.readAllLines(toc.toPath).toArray(Array[String]())
      .toSeq.map(_.trim).filter(_.nonEmpty).map { line =>
        val Array(oidS, name) = line.split("\\s+", 2)
        oidS.toLong -> Compress.probeFile(dir, name.trim).getOrElse(
          throw new IllegalArgumentException(
            s"pg-restore: blob payload ${name.trim}(.gz/.lz4/.zst) missing"))
      }
  }

  /** One long-lived `psql -f -` session of a direct restore. Entries are
    * written to its stdin as [[ScriptOut]] text, each followed by an
    * `\echo` of the session's marker, and a drain thread reads its
    * merged stdout/stderr; query results go to /dev/null. psql runs with
    * ON_ERROR_STOP=1, so the entry whose marker never arrives is the one
    * that failed: psql printed its error and exited. It stays on in
    * continue mode too, where the next entry opens a fresh session —
    * with it off, a COPY that fails before entering copy mode (missing
    * table, lock timeout) makes psql run the payload rows as SQL.
    *
    * `opening` runs once, as the session starts: the watchdog's
    * `lock_timeout` and, under `-1`, the integrity SETs and BEGIN.
    *
    * `watchdogSec > 0` guards two ways. Statements are guarded
    * SERVER-SIDE by `SET lock_timeout`, not by a byte-idle kill: DDL
    * (post-data CREATE INDEX, ADD CONSTRAINT) is legitimately silent for
    * minutes while working, so client-side byte-silence is no evidence
    * of a hang. `lock_timeout` cancels exactly the hang-on-a-lock case,
    * the server reports it ("canceling statement due to lock timeout"),
    * and a healthy long build is never touched; it also cancels a COPY
    * blocked on a lock whose whole payload already fits in the OS pipe
    * buffer. The byte-idle [[armWatchdog]] is armed over each COPY feed,
    * the one window where silence means a stalled pipe.
    *
    * Deliberately NOT guarded, as native pg_restore: what the server
    * cannot time out and looks like work to the client (a network
    * partition, a commit waiting on a lost synchronous standby); set
    * `statement_timeout` / TCP keepalives on the conninfo for those. */
  private final class Session(psqlArgs: Seq[String], opening: Seq[String],
                              o: Options, watchdogSec: Int) {
    private val proc = new ProcessBuilder((Seq("/usr/bin/psql", "-X", "-q",
      "-v", "ON_ERROR_STOP=1", "-o", "/dev/null") ++ psqlArgs ++ Seq("-f", "-")): _*)
      .redirectErrorStream(true).start()
    private val mark = s"graft-restore-${java.util.UUID.randomUUID()}"
    private val lastActivity = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
    private var tripped = new java.util.concurrent.atomic.AtomicBoolean(false)
    // psql's output lines in arrival order; None once it has exited
    private val lines = new java.util.concurrent.LinkedBlockingQueue[Option[String]]()
    private val drain = new Thread(() => {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream, "UTF-8"))
      try Iterator.continually(r.readLine()).takeWhile(_ != null).foreach { l =>
        lastActivity.set(System.nanoTime()); lines.put(Some(l))
      } catch { case _: java.io.IOException => () }
      finally lines.put(None)
    }, "graft-pgrestore-drain")
    drain.setDaemon(true); drain.start()
    private val script = new ScriptOut(o,
      new java.io.BufferedOutputStream(proc.getOutputStream, 64 * 1024), feed)
    opening.foreach(script.line)
    var alive = true

    /** Stream one COPY payload, stamping the activity clock per chunk,
      * with the byte-idle watchdog armed until the last byte is out. The
      * payload's own `\.` line ends the COPY: one that ends without it
      * (a truncated file) throws, or psql would read the next entry as
      * rows and wait for more. */
    private def feed(in: java.io.InputStream, out: java.io.OutputStream): Unit = {
      val feeding = new java.util.concurrent.atomic.AtomicBoolean(true)
      lastActivity.set(System.nanoTime())
      tripped = armWatchdog(proc, lastActivity, watchdogSec, feeding)
      try {
        val buf = new Array[Byte](64 * 1024)
        var tail = "\n"
        var n = in.read(buf)
        while (n >= 0) {
          out.write(buf, 0, n); lastActivity.set(System.nanoTime())
          val k = math.min(n, 64)
          tail = (tail + new String(buf, n - k, k, "ISO-8859-1")).takeRight(64)
          n = in.read(buf)
        }
        if (!tail.replaceAll("[\r\n]+$", "").endsWith("\n\\."))
          throw new java.io.IOException("payload ends without \\.")
        out.flush()
      } finally feeding.set(false)
    }

    /** Write one entry and wait for its marker: None when it ran, else
      * all psql printed since the previous marker. Any failure while
      * writing (psql exited, an unreadable payload) kills psql, so a
      * half-fed COPY never commits; an I/O failure fails the entry, any
      * other is rethrown. */
    def run(write: ScriptOut => Unit): Option[String] = {
      val broken =
        try { write(script); script.line(s"\\echo $mark"); script.flush(); "" }
        catch { case e: Throwable =>
          proc.destroyForcibly()
          if (!e.isInstanceOf[java.io.IOException]) throw e
          s"[$e]"
        }
      val out = new StringBuilder
      var l = lines.take()
      while (l.exists(_ != mark)) { out.append(l.get).append('\n'); l = lines.take() }
      alive = l.nonEmpty
      if (alive) None
      else Some(out.toString + broken + (if (tripped.get())
        s" [watchdog: psql idle > ${watchdogSec}s — killed]" else ""))
    }

    /** End the session: psql exits at the end of its input. */
    def close(): Unit = {
      try script.close() catch { case _: java.io.IOException => () }
      proc.waitFor()
    }

    def rendered: Int = script.rendered
  }

  /** `pg_restore -l` analog: one restore-list line per TOC entry in the
    * archive's own format (`dumpId; tableOid oid DESC [namespace] tag
    * owner`). Edit the output — delete or `;`-comment lines, reorder —
    * and feed it back through [[parseRestoreList]] + `restore(useList)`
    * for selective restore, exactly the native workflow. */
  def listLines(dir: String): Seq[String] = {
    val toc = PgToc.readFile(s"$dir/toc.dat")
    Seq(";",
      s"; Archive ${toc.header.dbName.fold("")(d => s"of database $d ")}" +
        s"(format directory, version ${toc.header.versionMajor}." +
        s"${toc.header.versionMinor})",
      "; Selected TOC Entries:",
      ";") ++
      toc.entries.map { e =>
        val ns = e.namespace.filter(_.nonEmpty).fold("")(_ + " ")
        s"${e.dumpId}; ${e.tableOid} ${e.oid} ${e.desc.getOrElse("")} " +
          s"$ns${e.tag.getOrElse("")} ${e.owner.getOrElse("")}"
      }
  }

  /** Parse a pg_restore-format list file: each active line starts with a
    * dumpId followed by `;` (reference `cmd/restore.go:909-949` uses the
    * same `^\s*(\d+)\s*;` shape); comment lines (leading `;`) and any
    * other junk are skipped — commenting a line out IS the disable
    * gesture, as with the native tool. Returns ids in file order. */
  def parseRestoreList(text: String): Seq[Int] = {
    val pat = "^\\s*(\\d+)\\s*;".r
    text.linesIterator
      .flatMap(l => pat.findFirstMatchIn(l).map(_.group(1).toInt)).toSeq
  }

  /** The selection and rendering flags of native pg_restore, shared by
    * every entry point: the direct [[restore]], the `-f` [[toScript]] and
    * the `-l` [[listSelectedIds]] read one value through one [[plan]], so
    * the script and the listing show exactly what the direct restore
    * runs (native pg_restore -f is the same restore with SQL going to a
    * file instead of a server).
    *
    *  - `dataOnly` (`-a`) / `schemaOnly` (`-s`) / `section`
    *    (`--section=pre-data|data|post-data`): which sections run; `-s`
    *    is the pre-data + post-data pair, and `-s` with `-a` is refused.
    *  - `clean` (`-c`): replay each selected entry's dropStmt in reverse
    *    TOC order before recreating; `ifExists` (`--if-exists`) rewrites
    *    those drops to tolerate absence.
    *  - `create` (`-C`): execute the archive's DATABASE entry against the
    *    maintenance database derived from `psqlArgs` (dbname swapped to
    *    `postgres`), then restore into the target as given.
    *  - `singleTransaction` (`-1`): the whole restore in ONE session and
    *    ONE transaction (BEGIN/COMMIT around the replay); refused with
    *    `create` — CREATE DATABASE is not transactional.
    *  - `noOwner` (`-O`) / `noPrivileges` (`-x`): no synthesized or
    *    stored `ALTER ... OWNER TO`; no ACL entries.
    *  - `useList` (`-L`, [[parseRestoreList]] output): only the listed
    *    entries replay, list order kept within each phase; duplicate ids
    *    are deduped (first occurrence wins) and an id missing from the
    *    archive fails loudly. `withDeps` additionally pulls each listed
    *    entry's transitive dependency closure back in, in TOC order —
    *    the [[graft.pipeline.Manifest.filtered]] discipline for users who
    *    list only the tables they want; the native tool makes the user
    *    list everything, so the default matches it.
    *  - `tables`/`indexes`/`functions`/`triggers` (`-t`/`-I`/`-P`/`-T`),
    *    `schemas`/`excludeSchemas` (`-n`/`-N`): named selection;
    *    `strictNames` makes each name that matches nothing an error
    *    instead of an empty selection.
    *  - `noBlobs`/`noComments`/`noPublications`/`noSubscriptions`/
    *    `noSecurityLabels`: drop those entries.
    *  - `noTablespaces`/`noTableAccessMethod`: no synthesized
    *    `SET default_tablespace` / `SET default_table_access_method`. */
  case class Options(dataOnly: Boolean = false,
                     schemaOnly: Boolean = false,
                     section: Option[String] = None,
                     clean: Boolean = false,
                     ifExists: Boolean = false,
                     create: Boolean = false,
                     singleTransaction: Boolean = false,
                     noOwner: Boolean = false,
                     noPrivileges: Boolean = false,
                     useList: Option[Seq[Int]] = None,
                     withDeps: Boolean = false,
                     tables: Seq[String] = Nil,
                     indexes: Seq[String] = Nil,
                     functions: Seq[String] = Nil,
                     triggers: Seq[String] = Nil,
                     schemas: Seq[String] = Nil,
                     excludeSchemas: Seq[String] = Nil,
                     strictNames: Boolean = false,
                     noBlobs: Boolean = false,
                     noComments: Boolean = false,
                     noPublications: Boolean = false,
                     noSubscriptions: Boolean = false,
                     noSecurityLabels: Boolean = false,
                     noTablespaces: Boolean = false,
                     noTableAccessMethod: Boolean = false)

  /** One entry's statements as native pg_restore issues them: the
    * stored definition (`-O` strips any `ALTER ... OWNER TO` line it
    * carries) and the owner statement synthesized from the TOC's OWNER
    * field (absent under `-O`, or when the definition is empty). */
  private case class Step(entry: PgToc.Entry, body: Option[String],
                          owner: Option[String])

  /** What a restore under one [[Options]] value does, phase by phase, in
    * execution order: the DATABASE entry for `-C`, the `-c` drops, then
    * pre-data steps, TABLE DATA loads, the other data-section steps
    * (SEQUENCE SET, BLOBS), and post-data steps. `toc` is the whole
    * archive, in file order. */
  private case class Plan(toc: PgToc.Toc,
                          database: Option[PgToc.Entry],
                          drops: Seq[(PgToc.Entry, String)],
                          pre: Seq[Step], loads: Seq[PgToc.Entry],
                          data: Seq[Step], post: Seq[Step],
                          runPre: Boolean, runData: Boolean, runPost: Boolean) {
    def blobs: Boolean = data.exists(_.entry.desc.contains("BLOBS"))

    /** `-C`: the DATABASE entry and its CREATE DATABASE statement. */
    def createDatabase: (PgToc.Entry, String) = {
      val e = database.getOrElse(throw new IllegalArgumentException(
        "pg-restore: --create needs a DATABASE entry in the archive"))
      (e, e.defn.filter(_.trim.nonEmpty).getOrElse(
        throw new IllegalArgumentException(
          "pg-restore: DATABASE entry carries no CREATE DATABASE statement")))
    }
  }

  /** Ownable descs: native synthesizes `ALTER <desc> <name> OWNER TO`. */
  private val Ownable = Set("TABLE", "SEQUENCE", "VIEW", "MATERIALIZED VIEW",
    "FOREIGN TABLE", "SCHEMA")

  /** Read the TOC once, check `o`, select entries and give each its
    * phase. Every entry runs in the phase of its section, where a
    * SECTION_NONE entry (COMMENT, ACL, SECURITY LABEL) takes the section
    * of the entry before it in file order — pg_backup_archiver's
    * curSection rule, so a COMMENT ON INDEX runs in post-data after its
    * index. Entries keep the selection's order (list order under `-L`)
    * within a phase. DATABASE and DATABASE PROPERTIES follow `-C` alone,
    * before any section gate (native `_tocEntryRequired`). */
  private def plan(dir: String, o: Options): Plan = {
    o.section.foreach(s => require(ScriptSections.contains(s),
      s"pg-restore: --section must be pre-data|data|post-data, got $s"))
    require(!(o.schemaOnly && o.dataOnly),
      "pg-restore: --schema-only and --data-only are mutually exclusive")
    require(!(o.create && o.singleTransaction),
      "pg-restore: --create cannot run inside --single-transaction " +
        "(CREATE DATABASE is not transactional)")
    val runPre = o.section.forall(_ == "pre-data") && !o.dataOnly
    val runData = o.section.forall(_ == "data") && !o.schemaOnly
    val runPost = o.section.forall(_ == "post-data") && !o.dataOnly
    val toc = PgToc.readFile(s"$dir/toc.dat")
    val selected = selectEntries(toc, o).entries
    val sectionOf: Map[Int, Int] = {
      var cur = PgToc.SectionPreData
      toc.entries.map { e =>
        val s =
          if (toc.header.version >= PgToc.V1_11) e.section
          else legacySection(e.desc.getOrElse(""))
        if (s != PgToc.SectionNone) cur = s
        e.dumpId -> cur
      }.toMap
    }
    def phase(e: PgToc.Entry): Option[Int] = {
      val desc = e.desc.getOrElse("")
      if (replaySkip(desc, o.create)) None
      else if (desc == "DATABASE PROPERTIES") Some(PgToc.SectionPreData)
      else Some(sectionOf(e.dumpId)).filter {
        case PgToc.SectionData => runData
        case PgToc.SectionPostData => runPost
        case _ => runPre
      }
    }
    val qi = PgSource.quoteIdent _
    def step(e: PgToc.Entry): Step = {
      // archives that carry explicit ALTER OWNER lines in defn (our
      // merged shapes never do; belt for foreign producers) follow -O
      val body = e.defn.filter(_.trim.nonEmpty).map(raw =>
        if (!o.noOwner) raw
        else raw.linesIterator
          .filterNot(_.matches("""ALTER .* OWNER TO .*;\s*""")).mkString("\n"))
        .filter(_.trim.nonEmpty)
      // ownership lives in the TOC's OWNER FIELD (verified against real
      // pg_dump 15 toc.dat): native pg_restore SYNTHESIZES the statement
      // from it at restore time, and -O suppresses exactly that synthesis
      // (the restore then runs as the connecting user)
      val owner = if (o.noOwner || body.isEmpty) None else for {
        d <- e.desc.filter(Ownable)
        who <- e.owner.filter(_.nonEmpty); t <- e.tag.filter(_.nonEmpty)
      } yield {
        val qn = e.namespace.filter(_.nonEmpty) match {
          case Some(ns) if d != "SCHEMA" => s"${qi(ns)}.${qi(t)}"
          case _ => qi(t)
        }
        s"ALTER $d $qn OWNER TO ${qi(who)};"
      }
      Step(e, body, owner)
    }
    val phased = selected.flatMap(e => phase(e).map(_ -> e))
    def steps(s: Int) = phased.collect { case (`s`, e) => e }
    val (loads, dataRest) = steps(PgToc.SectionData)
      .partition(_.desc.contains("TABLE DATA"))
    // -c: drop selected objects in reverse TOC order before recreating.
    // Session-level entries (DATABASE, ENCODING, ...) are skipped in
    // replay, so their drops are skipped too — native -c never drops the
    // target database unless -C re-creates it via maintenance
    val drops =
      if (!o.clean || !runPre) Nil
      else selected.reverse
        .filterNot(_.desc.exists(d => replaySkip(d, create = false)))
        .flatMap(e => e.dropStmt.map(_.trim).filter(_.nonEmpty).map(raw =>
          e -> (if (o.ifExists) injectIfExists(raw) else raw)))
    Plan(toc,
      database = if (o.create) toc.entries.find(_.desc.contains("DATABASE")) else None,
      drops = drops,
      pre = steps(PgToc.SectionPreData).map(step), loads = loads,
      data = dataRest.map(step), post = steps(PgToc.SectionPostData).map(step),
      runPre = runPre, runData = runData, runPost = runPost)
  }

  /** Section of an entry in a pre-1.11 archive, which records none:
    * pg_backup_archiver ReadToc's rules for pre-8.4 archives. */
  private def legacySection(desc: String): Int = desc match {
    case "COMMENT" | "ACL" | "ACL LANGUAGE" => PgToc.SectionNone
    case "TABLE DATA" | "BLOBS" | "BLOB COMMENTS" => PgToc.SectionData
    case "CONSTRAINT" | "CHECK CONSTRAINT" | "FK CONSTRAINT" | "INDEX" |
         "RULE" | "TRIGGER" => PgToc.SectionPostData
    case _ => PgToc.SectionPreData
  }

  /** A TABLE DATA entry's COPY statement and payload file. Structural
    * archive corruption always throws, on every path — a missing payload
    * is not a per-table data error the server reported, and a script or
    * single-transaction restore without it would load an empty table. */
  private def payload(dir: String, e: PgToc.Entry): (String, java.io.File) = {
    val base = e.fileName.filter(_.nonEmpty).getOrElse(
      throw new IllegalArgumentException(
        s"pg-restore: TABLE DATA ${e.tag.getOrElse("?")} has no data file"))
    val f = Compress.probeFile(dir, base).getOrElse(
      throw new IllegalArgumentException(
        s"pg-restore: missing payload $base(.gz/.lz4/.zst)"))
    val copySql = e.copyStmt.map(_.trim.stripSuffix(";")).getOrElse(
      throw new IllegalArgumentException(
        s"pg-restore: TABLE DATA ${e.tag.getOrElse("?")} has no COPY statement"))
    (copySql, f)
  }

  /** Replay the archive at `dir` into the database `psqlArgs` points at,
    * under the selection `opts` (see [[Options]]). Returns one human line
    * per restored entry; under `-1`, the one line
    * `single transaction: N entries applied`, N counted as [[toScript]].
    *
    * Execution phases pre-data → data waves → SEQUENCE SET/blobs →
    * post-data, so a `-L` list that interleaves sections replays
    * section-phased, as native parallel mode does; within the data
    * section, listed tables keep list order subject to dependency waves.
    *
    * Everything replays through long-lived psql [[Session]]s, like the
    * native tool's one connection plus one per `-j` worker: the drops,
    * every statement step and the blobs run on session 0, each entry
    * rendered by the same [[ScriptOut]] as the `-f` script; a wave's
    * COPYs spread over the pool, and the next wave starts once every
    * table of this one has finished. `-1` is session 0 wrapped in
    * BEGIN/COMMIT. Only `--create`'s maintenance statement and the
    * script hooks run in one-shot psql processes of their own.
    *
    * Executor-only flags:
    *  - `jobs`: the session pool size — per-table COPY concurrency, like
    *    `pg_restore -j`. Sessions open on first use.
    *  - `scripts`: user hooks before/after each section that runs.
    *  - `restoreInOrder`: load tables strictly sequentially in TOC/list
    *    order instead of in dependency waves.
    *  - `exitOnError` (`-e`): abort on the first failed entry, `-c`
    *    drops included (the API default). The CLI default is native's:
    *    CONTINUE, warn per failure, close with `errors ignored on
    *    restore: N` (`restorers/table.go:90-102`). A missing payload
    *    file always throws.
    *  - `disableTriggers`: each COPY runs under
    *    `session_replication_role = replica` (the reference's integrity
    *    control; superuser required); `enableRowSecurity`: COPY into RLS
    *    tables goes through the connecting role's policies. Both are a
    *    SET/RESET pair around each COPY, so a role that may not set them
    *    fails its loads, not its DDL; under `-1` they open the session.
    *  - `noDataForFailedTables`: a table whose CREATE failed gets no data.
    *  - `verbose`: one stderr line per created object / loaded table.
    *  - `watchdogSec`: opt-in hang guard (see [[Session]]). */
  def restore(dir: String, psqlArgs: Seq[String],
              opts: Options = Options(),
              jobs: Int = 4,
              scripts: Map[String, Seq[Script]] = Map.empty,
              restoreInOrder: Boolean = false,
              exitOnError: Boolean = true,
              disableTriggers: Boolean = false,
              enableRowSecurity: Boolean = false,
              noDataForFailedTables: Boolean = false,
              verbose: Boolean = false,
              watchdogSec: Int = 0): Seq[String] = {
    val p = plan(dir, opts)
    val oneTx = opts.singleTransaction
    if (oneTx) {
      // native -1: ONE session, ONE transaction, exit on the first error.
      // Hooks would run outside it (reject); --no-data-for-failed-tables
      // is moot (warn).
      require(scripts.isEmpty,
        "pg-restore: --scripts hooks cannot run under --single-transaction " +
          "(each hook runs in its own session, outside the restore's " +
          "transaction); drop -1 or the scripts")
      if (noDataForFailedTables)
        System.err.println("[pg-restore] warning: --no-data-for-failed-tables " +
          "has no effect with --single-transaction (any failure rolls back " +
          "the entire restore)")
    }
    val done = Seq.newBuilder[String]

    // continue-mode error accounting (native default): each failure
    // warns and counts; the run closes with the native tool's summary
    val ignored = new java.util.concurrent.atomic.AtomicInteger(0)
    def failOrWarn(msg: String): Unit =
      if (oneTx) throw new IllegalArgumentException(s"$msg (single transaction rolled back)")
      else if (exitOnError) throw new IllegalArgumentException(msg)
      else {
        ignored.incrementAndGet()
        System.err.println(s"[pg-restore] warning: $msg (continuing)")
      }
    def name(e: PgToc.Entry): String =
      s"${e.desc.getOrElse("?")} ${e.tag.getOrElse("?")}"

    // -C: stand the target database up first, via the maintenance
    // database (native reconnect dance; `cmd/restore.go:391+` delegates
    // this section the same way)
    if (opts.create) {
      val (db, sql) = p.createDatabase
      val (rc, out) = exec(maintenanceArgs(psqlArgs), sql)
      require(rc == 0, s"pg-restore: CREATE DATABASE failed: $out")
      done += name(db)
    }

    // the integrity SETs ride with each COPY as a SET/RESET pair (under
    // -1 they open the session): a role that may not set them fails its
    // loads, not its DDL
    val integrity =
      (if (disableTriggers) Seq("session_replication_role" -> "replica") else Nil) ++
        // native --enable-row-security: COPY into RLS tables goes through
        // the policies of the connecting role instead of failing
        (if (enableRowSecurity) Seq("row_security" -> "on") else Nil)
    val (sessionSets, copySets) = if (oneTx) (integrity, Nil) else (Nil, integrity)
    val opening = sessionSets.map { case (k, v) => s"SET $k = $v;" } ++
      (if (watchdogSec > 0) Seq(s"SET lock_timeout = '${watchdogSec}s';") else Nil) ++
      (if (oneTx) Seq("BEGIN;") else Nil)
    val pool = new Array[Session](if (oneTx) 1 else math.max(1, jobs))
    // one entry on session i; a failed entry warns or throws naming
    // `what`, and its dead session is replaced on next use
    def run(i: Int, what: String)(write: ScriptOut => Unit): Boolean = {
      if (pool(i) == null || !pool(i).alive) {
        if (pool(i) != null) pool(i).close()
        pool(i) = new Session(psqlArgs, opening, opts, watchdogSec)
      }
      pool(i).run(write).forall { out =>
        failOrWarn(s"pg-restore: $what failed: ${out.trim}"); false
      }
    }

    // --no-data-for-failed-tables: a TABLE whose CREATE failed (already
    // exists, usually) gets no data on top of what it holds. Keyed by
    // (namespace, tag), so a failed a.t does not suppress b.t's load
    val failedTables = scala.collection.mutable.Set[(String, String)]()
    def tableKey(e: PgToc.Entry): Option[(String, String)] =
      e.tag.map(t => (e.namespace.filter(_.nonEmpty).getOrElse(""), t))

    def execStep(s: Step): Unit = if (s.body.nonEmpty) {
      val e = s.entry
      if (verbose) System.err.println(
        s"[pg-restore] creating ${e.desc.getOrElse("?")} " +
          s"${e.namespace.filter(_.nonEmpty).fold("")(_ + ".")}${e.tag.getOrElse("?")}")
      // the owner statement is an entry of its own: a missing role must
      // not read as a failed CREATE
      if (run(0, name(e))(_.definition(s))) {
        done += name(e)
        s.owner.foreach(own => run(0, s"ALTER OWNER for ${name(e)}")(_.stmt(own)))
      } else if (e.desc.contains("TABLE")) tableKey(e).foreach(failedTables.add)
    }

    // true iff the table's data actually loaded: the returned log is the
    // success record the CLI prints, so a failed load must not read as
    // restored. A failed COPY rolled back ITS table's transaction only
    def loadTable(i: Int, e: PgToc.Entry): Boolean =
      if (noDataForFailedTables && tableKey(e).exists(failedTables)) {
        System.err.println(s"[pg-restore] table ${e.tag.get} could not be " +
          "created, will not restore its data (--no-data-for-failed-tables)")
        false
      } else {
        if (verbose) System.err.println(
          s"[pg-restore] processing data for table " +
            s"${e.namespace.filter(_.nonEmpty).fold("")(_ + ".")}${e.tag.getOrElse("?")}")
        run(i, s"COPY ${e.tag.getOrElse("?")}") { s =>
          copySets.foreach { case (k, v) => s.line(s"SET $k = $v;") }
          s.copy(dir, e)
          copySets.foreach { case (k, _) => s.line(s"RESET $k;") }
        }
      }

    // dependency WAVES inside the data section: a data entry whose deps
    // include another data entry waits for it; independents run together
    val dataIds = p.loads.map(_.dumpId).toSet
    def waves(remaining: Seq[PgToc.Entry], doneIds: Set[Int],
              acc: Seq[Seq[PgToc.Entry]]): Seq[Seq[PgToc.Entry]] =
      if (remaining.isEmpty) acc
      else {
        val (ready, blocked) = remaining.partition(
          _.dependencies.filter(dataIds).forall(doneIds))
        require(ready.nonEmpty,
          "pg-restore: dependency cycle among TABLE DATA entries")
        waves(blocked, doneIds ++ ready.map(_.dumpId), acc :+ ready)
      }

    // user scripts bracket the sections that RUN (reference
    // cmd/restore.go:381,446)
    def hooked(run: Boolean, section: String)(body: => Unit): Unit = {
      if (run) done ++= runScripts(psqlArgs, scripts, section, "before")
      body
      if (run) done ++= runScripts(psqlArgs, scripts, section, "after")
    }
    try {
      // a drop that fails (object absent) follows the exitOnError rule —
      // native counts those as ignored errors by default too
      p.drops.foreach { case (e, sql) => run(0, s"DROP for ${name(e)}")(_.stmt(sql)) }
      // 1. pre-data statements
      hooked(p.runPre, "pre-data")(p.pre.foreach(execStep))
      // 2. data: tables in dependency waves, worker i on session i — or,
      // under the native --restore-in-order flag, one table per wave in
      // TOC/list order (deterministic replay; what the reference's flag
      // disables parallel reordering for)
      hooked(p.runData, "data") {
        import scala.concurrent.{Await, Future, ExecutionContext}
        import scala.concurrent.duration.Duration
        val ec = ExecutionContext.fromExecutorService(
          java.util.concurrent.Executors.newFixedThreadPool(pool.length))
        try (if (restoreInOrder) p.loads.map(Seq(_))
             else waves(p.loads, Set.empty, Nil)).foreach { wave =>
          val queue = new java.util.concurrent.ConcurrentLinkedQueue[PgToc.Entry]()
          wave.foreach(queue.add)
          val workers = (0 until math.min(wave.size, pool.length)).map(i => Future(
            Iterator.continually(queue.poll()).takeWhile(_ != null)
              .filter(loadTable(i, _)).toSet)(ec))
          // every worker finishes before a -e failure propagates; in
          // continue mode only tables that loaded are reported restored
          val loaded = workers.map(Await.ready(_, Duration.Inf))
            .flatMap(_.value.get.get).toSet
          wave.filter(loaded).foreach(e => done += name(e))
        } finally ec.shutdown()
        // remaining data-section statements (SEQUENCE SET) + blobs
        p.data.foreach(execStep)
        if (p.blobs) blobFiles(dir).foreach { case (oid, f) =>
          if (run(0, s"blob $oid")(_.largeObject(oid, f, create = opts.dataOnly)))
            done += s"blob $oid"
        }
      }
      // 3. post-data (constraints, indexes, FKs, their comments)
      hooked(p.runPost, "post-data")(p.post.foreach(execStep))
      if (oneTx) run(0, "COMMIT")(_.line("COMMIT;"))
    } finally pool.filter(_ != null).foreach(_.close())
    // native closing summary (pg_restore prints "errors ignored on
    // restore: N" when it continued past failures)
    if (ignored.get() > 0) done += s"errors ignored on restore: ${ignored.get()}"
    // -1 counts the statements and COPYs it sent, as the `-f` script does
    if (oneTx) Seq(s"single transaction: ${pool(0).rendered} entries applied")
    else done.result()
  }

  /** Session-level descs: skipped in replay, never dropped by -c. */
  private val SessionDescs = Set("DATABASE", "ENCODING", "STDSTRINGS", "SEARCHPATH")

  /** Replay-time gate of [[plan]]. DATABASE PROPERTIES (ALTER DATABASE
    * <source> SET ...) is selected like native (`_tocEntryRequired`
    * keeps it in the TOC) but REPLAYED only under --create — native
    * gates it on `ropt->createDB` (pg_backup_archiver.c), because
    * without -C the statement would mutate a same-named database that
    * already exists on the target cluster, or abort a valid restore
    * under -e when it doesn't. */
  private def replaySkip(desc: String, create: Boolean): Boolean =
    SessionDescs(desc) || (desc == "DATABASE PROPERTIES" && !create)

  /** The selection pipeline of [[plan]]: -L list filter (+ --with-deps
    * closure), -t/-i/-P/-T named selection, -n/-N namespace filters, and
    * the --no-* entry drops, with --strict-names making unmatched names
    * an error. */
  private def selectEntries(fullToc: PgToc.Toc, o: Options): PgToc.Toc = {
    val toc = o.useList match {
      case None => fullToc
      case Some(rawIds) =>
        // duplicate ids in a hand-edited list must not restore twice;
        // first occurrence keeps its position
        val ids = rawIds.distinct
        val byId = fullToc.entries.map(e => e.dumpId -> e).toMap
        ids.foreach(id => require(byId.contains(id),
          s"pg-restore: entry from provided list with dump id $id is not found"))
        val entries =
          if (!o.withDeps) ids.map(byId)
          else {
            val needed = scala.collection.mutable.Set[Int]()
            val queue = scala.collection.mutable.Queue[Int](ids: _*)
            while (queue.nonEmpty) {
              val id = queue.dequeue()
              if (needed.add(id))
                byId.get(id).foreach(_.dependencies.foreach(queue.enqueue))
            }
            // closure restores in TOC order (pg_dump's own restore-safe
            // order); pure-list mode keeps the list's order instead
            fullToc.entries.filter(e => needed(e.dumpId))
          }
        fullToc.copy(entries = entries)
    }
    import o.{tables, indexes, functions, triggers, schemas, excludeSchemas}
    // Selection semantics verified ENTRY-BY-ENTRY against real
    // pg_restore 15 `-l` output (PgInteropSpec differential matrix);
    // mirrors pg_backup_archiver.c `_tocEntryRequired`:
    //  - -t/-i/-P/-T ("selTypes" mode): only the four entry classes are
    //    eligible at all; anything else (SCHEMA, DEFAULT, SEQUENCE OWNED
    //    BY, BLOBS, ACL-without-parent, ...) drops. Native -P/-T match
    //    the EXACT tag ("f1(integer)", "t1 tg1"); as a documented
    //    extension the bare function/trigger name is accepted too.
    //  - -n drops entries with NO namespace — including the SCHEMA
    //    entries themselves (native quirk: `pg_restore -n s1` does not
    //    create s1; the operator pre-creates it) — while -N keeps them.
    //  - ACL / COMMENT / SECURITY LABEL entries INHERIT: under any
    //    selectivity option they ride iff their single dependency is a
    //    selected entry (a table's comment/GRANT follows it under -t).
    //    Comments/ACLs ON DATABASE react to --create only.
    val relationDescs = Set("TABLE", "TABLE DATA", "VIEW",
      "MATERIALIZED VIEW", "SEQUENCE", "SEQUENCE SET", "FOREIGN TABLE")
    val fnDescs = Set("FUNCTION", "AGGREGATE", "PROCEDURE")
    val selTypes = tables.nonEmpty || indexes.nonEmpty ||
      functions.nonEmpty || triggers.nonEmpty
    def fnMatch(tag: String, want: String): Boolean =
      tag == want || (!want.contains("(") && tag.takeWhile(_ != '(') == want)
    def trgMatch(tag: String, want: String): Boolean =
      tag == want || tag.endsWith(" " + want)
    if (o.strictNames) {
      tables.foreach(t => require(
        toc.entries.exists(e => e.tag.contains(t) && e.desc.exists(relationDescs)),
        s"""pg-restore: table "$t" not found in archive (--strict-names)"""))
      indexes.foreach(i => require(
        toc.entries.exists(e => e.tag.contains(i) && e.desc.contains("INDEX")),
        s"""pg-restore: index "$i" not found in archive (--strict-names)"""))
      functions.foreach(f => require(
        toc.entries.exists(e => e.desc.exists(fnDescs) && e.tag.exists(fnMatch(_, f))),
        s"""pg-restore: function "$f" not found in archive (--strict-names)"""))
      triggers.foreach(t => require(
        toc.entries.exists(e => e.desc.contains("TRIGGER") &&
          e.tag.exists(trgMatch(_, t))),
        s"""pg-restore: trigger "$t" not found in archive (--strict-names)"""))
      schemas.foreach(n => require(toc.entries.exists(_.namespace.contains(n)),
        s"""pg-restore: schema "$n" not found in archive (--strict-names)"""))
    }
    val byId = toc.entries.map(e => e.dumpId -> e).toMap
    val memo = scala.collection.mutable.Map[Int, Boolean]()
    def required(id: Int): Boolean = memo.get(id) match {
      case Some(v) => v
      case None =>
        val v = byId.get(id).exists { e =>
          val desc = e.desc.getOrElse("")
          val ns = e.namespace.filter(_.nonEmpty)
          if (SessionDescs(desc) || desc == "DATABASE PROPERTIES")
            true // replay skips these; the -l listing hides/gates them
          else if (o.noBlobs && (desc.startsWith("BLOB") || desc == "LARGE OBJECT"))
            false
          else if (o.noComments && desc == "COMMENT") false
          else if (o.noPublications && desc.startsWith("PUBLICATION")) false
          else if (o.noSubscriptions && desc == "SUBSCRIPTION") false
          else if (o.noSecurityLabels && desc == "SECURITY LABEL") false
          else if (o.noPrivileges && (desc == "ACL" || desc == "DEFAULT ACL")) false
          else if (desc == "ACL" || desc == "COMMENT" || desc == "SECURITY LABEL") {
            if (e.tag.exists(_.startsWith("DATABASE "))) o.create
            else if (schemas.nonEmpty || excludeSchemas.nonEmpty || selTypes)
              e.dependencies.size == 1 && required(e.dependencies.head)
            else true
          } else {
            (schemas.isEmpty || ns.exists(schemas.contains)) &&
              !ns.exists(excludeSchemas.contains) &&
              (!selTypes ||
                (if (relationDescs(desc))
                   tables.nonEmpty && e.tag.exists(tables.contains)
                 else if (desc == "INDEX")
                   indexes.nonEmpty && e.tag.exists(indexes.contains)
                 else if (fnDescs(desc))
                   functions.nonEmpty &&
                     e.tag.exists(tg => functions.exists(fnMatch(tg, _)))
                 else if (desc == "TRIGGER")
                   triggers.nonEmpty &&
                     e.tag.exists(tg => triggers.exists(trgMatch(tg, _)))
                 else false))
          }
        }
        memo(id) = v
        v
    }
    toc.copy(entries = toc.entries.filter(e => required(e.dumpId)))
  }

  /** Native `pg_restore -l <flags>`: the dumpIds the archive would list
    * (equivalently, restore) under `opts`, in file order — the ids of
    * [[plan]]'s entries, so the listing shows exactly what a restore
    * runs: the sliding section rule, the never-listed
    * ENCODING/STDSTRINGS/SEARCHPATH specials, and the DATABASE entry's
    * createDB-only rule. Verified against the real pg_restore 15 binary
    * over a 24-combo flag matrix in PgInteropSpec. */
  def listSelectedIds(dir: String, opts: Options = Options()): Seq[Int] = {
    val p = plan(dir, opts)
    val ids = (p.database.toSeq ++ p.loads ++
      (p.pre ++ p.data ++ p.post).map(_.entry)).map(_.dumpId).toSet
    p.toc.entries.map(_.dumpId).filter(ids)
  }

  /** Structured use-list (`--list-format=json|yaml`, reference
    * `cmd/restore.go:953-995` parseStructuredList): a metadata document
    * whose `entries[].dumpId` fields form the restore list in order —
    * the engine's own manifest.json is exactly this shape, so a dump's
    * manifest doubles as its restore list. dumpId 0 or missing is a
    * broken file (the reference's error, same message shape). */
  def parseStructuredRestoreList(text: String, format: String): Seq[Int] = {
    val mapper = format match {
      case "json" => new com.fasterxml.jackson.databind.ObjectMapper()
      case "yaml" => new com.fasterxml.jackson.databind.ObjectMapper(
        new com.fasterxml.jackson.dataformat.yaml.YAMLFactory())
      case other => throw new IllegalArgumentException(
        s"pg-restore: --list-format must be text|json|yaml, got $other")
    }
    val root = mapper.readTree(text)
    // the reference's metadata document wraps the list in `entries`; the
    // engine's own manifest.json IS the bare entry array — accept both
    val entries = if (root.isArray) root else root.get("entries")
    require(entries != null && entries.isArray,
      "pg-restore: structured list file has no entries array")
    import scala.jdk.CollectionConverters._
    entries.elements().asScala.zipWithIndex.map { case (e, idx) =>
      val id = Option(e.get("dumpId")).map(_.asInt(0)).getOrElse(0)
      require(id != 0,
        s"broken list file dumpId: must not be 0: entry number $idx")
      id
    }.toSeq
  }

  /** Native `pg_restore -f` (script output): render the archive as ONE
    * plain-SQL stream under `opts` — DDL in TOC order, each TABLE DATA as
    * a `COPY ... FROM stdin;` block with its decompressed payload inlined
    * (payloads already end with the `\.` terminator), SEQUENCE SET, then
    * post-data: the same [[plan]] the direct [[restore]] runs.
    * `singleTransaction` wraps the body in BEGIN/COMMIT. Large objects
    * are not representable in plain SQL here; their entries are skipped
    * with a warning. Returns the number of entries rendered. */
  def toScript(dir: String, out: java.io.OutputStream,
               opts: Options = Options()): Int = {
    val p = plan(dir, opts)
    val s = new ScriptOut(opts, out)
    s.line(s"-- graft pg-restore script (archive: $dir)")
    if (opts.create) {
      val (db, sql) = p.createDatabase
      s.stmt(sql)
      // the native script reconnects into the new database
      db.tag.foreach(t => s.line(s"\\connect ${PgSource.quoteIdent(t)}"))
    }
    if (opts.singleTransaction) s.line("BEGIN;")
    p.drops.foreach { case (_, sql) => s.stmt(sql) }
    p.pre.foreach(s.step)
    p.loads.foreach(s.copy(dir, _))
    p.data.foreach(s.step)
    if (p.blobs)
      System.err.println("[pg-restore] warning: large objects are not " +
        "representable in script output — use the direct restore path")
    p.post.foreach(s.step)
    if (opts.singleTransaction) s.line("COMMIT;")
    s.flush()
    s.rendered
  }

  /** `--if-exists` rewrite: native pg_restore injects IF EXISTS into the
    * stored drop command textually (pg_backup_archiver.c RestoreArchive's
    * DROP rewriting) — `DROP <type words> <name>` gains IF EXISTS after
    * the type words, and `ALTER TABLE ... DROP CONSTRAINT name` after
    * DROP CONSTRAINT. Statements that already carry it pass through. */
  private[graft] def injectIfExists(drop: String): String =
    if (drop.contains("IF EXISTS")) drop
    else if (drop.contains(" DROP CONSTRAINT "))
      drop.replaceFirst(" DROP CONSTRAINT ", " DROP CONSTRAINT IF EXISTS ")
    else
      // type words = everything between DROP and the identifier; the
      // identifier starts at the last space-delimited token (possibly
      // schema-qualified/quoted, never containing an unquoted space)
      "^DROP ((?:[A-Z]+ )+)".r.replaceFirstIn(drop, "DROP $1IF EXISTS ")

  /** Derive maintenance-database args from target args for `--create`:
    * the dbname (conninfo `dbname=` keyword, a `postgres://` URI's path
    * component, or a bare database name after `-d`) swaps to
    * `postgres`, keeping host/port/user intact. Anything else fails
    * loudly rather than connect wrong. */
  private[graft] def maintenanceArgs(psqlArgs: Seq[String]): Seq[String] = {
    // URI conninfo: rewrite ONLY the path component to /postgres —
    // wholesale replacement would silently drop host/port and run
    // CREATE DATABASE against the wrong server
    def swapUriDb(uri: String): String = {
      val schemeEnd = uri.indexOf("://") + 3
      val qIdx = uri.indexOf('?', schemeEnd)
      val end = if (qIdx >= 0) qIdx else uri.length
      val slash = uri.indexOf('/', schemeEnd)
      val head = if (slash >= 0 && slash < end) uri.substring(0, slash)
                 else uri.substring(0, end)
      head + "/postgres" + (if (qIdx >= 0) uri.substring(qIdx) else "")
    }
    def isUri(v: String): Boolean =
      v.startsWith("postgres://") || v.startsWith("postgresql://")
    // a bare database name: no conninfo '=' pairs, no URI scheme, no
    // path separators — the only shape safe to replace wholesale
    def isBareDbName(v: String): Boolean =
      !v.contains("=") && !isUri(v) && !v.contains("/") && !v.contains(":")
    var swapped = false
    val out = psqlArgs.zipWithIndex.map { case (a, i) =>
      if (a.contains("dbname=")) {
        swapped = true; a.replaceAll("dbname=\\S+", "dbname=postgres")
      } else if (i > 0 && psqlArgs(i - 1) == "-d" && isUri(a)) {
        swapped = true; swapUriDb(a)
      } else if (i > 0 && psqlArgs(i - 1) == "-d" && isBareDbName(a)) {
        swapped = true; "postgres"
      } else a
    }
    require(swapped,
      "pg-restore: --create needs a dbname in the connection args to swap " +
        "for the maintenance connection")
    out
  }
}
