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
  * the data section, tables load through a worker pool in dependency
  * WAVES (the reference's task queue, `restore.go:755-831`): a table
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
    * server-side `lock_timeout` guard instead — see [[exec]]). Returns
    * the tripped flag. */
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

  /** Drain `in` to a string, stamping the activity clock per read. */
  private def drainStamping(in: java.io.InputStream,
                            lastActivity: java.util.concurrent.atomic.AtomicLong)
      : String = {
    val bos = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n >= 0) {
      if (n > 0) { bos.write(buf, 0, n); lastActivity.set(System.nanoTime()) }
      n = in.read(buf)
    }
    bos.toString("UTF-8")
  }

  private def watchdogSuffix(tripped: java.util.concurrent.atomic.AtomicBoolean,
                             watchdogSec: Int): String =
    if (tripped.get()) s" [watchdog: psql idle > ${watchdogSec}s — killed]" else ""

  /** One SQL batch in its own psql session; returns (rc, combined out).
    *
    * `watchdogSec > 0` guards SERVER-SIDE via `SET lock_timeout` rather
    * than a byte-idle kill: DDL (post-data CREATE INDEX, ADD CONSTRAINT)
    * is legitimately silent for minutes while working, so client-side
    * byte-silence is not evidence of a hang here. `lock_timeout` cancels
    * exactly the hang-on-a-lock case the watchdog exists for, the server
    * reports it ("canceling statement due to lock timeout"), and a
    * healthy long build is never touched.
    *
    * Residual hang class, deliberately NOT guarded: failures the server
    * cannot time out and the client cannot distinguish from work — a
    * network partition mid-statement, or a commit blocked on an
    * unreachable synchronous standby. Guarding those client-side would
    * reintroduce the false-kill of healthy silent DDL this rework
    * removed; operators who need cover there should set server-side
    * `statement_timeout` / TCP keepalives on the conninfo (native
    * pg_restore hangs identically). */
  private def exec(psqlArgs: Seq[String], sql: String,
                   watchdogSec: Int = 0): (Int, String) = {
    val guard =
      if (watchdogSec > 0) Seq("-c", s"SET lock_timeout = '${watchdogSec}s'")
      else Nil
    val cmd = Seq("/usr/bin/psql", "-X", "-q", "-v", "ON_ERROR_STOP=1") ++
      psqlArgs ++ guard ++ Seq("-c", sql)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    p.getOutputStream.close()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    (p.waitFor(), out)
  }

  /** Run a psql session with `pre` statements (each its own -c) followed
    * by a COPY FROM STDIN fed from `file` (decompressed inline by
    * suffix — .gz/.lz4/.zst). The payload's own `\.` terminator ends
    * the COPY. */
  private def copyFrom(psqlArgs: Seq[String], pre: Seq[String],
                       copySql: String, file: java.io.File,
                       watchdogSec: Int = 0): (Int, String) = {
    // the same lock_timeout guard as exec(): a COPY blocked on a lock it
    // can never get (ACCESS EXCLUSIVE held elsewhere) errors out
    // server-side at the deadline even when the whole payload already
    // fits in the OS pipe buffer (small tables feed to EOF instantly, so
    // the byte-idle watchdog below has already stood down)
    val guard =
      if (watchdogSec > 0) Seq(s"SET lock_timeout = '${watchdogSec}s'")
      else Nil
    val cmd = Seq("/usr/bin/psql", "-X", "-q", "-v", "ON_ERROR_STOP=1") ++
      psqlArgs ++ (guard ++ pre).flatMap(s => Seq("-c", s)) ++ Seq("-c", copySql)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val lastActivity = new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
    // byte-idle kill is armed ONLY while the feed is mid-stream — that is
    // the one window where silence means a stalled pipe; the post-EOF
    // server-side commit tail is legitimately silent (ADVICE r14)
    val feeding = new java.util.concurrent.atomic.AtomicBoolean(true)
    val tripped = armWatchdog(p, lastActivity, watchdogSec, feeding)
    val feeder = new Thread(() => {
      val in: java.io.InputStream = Compress.input(
        Compress.algoOfFile(file.getName),
        new java.io.BufferedInputStream(new java.io.FileInputStream(file)))
      try {
        val buf = new Array[Byte](64 * 1024)
        var n = in.read(buf)
        while (n >= 0) {
          if (n > 0) {
            p.getOutputStream.write(buf, 0, n)
            lastActivity.set(System.nanoTime())
          }
          n = in.read(buf)
        }
      }
      catch { case _: java.io.IOException => () } // psql exited early
      finally { feeding.set(false)
                try p.getOutputStream.close() catch { case _: Throwable => () }
                in.close() }
    })
    feeder.setDaemon(true); feeder.start()
    val out = drainStamping(p.getInputStream, lastActivity)
    val rc = p.waitFor()
    feeder.join(10000)
    (rc, out + watchdogSuffix(tripped, watchdogSec))
  }

  /** Large-object data: for each `blobs.toc` line, (re)create the oid
    * and stream its payload through chunked `lo_put` calls in a psql -f
    * script — hex literals stay under the per-argument OS limit and a
    * multi-GB blob never lives in one statement. */
  private def restoreBlobs(dir: String, psqlArgs: Seq[String],
                           createOids: Boolean): Seq[String] = {
    val toc = new java.io.File(dir, "blobs.toc")
    if (!toc.exists()) return Nil
    java.nio.file.Files.readAllLines(toc.toPath).toArray(Array[String]())
      .toSeq.map(_.trim).filter(_.nonEmpty).map { line =>
        val Array(oidS, name) = line.split("\\s+", 2)
        val oid = oidS.toLong
        val f = Compress.probeFile(dir, name.trim).getOrElse(
          throw new IllegalArgumentException(
            s"pg-restore: blob payload ${name.trim}(.gz/.lz4/.zst) missing"))
        val in: java.io.InputStream = Compress.input(
          Compress.algoOfFile(f.getName), new java.io.FileInputStream(f))
        val script = java.nio.file.Files.createTempFile("graft_lo", ".sql")
        val w = java.nio.file.Files.newBufferedWriter(script)
        try {
          if (createOids) w.write(s"SELECT pg_catalog.lo_create($oid);\n")
          val buf = new Array[Byte](256 * 1024)
          var off = 0L
          var n = in.read(buf)
          while (n > 0) {
            val hex = new java.lang.StringBuilder(n * 2)
            var i = 0
            while (i < n) {
              hex.append("0123456789abcdef".charAt((buf(i) >> 4) & 0xF))
              hex.append("0123456789abcdef".charAt(buf(i) & 0xF))
              i += 1
            }
            w.write(s"SELECT pg_catalog.lo_put($oid, $off, '\\x$hex');\n")
            off += n
            n = in.read(buf)
          }
        } finally { w.close(); in.close() }
        val cmd = Seq("/usr/bin/psql", "-X", "-q", "-v", "ON_ERROR_STOP=1") ++
          psqlArgs ++ Seq("-o", "/dev/null", "-f", script.toString)
        val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
        p.getOutputStream.close()
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
        val rc = p.waitFor()
        java.nio.file.Files.delete(script)
        require(rc == 0, s"pg-restore: blob $oid failed: $out")
        s"blob $oid"
      }
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
    *    ONE transaction (BEGIN/COMMIT around the script); refused with
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
    * per restored entry.
    *
    * Execution phases pre-data → data waves → SEQUENCE SET/blobs →
    * post-data. Under `-L` a list that interleaves sections therefore
    * replays section-phased, not literally as listed (restoring an index
    * before its table's data is never correct; the phasing preserves
    * that invariant the same way the native tool's parallel mode does);
    * within the data section, listed tables keep list order subject to
    * dependency waves.
    *
    * Executor-only flags:
    *  - `jobs`: per-table COPY concurrency, like `pg_restore -j`.
    *  - `scripts`: user hooks before/after each section that runs.
    *  - `restoreInOrder`: load tables strictly sequentially in TOC/list
    *    order instead of in dependency waves.
    *  - `exitOnError` (`-e`): abort on the first failed statement/COPY.
    *    The API default stays fail-fast (library callers want loud
    *    breakage); the CLI default matches the native tool — CONTINUE,
    *    warn per failure, and close with `errors ignored on restore: N`
    *    (`restorers/table.go:90-102`: a failed table rolls back ITS
    *    transaction and the wave moves on). A failed `-c` drop follows
    *    the same rule. Archive corruption (missing payload file) always
    *    throws.
    *  - `disableTriggers`: each COPY runs under
    *    `session_replication_role = replica` (the reference's integrity
    *    control; superuser required); `enableRowSecurity`: COPY into RLS
    *    tables goes through the connecting role's policies.
    *  - `noDataForFailedTables`: a table whose CREATE failed gets no data.
    *  - `verbose`: one stderr line per created object / loaded table.
    *  - `watchdogSec`: opt-in hang guard (see [[exec]], [[copyFrom]]). */
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
    val pre =
      (if (disableTriggers) Seq("SET session_replication_role = replica") else Nil) ++
        // native --enable-row-security: COPY into RLS tables goes through
        // the policies of the connecting role instead of failing
        (if (enableRowSecurity) Seq("SET row_security = on") else Nil)
    if (opts.singleTransaction) {
      // native -1: everything in ONE session, ONE transaction — implies
      // exit-on-error (any failure rolls the whole restore back). Render
      // the script form and replay it through a single psql -1 session.
      // Options that cannot survive the script detour fail loudly or
      // warn instead of being silently dropped: user script hooks have
      // no script-form equivalent (reject); --no-data-for-failed-tables
      // is moot in one transaction (a failed CREATE rolls back the
      // whole restore before any data loads — warn).
      require(scripts.isEmpty,
        "pg-restore: --scripts hooks cannot run under --single-transaction " +
          "(the restore replays as one SQL script); drop -1 or the scripts")
      if (noDataForFailedTables)
        System.err.println("[pg-restore] warning: --no-data-for-failed-tables " +
          "has no effect with --single-transaction (any failure rolls back " +
          "the entire restore)")
      val tmp = java.nio.file.Files.createTempFile("graft_restore_1tx", ".sql")
      try {
        val os = java.nio.file.Files.newOutputStream(tmp)
        val n = try {
          // session-level integrity controls ride at the top of the
          // script (SET outside the transaction = session scope), same
          // effect as the per-COPY `pre` statements on the direct path
          pre.foreach(s => os.write(s"$s;\n".getBytes("UTF-8")))
          render(dir, p, opts, os)
        } finally os.close()
        val cmd = Seq("/usr/bin/psql", "-X", "-q", "-v", "ON_ERROR_STOP=1") ++
          psqlArgs ++ Seq("-o", "/dev/null", "-f", tmp.toString)
        val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
        proc.getOutputStream.close()
        val outText = new String(proc.getInputStream.readAllBytes(), "UTF-8")
        require(proc.waitFor() == 0,
          s"pg-restore: single-transaction replay failed (rolled back): " +
            outText.takeRight(400))
        return Seq(s"single transaction: $n entries applied")
      } finally java.nio.file.Files.deleteIfExists(tmp)
    }
    val done = Seq.newBuilder[String]

    // continue-mode error accounting (native default): each failure
    // warns and counts; the run closes with the native tool's summary
    val ignored = new java.util.concurrent.atomic.AtomicInteger(0)
    def failOrWarn(msg: String): Unit =
      if (exitOnError) throw new IllegalArgumentException(msg)
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
    // a drop that fails (object absent) follows the exitOnError rule —
    // native counts those as ignored errors by default too
    p.drops.foreach { case (e, sql) =>
      val (rc, out) = exec(psqlArgs, sql, watchdogSec)
      if (rc != 0) failOrWarn(s"pg-restore: DROP for ${name(e)} failed: ${out.trim}")
    }

    // --no-data-for-failed-tables: a TABLE whose CREATE failed (already
    // exists, usually) must not have the archive's data appended on top
    // of whatever it holds — the native flag's whole point. Keyed by
    // (namespace, tag): native tracks the failed ENTRY, so a failed
    // a.t must not suppress the data load of an unrelated b.t
    val failedTables = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, String)]()
    def tableKey(e: PgToc.Entry): Option[(String, String)] =
      e.tag.map(t => (e.namespace.filter(_.nonEmpty).getOrElse(""), t))

    def execStep(s: Step): Unit = s.body.foreach { body =>
      val e = s.entry
      if (verbose) System.err.println(
        s"[pg-restore] creating ${e.desc.getOrElse("?")} " +
          s"${e.namespace.filter(_.nonEmpty).fold("")(_ + ".")}${e.tag.getOrElse("?")}")
      // each statement runs in its own psql session, so the entry's
      // tablespace/AM SETs ride the same -c batch
      val sql = (tsSets(e, opts) :+ body).mkString("\n")
      val (rc, out) = exec(psqlArgs, sql, watchdogSec)
      if (rc != 0) {
        if (e.desc.contains("TABLE")) tableKey(e).foreach(failedTables.add)
        failOrWarn(s"pg-restore: ${name(e)} failed: $out")
      } else {
        done += name(e)
        s.owner.foreach { own =>
          val (rcO, outO) = exec(psqlArgs, own)
          if (rcO != 0) failOrWarn(
            s"pg-restore: ALTER OWNER for ${name(e)} failed: ${outO.trim}")
        }
      }
    }

    // returns true iff the table's data actually loaded — the caller
    // logs `TABLE DATA <tag>` only for successes (native prints the
    // entry header before failing too, but our returned log doubles as
    // the success record the CLI prints; a failed load must not read
    // as restored)
    def loadTable(e: PgToc.Entry): Boolean = {
      if (noDataForFailedTables && tableKey(e).exists(failedTables.contains)) {
        System.err.println(s"[pg-restore] table ${e.tag.get} could not be " +
          "created, will not restore its data (--no-data-for-failed-tables)")
        return false
      }
      val (copySql, f) = payload(dir, e)
      if (verbose) System.err.println(
        s"[pg-restore] processing data for table " +
          s"${e.namespace.filter(_.nonEmpty).fold("")(_ + ".")}${e.tag.getOrElse("?")}")
      val (rc, out) = copyFrom(psqlArgs, pre, copySql, f, watchdogSec)
      // a failed COPY rolled back ITS table's transaction server-side;
      // without -e the wave moves on (restorers/table.go:90-102)
      if (rc != 0) {
        failOrWarn(s"pg-restore: COPY ${e.tag.getOrElse("?")} failed: ${out.trim}")
        false
      } else true
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
    // 1. pre-data statements
    hooked(p.runPre, "pre-data")(p.pre.foreach(execStep))
    // 2. data: tables in dependency waves through a worker pool — or,
    // under the native --restore-in-order flag, strictly sequentially in
    // TOC/list order (deterministic replay; what the reference's flag
    // disables parallel reordering for)
    hooked(p.runData, "data") {
      import scala.concurrent.{Await, Future, ExecutionContext}
      import scala.concurrent.duration.Duration
      if (restoreInOrder)
        p.loads.foreach { e =>
          if (loadTable(e)) done += name(e)
        }
      else {
        val ec = ExecutionContext.fromExecutorService(
          java.util.concurrent.Executors.newFixedThreadPool(math.max(1, jobs)))
        try waves(p.loads, Set.empty, Nil).foreach { wave =>
          // in continue mode a failed COPY returns false — only tables
          // that actually loaded are reported as restored
          val oks = wave.map(e => Future(loadTable(e))(ec))
            .map(Await.result(_, Duration.Inf))
          wave.zip(oks).foreach { case (e, ok) =>
            if (ok) done += name(e) }
        } finally ec.shutdown()
      }
      // remaining data-section statements (SEQUENCE SET) + blobs
      p.data.foreach(execStep)
      if (p.blobs) done ++= restoreBlobs(dir, psqlArgs, createOids = opts.dataOnly)
    }
    // 3. post-data (constraints, indexes, FKs, their comments)
    hooked(p.runPost, "post-data")(p.post.foreach(execStep))
    // native closing summary (pg_restore prints "errors ignored on
    // restore: N" when it continued past failures)
    if (ignored.get() > 0) done += s"errors ignored on restore: ${ignored.get()}"
    done.result()
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

  /** Synthesized tablespace / access-method SETs for one entry on the
    * direct path — native pg_restore derives these from the TOC FIELDS
    * at restore time (pg_backup_archiver.c `_selectTablespace` /
    * `_printTableAccessMethod`); `--no-tablespaces` /
    * `--no-table-access-method` suppress exactly that synthesis. A NULL
    * field means "emit no SET"; an empty tablespace means the database
    * default — already every fresh session's state, so the direct path
    * (one psql session per statement) skips it. The script renderer
    * tracks one long session instead and emits a SET on change. */
  private def tsSets(e: PgToc.Entry, o: Options): Seq[String] =
    (if (o.noTablespaces) None
     else e.tablespace.filter(_.nonEmpty).map(ts =>
       s"SET default_tablespace = ${PgSource.quoteIdent(ts)};")).toSeq ++
      (if (o.noTableAccessMethod) None
       else e.tableam.filter(_.nonEmpty).map(am =>
         s"SET default_table_access_method = ${PgSource.quoteIdent(am)};")).toSeq

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
               opts: Options = Options()): Int =
    render(dir, plan(dir, opts), opts, out)

  private def render(dir: String, p: Plan, o: Options,
                     out: java.io.OutputStream): Int = {
    val w = new java.io.BufferedWriter(
      new java.io.OutputStreamWriter(out, "UTF-8"))
    var rendered = 0
    def stmt(sql: String): Unit = {
      val s = sql.trim
      if (s.nonEmpty) {
        w.write(if (s.endsWith(";")) s else s + ";"); w.write("\n")
        rendered += 1
      }
    }
    w.write(s"-- graft pg-restore script (archive: $dir)\n")
    if (o.create) {
      val (db, sql) = p.createDatabase
      stmt(sql)
      // the native script reconnects into the new database
      db.tag.foreach(t => w.write(s"\\connect ${PgSource.quoteIdent(t)}\n"))
    }
    if (o.singleTransaction) w.write("BEGIN;\n")
    // script form tracks the session's current tablespace/AM like native
    // (one long session; a SET is emitted only on CHANGE — including the
    // initial `SET default_tablespace = '';` real pg_dump scripts open
    // tables with). SET lines don't count as rendered entries.
    var currTs: String = null
    var currAm: String = null
    def emit(s: Step): Unit = {
      if (!o.noTablespaces) s.entry.tablespace.foreach { want =>
        if (want != currTs) {
          w.write(if (want.isEmpty) "SET default_tablespace = '';\n"
                  else s"SET default_tablespace = ${PgSource.quoteIdent(want)};\n")
          currTs = want
        }
      }
      if (!o.noTableAccessMethod) s.entry.tableam.filter(_.nonEmpty).foreach { want =>
        if (want != currAm) {
          w.write(s"SET default_table_access_method = ${PgSource.quoteIdent(want)};\n")
          currAm = want
        }
      }
      s.body.foreach(stmt)
      s.owner.foreach(stmt)
    }
    p.drops.foreach { case (_, sql) => stmt(sql) }
    p.pre.foreach(emit)
    p.loads.foreach { e =>
      val (copySql, f) = payload(dir, e)
      w.write(copySql); w.write(";\n"); w.flush()
      val in = Compress.input(Compress.algoOfFile(f.getName),
        new java.io.BufferedInputStream(new java.io.FileInputStream(f)))
      try in.transferTo(out) finally in.close()
      rendered += 1
    }
    p.data.foreach(emit)
    if (p.blobs)
      System.err.println("[pg-restore] warning: large objects are not " +
        "representable in script output — use the direct restore path")
    p.post.foreach(emit)
    if (o.singleTransaction) w.write("COMMIT;\n")
    w.flush()
    rendered
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
