package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline._
import graft.subset.{SubsetGraph, SubsetPlanner}

import java.nio.file.{Files, Paths}

/** Lifecycle mains — the Spark rebuild of the reference's top-3 entry
  * points (SURVEY §3: `greenmask dump` / `validate` / `restore`,
  * `internal/db/postgres/cmd/{dump,validate,restore}.go`).
  *
  * Steps 1-5 of the reference dump (bootstrap, snapshot, catalog, config
  * build, subset planning) are driver-side planning here; the worker pool
  * is Spark's scheduler; the TOC is the JSON manifest.
  */
object Lifecycle {

  /** Total on-disk bytes behind a DataFrame's input files (any Hadoop FS
    * scheme). One `listStatus` RPC per parent DIRECTORY rather than one
    * `getFileStatus` per file — a many-small-files table (the exact case
    * byte-accurate costing exists for) would otherwise serialize O(files)
    * driver round-trips into dump startup (round-6 advice). Files that
    * vanish between plan and stat contribute 0. */
  def inputBytes(spark: SparkSession, df: DataFrame): Long = {
    val hconf = spark.sparkContext.hadoopConfiguration
    df.inputFiles.groupBy(f => new org.apache.hadoop.fs.Path(f).getParent).map {
      case (dir, files) =>
        val wanted = files.map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
        try dir.getFileSystem(hconf)
          .listStatus(dir).iterator
          .filter(st => wanted.contains(st.getPath.getName))
          .map(_.getLen).sum
        catch { case _: java.io.IOException => 0L }
    }.sum
  }

  /** Dump heartbeat (reference `cmd/dump.go:57,753-771` +
    * `utils/dumpstatus/status.go`): a `heartbeat` file holding
    * `in-progress`, refreshed every `intervalMs` by a daemon thread,
    * stamped `done` on success. A dump that dies leaves a STALE
    * in-progress heartbeat, which [[dumpStatus]] reports as failed once
    * it is older than 2× the refresh interval — the operational signal
    * a multi-hour 100 TB dump owes its operator. Returns a
    * `finish(success)` closure. */
  private[graft] def startHeartbeat(outDir: String,
                                    intervalMs: Long = 15000): Boolean => Unit = {
    Files.createDirectories(Paths.get(outDir))
    val p = Paths.get(outDir, HeartBeatFileName)
    def write(s: String): Unit = Files.writeString(p, s)
    write(HeartBeatInProgress)
    // the refresh checks `run` and writes under one lock, so once
    // finish() has cleared it no refresh can overwrite the done stamp
    val lock = new Object
    var run = true
    val t = new Thread(() => {
      try while (lock.synchronized(run)) {
        Thread.sleep(intervalMs)
        lock.synchronized { if (run) write(HeartBeatInProgress) }
      } catch { case _: InterruptedException => () }
    })
    t.setDaemon(true); t.start()
    success => {
      lock.synchronized { run = false }
      t.interrupt()
      // on failure the last in-progress stamp is left to go stale (the
      // reference does the same; the status reader applies the timeout)
      if (success) write(HeartBeatDone)
    }
  }

  val HeartBeatFileName = "heartbeat"
  private val HeartBeatInProgress = "in-progress"
  private val HeartBeatDone = "done"

  /** Dump status from the heartbeat (`dumpstatus/status.go:29-77`):
    * `done` / `in progress` / `failed` (empty heartbeat, or in-progress
    * older than 2× the refresh interval) / `unknown or failed` (no
    * heartbeat and no manifest; a manifest WITHOUT a heartbeat is a
    * legacy done dump). */
  def dumpStatus(dumpDir: String, intervalMs: Long = 15000): String = {
    val hb = Paths.get(dumpDir, HeartBeatFileName)
    if (!Files.exists(hb)) {
      if (Files.exists(Paths.get(dumpDir, "manifest.json"))) "done"
      else "unknown or failed"
    } else new String(Files.readAllBytes(hb), "UTF-8").trim match {
      case "" => "failed"
      case HeartBeatDone => "done"
      case HeartBeatInProgress =>
        val age = System.currentTimeMillis() - Files.getLastModifiedTime(hb).toMillis
        if (age > 2 * intervalMs) "failed" else "in progress"
      case _ => "unknown or failed"
    }
  }

  /** Run `f` under a dump heartbeat: stamped done on success, left to go
    * stale (→ failed) on any throw. Success also records the dump's
    * `metadata.json` (reference `storage/metadata_json.go`: startedAt /
    * completedAt / sizes — the subset our storage layout can state
    * exactly; the manifest/TOC carry the per-entry detail). */
  private def withHeartbeat[T](outDir: String)(f: => T): T = {
    val startedAt = java.time.Instant.now()
    val finish = startHeartbeat(outDir)
    try {
      val r = f; finish(true)
      writeDumpMetadata(outDir, startedAt, java.time.Instant.now())
      r
    } catch { case e: Throwable => finish(false); throw e }
  }

  private def writeDumpMetadata(outDir: String, startedAt: java.time.Instant,
                                completedAt: java.time.Instant): Unit = {
    import scala.jdk.CollectionConverters._
    // recursive: covers both dump shapes (parquet table dirs and flat
    // .dat archive payloads); control files are not payload
    val control = Set("toc.dat", "manifest.json", "metadata.json", HeartBeatFileName)
    val all = Files.walk(Paths.get(outDir)).iterator().asScala
      .filter(Files.isRegularFile(_)).toSeq
    val payload = all.filterNot(p => control(p.getFileName.toString))
      .map(Files.size).sum
    val tocSize = all.filter(_.getFileName.toString == "toc.dat")
      .map(Files.size).sum
    val dur = java.time.Duration.between(startedAt, completedAt)
    Files.writeString(Paths.get(outDir, "metadata.json"),
      s"""{"startedAt":"$startedAt","completedAt":"$completedAt",""" +
        s""""durationMs":${dur.toMillis},"compressedSize":$payload,""" +
        s""""tocFileSize":$tocSize,"files":${all.length}}""")
  }

  /** The one planning step of `dump` and `pg-dump`: the validation gate
    * (validate.go semantics: print every warning, abort on any error
    * before a payload is written), the FK closure of the `subset_conds`
    * over `keys`, then each table's masking plan, in `frames` order.
    * `fromCopy` frames are pg-dump's string-typed COPY frames, already
    * filtered by their conds (PostgreSQL SQL) on the source server: each
    * cond becomes `true`, so those tables root the closure without being
    * evaluated again; the gate skips the allowed-type check; and an FK
    * the closure joins must compare as text ([[CatalogKeys.textComparable]]).
    * A partitioned table in `keys.leaves` is dumped as its leaves, so an
    * FK onto it closes against the union of its dumped leaves. */
  private def planTables(verb: String, frames: Seq[(TableConfig, DataFrame)], keys: CatalogKeys,
                         fromCopy: Boolean): Seq[(String, DataFrame)] = {
    val warnings = frames.flatMap { case (cfg, df) =>
      Planner.validate(df, cfg, keys = keys, checkTypes = !fromCopy) }
    warnings.foreach(w => System.err.println(s"[${w.severity}] ${w.table}.${w.column}: ${w.msg}"))
    require(!warnings.exists(_.severity == "error"), s"$verb: validation errors — aborting")
    val dfs = frames.map { case (cfg, df) => cfg.table -> df }.toMap
    val conds = frames.map { case (cfg, _) =>
      cfg.table -> (if (fromCopy) cfg.subsetConds.map(_ => "true") else cfg.subsetConds) }.toMap
    val parts = keys.leaves.map { case (p, ls) => p -> ls.filter(dfs.contains) }
      .filter { case (p, ls) => ls.nonEmpty && !dfs.contains(p) }
    val partDfs = parts.map { case (p, ls) =>
      p -> ls.map(l => conds(l).foldLeft(dfs(l))(_ filter _)).reduce(_ unionByName _) }
    val partConds = parts.map { case (p, ls) =>
      p -> (if (ls.exists(l => conds(l).nonEmpty)) Seq("true") else Nil) }
    def end(t: String, cs: Seq[String]) =
      s"$t(${cs.mkString(", ")}) ${cs.map(c => keys.colTypes(t -> c)).mkString(", ")}"
    SubsetGraph.joinedEdges(dfs.keySet ++ parts.keySet, keys.fks, conds ++ partConds)
      .find(e => !keys.textComparable(e)).foreach { e => throw new IllegalArgumentException(
        s"$verb: the subset closure would join ${end(e.childTable, e.childCols)} -> " +
          s"${end(e.parentTable, e.parentCols)} as COPY text, where equal keys print " +
          "differently — aborting") }
    val kept = SubsetPlanner.plan(dfs ++ partDfs, keys.pks, keys.fks, conds ++ partConds)
    frames.map { case (cfg, _) =>
      cfg.table -> Planner.plan(kept(cfg.table), cfg.copy(subsetConds = Nil)) }
  }

  /** dump: config -> validate -> subset -> transform -> write + manifest,
    * closing subsets over `keys` (by default the testdata's, [[Catalog.fixture]]). */
  def dump(spark: SparkSession, configJson: String, sfDir: String, outDir: String,
           keys: CatalogKeys = Catalog.fixture): Manifest = withHeartbeat(outDir) {
    val configs = ConfigLoader.fromJson(configJson)
    val dfs = configs.map(c => c.table -> Catalog.load(spark, sfDir, c.table)).toMap
    val masked = planTables("dump", configs.map(c => c -> dfs(c.table)), keys,
      fromCopy = false).toMap
    // transform + write: jobs submitted concurrently, big tables first
    // (cost scoring orders submission; Spark's scheduler is the worker
    // pool — the analog of dump.go:415-433's N-job pool). Cost is REAL
    // bytes on disk — the reference scores by table size
    // (context/context.go:167-183), and a file-count proxy mis-orders any
    // mix of many-small-files and few-big-files tables.
    val order = Manifest.dumpOrder(configs.map(c =>
      (c.table, inputBytes(spark, dfs(c.table)).max(1L), c.transforms.size)))
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val jobs = order.map(t => t -> Future(StorageWriter.write(masked(t), s"$outDir/$t")))
    val dumped = jobs.map { case (t, job) =>
      Await.result(job, Duration.Inf)
      (t, masked(t), s"$outDir/$t")
    }
    val manifest = Manifest.build(dumped, keys)
    Files.createDirectories(Paths.get(outDir))
    Manifest.write(manifest, s"$outDir/manifest.json")
    // pg_restore-compatible twin of the manifest: `pg_restore -l <outDir>`
    // lists the dump like any directory archive (PgTocSpec proves the
    // real binary accepts it)
    PgToc.writeFile(PgToc.fromManifest(manifest, dbName = "graft"),
      s"$outDir/toc.dat")
    manifest
  }

  /** Guard for [[pgDump]]'s partition expansion: the config-named
    * partitioned tables must have pairwise-disjoint leaf sets. Naming a
    * root AND a sub-partitioned descendant in the same config is
    * ambiguous (two masking plans, two copy roots for the shared
    * leaves) — fail loudly rather than dump the shared leaves twice. */
  def assertDisjointPartitionTrees(named: Seq[String],
                                   leavesOf: Map[String, Seq[String]]): Unit =
    if (named.size > 1) {
      val leafSets = named.map(t => t -> leavesOf.getOrElse(t, Nil).toSet)
      for ((a, sa) <- leafSets; (b, sb) <- leafSets if a < b) {
        val shared = (sa & sb).toSeq.sorted
        require(shared.isEmpty,
          s"pg-dump: partitioned tables $a and $b share leaf partitions " +
            s"${shared.mkString(", ")} — name only one (the other is " +
            "inside its partition tree)")
      }
    }

  /** Native pg_dump flags the reference forwards VERBATIM into its
    * `pg_dump --schema-only` capture (`cmd/greenmask/cmd/dump/dump.go`
    * flag table → `internal/db/postgres/cmd/dump.go:212-251`). They only
    * shape the schema-section capture — no masking/restore semantics —
    * so this engine forwards them the same way. Value-taking flags
    * accept both `--flag=v` and `--flag v`. */
  private[graft] val PgDumpPassthroughFlags =
    Set("--encoding", "--lock-wait-timeout", "--extra-float-digits")
  private[graft] val PgDumpPassthroughSwitches = Set("--disable-dollar-quoting")

  private[graft] def pgDumpPassthrough(rest: Seq[String]): Seq[String] =
    rest.flatMap { a =>
      if (PgDumpPassthroughSwitches(a)) Seq(a)
      else if (PgDumpPassthroughFlags.exists(f => a.startsWith(f + "="))) Seq(a)
      else Nil
    } ++ rest.sliding(2).flatMap {
      case Seq(f, v) if PgDumpPassthroughFlags(f) => Seq(f, v)
      case _ => Nil
    }

  /** The reference's own one-command workflow (`greenmask dump`): ingest
    * each configured table FROM a live PostgreSQL over the COPY protocol
    * (`sources/PgSource` via psql — no JDBC driver needed), close the
    * config's subset over the live FKs, apply its masking plan
    * ([[planTables]]), and write a pg_restore-loadable directory
    * archive. `pg_restore -d <target> <outDir>` then stands up the
    * masked copy. `conninfo` is a libpq string, e.g.
    * "host=/sockdir dbname=src user=graft".
    *
    * Schema fidelity: the masked data is spliced into a schema TOC by
    * the one archive writer, [[PgToc.dumpArchiveMerged]] (the reference
    * does exactly this, `cmd/dump.go:212-251,551-590`). When the
    * `pg_dump` client binary is present (and `schemaFromSource`), that
    * TOC is a REAL `pg_dump --schema-only -Fd` of the source — so
    * restoring into an EMPTY database reproduces primary keys, indexes,
    * FK constraints, defaults, sequences, comments and ACLs, with
    * sequence positions replayed from `pg_sequences`. Without the binary
    * it is [[PgToc.generatedSchemaToc]]'s CREATE TABLE DDL from the
    * Spark schema (bare tables). */
  def pgDump(spark: SparkSession, configJson: String, conninfo: String,
             outDir: String,
             schemaFromSource: Boolean = true,
             compress: String = "none",
             sections: String = "all",
             loadViaPartitionRoot: Boolean = false,
             passthrough: Seq[String] = Nil): graft.pipeline.PgToc.Toc = withHeartbeat(outDir) {
    // native pg_dump -s / -a (the reference passes them through,
    // cmd/dump.go flags): schema-only skips every COPY transfer (no data
    // moves at all — the point of -s on a 100 TB source) and emits the
    // real schema archive alone; data-only emits TABLE DATA entries with
    // no DDL, the shape `pg_restore -a` and our dataOnly replay expect.
    require(Seq("all", "schema-only", "data-only").contains(sections),
      s"pg-dump: sections must be all|schema-only|data-only, got $sections")
    val rawConfigs = ConfigLoader.fromJson(configJson)
    val psqlArgs = Seq("-d", conninfo)
    // Partitioned-table routing (the contract real pg_dump uses): a
    // config naming a relkind-'p' PARENT expands to one dump per LEAF
    // partition — the parent contributes its DDL (via the merged schema
    // TOC) but NO data entry, and each leaf inherits the parent's
    // masking plan (`apply_for_inherited`, reference
    // `config_builder.go:723-766`; the catalog walk is
    // `TableGetChildPatsQuery`, recursive through sub-partitions). A
    // leaf with its OWN config entry keeps it (the reference logs and
    // merges; we let the explicit entry win). Without
    // apply_for_inherited the parent config is an ERROR, exactly like
    // the reference (`config_builder.go:226-233`) — silently dumping a
    // parent as one table would double-route rows on restore. The
    // alternative contract (COPY the parent, all rows in one payload)
    // stays CORRECT for ad-hoc ingest via PgSource.table, which now
    // detects 'p' and routes through `COPY (SELECT ...)`.
    val relkinds = graft.sources.PgSource.relkinds(psqlArgs)
    lazy val leavesOf = graft.sources.PgSource.partitionLeaves(psqlArgs)
    // --load-via-partition-root (native pg_dump flag; reference
    // entries/table.go RootPt*): each leaf's COPY statement targets the
    // CONFIG-NAMED partitioned ancestor, so the server re-routes rows
    // through the partition tree on restore — the shape that survives
    // changed partition boundaries on the target.
    val copyRoots = scala.collection.mutable.Map[String, String]()
    // With intermediates present in partitionLeaves, a config naming BOTH
    // a root and one of its sub-partitioned descendants would expand
    // overlapping leaf sets — duplicate TABLE DATA dumps and
    // last-writer-wins copy roots. Ambiguous by construction; refuse.
    val namedPartitioned =
      rawConfigs.map(_.table).filter(t => relkinds.get(t).contains('p'))
    if (namedPartitioned.size > 1) // guard the lazy catalog walk
      assertDisjointPartitionTrees(namedPartitioned, leavesOf)
    val configs = rawConfigs.flatMap { cfg =>
      if (!relkinds.get(cfg.table).contains('p')) Seq(cfg)
      else {
        require(cfg.applyForInherited,
          s"pg-dump: table ${cfg.table} is partitioned — use apply_for_inherited")
        val leaves = leavesOf.getOrElse(cfg.table, Nil)
        require(leaves.nonEmpty,
          s"pg-dump: partitioned table ${cfg.table} has no leaf partitions")
        if (loadViaPartitionRoot) leaves.foreach(l => copyRoots(l) = cfg.table)
        leaves.filterNot(l => rawConfigs.exists(_.table == l))
          .map(l => cfg.copy(table = l, applyForInherited = false))
      }
    }
    // the live keys also give the TOC dependency ids (what pg_restore -j
    // sorts by) and the entry ORDER (single-session pg_restore replays
    // TOC order — parents first), as the reference records at dump time
    val keys = graft.sources.PgSource.keys(psqlArgs)
    // per-table COPY transfers are network-bound and independent — run
    // them through the same Future pool as the archive writes (the
    // reference's dump worker pool; wall-clock = slowest table, not sum)
    import scala.concurrent.{Await, Future, ExecutionContext}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val frames =
      if (sections == "schema-only") Nil
      else configs.map { cfg =>
        // subset conds push into the COPY's SELECT: the SOURCE SERVER
        // filters the closure's roots, so only their subset moves
        cfg -> Future(graft.sources.PgSource.table(spark, psqlArgs, cfg.table,
          conds = cfg.subsetConds, slices = cfg.dumpSlices))
      }.map { case (cfg, fut) => cfg -> Await.result(fut, Duration.Inf) }
    val masked = planTables("pg-dump", frames, keys, fromCopy = true)
    val byName = masked.toMap
    val ordered = SubsetGraph.restoreOrder(masked.map(_._1), keys.deps)
      .flatten.map(n => n -> byName(n))
    val pgDumpBin = new java.io.File("/usr/bin/pg_dump")
    val capture = schemaFromSource && pgDumpBin.canExecute && sections != "data-only"
    if (sections == "schema-only")
      require(capture,
        "pg-dump --schema-only needs the pg_dump client binary " +
          "(schema fidelity comes from the real --schema-only archive)")
    val schemaToc =
      if (capture) {
        // full-fidelity path: real schema-only archive of the source
        // (uncompressed so PgToc parses it plainly), absorbed into the
        // merge and deleted
        val schemaDir = Paths.get(outDir + ".schema")
        if (Files.exists(schemaDir)) rmTree(schemaDir)
        val p = new ProcessBuilder((Seq(pgDumpBin.getPath, "-Fd",
          "--schema-only", "--compress=0") ++ passthrough ++
          Seq("-d", conninfo, "-f", schemaDir.toString)): _*)
          .redirectErrorStream(true).start()
        val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
        require(p.waitFor() == 0, s"pg_dump --schema-only failed:\n$out")
        try PgToc.readFile(s"$schemaDir/toc.dat") finally rmTree(schemaDir)
      } else
        // data-only (native -a shape: TABLE DATA, no DDL), or the
        // no-binary fallback with Spark-DDL schema
        PgToc.generatedSchemaToc(ordered,
          dbName = "\\bdbname=(\\S+)".r.findFirstMatchIn(conninfo)
            .map(_.group(1)).getOrElse("graft"),
          deps = keys.deps, includeSchema = sections != "data-only")
    // sequence positions replay whenever data moves into a target that
    // has the sequence DDL (the captured schema, or the pre-created
    // tables a data-only restore needs), as native pg_dump / pg_dump -a
    // do; the Spark-DDL fallback creates no sequences for a setval
    val sequences =
      if (sections == "data-only" || (sections == "all" && capture))
        graft.sources.PgSource.sequenceValues(psqlArgs)
      else Map.empty[String, Long]
    PgToc.dumpArchiveMerged(ordered, outDir, schemaToc, deps = keys.deps,
      sequences = sequences, compress = compress, copyTargets = copyRoots.toMap)
  }

  /** validate --data: warnings + original-vs-transformed diff counts,
    * with PKs and FKs from `keys`. */
  def validate(spark: SparkSession, configJson: String, sfDir: String,
               keys: CatalogKeys = Catalog.fixture, rowsLimit: Int = 1000): Seq[String] = {
    val configs = ConfigLoader.fromJson(configJson)
    configs.flatMap { cfg =>
      val df = Catalog.load(spark, sfDir, cfg.table)
      val rawWarnings = Planner.validate(df, cfg, keys = keys)
      val warnings = rawWarnings.map(w =>
        s"""{"severity":"${w.severity}","table":"${w.table}","column":"${w.column}","msg":"${w.msg}"}""")
      val pk = keys.primaryKey(cfg.table)
      val diffLine =
        // fatal plan errors => warnings only, no data pass (validate.go
        // exits non-zero before the data stage)
        if (pk.nonEmpty && cfg.transforms.nonEmpty && !rawWarnings.exists(_.severity == "error")) {
          val sample = df.orderBy(pk.map(org.apache.spark.sql.functions.col): _*).limit(rowsLimit)
          val diff = Validator.diff(sample, Planner.plan(sample, cfg), pk).collect().head
          val fields = diff.schema.fieldNames.zip(diff.toSeq)
            .map { case (n, v) => s""""$n":$v""" }.mkString(",")
          Seq(s"""{"table":"${cfg.table}","diff":{$fields}}""")
        } else Nil
      warnings ++ diffLine
    }
  }

  /** restore: manifest -> topo-ordered batches -> parquet/JDBC target.
    * Before writing each table, the stored schema snapshot is diffed
    * against the data actually on disk (`database_schema.go:33-115`
    * analog) — drift (added/removed/retyped columns since dump time) is
    * reported to stderr rather than silently restored. */
  def restore(spark: SparkSession, manifestPath: String, target: String,
              tables: Option[Set[String]] = None,
              insertMode: Boolean = false,
              ignoreSqlStates: Set[String] = Set.empty,
              onConflictDoNothing: Boolean = false,
              overridingSystemValue: Boolean = false,
              exclusions: Option[ConfigLoader.ErrorExclusions] = None,
              batchSize: Int = 500,
              integrity: IntegrityOptions = IntegrityOptions()): Seq[String] = {
    val all = Manifest(Manifest.readEntries(manifestPath))
    val keep = tables.fold(all)(ts => all.filtered(ts))
    keep.restoreBatches.flatten.map { e =>
      val df = Catalog.read(spark, e.path)
      Manifest.schemaOf(e).foreach { stored =>
        val drift = Validator.schemaDiff(stored, df.schema)
        drift.foreach(d => System.err.println(s"[schema-diff] ${e.table}: $d"))
      }
      if (target.startsWith("jdbc:")) {
        // insert mode = the reference's --inserts path (row INSERTs with
        // per-error exclusion into an EXISTING table); copy mode = bulk
        // batched JDBC overwrite
        if (insertMode) {
          // per-table rule SHADOWS global when one matches
          // (reference isErrorAllowed, table_insert_format.go:226-247)
          val rule = exclusions.map(_.forTable(e.table))
            .getOrElse(ConfigLoader.ExclusionRule.empty)
          RestoreSink.insertRows(df, target, e.table,
            ignoreSqlStates ++ rule.errorCodes,
            batchSize = batchSize,
            integrity = integrity,
            onConflictDoNothing = onConflictDoNothing,
            overridingSystemValue = overridingSystemValue,
            ignoreConstraints = rule.constraints)
        }
        else RestoreSink.bulk(df, target, e.table, batchSize = batchSize,
          mode = org.apache.spark.sql.SaveMode.Overwrite, integrity = integrity)
      } else df.write.mode("overwrite").parquet(s"$target/${e.table}")
      e.table
    }
  }

  // ---------------------------------------------------------------------
  // Utility command surface (`cmd/greenmask/cmd/*`): list-dumps /
  // show-dump / delete over the manifest directory layout, plus
  // list-transformers / show-transformer over the registry.
  // ---------------------------------------------------------------------

  /** One (name, formatted line) per dump directory (a subdir of `root`
    * holding manifest.json). The name rides separately so `--quiet` can
    * print real dump ids — re-parsing the formatted line would truncate
    * a directory name containing a space at that space. */
  def listDumpEntries(root: String): Seq[(String, String)] = {
    val dir = Paths.get(root)
    if (!Files.isDirectory(dir)) Nil
    else {
      import scala.jdk.CollectionConverters._
      // a dump dir is listed when it has a manifest (done/legacy) OR a
      // heartbeat (in-progress/failed dumps are exactly what the status
      // column exists to surface — reference dumpstatus/status.go)
      Files.list(dir).iterator().asScala.toSeq.sorted
        .filter(p => Files.exists(p.resolve("manifest.json")) ||
          Files.exists(p.resolve(HeartBeatFileName)))
        .map { p =>
          val status = dumpStatus(p.toString)
          val mf = p.resolve("manifest.json")
          val counts =
            if (Files.exists(mf)) {
              val entries = Manifest.readEntries(mf.toString)
              s"tables=${entries.size} rows=${entries.map(_.rows).sum}"
            } else "tables=? rows=?"
          val name = p.getFileName.toString
          name -> s"$name $counts status=$status"
        }
    }
  }

  /** One line per dump directory: name, table count, total rows —
    * `list-dumps`. */
  def listDumps(root: String): Seq[String] = listDumpEntries(root).map(_._2)

  /** Per-entry detail of one dump — `show-dump`. */
  def showDump(manifestPath: String): Seq[String] =
    Manifest.readEntries(manifestPath).map(e =>
      s"${e.dumpId} ${e.table} rows=${e.rows} path=${e.path} " +
        s"dependsOn=[${e.dependsOn.mkString(",")}]")

  /** Delete one dump directory (recursively) — `delete`. */
  def deleteDump(root: String, name: String): Boolean = {
    val dir = Paths.get(root, name)
    if (!Files.isDirectory(dir) || !Files.exists(dir.resolve("manifest.json"))) false
    else { rmTree(dir); true }
  }

  private def rmTree(dir: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
      .iterator().asScala.foreach(Files.delete)
  }

  /** Parse the reference's retention-duration grammar
    * (`delete_dump.go:332-336`): `1w2d3h4m5s6ms` — any subset, in
    * order. Unknown units fail loudly. */
  private[graft] def parseRetainFor(s: String): java.time.Duration = {
    val pat = "(\\d+)(w|d|h|ms|m|s)".r
    val known = pat.findAllMatchIn(s).map { m =>
      val n = m.group(1).toLong
      m.group(2) match {
        case "w"  => java.time.Duration.ofDays(7 * n)
        case "d"  => java.time.Duration.ofDays(n)
        case "h"  => java.time.Duration.ofHours(n)
        case "m"  => java.time.Duration.ofMinutes(n)
        case "s"  => java.time.Duration.ofSeconds(n)
        case "ms" => java.time.Duration.ofMillis(n)
      }
    }.foldLeft(java.time.Duration.ZERO)(_ plus _)
    require(pat.findAllMatchIn(s).map(_.matched).mkString == s,
      s"delete --retain-for: cannot parse duration '$s' (use e.g. 1w2d3h4m5s)")
    known
  }

  /** Completion time of a dump dir: the recorded `completedAt` from
    * metadata.json when present (authoritative — survives file copies
    * that rewrite mtimes), else the manifest's mtime (stamped last on
    * success), else the heartbeat's (the only trace of a failed dump),
    * else the directory's own. */
  private def dumpTime(dir: java.nio.file.Path): java.time.Instant = {
    val meta = dir.resolve("metadata.json")
    val recorded =
      if (!Files.exists(meta)) None
      else "\"completedAt\":\"([^\"]+)\"".r
        .findFirstMatchIn(Files.readString(meta))
        .flatMap(m => scala.util.Try(java.time.Instant.parse(m.group(1))).toOption)
    recorded.orElse {
      Seq(dir.resolve("manifest.json"), dir.resolve(HeartBeatFileName), dir)
        .find(Files.exists(_))
        .map(p => Files.getLastModifiedTime(p).toInstant)
    }.getOrElse(java.time.Instant.EPOCH)
  }

  /** Retention-policy deletion over a dump root (reference
    * `delete_dump.go:68-232`): `retainRecent` keeps the newest N DONE
    * dumps and deletes the older done ones; `pruneFailed` deletes
    * failed dumps (+ `pruneUnsafe` extends to unknown-or-failed — only
    * valid WITH pruneFailed, as in the reference); `beforeDate` /
    * `retainFor` delete done dumps older than the cutoff. In-progress
    * dumps are never touched. `dryRun` reports without deleting.
    * Returns one `deleted <name> (<reason>)` line per dump (prefixed
    * `would delete` under dryRun). */
  def deleteDumps(root: String,
                  retainRecent: Int = -1,
                  pruneFailed: Boolean = false,
                  pruneUnsafe: Boolean = false,
                  beforeDate: Option[java.time.Instant] = None,
                  retainFor: Option[java.time.Duration] = None,
                  dryRun: Boolean = false,
                  now: java.time.Instant = java.time.Instant.now()): Seq[String] = {
    require(!pruneUnsafe || pruneFailed,
      "delete: --prune-unsafe works only with --prune-failed")
    require(retainRecent >= 0 || pruneFailed || beforeDate.nonEmpty || retainFor.nonEmpty,
      "delete: provide a dump name or one of --retain-recent / " +
        "--prune-failed / --before-date / --retain-for")
    val dir = Paths.get(root)
    if (!Files.isDirectory(dir)) return Nil
    import scala.jdk.CollectionConverters._
    val dumps = Files.list(dir).iterator().asScala.toSeq
      .filter(Files.isDirectory(_))
      .map(p => (p, dumpStatus(p.toString), dumpTime(p)))
      .sortBy(_._3)
    val victims = scala.collection.mutable.LinkedHashMap[java.nio.file.Path, String]()
    if (pruneFailed)
      dumps.foreach { case (p, st, _) =>
        if (st == "failed" || (pruneUnsafe && st == "unknown or failed"))
          victims.getOrElseUpdate(p, s"status $st")
      }
    beforeDate.foreach { cut =>
      dumps.foreach { case (p, st, t) =>
        if (st == "done" && t.isBefore(cut))
          victims.getOrElseUpdate(p, s"older than $cut")
      }
    }
    retainFor.foreach { d =>
      val cut = now.minus(d)
      dumps.foreach { case (p, st, t) =>
        if (st == "done" && t.isBefore(cut))
          victims.getOrElseUpdate(p, s"older than retain-for window")
      }
    }
    if (retainRecent >= 0) {
      val done = dumps.filter(_._2 == "done")
      done.dropRight(retainRecent).foreach { case (p, _, _) =>
        victims.getOrElseUpdate(p, s"beyond the $retainRecent most recent")
      }
    }
    victims.toSeq.map { case (p, why) =>
      if (!dryRun) rmTree(p)
      s"${if (dryRun) "would delete" else "deleted"} ${p.getFileName} ($why)"
    }
  }

  /** Registry names — `list-transformers`. */
  def listTransformers(): Seq[String] = Registry.factories.keys.toSeq.sorted

  /** One transformer's definition — `show-transformer` (the reference
    * prints the parameter definitions; ours are stringly-typed factory
    * params, shown by building the default instance). */
  def showTransformer(name: String): String =
    Registry.factories.get(name) match {
      case Some(f) => s"$name: ${f(Map.empty).toString}"
      case None => s"$name: unknown transformer"
    }

  /** The shared `pg-restore` flags, parsed ONCE into the value every
    * entry point reads — the `-l` listing, the `-f` script and the
    * direct restore all apply the exact same selection. */
  private def pgRestoreOptions(rest: List[String]): graft.sources.PgRestore.Options = {
    def has(flags: String*): Boolean = flags.exists(rest.contains)
    def values(flags: String*): Seq[String] = rest.sliding(2).collect {
      case Seq(f, v) if flags.contains(f) => v }.toSeq
    def valueOf(prefix: String): Option[String] =
      rest.collectFirst { case a if a.startsWith(prefix) => a.stripPrefix(prefix) }
    // --list-format text|json|yaml (reference restore.go:67-69):
    // text = the pg_restore -l shape; json/yaml = a metadata document
    // whose entries[].dumpId form the list (a manifest.json works)
    val listFormat = valueOf("--list-format=").getOrElse("text")
    graft.sources.PgRestore.Options(
      dataOnly = has("--data-only", "-a"),
      schemaOnly = has("--schema-only", "-s"),
      section = valueOf("--section="),
      clean = has("--clean", "-c"),
      ifExists = has("--if-exists"),
      create = has("--create", "-C"),
      singleTransaction = has("--single-transaction", "-1"),
      noOwner = has("--no-owner", "-O"),
      // native pg_restore's short flag is -x (alias --no-acl); the
      // historical -X is kept for scripts that already use it
      noPrivileges = has("--no-privileges", "--no-acl", "-x", "-X"),
      // --use-list <file>: the native -L — restore only (and in the
      // order of) the listed dumpIds; --with-deps adds each listed
      // entry's transitive dependency closure
      useList = values("--use-list").headOption.map { f =>
        val text = Files.readString(Paths.get(f))
        if (listFormat == "text") graft.sources.PgRestore.parseRestoreList(text)
        else graft.sources.PgRestore.parseStructuredRestoreList(text, listFormat)
      },
      withDeps = has("--with-deps"),
      tables = values("--table", "-t"),
      indexes = values("--index", "-i"),
      functions = values("--function", "-P"),
      triggers = values("--trigger", "-T"),
      schemas = values("--schema", "-n"),
      excludeSchemas = values("--exclude-schema", "-N"),
      strictNames = has("--strict-names"),
      noBlobs = has("--no-blobs", "-B"),
      noComments = has("--no-comments"),
      noPublications = has("--no-publications"),
      noSubscriptions = has("--no-subscriptions"),
      noSecurityLabels = has("--no-security-labels"),
      noTablespaces = has("--no-tablespaces"),
      noTableAccessMethod = has("--no-table-access-method"))
  }

  /** The `pg-restore` CLI verb, extracted so specs can drive the full
    * flag surface without owning the Spark session. `-f` renders a
    * script and returns; otherwise the archive replays directly. */
  private[graft] def pgRestoreCli(archDir: String, conninfo: String,
                                  rest: List[String]): Unit = {
    val opts = pgRestoreOptions(rest)
    // native -f: render the archive as a plain SQL script instead of
    // executing it ('-' = stdout)
    rest.sliding(2).collectFirst { case Seq("--file" | "-f", v) => v }
      .foreach { target =>
        val os = if (target == "-") System.out
          else java.nio.file.Files.newOutputStream(Paths.get(target))
        val n = try graft.sources.PgRestore.toScript(archDir, os, opts)
          finally if (target != "-") os.close()
        System.err.println(s"[pg-restore] wrote $n entries to $target")
        return
      }
    graft.sources.PgRestore.restore(archDir, Seq("-d", conninfo), opts,
      jobs = rest.sliding(2).collectFirst {
        case Seq("--jobs", n) => n.toInt }.getOrElse(4),
      // --scripts <json>: the reference's restore.scripts block —
      // per-section before/after hooks (query / query_file / command)
      scripts = rest.sliding(2).collectFirst {
        case Seq("--scripts", f) =>
          graft.sources.PgRestore.scriptsFromJson(Files.readString(Paths.get(f)))
      }.getOrElse(Map.empty),
      restoreInOrder = rest.contains("--restore-in-order"),
      // CLI default matches the native tool: CONTINUE past failed
      // statements/COPYs (warn + closing summary); -e aborts on the
      // first error (cmd/restore/restore.go:154)
      exitOnError = rest.contains("--exit-on-error") || rest.contains("-e"),
      disableTriggers = rest.contains("--disable-triggers"),
      enableRowSecurity = rest.contains("--enable-row-security"),
      noDataForFailedTables = rest.contains("--no-data-for-failed-tables"),
      verbose = rest.contains("--verbose") || rest.contains("-v"),
      // opt-in hang guard: statements hung on a lock fail loudly
      // after N seconds (server-side lock_timeout for DDL + COPY,
      // byte-idle kill while a COPY feed is mid-stream) instead of
      // hanging the restore; silent-but-working statements (long
      // CREATE INDEX, commit tails) are never touched
      watchdogSec = rest.collectFirst {
        case a if a.startsWith("--watchdog=") =>
          a.stripPrefix("--watchdog=").toInt }.getOrElse(0))
      .foreach(l => println(s"[pg-restore] $l"))
  }

  def main(args: Array[String]): Unit = {
    // started on first use: the pg-restore, pg-diff and dump-directory
    // verbs never touch Spark, so they pay no session start
    var session: Option[SparkSession] = None
    def spark: SparkSession = session.getOrElse {
      val s = LocalSession(); session = Some(s); s
    }
    def exit(code: Int): Nothing = { session.foreach(_.stop()); sys.exit(code) }
    args.toList match {
      case "dump" :: cfgPath :: sfDir :: outDir :: Nil =>
        dump(spark, Files.readString(Paths.get(cfgPath)), sfDir, outDir, Catalog.fixture)
      case "pg-dump" :: cfgPath :: conninfo :: outDir :: rest =>
        // --compress=none|gzip|lz4|zstd[:level] or a bare gzip level
        // 0-9 (the full native pg_dump 16 grammar — a plain integer is
        // a gzip LEVEL, never an algorithm number); payload members
        // ride graft.sources.Compress either way
        val compress = rest.collectFirst {
          case a if a.startsWith("--compress=") => a.stripPrefix("--compress=")
        }.getOrElse("none")
        // native -s / -a: schema-only moves no data at all; data-only
        // emits TABLE DATA with no DDL
        val sections =
          if (rest.contains("--schema-only")) "schema-only"
          else if (rest.contains("--data-only")) "data-only"
          else "all"
        pgDump(spark, Files.readString(Paths.get(cfgPath)), conninfo, outDir,
          compress = compress, sections = sections,
          loadViaPartitionRoot = rest.contains("--load-via-partition-root"),
          // --encoding/--lock-wait-timeout/--disable-dollar-quoting/
          // --extra-float-digits forward verbatim into the schema capture
          passthrough = pgDumpPassthrough(rest))
          .entries.foreach(e => println(s"[pg-dump] ${e.tag.getOrElse("")} " +
            s"${e.desc.getOrElse("")} -> ${e.fileName.getOrElse("(stmt)")}"))
      case "pg-diff" :: connA :: connB :: tablesCsv :: Nil =>
        // post-restore verification: per table, server-side row count +
        // order-independent content fingerprint on BOTH databases; exit
        // nonzero when any table diverges (CI-gate style, like `expect`)
        val results = tablesCsv.split(",").map(_.trim).filter(_.nonEmpty).map { t =>
          val (na, ha) = graft.sources.PgSource.tableFingerprint(Seq("-d", connA), t)
          val (nb, hb) = graft.sources.PgSource.tableFingerprint(Seq("-d", connB), t)
          val ok = na == nb && ha == hb
          println(s"[pg-diff] ${if (ok) "MATCH" else "DIFFER"} $t " +
            s"rows=$na/$nb fp=${ha.take(12)}/${hb.take(12)}")
          ok
        }
        if (results.contains(false)) exit(1)
      case "pg-restore" :: archDir :: "--list" :: rest =>
        // `pg_restore -l` analog: emit the archive's restore list (edit +
        // feed back via --use-list for selective restore). Selection
        // flags restrict the listing exactly as native -l does.
        val sel = graft.sources.PgRestore.listSelectedIds(archDir,
          pgRestoreOptions(rest)).toSet
        graft.sources.PgRestore.listLines(archDir).foreach { l =>
          val id = "^(\\d+);".r.findFirstMatchIn(l.trim).map(_.group(1).toInt)
          if (id.forall(sel)) println(l)
        }
      case "pg-restore" :: archDir :: conninfo :: rest =>
        pgRestoreCli(archDir, conninfo, rest)
      case "pg-ingest" :: archDir :: outDir :: Nil =>
        // any pg_dump -Fd / reference-produced directory archive ->
        // parquet lake, typed from the archive's own CREATE TABLE DDL
        // (string-typed where no schema entry / no faithful scalar)
        graft.sources.PgArchive.loadTyped(spark, archDir).foreach { case (t, df) =>
          df.write.mode("overwrite").parquet(s"$outDir/$t")
          println(s"[pg-ingest] $t -> $outDir/$t")
        }
      case "validate" :: cfgPath :: sfDir :: Nil =>
        validate(spark, Files.readString(Paths.get(cfgPath)), sfDir, Catalog.fixture).foreach(println)
      case "restore" :: manifestPath :: target :: rest =>
        val inserts = rest.contains("--inserts")
        // reference restore flags (cmd/restore.go): --on-conflict-do-nothing
        // emits the literal clause so duplicates skip SERVER-SIDE (the
        // 23505 exclusion default is then unnecessary — the server never
        // raises); --overriding-system-value lets explicit values land in
        // GENERATED ALWAYS identity columns. Both imply INSERT mode.
        val onConflict = rest.contains("--on-conflict-do-nothing")
        val overriding = rest.contains("--overriding-system-value")
        // --config=<json> supplies the reference's insert_error_exclusions
        // block (global + per-table SQLSTATEs and constraint names)
        val excl = rest.collectFirst {
          case a if a.startsWith("--config=") =>
            ConfigLoader.exclusionsFromJson(
              Files.readString(Paths.get(a.stripPrefix("--config="))))
        }
        val tbls = rest.filterNot(_.startsWith("--")).headOption.map(_.split(",").toSet)
        // reference restore flags (cmd/restore.go:181-217): --batch-size,
        // --superuser=<role>, --use-session-replication-role-replica,
        // --disable-triggers map onto the JDBC sink's IntegrityOptions
        val batchSize = rest.collectFirst {
          case a if a.startsWith("--batch-size=") =>
            a.stripPrefix("--batch-size=").toInt
        }.getOrElse(500)
        val integ = IntegrityOptions(
          sessionReplicationRoleReplica =
            rest.contains("--use-session-replication-role-replica"),
          disableTriggers = rest.contains("--disable-triggers"),
          superUser = rest.collectFirst {
            case a if a.startsWith("--superuser=") => a.stripPrefix("--superuser=")
          },
          useSetSessionAuthorization =
            rest.contains("--use-set-session-authorization"))
        restore(spark, manifestPath, target, tbls,
          insertMode = inserts || onConflict || overriding,
          ignoreSqlStates =
            if (inserts && !onConflict) Set("23505") else Set.empty,
          onConflictDoNothing = onConflict,
          overridingSystemValue = overriding,
          exclusions = excl,
          batchSize = batchSize,
          integrity = integ)
          .foreach(t => println(s"restored $t"))
      case "list-dumps" :: root :: rest =>
        // --quiet: only dump ids (reference list_dumps.go:69); ids come
        // from the structured pair, not line re-parsing (space-safe)
        if (rest.contains("--quiet")) listDumpEntries(root).foreach(e => println(e._1))
        else listDumps(root).foreach(println)
      case "show-dump" :: manifestPath :: rest =>
        // --format=json emits the manifest document itself (the
        // machine-readable form; text stays the default, as native)
        if (rest.contains("--format=json"))
          println(Files.readString(Paths.get(manifestPath)))
        else showDump(manifestPath).foreach(println)
      case "delete" :: root :: rest if rest.forall(_.startsWith("--")) && rest.nonEmpty =>
        // retention policies (reference delete_dump.go flags)
        deleteDumps(root,
          retainRecent = rest.collectFirst {
            case a if a.startsWith("--retain-recent=") =>
              a.stripPrefix("--retain-recent=").toInt }.getOrElse(-1),
          pruneFailed = rest.contains("--prune-failed"),
          pruneUnsafe = rest.contains("--prune-unsafe"),
          beforeDate = rest.collectFirst {
            case a if a.startsWith("--before-date=") =>
              java.time.Instant.parse(a.stripPrefix("--before-date=")) },
          retainFor = rest.collectFirst {
            case a if a.startsWith("--retain-for=") =>
              parseRetainFor(a.stripPrefix("--retain-for=")) },
          dryRun = rest.contains("--dry-run"))
          .foreach(println)
      case "delete" :: root :: name :: Nil =>
        if (deleteDump(root, name)) println(s"deleted $name")
        else { System.err.println(s"no dump named $name under $root"); exit(1) }
      case "list-transformers" :: Nil => listTransformers().foreach(println)
      case "show-transformer" :: name :: Nil => println(showTransformer(name))
      case "curate" :: cfgPath :: sfDir :: outDir :: Nil =>
        graft.llm.CuratePipeline.main(spark,
          Files.readString(Paths.get(cfgPath)), sfDir, outDir)
      case "expect" :: rulesPath :: sfDir :: table :: Nil =>
        // CI-style data-quality gate: print the per-rule report, exit
        // nonzero when any expectation fails
        val rules = graft.pipeline.Expectations.parse(
          Files.readString(Paths.get(rulesPath)))
        val report = graft.pipeline.Expectations.check(
          Catalog.load(spark, sfDir, table), rules).collect()
        report.foreach { r =>
          println(s"[expect] ${if (r.getBoolean(3)) "PASS" else "FAIL"} " +
            s"rule=${r.getInt(0)} ${r.getString(1)}/${r.getString(2)} " +
            s"observed=${r.getLong(4)}m")
        }
        if (report.exists(!_.getBoolean(3))) exit(1)
      case other =>
        System.err.println(
          "usage: dump <config.json> <sfDir> <outDir> | " +
            "pg-dump <config.json> <conninfo> <outDir> [--encoding=E] " +
            "[--lock-wait-timeout=T] [--disable-dollar-quoting] " +
            "[--extra-float-digits=N] | " +
            "pg-restore <archiveDir> <conninfo> [--data-only] [--disable-triggers] " +
            "[--jobs N] [-e|--exit-on-error] [-c|--clean] [-C|--create] " +
            "[-t|--table name]... [-i|--index name]... [--strict-names] " +
            "[--if-exists] [--section=pre-data|data|post-data] " +
            "[--no-data-for-failed-tables] [-O|--no-owner] [-x|--no-privileges|--no-acl] " +
            "[-s|--schema-only] [-B|--no-blobs] [--no-comments] " +
            "[-n|--schema ns]... [-N|--exclude-schema ns]... " +
            "[-P|--function f]... [-T|--trigger t]... [--no-publications] " +
            "[--no-subscriptions] [--no-security-labels] [--enable-row-security] " +
            "[--list-format=text|json|yaml] [-f|--file out.sql|-] " +
            "[-1|--single-transaction] [--no-tablespaces] " +
            "[--no-table-access-method] [-v|--verbose] [--watchdog=N] | " +
            "pg-ingest <archiveDir> <outDir> | " +
            "pg-diff <conninfoA> <conninfoB> <tables,csv> | " +
            "validate <config.json> <sfDir> | " +
            "restore <manifest.json> <targetDirOrJdbcUrl> [tables,csv] | " +
            "list-dumps <root> | show-dump <manifest.json> | delete <root> <name> | " +
            "list-transformers | show-transformer <name> | " +
            "curate <config.json> <sfDir> <outDir> | " +
            "expect <rules.json> <sfDir> <table>")
        exit(2)
    }
    session.foreach(_.stop())
  }
}
