package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline.{CatalogKeys, FkRef, TableMeta}

/** COPY-based ingestion from a live PostgreSQL — the reference's dump
  * path IS `COPY <table> TO STDOUT` over the wire
  * (`internal/db/postgres/dumpers/table.go:64-106`, pgcopy front-end);
  * here the same stream arrives through the stock `psql` client (no
  * JDBC driver required), lands as COPY text, and distributes through
  * [[CopyText.read]] — so a table leaves the source database through
  * exactly one COPY stream, like pg_dump itself.
  *
  * Scale note: the parallelism levers are per-table concurrency (the
  * reference's worker pool; `Lifecycle.dump`'s Future pool here),
  * INTRA-table ctid-range slicing (`table(..., slices = N)` — N
  * concurrent COPY streams per table, so one huge table no longer
  * serializes through a single stream/driver file), and the
  * stride-partitioned JDBC scan in `pipeline/Pipeline` when a driver is
  * available. This source is the client-tool analog for COPY-compatible
  * endpoints.
  */
object PgSource {

  /** Quote an SQL identifier the way pg_dump does: pass through names
    * that are already lower-case-simple, double-quote (with embedded
    * quote doubling) everything else — so mixed-case, reserved-word, or
    * special-character tables and columns survive the generated SQL. */
  def quoteIdent(name: String): String =
    if (name.matches("[a-z_][a-z0-9_]*")) name
    else "\"" + name.replace("\"", "\"\"") + "\""

  /** Run psql, draining stdout to `sink` and stderr to a bounded buffer
    * on its own thread — NEVER merge them (server NOTICEs would corrupt
    * the data stream) and never leave stderr undrained (a chatty server
    * fills the pipe and deadlocks the copy). Returns (rc, stderrText). */
  private def runPsql(args: Seq[String], sink: java.io.OutputStream): (Int, String) = {
    val cmd = Seq("/usr/bin/psql", "-X", "-q", "-v", "ON_ERROR_STOP=1") ++ args
    val p = new ProcessBuilder(cmd: _*).start()
    val errBuf = new java.io.ByteArrayOutputStream()
    val drainer = new Thread(() => {
      try p.getErrorStream.transferTo(errBuf) catch { case _: Throwable => () }
    })
    drainer.setDaemon(true); drainer.start()
    try p.getInputStream.transferTo(sink) finally sink.close()
    val rc = p.waitFor()
    drainer.join(10000)
    (rc, errBuf.toString("UTF-8"))
  }

  /** Rows of one catalog query, fields split on the unit separator (no
    * identifier breaks that split as `|` can). stderr is drained apart,
    * so server notices cannot masquerade as rows. */
  private def query(psqlArgs: Seq[String], what: String, sql: String): Seq[Array[String]] = {
    val buf = new java.io.ByteArrayOutputStream()
    val (rc, err) = runPsql(psqlArgs ++ Seq("-A", "-t", "-F", "\u001f", "-c", sql), buf)
    require(rc == 0, s"PgSource.$what: psql rc=$rc: $err")
    buf.toString("UTF-8").split("\n").filter(_.nonEmpty).map(_.split("\u001f", -1)).toSeq
  }

  /** Low-level: run one `COPY ... TO STDOUT`, spool the stream to
    * `spoolFile`, and read it back distributed as a string-typed
    * DataFrame with `columns`. */
  def copyIn(spark: SparkSession, psqlArgs: Seq[String], copySql: String,
             columns: Seq[String], spoolFile: String): DataFrame = {
    require(columns.nonEmpty, "PgSource.copyIn: need column names")
    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(spoolFile))
    val (rc, err) = runPsql(psqlArgs ++ Seq("-A", "-t", "-c", copySql), out)
    if (rc != 0)
      throw new IllegalStateException(s"PgSource: psql rc=$rc: $err")
    CopyText.read(spark, spoolFile, columns)
  }

  /** Column names of a live table, in ordinal position order. */
  def columnsOf(psqlArgs: Seq[String], table: String,
                namespace: String = "public"): Seq[String] = {
    val sql = "SELECT column_name FROM information_schema.columns " +
      s"WHERE table_schema = '${namespace.replace("'", "''")}' " +
      s"AND table_name = '${table.replace("'", "''")}' " +
      "ORDER BY ordinal_position"
    val cols = query(psqlArgs, "columnsOf", sql).map(_.head)
    require(cols.nonEmpty, s"PgSource: table $namespace.$table has no columns")
    cols
  }

  /** The namespace's PKs and column-level FKs from the live catalog (the
    * reference's `getReferences`, `subset/graph.go:654-669`). `conkey`/
    * `confkey` unnest WITH ORDINALITY, so a composite key keeps its
    * declared column order; an FK is nullable when any child column lacks
    * NOT NULL. Tables are every relation a key names; `colTypes` holds
    * each key column's `format_type`. The per-partition copies
    * PostgreSQL makes of an FK that references a partitioned table are
    * left out: as edges they would demand a parent row in every
    * partition. Such a parent's leaves come from [[partitionLeaves]]. */
  def keys(psqlArgs: Seq[String], namespace: String = "public"): CatalogKeys = {
    val ns = namespace.replace("'", "''")
    // pg_catalog.pg_constraint, NOT information_schema: the info-schema
    // view constraint_column_usage only shows tables the current role
    // OWNS (a read-only dump role would silently lose every FK edge),
    // and joining constraints by NAME cross-matches when two tables
    // reuse a constraint name. conrelid/confrelid have neither problem.
    // BOTH endpoints' namespaces filter: an FK pointing at a same-named
    // table in a DIFFERENT schema must not fabricate a dependency edge
    // onto the dumped table (bare relnames would mis-attribute it)
    val sql =
      "SELECT con.oid, con.contype, c.relname, a.attname, p.relname, pa.attname, a.attnotnull, " +
        "format_type(a.atttypid, a.atttypmod), format_type(pa.atttypid, pa.atttypmod), p.relkind " +
        "FROM pg_catalog.pg_constraint con " +
        "JOIN pg_catalog.pg_class c ON con.conrelid = c.oid " +
        "JOIN pg_catalog.pg_namespace n ON c.relnamespace = n.oid " +
        "LEFT JOIN pg_catalog.pg_class p ON con.confrelid = p.oid " +
        "LEFT JOIN pg_catalog.pg_namespace np ON p.relnamespace = np.oid " +
        "CROSS JOIN LATERAL unnest(con.conkey, con.confkey) WITH ORDINALITY AS k(ck, pk, ord) " +
        "JOIN pg_catalog.pg_attribute a ON a.attrelid = con.conrelid AND a.attnum = k.ck " +
        "LEFT JOIN pg_catalog.pg_attribute pa ON pa.attrelid = con.confrelid AND pa.attnum = k.pk " +
        "LEFT JOIN pg_catalog.pg_constraint par ON par.oid = con.conparentid " +
        "WHERE par.conrelid IS DISTINCT FROM con.conrelid " +
        s"AND n.nspname = '$ns' AND (con.contype = 'p' OR " +
        s"(con.contype = 'f' AND np.nspname = '$ns')) " +
        "ORDER BY c.relname, p.relname, con.conname, con.oid, k.ord"
    val rows = query(psqlArgs, "keys", sql)
    val cons = rows.map(_(0)).distinct.map(rows.groupBy(_(0)))
    val (pkCons, fkCons) = cons.partition(_.head(1) == "p")
    val fks = fkCons.map(r => FkRef(r.head(2), r.map(_(3)), r.head(4), r.map(_(5)),
      nullable = r.exists(_(6) == "f")))
    val pkOf = pkCons.map(r => r.head(2) -> r.map(_(3))).toMap
    val names = (pkCons.map(_.head(2)) ++ fks.flatMap(f => Seq(f.childTable, f.parentTable))).distinct
    val colTypes = rows.flatMap(r => ((r(2), r(3)) -> r(7)) +:
      (if (r(1) == "f") Seq((r(4), r(5)) -> r(8)) else Nil)).toMap
    val leaves = if (rows.exists(_(9) == "p")) partitionLeaves(psqlArgs, namespace)
                 else Map.empty[String, Seq[String]]
    CatalogKeys(names.map(t => TableMeta(t, pkOf.getOrElse(t, Nil))), fks, leaves, colTypes)
  }

  /** relkind of every user relation in the namespace ('r' plain table,
    * 'p' declaratively partitioned parent) — the catalog bit that
    * decides partition routing at dump time (reference
    * `pkg/toolkit/table.go:28-44` models the same `Kind`). */
  def relkinds(psqlArgs: Seq[String],
               namespace: String = "public"): Map[String, Char] = {
    val ns = namespace.replace("'", "''")
    val sql = "SELECT c.relname, c.relkind FROM pg_catalog.pg_class c " +
      "JOIN pg_catalog.pg_namespace n ON c.relnamespace = n.oid " +
      s"WHERE n.nspname = '$ns' AND c.relkind IN ('r', 'p') ORDER BY 1"
    query(psqlArgs, "relkinds", sql).collect { case Array(t, k) => t -> k.head }.toMap
  }

  /** LEAF partitions (relkind 'r') of EVERY partitioned table in the
    * namespace — top-level roots AND intermediate sub-partitioned
    * levels each map to the leaves of their own subtree, recursively —
    * the reference's `TableGetChildPatsQuery` (`context/queries.go:
    * 52-76`, driven from `config_builder.go:723-766`, which walks the
    * children of whichever table the config NAMES, root or not).
    * Intermediate 'p' levels never appear as values — only leaves hold
    * rows. */
  def partitionLeaves(psqlArgs: Seq[String],
                      namespace: String = "public"): Map[String, Seq[String]] = {
    val ns = namespace.replace("'", "''")
    val sql =
      "WITH RECURSIVE tree AS ( " +
        "SELECT i.inhparent AS root, i.inhrelid AS child FROM pg_inherits i " +
        "JOIN pg_class pc ON i.inhparent = pc.oid " +
        "JOIN pg_namespace pn ON pc.relnamespace = pn.oid " +
        s"WHERE pn.nspname = '$ns' AND pc.relkind = 'p' " +
        "UNION ALL " +
        "SELECT t.root, i.inhrelid FROM tree t " +
        "JOIN pg_inherits i ON i.inhparent = t.child) " +
      "SELECT rp.relname, cp.relname FROM tree " +
      "JOIN pg_class rp ON tree.root = rp.oid " +
      "JOIN pg_class cp ON tree.child = cp.oid " +
      "WHERE cp.relkind = 'r' ORDER BY 1, 2"
    query(psqlArgs, "partitionLeaves", sql).collect { case Array(root, leaf) => root -> leaf }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  }

  /** Current positions of every CALLED sequence in the namespace
    * (`pg_sequences.last_value` is NULL until the first `nextval`) — the
    * values a dump must replay as `SEQUENCE SET` entries so restored
    * serial columns resume where the source left off (the reference's
    * sequence dump, `internal/db/postgres/dumpers/sequence.go`). */
  def sequenceValues(psqlArgs: Seq[String],
                     namespace: String = "public"): Map[String, Long] = {
    val ns = namespace.replace("'", "''")
    val sql = "SELECT sequencename, last_value FROM pg_catalog.pg_sequences " +
      s"WHERE schemaname = '$ns' AND last_value IS NOT NULL ORDER BY 1"
    query(psqlArgs, "sequenceValues", sql).collect { case Array(s, v) => s -> v.toLong }.toMap
  }

  /** Order-independent content fingerprint of a live table: row count +
    * md5 over the sorted per-row md5s, computed ON the server (one
    * aggregate query; no data moves). The post-restore verification
    * primitive — same fingerprint <=> same multiset of row texts. */
  def tableFingerprint(psqlArgs: Seq[String], table: String,
                       namespace: String = "public"): (Long, String) = {
    val qt = s"${quoteIdent(namespace)}.${quoteIdent(table)}"
    val sql = s"SELECT count(*), coalesce(md5(string_agg(h, '' ORDER BY h)), 'empty') " +
      s"FROM (SELECT md5(t.*::text) AS h FROM $qt t) s"
    val Seq(Array(n, h)) = query(psqlArgs, "tableFingerprint", sql)
    (n.toLong, h)
  }

  /** Heap size of a live table in PAGES (`pg_class.relpages`, never
    * below 1) — the ctid-slicing basis for [[table]]. */
  def relPages(psqlArgs: Seq[String], tableName: String,
               namespace: String = "public"): Long = {
    val rel = s"${quoteIdent(namespace)}.${quoteIdent(tableName)}"
      .replace("'", "''")
    val sql = s"SELECT GREATEST(relpages, 1) FROM pg_catalog.pg_class " +
      s"WHERE oid = '$rel'::regclass"
    query(psqlArgs, "relPages", sql).head.head.toLong
  }

  /** Ingest a whole table: discover columns, COPY it out, distribute.
    * Optional `conds` push a WHERE into the COPY's inner SELECT — the
    * reference's subset-scoped dump (rows are filtered on the SERVER, so
    * a 1% subset moves 1% of the bytes). The spool file(s) must outlive
    * the returned (lazy) DataFrame; they are registered for JVM-exit
    * cleanup.
    *
    * `slices` > 1 splits the transfer into N concurrent ctid-range
    * `COPY (SELECT ...)` streams — page-range slicing off `relpages`,
    * each slice spooling to its own file, unioned lazily. PostgreSQL 14+
    * serves each slice with a TID range scan, so a 10 TB table no longer
    * serializes through one stream and one driver file: this is the COPY
    * analog of the reference's intra-dump worker pool
    * (`cmd/dump.go:592-686`), and the per-TABLE concurrency lever
    * (Lifecycle's Future pool) composes with it. The LAST slice is
    * open-ended (`ctid >= ...` with no upper bound) so rows appended
    * past a stale `relpages` estimate are still captured; slice count
    * caps at the page count. */
  def table(spark: SparkSession, psqlArgs: Seq[String], tableName: String,
            namespace: String = "public", conds: Seq[String] = Nil,
            slices: Int = 1): DataFrame = {
    val cols = columnsOf(psqlArgs, tableName, namespace)
    val qTable = s"${quoteIdent(namespace)}.${quoteIdent(tableName)}"
    val qCols = cols.map(quoteIdent).mkString(", ")
    // Partitioned parents (relkind 'p') reject plain `COPY t TO STDOUT`
    // and expose no ctid, so a parent ingests as ONE `COPY (SELECT ...)`
    // stream routed through the leaves by the server — CORRECT but
    // unsliceable. The dump path never takes it (pg-dump expands a
    // parent config to per-leaf dumps, where ctid slicing works); this
    // keeps ad-hoc parent ingest working rather than erroring.
    val isParent = relkinds(psqlArgs, namespace).get(tableName).contains('p')
    def spool(suffix: String): String = {
      val p = java.nio.file.Files.createTempFile(
        s"graft_pgsrc_${tableName.replaceAll("[^A-Za-z0-9_-]", "_")}$suffix", ".dat")
      p.toFile.deleteOnExit()
      p.toString
    }
    def sourceSql(extraConds: Seq[String]): String = {
      val all = conds ++ extraConds
      if (all.isEmpty && !isParent) s"$qTable ($qCols)"
      else if (all.isEmpty) s"(SELECT $qCols FROM $qTable)"
      else s"(SELECT $qCols FROM $qTable " +
        s"WHERE ${all.map(c => s"($c)").mkString(" AND ")})"
    }
    val pages = if (slices <= 1 || isParent) 1L
                else relPages(psqlArgs, tableName, namespace)
    val n = math.min(slices.toLong, pages).toInt
    if (n <= 1)
      copyIn(spark, psqlArgs, s"COPY ${sourceSql(Nil)} TO STDOUT", cols, spool(""))
    else {
      val ranges = (0 until n).map { i =>
        val lo = pages * i / n
        val hi = pages * (i + 1) / n
        val lower = s"ctid >= '($lo,0)'"
        if (i == n - 1) Seq(lower) // open-ended tail slice
        else Seq(lower, s"ctid < '($hi,0)'")
      }
      import scala.concurrent.{Await, Future, ExecutionContext}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      val parts = ranges.zipWithIndex.map { case (r, i) =>
        Future(copyIn(spark, psqlArgs,
          s"COPY ${sourceSql(r)} TO STDOUT", cols, spool(s"_s$i")))
      }.map(Await.result(_, Duration.Inf))
      parts.reduce(_ unionAll _)
    }
  }
}
