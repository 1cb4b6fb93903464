package graft.pipeline

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.transformers._

/** Catalog metadata Spark doesn't model: PK/FK, the driver-side analog of
  * `pkg/toolkit/table.go:28-44` + `pg_catalog` introspection
  * (`internal/db/postgres/context/pg_catalog.go:37-160`). For parquet
  * fixtures the schema comes from the files; keys are declared here. */
case class FkRef(childTable: String, childCols: Seq[String],
                 parentTable: String, parentCols: Seq[String],
                 nullable: Boolean = false, polymorphicCond: Option[String] = None,
                 virtual: Boolean = false)

case class TableMeta(name: String, primaryKey: Seq[String])

/** The keys of one schema: each table's primary key and every
  * column-level foreign key (the reference's `pg_constraint` graph,
  * `subset/graph.go:70-178`). Built by [[Catalog.fixture]],
  * [[Catalog.introspectJdbc]] or `sources.PgSource.keys`; only the live
  * source fills `leaves` (partitioned table -> its leaf partitions, which
  * hold its rows in a dump) and `colTypes` ((table, key column) -> SQL
  * type). */
case class CatalogKeys(tables: Seq[TableMeta], fks: Seq[FkRef],
                       leaves: Map[String, Seq[String]] = Map.empty,
                       colTypes: Map[(String, String), String] = Map.empty) {
  val pks: Map[String, Seq[String]] = tables.map(t => t.name -> t.primaryKey).toMap

  def primaryKey(table: String): Seq[String] = pks.getOrElse(table, Nil)

  /** child -> parent tables (restore order, TOC/manifest dependency
    * ids): both ends among `tables`, self-FKs dropped — a self-dependency
    * would only feed cycles into the restore-order sort. A partitioned
    * parent stands for its leaves, whose data entries a dump holds. */
  lazy val deps: Map[String, Seq[String]] =
    fks.filter(r => r.childTable != r.parentTable &&
        pks.contains(r.childTable) && pks.contains(r.parentTable))
      .groupBy(_.childTable).map { case (c, rs) =>
        c -> rs.flatMap(r => leaves.getOrElse(r.parentTable, Seq(r.parentTable))).distinct }

  /** Whether equal keys of `e` print as equal text on both ends, as a
    * join of string-typed COPY frames needs: the same SQL type, both
    * integers, or both unpadded strings. An unknown type passes. */
  def textComparable(e: FkRef): Boolean = {
    def family(t: String) =
      if (Set("smallint", "integer", "bigint")(t)) "integer"
      else if (t == "text" || t.startsWith("character varying")) "text" else t
    e.childCols.zip(e.parentCols).forall { case (c, p) =>
      Seq(colTypes.get(e.childTable -> c), colTypes.get(e.parentTable -> p)).flatten
        .map(family).distinct.size < 2 }
  }
}

/** Table constraints beyond PK/FK — the `pkg/toolkit/constraints.go`
  * surface (`Check:51`, `Unique:215`, `Exclusion:82`,
  * `TriggerConstraint:246`). Each implements the reference's
  * `IsAffected(column)` contract: transforming a covered column yields a
  * warning (the engine can't prove the transformer preserves the
  * invariant), with the constraint expression carried into the message
  * for Check/Exclusion (`constraints.go:63-78,180-211`). */
sealed trait TableConstraint {
  def name: String
  def columns: Seq[String]
  def kind: String
  /** Extra context appended to the warning (e.g. the check expression). */
  def detail: Option[String] = None
  def isAffected(column: String): Boolean = columns.contains(column)
}
case class CheckConstraint(name: String, columns: Seq[String], expression: String)
  extends TableConstraint {
  def kind = "check"
  override def detail: Option[String] = Some(expression)
}
case class UniqueConstraint(name: String, columns: Seq[String]) extends TableConstraint {
  def kind = "unique"
}
case class ExclusionConstraint(name: String, columns: Seq[String], expression: String)
  extends TableConstraint {
  def kind = "exclusion"
  override def detail: Option[String] = Some(expression)
}
case class TriggerConstraint(name: String, columns: Seq[String]) extends TableConstraint {
  def kind = "trigger"
}

object Catalog {
  /** The testdata star schema (TESTDATA.md). */
  val tables: Seq[TableMeta] = Seq(
    TableMeta("region", Seq("r_regionkey")),
    TableMeta("nation", Seq("n_nationkey")),
    TableMeta("customer", Seq("c_custkey")),
    TableMeta("supplier", Seq("s_suppkey")),
    TableMeta("part", Seq("p_partkey")),
    TableMeta("orders", Seq("o_orderkey")),
    TableMeta("lineitem", Seq("l_orderkey", "l_linenumber")),
    TableMeta("events", Seq("event_id")),
    TableMeta("documents", Seq("doc_id")),
    TableMeta("embeddings", Seq("vec_id")))

  val fkRefs: Seq[FkRef] = Seq(
    FkRef("nation", Seq("n_regionkey"), "region", Seq("r_regionkey")),
    FkRef("customer", Seq("c_nationkey"), "nation", Seq("n_nationkey")),
    FkRef("supplier", Seq("s_nationkey"), "nation", Seq("n_nationkey")),
    FkRef("orders", Seq("o_custkey"), "customer", Seq("c_custkey")),
    FkRef("lineitem", Seq("l_orderkey"), "orders", Seq("o_orderkey")),
    FkRef("lineitem", Seq("l_partkey"), "part", Seq("p_partkey")),
    FkRef("lineitem", Seq("l_suppkey"), "supplier", Seq("s_suppkey")),
    FkRef("events", Seq("user_id"), "customer", Seq("c_custkey"), virtual = true))

  /** The testdata schema's keys: the catalog value of every parquet dump. */
  val fixture: CatalogKeys = CatalogKeys(tables, fkRefs)

  /** Table `table` of the parquet dump under `sfDir`: [[read]] of its
    * directory. */
  def load(spark: SparkSession, sfDir: String, table: String): DataFrame =
    read(spark, s"$sfDir/$table.parquet")

  /** The parquet files at `path`, as Spark's parquet reader reads them
    * but without its schema-inference job: the schema comes from
    * [[footerSchema]] on the driver, the way the reference learns each
    * table's shape from the catalog before it streams a row
    * (`context/pg_catalog.go:37-120`). Partition columns still come from
    * Spark's path inference. A path with no footer to read (missing, an
    * empty directory, a glob) goes to Spark's own inference, and so keeps
    * Spark's error. */
  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path).fold(spark.read)(spark.read.schema).parquet(path)

  /** The data schema Spark's non-merging parquet inference
    * (`ParquetUtils.inferSchema`) gives `path`, from the same footer:
    * `_common_metadata`, else `_metadata`, else the first data file in
    * path order. Leaves are listed as Spark's file index lists them,
    * skipping the names Spark skips. The footer is read without its row
    * groups (Spark's `ParquetFooterReader`, over parquet's
    * `ParquetFileReader`) and converted under the session's parquet
    * settings. None when there is no footer to read, and under
    * `spark.sql.parquet.mergeSchema`, where Spark's own parallel merge
    * of every footer runs. */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val sql = spark.sessionState.conf
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def leaves(s: FileStatus): Seq[FileStatus] =
      if (!s.isDirectory) Seq(s)
      else fs.listStatus(s.getPath).toSeq
        .filterNot(c => GraftBridge.hiddenPathName(c.getPath.getName)).flatMap(leaves)
    val top =
      if (sql.isParquetSchemaMergingEnabled) None
      else if (path.exists("{}[]*?\\".contains(_))) None // a glob: Spark expands it
      else try Some(fs.getFileStatus(root)) catch { case _: java.io.FileNotFoundException => None }
    val files = top.toSeq.flatMap(leaves).sortBy(_.getPath.toString)
    def named(n: String) = files.find(_.getPath.getName == n)
    val data = files.filterNot(f => Set("_common_metadata", "_metadata")(f.getPath.getName))
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = sql.isParquetBinaryAsString,
      assumeInt96IsTimestamp = sql.isParquetINT96AsTimestamp,
      inferTimestampNTZ = sql.parquetInferTimestampNTZEnabled,
      nanosAsLong = sql.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = sql.parquetReaderRespectUnknownTypeAnnotation)
    named("_common_metadata").orElse(named("_metadata")).orElse(data.headOption).map { f =>
      val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer), converter)
    }
  }

  /** Partitioned JDBC scan — the Spark analog of the reference's N-worker
    * parallel dump (`dump.go:592-686`: one COPY stream per worker pinned
    * to a shared snapshot). Here each of `numPartitions` executors reads
    * its own stride of `partitionColumn` concurrently; bounds are fetched
    * with one min/max query so callers don't guess. Snapshot consistency
    * must come from the source (read replica / snapshot export — SURVEY
    * §7.4), exactly as the reference requires its exported snapshot. */
  def loadJdbcPartitioned(spark: org.apache.spark.sql.SparkSession, url: String,
                          table: String, partitionColumn: String,
                          numPartitions: Int,
                          connOptions: Map[String, String] = Map.empty): DataFrame = {
    // credential-bearing sources pass user/password/etc. here — the same
    // options reach BOTH the bounds connection and Spark's JDBC reader
    val props = new java.util.Properties()
    connOptions.foreach { case (k, v) => props.setProperty(k, v) }
    val conn = java.sql.DriverManager.getConnection(url, props)
    val bounds =
      try {
        // quoting mirrors Spark's JDBC layer: column identifiers are
        // dialect-quoted (case-preserved), the table reference is passed
        // raw into FROM — so the bounds query resolves against exactly
        // the objects Spark's own partition predicates will hit
        val rs = conn.createStatement().executeQuery(
          s"""SELECT min("$partitionColumn"), max("$partitionColumn") FROM $table""")
        rs.next()
        val lo = rs.getLong(1)
        if (rs.wasNull()) None // empty table: min/max are SQL NULL, not 0
        else Some((lo, rs.getLong(2)))
      } finally conn.close()
    val reader = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
    val withOpts = connOptions.foldLeft(reader) { case (r, (k, v)) => r.option(k, v) }
    bounds match {
      case None =>
        // no rows -> no strides to plan; a single-partition read preserves
        // the (empty) schema without fabricating (0,0) bounds
        withOpts.load()
      case Some((lo, hi)) =>
        withOpts
          .option("partitionColumn", partitionColumn)
          .option("lowerBound", lo)
          .option("upperBound", math.max(hi, lo + 1))
          .option("numPartitions", numPartitions)
          .load()
    }
  }

  /** Live catalog introspection over JDBC metadata — the `pg_catalog`
    * queries of `context/pg_catalog.go:37-160` re-expressed through
    * `DatabaseMetaData` (portable across PG/Derby/etc.): tables, primary
    * keys, and imported foreign keys become one [[CatalogKeys]]. */
  def introspectJdbc(url: String, schema: String = null): CatalogKeys = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val md = conn.getMetaData
      def rows[T](rs: java.sql.ResultSet)(f: java.sql.ResultSet => T): Seq[T] =
        try Iterator.continually(rs).takeWhile(_.next()).map(f).toList finally rs.close()
      val tables = rows(md.getTables(null, schema, "%", Array("TABLE")))(_.getString("TABLE_NAME"))
      val metas = tables.map { t =>
        val pk = rows(md.getPrimaryKeys(null, schema, t))(r =>
          (r.getShort("KEY_SEQ"), r.getString("COLUMN_NAME").toLowerCase))
        TableMeta(t.toLowerCase, pk.sortBy(_._1).map(_._2))
      }
      val refs = tables.flatMap { t =>
        rows(md.getImportedKeys(null, schema, t))(r => (r.getString("PKTABLE_NAME").toLowerCase,
          r.getString("PKCOLUMN_NAME").toLowerCase, r.getString("FKCOLUMN_NAME").toLowerCase,
          r.getShort("KEY_SEQ"))).groupBy(_._1).map { case (parent, cols) =>
          val sorted = cols.sortBy(_._4)
          FkRef(t.toLowerCase, sorted.map(_._3), parent, sorted.map(_._2))
        }
      }
      CatalogKeys(metas, refs)
    } finally conn.close()
  }
}

/** One column's transform step: transformer + optional per-transformer
  * `when` condition (ref `utils/definition.go:120-133`). */
case class ColumnTransform(column: String, transformer: ScalarTransformer,
                           when: Option[String] = None)

/** Per-table plan config: analog of `entries/table.go:37-59` — optional
  * user query, table-level `when` (rows failing it are KEPT UNTRANSFORMED,
  * not dropped — `dumpers/transformation_pipeline.go:165-175`), subset
  * conds, and the transformer chain. */
case class TableConfig(table: String,
                       when: Option[String] = None,
                       transforms: Seq[ColumnTransform] = Nil,
                       subsetConds: Seq[String] = Nil,
                       query: Option[String] = None,
                       dropColumns: Seq[String] = Nil,
                       limit: Option[Int] = None,
                       typeOverrides: Map[String, String] = Map.empty,
                       applyForInherited: Boolean = false,
                       // live-PG ingest only (`pg-dump`): ctid-range COPY
                       // slice count for THIS table — the per-table dial
                       // for one huge table serializing a dump
                       dumpSlices: Int = 1)

/** Plan-time validation warning (analog of toolkit.ValidationWarning). */
case class ValidationWarning(severity: String, table: String, column: String, msg: String)

object Planner {

  /** Build the transformed DataFrame for one table config. Pure plan
    * construction — a single `select`, so every transformer expression
    * lands in one whole-stage-codegen projection. */
  def plan(df: DataFrame, cfg: TableConfig): DataFrame = {
    val base0 = cfg.query.fold(df)(q => df.sparkSession.sql(q))
    val base1 = if (cfg.dropColumns.nonEmpty) base0.drop(cfg.dropColumns: _*) else base0
    // column type override (ref `column.go:58-63`, wired at
    // `config_builder.go:582-598`): treat the column as another type for
    // the whole transform chain
    val base2 = cfg.typeOverrides.foldLeft(base1) { case (d, (c, t)) =>
      d.withColumn(c, col(c).cast(t))
    }
    val base = cfg.subsetConds.foldLeft(base2)((d, c) => d.filter(expr(c)))
    // record-level transformers (Cmd — an external process is not a
    // Column) bypass the projection: they are applied to the PLAN after
    // the scalar select, with `when` gating realized as a split-union
    // (matching rows transformed, the rest kept untouched — the same
    // keep-untransformed semantics the projection compiles into a CASE)
    val (recordTs, scalarTs) = cfg.transforms.partition(
      _.transformer.isInstanceOf[graft.transformers.RecordTransformer])
    val byName = scalarTs.map(t => t.column -> t).toMap
    val projected = base.schema.fields.map { f =>
      byName.get(f.name) match {
        case Some(t) =>
          val transformed = t.transformer.applied(col(f.name)).cast(f.dataType)
          val gated = (cfg.when.toSeq ++ t.when.toSeq).map(expr) match {
            case Nil => transformed
            case conds => when(conds.reduce(_ && _), transformed).otherwise(col(f.name))
          }
          gated.as(f.name)
        case None => col(f.name)
      }
    }
    val selected = base.select(projected.toIndexedSeq: _*)
    val out = recordTs.foldLeft(selected) { (d, t) =>
      val r = t.transformer.asInstanceOf[graft.transformers.RecordTransformer]
      (cfg.when.toSeq ++ t.when.toSeq).map(expr) match {
        case Nil => r.transform(d, t.column)
        case conds =>
          val gate = coalesce(conds.reduce(_ && _), lit(false))
          r.transform(d.filter(gate), t.column).unionByName(d.filter(!gate))
      }
    }
    cfg.limit.fold(out)(out.limit)
  }

  /** Plan-time validation: unknown columns, constraint-affecting transforms
    * (analog of `config_builder.go:526-629` warning machinery).
    * `constraints` carries the table's Check/Unique/Exclusion/Trigger
    * constraints (catalog metadata; empty for the parquet fixtures unless
    * declared); `keys` the PKs and FKs the key warnings read.
    * `checkTypes = false` skips the allowed-type check, for frames whose
    * types are not the source's (string-typed COPY frames). */
  def validate(df: DataFrame, cfg: TableConfig,
               constraints: Seq[TableConstraint] = Nil,
               keys: CatalogKeys = Catalog.fixture,
               checkTypes: Boolean = true): Seq[ValidationWarning] = {
    val types = df.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    val pkCols = keys.primaryKey(cfg.table).toSet
    val pkHit = cfg.transforms.filter(t => pkCols(t.column)).map(t =>
      ValidationWarning("warning", cfg.table, t.column,
        "transformer affects a primary-key column; ensure hash engine + apply_for_references"))
    // constraint IsAffected analog (`pkg/toolkit/constraints.go:63-78`):
    // FK child columns under transformation break referential joins unless
    // the same deterministic transformer runs on the parent side
    val fkCols = keys.fks.filter(_.childTable == cfg.table).flatMap(_.childCols).toSet
    val fkHit = cfg.transforms.filter(t => fkCols(t.column)).map(t =>
      ValidationWarning("warning", cfg.table, t.column,
        "transformer affects a foreign-key column; use hash engine + apply_for_references on the parent"))
    // allowed-type check (SetAllowedColumnTypes analog)
    val typeHit = if (!checkTypes) Nil else cfg.transforms.flatMap { t =>
      for {
        actual <- types.get(t.column)
        allowed <- t.transformer.allowedInputTypes
        if !allowed(actual) && !cfg.typeOverrides.contains(t.column)
      } yield ValidationWarning("error", cfg.table, t.column,
        s"type $actual not in allowed types ${allowed.toSeq.sorted.mkString(",")}")
    }
    // Check/Unique/Exclusion/Trigger IsAffected warnings
    // (`constraints.go:63-78,180-211`): a transformer on any covered
    // column may violate the invariant — warn with the expression when
    // the constraint has one.
    val constraintHit = for {
      t <- cfg.transforms
      c <- constraints
      if c.isAffected(t.column)
    } yield ValidationWarning("warning", cfg.table, t.column,
      s"transformer affects ${c.kind} constraint ${c.name}" +
        c.detail.fold("")(d => s" ($d)"))
    // a transform on a column `df` lacks: [[plan]] would silently skip
    // it, leaving that column unmasked
    val unknown = cfg.transforms.filterNot(t => types.contains(t.column)).map(t =>
      ValidationWarning("error", cfg.table, t.column, "column does not exist"))
    unknown ++ pkHit ++ fkHit ++ typeHit ++ constraintHit
  }

  /** apply_for_inherited (ref `config_builder.go:723-766`,
    * `domains/config.go:169`): auto-propagate a partitioned root table's
    * config to its partition tables. `partitions` maps partition table ->
    * root table (the catalog's partition parent/children metadata,
    * `table.go:28-44`). */
  def applyForInherited(configs: Seq[TableConfig],
                        partitions: Map[String, String]): Seq[TableConfig] = {
    val roots = configs.filter(_.applyForInherited).map(c => c.table -> c).toMap
    val inherited = partitions.toSeq.collect {
      case (part, root) if roots.contains(root) && !configs.exists(_.table == part) =>
        roots(root).copy(table = part, applyForInherited = false)
    }
    configs ++ inherited
  }

  /** apply_for_references (ref `config_builder.go:244-492`): propagate the
    * same deterministic transformer to every FK column referencing the
    * transformed PK, so joins still work after masking. Returns the
    * per-table extra transforms to merge into each config. */
  def applyForReferences(table: String, pkCol: String, t: ScalarTransformer,
                         keys: CatalogKeys): Map[String, ColumnTransform] = {
    keys.fks.filter(r => r.parentTable == table && r.parentCols == Seq(pkCol))
      .map(r => r.childTable -> ColumnTransform(r.childCols.head, t)).toMap
  }
}

/** Validation diff — original vs transformed comparison
  * (`cmd/validate.go:238-298`, `validate_utils/json_document.go:59-215`):
  * per-column changed/total counts via a PK join of the two plans. */
object Validator {
  def diff(original: DataFrame, transformed: DataFrame, pk: Seq[String]): DataFrame = {
    val dataCols = original.columns.filterNot(pk.contains)
    val o = original.as("o")
    val t = transformed.as("t")
    val joined = o.join(t, pk.map(k => col(s"o.$k") === col(s"t.$k")).reduce(_ && _))
    val aggs = dataCols.flatMap { c =>
      Seq(
        sum(when(not(col(s"o.$c") <=> col(s"t.$c")), 1).otherwise(0)).as(s"${c}_changed"),
        count(lit(1)).as(s"${c}_total"))
    }
    joined.agg(aggs.head, aggs.tail.toIndexedSeq: _*)
  }

  /** Per-row diff documents — the reference's validate --data output shape
    * (`json_document.go:59-215`: original + transformed + changed per
    * column per row), as a DataFrame: PK columns, then
    * `<col>_original/_transformed/_changed` triples for every data column. */
  def diffRows(original: DataFrame, transformed: DataFrame, pk: Seq[String]): DataFrame = {
    val dataCols = original.columns.filterNot(pk.contains)
    val o = original.as("o")
    val t = transformed.as("t")
    val joined = o.join(t, pk.map(k => col(s"o.$k") === col(s"t.$k")).reduce(_ && _))
    val cols = pk.map(k => col(s"o.$k").as(k)) ++ dataCols.flatMap { c =>
      Seq(col(s"o.$c").as(s"${c}_original"),
        col(s"t.$c").as(s"${c}_transformed"),
        not(col(s"o.$c") <=> col(s"t.$c")).as(s"${c}_changed"))
    }
    joined.select(cols.toIndexedSeq: _*)
  }

  /** Implicit-change detection (`validate_utils/json_document.go:59-215`):
    * columns the diff shows as changed that NO transformer declared as
    * affected — e.g. an external Cmd rewriting more than its declared
    * columns. Feed it one [[diff]] output row + the declared set. */
  def implicitChanges(diffRow: org.apache.spark.sql.Row,
                      declaredAffected: Set[String]): Seq[String] =
    diffRow.schema.fieldNames.toSeq.filter(_.endsWith("_changed")).flatMap { f =>
      val column = f.stripSuffix("_changed")
      val changed = diffRow.getAs[Long](diffRow.fieldIndex(f))
      if (changed > 0 && !declaredAffected(column)) Some(column) else None
    }

  /** Privacy audit of a masked output: k-anonymity over quasi-identifier
    * columns — every row must share its QI combination with at least k-1
    * others. Returns one row: the minimum equivalence-class size and how
    * many classes fall below k (0 = the release is k-anonymous). One
    * map-side-combinable groupBy; runs on the MASKED data, which is the
    * check a masking engine owes its users. */
  def kAnonymity(masked: DataFrame, quasiIdentifiers: Seq[String], k: Long): DataFrame = {
    require(quasiIdentifiers.nonEmpty, "kAnonymity: need at least one QI column")
    masked.groupBy(quasiIdentifiers.map(col): _*)
      .agg(count(lit(1)).as("class_size"))
      .agg(min("class_size").as("min_class_size"),
        sum(when(col("class_size") < k, 1L).otherwise(0L)).as("classes_below_k"))
  }

  /** l-diversity: within each QI equivalence class, the sensitive column
    * must take at least l distinct values (k-anonymity alone leaks when a
    * class is value-homogeneous). Returns min distinct-sensitive per class
    * and the number of classes below l. */
  def lDiversity(masked: DataFrame, quasiIdentifiers: Seq[String],
                 sensitiveCol: String, l: Long): DataFrame = {
    require(quasiIdentifiers.nonEmpty, "lDiversity: need at least one QI column")
    masked.groupBy(quasiIdentifiers.map(col): _*)
      .agg(countDistinct(col(sensitiveCol)).as("n_sensitive"))
      .agg(min("n_sensitive").as("min_diversity"),
        sum(when(col("n_sensitive") < l, 1L).otherwise(0L)).as("classes_below_l"))
  }

  /** t-closeness: within each QI equivalence class, the sensitive-value
    * distribution must stay within distance t of the corpus-wide
    * distribution (l-diversity alone leaks when a class is skewed toward
    * one value). Distance is total variation — for categorical sensitive
    * attributes the equal-ground-distance EMD: TV = (1/2)·Σ_v |c_v/n_g −
    * C_v/N|. Computed EXACTLY in integers via the closed form
    * num_g = Σ_{v∈class}(|c_v·N − C_v·n_g| − C_v·n_g) + N·n_g
    * (values absent from the class contribute C_v·n_g, and Σ_v C_v = N
    * folds them in), so TV = num_g / (2·n_g·N). Products are
    * DECIMAL(38,0) so the arithmetic survives corpus scales where
    * BIGINT·BIGINT overflows; the threshold compare is cross-multiplied
    * (num_g·tDen vs 2·tNum·n_g·N) — no floats anywhere. Shape: one
    * groupBy over (QI, sensitive), a window + broadcast joins over the
    * already-aggregated (Zipf-small) class relation, one final 1-row agg.
    * Returns max TV nano-quantized (floor(TV·1e9)), classes above
    * t = tNum/tDen, and the class count. */
  def tCloseness(masked: DataFrame, quasiIdentifiers: Seq[String],
                 sensitiveCol: String, tNum: Long, tDen: Long): DataFrame = {
    require(quasiIdentifiers.nonEmpty, "tCloseness: need at least one QI column")
    require(tNum >= 0 && tDen > 0, "tCloseness: t must be a non-negative rational")
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val qiCols = quasiIdentifiers.map(col)
    // ONE corpus pass: the global sensitive distribution and the total
    // are pure roll-ups of the (QI, sensitive) class aggregate — the
    // Zipf-small class relation is materialized once and re-read by all
    // three consumers instead of re-scanning the masked table per
    // aggregate (round-7 PlanAudit finding: customer x3)
    val cls = graft.plans.Checkpoints.materialize(
      masked.groupBy((quasiIdentifiers :+ sensitiveCol).map(col): _*)
        .agg(count(lit(1)).as("c_v")))
    val glob = cls.groupBy(col(sensitiveCol).as("sv"))
      .agg(sum("c_v").as("big_c"))
    val total = cls.agg(sum("c_v").as("n_total"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(qiCols: _*)
    val withNg = cls.withColumn("n_g", sum("c_v").over(w))
    // null-safe equality so a NULL sensitive value is its own category on
    // both sides rather than silently dropping out of the sum
    val joined = withNg
      .join(broadcast(glob), withNg(sensitiveCol) <=> glob("sv"))
      .crossJoin(broadcast(total)) // 1 row
    val term = abs(col("c_v").cast(d38) * col("n_total").cast(d38) -
        col("big_c").cast(d38) * col("n_g").cast(d38)) -
      col("big_c").cast(d38) * col("n_g").cast(d38)
    val perClass = joined.groupBy(qiCols: _*)
      .agg(first("n_g").as("n_g"), first("n_total").as("n_total"),
        sum(term).as("partial"))
      .select(
        (col("partial") + col("n_total").cast(d38) * col("n_g").cast(d38)).as("num"),
        (col("n_g").cast(d38) * col("n_total").cast(d38) * lit(2).cast(d38)).as("den"),
        col("n_g"), col("n_total"))
    perClass.agg(
      max(expr("(num * 1000000000) div den")).as("max_tv_nano"),
      sum(when(col("num") * lit(tDen).cast(d38) >
        lit(2 * tNum).cast(d38) * col("n_g").cast(d38) * col("n_total").cast(d38),
        1L).otherwise(0L)).as("classes_above_t"),
      count(lit(1)).as("n_classes"))
  }

  /** Schema diff (`pkg/toolkit/database_schema.go:33-115`): added/removed/
    * retyped columns between two schemas. */
  def schemaDiff(before: org.apache.spark.sql.types.StructType,
                 after: org.apache.spark.sql.types.StructType): Seq[String] = {
    val b = before.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val a = after.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val removed = (b.keySet -- a.keySet).toSeq.sorted.map(c => s"removed:$c")
    val added = (a.keySet -- b.keySet).toSeq.sorted.map(c => s"added:$c")
    val retyped = (b.keySet & a.keySet).toSeq.sorted.collect {
      case c if b(c) != a(c) => s"retyped:$c:${b(c)}->${a(c)}"
    }
    removed ++ added ++ retyped
  }
}

/** Name → transformer factory: the registry surface
  * (`transformers/utils/registry.go:23-48`). Params are stringly-typed like
  * the reference's ParamsValue. */
object Registry {
  type Factory = Map[String, String] => ScalarTransformer

  private def p(m: Map[String, String], k: String, d: String) = m.getOrElse(k, d)

  private def F(fn: Factory): Factory = fn

  val factories: Map[String, Factory] = Map(
    "RandomInt" -> F(m => RandomInt(p(m, "min", "0").toLong, p(m, "max", "100").toLong)),
    "RandomFloat" -> F(m => RandomFloat(p(m, "min", "0").toDouble, p(m, "max", "1").toDouble,
      p(m, "decimals", "4").toInt)),
    "RandomNumeric" -> F(m => RandomNumeric(BigDecimal(p(m, "min", "0")),
      BigDecimal(p(m, "max", "1000000")), p(m, "scale", "4").toInt)),
    // unbounded-precision numeric family (>38 digits, TEXT-backed)
    "RandomNumericBig" -> F(m => RandomNumericBig(BigDecimal(p(m, "min", "0")),
      BigDecimal(p(m, "max", "1" + "0" * 50)), p(m, "scale", "0").toInt)),
    "RandomNumericBigSize" -> F(m => RandomNumericBigSize(p(m, "digits", "50").toInt,
      p(m, "scale", "0").toInt)),
    "RandomNumericAny" -> F(m => RandomNumericAny(BigDecimal(p(m, "min", "-" + "1" + "0" * 50)),
      BigDecimal(p(m, "max", "1" + "0" * 50)), p(m, "scale", "0").toInt)),
    "NoiseNumericBig" -> F(m => NoiseNumericBig(p(m, "ratio", "0.1").toDouble,
      p(m, "scale", "0").toInt, p(m, "max_int_digits", "60").toInt,
      m.get("min").map(BigDecimal(_)), m.get("max").map(BigDecimal(_)))),
    "RandomBool" -> F(_ => RandomBool()),
    "RandomDate" -> F(m => RandomDate(p(m, "min_epoch", "0").toLong,
      p(m, "max_epoch", "1893456000").toLong, m.get("truncate"))),
    "RandomUnixTimestamp" -> F(m => RandomUnixTimestamp(p(m, "min_epoch", "0").toLong,
      p(m, "max_epoch", "1893456000").toLong, p(m, "unit", "sec"))),
    "RandomString" -> F(m => RandomString(p(m, "min_length", "4").toInt,
      p(m, "max_length", "12").toInt, p(m, "symbols", "abcdefghijklmnopqrstuvwxyz"))),
    "RandomUuid" -> F(_ => RandomUuid()),
    "RandomChoice" -> F(m => RandomChoice(p(m, "values", "a,b,c").split(",").toSeq)),
    "RandomIp" -> F(m => RandomIp(p(m, "subnet", "10.0.0.0/16"))),
    "RandomMac" -> F(_ => RandomMac()),
    "RandomEmail" -> F(m => RandomEmail(p(m, "keep_original_domain", "false").toBoolean)),
    "NoiseInt" -> F(m => NoiseInt(p(m, "ratio", "0.1").toDouble,
      m.get("min").map(_.toLong), m.get("max").map(_.toLong))),
    "NoiseFloat" -> F(m => NoiseFloat(p(m, "ratio", "0.1").toDouble, p(m, "decimals", "4").toInt,
      m.get("min").map(_.toDouble), m.get("max").map(_.toDouble))),
    "NoiseNumeric" -> F(m => NoiseNumeric(p(m, "ratio", "0.1").toDouble, p(m, "scale", "2").toInt)),
    "NoiseDate" -> F(m => NoiseDate(p(m, "max_shift_days", "30").toInt, m.get("truncate"))),
    "Hash" -> F(m => HashText(p(m, "function", "sha256"), p(m, "max_length", "0").toInt)),
    "Masking" -> F(m => Masking(p(m, "type", "default"))),
    "RegexpReplace" -> F(m => RegexpReplaceT(p(m, "regexp", "."), p(m, "replace", "*"))),
    "Replace" -> F(m => Replace(p(m, "value", ""))),
    "SetNull" -> F(_ => SetNull()),
    "Dict" -> F(m => Dict(
      p(m, "values", "a=b").split(",").map { kv => val Array(k, v) = kv.split("="); k -> v }.toMap,
      m.get("default"), p(m, "fail_not_matched", "false").toBoolean)),
    "Template" -> F(m => TemplateExpr(p(m, "expression", "NULL"))),
    // TemplateRecord (ref template_record.go): SURVEY §2.7 re-scopes the
    // whole-record template to N per-column expressions — a config block
    // lists one TemplateRecord transform per rewritten column, each
    // expression free to reference ANY column of the row (same dialect
    // and engine as Template; the name exists so list-transformers
    // enumerates the full reference inventory and configs port 1:1)
    "TemplateRecord" -> F(m => TemplateExpr(p(m, "expression", "NULL"))),
    // Cmd (ref cmd.go): external-command row transformer over ops/Pipe —
    // record-level (Planner intercepts), command whitespace-split, codec
    // csv|json|jsonrecord|text as in the reference's wire drivers
    "Cmd" -> F(m => CmdTransformer(
      p(m, "command", "cat").split("\\s+").toSeq.filter(_.nonEmpty),
      p(m, "codec", "csv"), p(m, "timeout_sec", "0").toInt)),
    // per-column templates over generated attributes (ref random_person.go
    // columns param / real_address.go required template); RealAddress has
    // no default — the reference rejects an empty template there
    "RandomPerson" -> F(m => PersonTemplate(
      p(m, "template", "concat(first_name, ' ', last_name)"))),
    "RealAddress" -> F(m => AddressTemplate(m.getOrElse("template",
      throw new IllegalArgumentException("RealAddress: 'template' param is required")))),
    "RandomCompany" -> F(m => CompanyTemplate(
      p(m, "template", "concat(company_name, ' ', company_suffix)"))),
    "PiiScrub" -> F(_ => PiiScrub()),
    "TextNormalize" -> F(_ => TextNormalize()),
    // ops spec: ';'-separated "set:<path>=<jsonValue>" / "delete:<path>"
    // (paths are gjson-style dotted; values are JSON text)
    "Json" -> F(m => JsonNested(
      graft.expressions.JsonEditOp.parseSpec(p(m, "ops", "")),
      p(m, "sort_keys", "true").toBoolean)),
  ) ++ Faker.all.map { case (k, v) => k -> ((_: Map[String, String]) => v) }

  def build(name: String, params: Map[String, String]): ScalarTransformer =
    factories.getOrElse(name, throw new IllegalArgumentException(s"unknown transformer $name"))(params)
}

/** Template transformer, re-scoped from go-template to the Spark SQL
  * expression dialect (SURVEY §2.7: function-coverage parity, not syntax
  * parity). The expression may reference any column of the row; `__value__`
  * refers to the input column. */
case class TemplateExpr(expression: String) extends ScalarTransformer {
  override def keepNull: Boolean = false
  def column(in: Column) = expr(expression)
  def oracle(in: String) = Some(expression) // caller supplies dialect-neutral SQL
}
