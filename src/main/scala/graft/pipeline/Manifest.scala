package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.subset.SubsetGraph

import java.nio.file.{Files, Paths}

/** Dump/restore lifecycle pieces that are driver-side in Spark:
  *
  *  - [[Manifest]] replaces the binary pg_restore TOC (`toc/writer.go:43-330`,
  *    `reader.go:48-498`) with a JSON manifest: per-table entry with dump
  *    id, path, schema, row count, dependencies (from the FK graph) — the
  *    restore ordering contract without the archive-format baggage.
  *  - [[StorageWriter]] is the storage sink (`internal/storages/storager.go`):
  *    parquet/csv/json + compression codec, partitioned writes. Object
  *    stores (s3a://...) are just a path scheme here — Spark's Hadoop FS
  *    layer replaces the custom S3/Azure/SSH backends.
  *  - Cost scoring (`context/context.go:167-183`): size + 3% per
  *    transformer, big tables first — greedy makespan for the write pool.
  */
case class ManifestEntry(dumpId: Int, table: String, path: String,
                         schemaJson: String, rows: Long, dependsOn: Seq[Int])

case class Manifest(entries: Seq[ManifestEntry]) {
  def toJson: String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    entries.map { e =>
      s"""{"dumpId":${e.dumpId},"table":${q(e.table)},"path":${q(e.path)},""" +
        s""""schema":${q(e.schemaJson)},"rows":${e.rows},"dependsOn":[${e.dependsOn.mkString(",")}]}"""
    }.mkString("[", ",", "]")
  }

  /** Restore-list filter (`cmd/restore.go:329-343,890-1006`): keep only
    * listed tables (with their transitive dependencies). Transitive
    * closure is iterative with a visited set — self-referencing or cyclic
    * dependsOn (possible via `introspectJdbc` on a self-FK table) must
    * not recurse forever. */
  def filtered(keep: Set[String]): Manifest = {
    val byId = entries.map(e => e.dumpId -> e).toMap
    val needed = scala.collection.mutable.Set[Int]()
    val queue = scala.collection.mutable.Queue[Int]()
    entries.filter(e => keep(e.table)).foreach(e => queue.enqueue(e.dumpId))
    while (queue.nonEmpty) {
      val id = queue.dequeue()
      if (needed.add(id))
        byId.get(id).foreach(_.dependsOn.foreach(queue.enqueue))
    }
    Manifest(entries.filter(e => needed(e.dumpId)))
  }

  /** Topologically-ordered restore batches (parents first) —
    * `cmd/restore.go:674-740`. */
  def restoreBatches: Seq[Seq[ManifestEntry]] = {
    val names = entries.map(_.table)
    val byName = entries.map(e => e.table -> e).toMap
    val idToName = entries.map(e => e.dumpId -> e.table).toMap
    val deps = entries.map(e => e.table -> e.dependsOn.flatMap(idToName.get)).toMap
    SubsetGraph.restoreOrder(names, deps).map(_.flatMap(byName.get))
  }
}

object Manifest {
  /** Cost score: `size + size * 0.03 * #transformers`, dump largest first
    * (`context/context.go:167-183`, defaultTransformerCostMultiplier). */
  def costScore(sizeBytes: Long, nTransformers: Int): Double =
    sizeBytes + sizeBytes * 0.03 * nTransformers

  def dumpOrder(tables: Seq[(String, Long, Int)]): Seq[String] =
    tables.sortBy { case (_, size, nT) => -costScore(size, nT) }.map(_._1)

  /** Build a manifest for a set of dumped tables, wiring dependencies from
    * `keys.deps` (dependencies recorded at dump time — `dump.go:383-413`). */
  def build(dumped: Seq[(String, DataFrame, String)], keys: CatalogKeys): Manifest = {
    val ids = dumped.zipWithIndex.map { case ((t, _, _), i) => t -> (i + 1) }.toMap
    Manifest(dumped.zipWithIndex.map { case ((table, df, path), i) =>
      val deps = keys.deps.getOrElse(table, Nil).flatMap(ids.get).sorted
      ManifestEntry(i + 1, table, path, df.schema.json, df.count(), deps)
    })
  }

  def write(m: Manifest, path: String): Unit =
    Files.writeString(Paths.get(path), m.toJson)

  def read(spark: SparkSession, path: String): Seq[(Int, String, String)] =
    readEntries(path).map(e => (e.dumpId, e.table, e.path))

  /** Full manifest reader — a real JSON parse (json4s, already a Spark
    * dependency) that PRESERVES the stored schema snapshot, so a
    * restore-side schema diff (`database_schema.go:33-115` analog) works
    * from a manifest round-trip. (Round 2 regex-parsed and dropped the
    * schema.) */
  def readEntries(path: String): Seq[ManifestEntry] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    JsonMethods.parse(Files.readString(Paths.get(path))) match {
      case JArray(items) => items.map { it =>
        ManifestEntry(
          dumpId = (it \ "dumpId").extract[Int],
          table = (it \ "table").extract[String],
          path = (it \ "path").extract[String],
          schemaJson = (it \ "schema").extractOpt[String].getOrElse("{}"),
          rows = (it \ "rows").extract[Long],
          dependsOn = (it \ "dependsOn").extractOpt[Seq[Int]].getOrElse(Nil))
      }
      case other => throw new IllegalArgumentException(s"manifest: expected JSON array, got $other")
    }
  }

  /** Parse a stored schema snapshot back to a StructType (None when the
    * entry predates schema persistence or was built without one). */
  def schemaOf(e: ManifestEntry): Option[org.apache.spark.sql.types.StructType] =
    try org.apache.spark.sql.types.DataType.fromJson(e.schemaJson) match {
      case s: org.apache.spark.sql.types.StructType if s.fields.nonEmpty => Some(s)
      case _ => None
    } catch { case _: Throwable => None }
}

/** Storage sink — format/compression/partitioning over Spark's writers
  * (`df.write` replaces `internal/storages/{s3,azure,ssh,directory}`). */
object StorageWriter {
  def write(df: DataFrame, path: String, format: String = "parquet",
            compression: String = "snappy", partitionBy: Seq[String] = Nil,
            mode: SaveMode = SaveMode.Overwrite): Unit = {
    val w0 = df.write.mode(mode).format(format).option("compression", compression)
    val w = if (partitionBy.nonEmpty) w0.partitionBy(partitionBy: _*) else w0
    w.save(path)
  }
}
