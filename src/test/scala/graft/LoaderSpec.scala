package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipeline.Catalog

/** The parquet reader every table load goes through: `Catalog.read`
  * must give each path the schema `spark.read.parquet` infers, from
  * footers read on the driver, and start no Spark job doing it. */
class LoaderSpec extends SparkSpec {

  private def dir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    try { spark.conf.set(key, value); body }
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The reader's frame for `path`, after asserting its schema equals
    * Spark's inferred one and that loading it started no job. */
  private def sameAsSpark(path: String): DataFrame = {
    val (df, jobs) = JobCount(spark)(Catalog.read(spark, path))
    assert(jobs == 0, s"loading $path ran $jobs jobs")
    assert(df.schema == spark.read.parquet(path).schema, path)
    df
  }

  private def tablesOf(sfDir: String): Seq[String] =
    new java.io.File(sfDir).list().filter(_.endsWith(".parquet")).sorted.toSeq

  test("every sf0.001, sf0.01 and sf0.1 table reads with Spark's inferred schema and no job") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1")) {
      val tables = tablesOf(s"/root/testdata/$sf")
      assert(tables.length == 10, sf)
      tables.foreach(t => sameAsSpark(s"/root/testdata/$sf/$t"))
    }
    // the inference Spark runs without the reader is a job
    assert(JobCount(spark)(spark.read.parquet("/root/testdata/sf0.01/customer.parquet"))._2 >= 1)
    val (_, jobs) = JobCount(spark)(Catalog.load(spark, "/root/testdata/sf0.01", "orders"))
    assert(jobs == 0)
  }

  test("a replicated scale fixture's tables read with Spark's inferred schema") {
    val out = dir("graft_loader_scale")
    ScaleFixture.replicate(spark, "/root/testdata/sf0.001", out, replicas = 2, files = 2,
      perturb = true)
    val tables = tablesOf(out)
    assert(tables.length == 10)
    tables.foreach(t => sameAsSpark(s"$out/$t"))
  }

  /** `rows` written with parquet's example writer under `message` (int64
    * columns only): a
    * file with no Spark schema in its footer, so the schema comes from
    * converting the parquet types under the session's settings. */
  private def writeRaw(out: String, message: String)(rows: Seq[Seq[(String, Long)]]): Unit = {
    val schema = MessageTypeParser.parseMessageType(message)
    val writer = ExampleParquetWriter.builder(new Path(out)).withType(schema)
      .withConf(new Configuration()).build()
    try {
      val groups = new SimpleGroupFactory(schema)
      rows.foreach(r => writer.write(r.foldLeft(groups.newGroup()) { case (g, (k, v)) => g.append(k, v) }))
    } finally writer.close()
  }

  test("a TIMESTAMP_NTZ column follows the session's NTZ inference setting") {
    val out = s"${dir("graft_loader_ntz")}/t"
    spark.sql("SELECT 1 AS id, TIMESTAMP_NTZ'2021-03-04 05:06:07' AS ts").write.parquet(out)
    assert(sameAsSpark(out).schema("ts").dataType == TimestampNTZType)
    // a footer without Spark's schema: the converter's NTZ setting decides
    val raw = s"${dir("graft_loader_ntz_raw")}/ts.parquet"
    writeRaw(raw, "message m { required int64 id; optional int64 ts (TIMESTAMP(MICROS,false)); }")(
      Seq(Seq("id" -> 1L, "ts" -> 1600000000000000L)))
    assert(sameAsSpark(raw).schema("ts").dataType == TimestampNTZType)
    withConf("spark.sql.parquet.inferTimestampNTZ.enabled", "false") {
      assert(sameAsSpark(raw).schema("ts").dataType == TimestampType)
    }
  }

  test("a TIMESTAMP(NANOS) column reads as a long under nanosAsLong") {
    val out = s"${dir("graft_loader_nanos")}/nanos.parquet"
    writeRaw(out, "message m { required int64 id; optional int64 ts (TIMESTAMP(NANOS,true)); }")(
      (1 to 3).map(i => Seq("id" -> i.toLong, "ts" -> (1600000000000000000L + i))))
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val df = sameAsSpark(out)
    assert(df.schema("ts").dataType == LongType)
    assert(df.agg(max("ts")).head().getLong(0) == 1600000000000000003L)
  }

  test("a written directory's _SUCCESS and .crc siblings are skipped") {
    val out = s"${dir("graft_loader_success")}/t"
    spark.range(0, 40, 1, 4).select(col("id"), (col("id") * 1.5).as("x"),
      col("id").cast("string").as("s")).write.parquet(out)
    val names = new java.io.File(out).list().toSet
    assert(names("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    assert(sameAsSpark(out).count() == 40)
  }

  test("a partitionBy directory takes its partition columns from the paths") {
    val out = s"${dir("graft_loader_part")}/t"
    spark.range(0, 30).select(col("id"), (col("id") % 3).as("k"), lit("v").as("tag"))
      .write.partitionBy("k").parquet(out)
    val df = sameAsSpark(out)
    assert(df.columns.toSeq == Seq("id", "tag", "k"))
    assert(df.filter(col("k") === 2).count() == 10)
  }

  test("a zero-row frame's directory keeps its schema") {
    val out = s"${dir("graft_loader_empty")}/t"
    spark.range(0).select(col("id"), col("id").cast("decimal(12,2)").as("d"),
      array(col("id")).as("a")).write.parquet(out)
    val df = sameAsSpark(out)
    assert(df.schema.map(_.dataType) == Seq(LongType, DecimalType(12, 2), ArrayType(LongType)))
    assert(df.count() == 0)
  }

  test("under mergeSchema Spark's own merge of every footer runs") {
    val out = s"${dir("graft_loader_merge")}/t"
    spark.range(0, 5).select(col("id"), lit(1).as("b")).write.parquet(out)
    spark.range(5, 9).select(col("id"), lit("c").as("c")).write.mode("append").parquet(out)
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assert(Catalog.footerSchema(spark, out).isEmpty)
      val merged = Catalog.read(spark, out)
      assert(merged.schema == spark.read.parquet(out).schema)
      assert(merged.columns.toSet == Set("id", "b", "c"))
      assert(merged.count() == 9)
    }
    // without merging, one footer names the schema
    assert(sameAsSpark(out).columns.length == 2)
  }

  test("a missing path or an empty directory raises Spark's own error") {
    def condition(read: => DataFrame): String = intercept[AnalysisException](read).getCondition
    val missing = s"${dir("graft_loader_missing")}/nothing.parquet"
    assert(Catalog.footerSchema(spark, missing).isEmpty)
    assert(condition(Catalog.read(spark, missing)) == condition(spark.read.parquet(missing)))
    assert(condition(Catalog.read(spark, missing)) == "PATH_NOT_FOUND")
    val empty = dir("graft_loader_emptydir")
    assert(Catalog.footerSchema(spark, empty).isEmpty)
    assert(condition(Catalog.read(spark, empty)) == condition(spark.read.parquet(empty)))
  }
}
