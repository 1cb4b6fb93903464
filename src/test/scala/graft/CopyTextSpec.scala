package graft

import graft.sources.CopyText

import java.nio.file.Files

/** COPY text codec: escape-table parity with pgcopy (named escapes, octal,
  * hex), null handling, and a distributed write/read round-trip including
  * gzip. */
class CopyTextSpec extends SparkSpec {
  import spark.implicits._

  test("field escape/unescape round-trips control characters") {
    val nasty = "a\tb\nc\rd\\e\ff\bg" + 0x0B.toChar + "h"
    assert(CopyText.decodeField(CopyText.encodeField(nasty)) == nasty)
    assert(CopyText.encodeField("a\tb") == "a\\tb")
    assert(CopyText.encodeField(null) == "\\N")
  }

  test("decoder accepts octal and hex escapes from the reference encoder") {
    assert(CopyText.decodeField("\\101\\102") == "AB")   // octal
    assert(CopyText.decodeField("\\x41\\x42") == "AB")   // hex
    assert(CopyText.decodeField("\\x4a") == "J")
    assert(CopyText.decodeField("\\7") == 0x7.toChar.toString) // short octal
  }

  test("decoder terminates on a lone trailing backslash (malformed input)") {
    // the escape branch needs a following char; a truncated field ending
    // in '\' used to loop forever — it must decode and advance instead
    assert(CopyText.decodeField("abc\\") == "abc\\")
    assert(CopyText.decodeField("\\") == "\\")
    assert(CopyText.decodeField("a\\\\") == "a\\") // escaped pair still one byte
  }

  test("bytea columns render as PostgreSQL hex and round-trip") {
    assert(CopyText.byteaHex(Array(0xDE.toByte, 0xAD.toByte, 0x00.toByte)) == "\\xdead00")
    val df = Seq((1L, Array[Byte](0xDE.toByte, 0xAD.toByte)),
      (2L, Array.emptyByteArray), (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "blob")
    val dir = Files.createTempDirectory("copybytea").toString
    CopyText.write(df.selectExpr("cast(id as string) id", "blob"), s"$dir/t")
    val back = CopyText.read(spark, s"$dir/t", Seq("id", "blob"))
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    // field content is the COPY text form: backslash-x + hex (null stays null)
    assert(back.toSeq == Seq(("1", "\\xdead"), ("2", "\\x"), ("3", null)))
  }

  test("read() is lazy and single-pass: zero jobs at call time, terminator cut exact") {
    // a well-formed pg_dump payload: data (incl. an empty line that IS a
    // row of a 1-col table), the \. terminator, then two junk blank lines
    val dat = Files.createTempDirectory("copyterm").resolve("16404.dat")
    Files.write(dat, "x\n\ny\n\\.\n\n\n".getBytes("UTF-8"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    // the listener bus is async — a short settle after each step keeps
    // the counts honest without private API
    def settle(): Unit = Thread.sleep(400)
    try {
      settle(); jobs.set(0)
      val df = CopyText.read(spark, dat.toString, Seq("v"))
      settle()
      assert(jobs.get() == 0, "read() ran eager Spark jobs before any action")
      val rows = df.collect().map(_.getString(0)).toSeq
      assert(rows == Seq("x", "", "y"), s"terminator cut wrong: $rows")
      settle()
      assert(jobs.get() == 1, s"expected ONE job for the data pass, saw ${jobs.get()}")
    } finally spark.sparkContext.removeSparkListener(listener)

    // terminator-less spool (psql COPY TO STDOUT shape): everything kept
    val spool = Files.createTempDirectory("copyspool").resolve("s.dat")
    Files.write(spool, "a\nb\n".getBytes("UTF-8"))
    assert(CopyText.read(spark, spool.toString, Seq("v"))
      .collect().map(_.getString(0)).sorted.toSeq == Seq("a", "b"))

    // gzipped payload: one partition, per-partition cut, junk dropped
    val gz = Files.createTempDirectory("copygz").resolve("g.dat.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    out.write("p\nq\n\\.\n\n\n".getBytes("UTF-8")); out.close()
    assert(CopyText.read(spark, gz.toString, Seq("v"))
      .collect().map(_.getString(0)).sorted.toSeq == Seq("p", "q"))

    // empty data: file is just the terminator + junk
    val empty = Files.createTempDirectory("copyempty").resolve("e.dat")
    Files.write(empty, "\\.\n\n\n".getBytes("UTF-8"))
    assert(CopyText.read(spark, empty.toString, Seq("v")).count() == 0)
  }

  test("write/read round-trip with tabs, newlines, nulls, gzip") {
    val df = Seq(
      (1L, Some("plain"), Some("with\ttab")),
      (2L, None, Some("with\nnewline")),
      (3L, Some("back\\slash"), None))
      .toDF("id", "a", "b")
      .selectExpr("cast(id as string) id", "a", "b")
    val dir = Files.createTempDirectory("copytext").toString
    CopyText.write(df, s"$dir/t", compression = Some("gzip"))
    val back = CopyText.read(spark, s"$dir/t", Seq("id", "a", "b"))
      .as[(String, Option[String], Option[String])].collect().sortBy(_._1)
    assert(back.toSeq == Seq(
      ("1", Some("plain"), Some("with\ttab")),
      ("2", None, Some("with\nnewline")),
      ("3", Some("back\\slash"), None)))
  }

  test("gzip .dat member index: parallel load, identical rows, stale idx falls back") {
    val df = (1 to 500).map(i => (i.toString, s"v\t$i\nx")).toDF("id", "v")
      .repartition(6)
    val dir = Files.createTempDirectory("copyidx")
    val dat = dir.resolve("t.dat.gz").toString
    CopyText.writeDatFile(df, dat, gzip = true)
    val idx = java.nio.file.Paths.get(dat + ".idx")
    assert(Files.exists(idx), "writeDatFile(gzip) must emit the member sidecar")
    val idxLines = new String(Files.readAllBytes(idx), "UTF-8").split("\n")
    assert(idxLines.head.startsWith("graftgzidx v1 "))

    val indexed = CopyText.read(spark, dat, Seq("id", "v"))
    // one task per DATA member (terminator member is not indexed)
    assert(indexed.rdd.getNumPartitions == idxLines.length - 1,
      "indexed read must decompress members in parallel")
    val expect = (1 to 500).map(i => (i.toString, s"v\t$i\nx")).sortBy(_._1)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.as[(String, String)].collect().sortBy(_._1).toSeq
    assert(rows(indexed) == expect)

    // a payload rewritten out-of-band invalidates the sidecar by length:
    // append blank lines (legal trailing junk) -> fallback path, same rows
    Files.write(java.nio.file.Paths.get(dat),
      gzipBytes("\n\n"), java.nio.file.StandardOpenOption.APPEND)
    val fallback = CopyText.read(spark, dat, Seq("id", "v"))
    assert(fallback.rdd.getNumPartitions == 1, "stale idx must fall back to 1 stream")
    assert(rows(fallback) == expect)
  }

  test("uncompressed .dat member index: line-aligned parallel load; stale idx falls back") {
    import graft.sources.Compress
    val df = (1 to 500).map(i => (i.toString, s"v\t$i\nx")).toDF("id", "v")
      .repartition(6)
    val dir = Files.createTempDirectory("copyidx0")
    val dat = dir.resolve("t.dat").toString
    CopyText.writeDatFile(df, dat, Compress.None)
    val idx = java.nio.file.Paths.get(dat + ".idx")
    assert(Files.exists(idx), "writeDatFile(none) must emit the member sidecar " +
      "(10x-soak finding: block-split fallback loaded 7x slower than zstd)")
    val idxLines = new String(Files.readAllBytes(idx), "UTF-8").split("\n")
    val indexed = CopyText.read(spark, dat, Seq("id", "v"))
    assert(indexed.rdd.getNumPartitions == idxLines.length - 1,
      "indexed read must scan members in parallel")
    val expect = (1 to 500).map(i => (i.toString, s"v\t$i\nx")).sortBy(_._1)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.as[(String, String)].collect().sortBy(_._1).toSeq
    assert(rows(indexed) == expect)
    // out-of-band rewrite invalidates the sidecar by length -> the
    // bounded-terminator scan takes over, same rows (trailing blanks
    // after the terminator are the legal pg_dump shape)
    Files.write(java.nio.file.Paths.get(dat),
      "\n\n".getBytes("UTF-8"), java.nio.file.StandardOpenOption.APPEND)
    assert(rows(CopyText.read(spark, dat, Seq("id", "v"))) == expect)
  }

  test("lz4/zstd .dat members: parallel indexed load + single-stream fallback") {
    import graft.sources.Compress
    for (algo <- Seq(Compress.Lz4, Compress.Zstd)) {
      val df = (1 to 400).map(i => (i.toString, s"v\t$i\nx")).toDF("id", "v")
        .repartition(5) // several parts -> several frames per payload
      val dir = Files.createTempDirectory("copyfrm")
      val dat = dir.resolve("t.dat" + Compress.extension(algo)).toString
      CopyText.writeDatFile(df, dat, algo)
      val idx = java.nio.file.Paths.get(dat + ".idx")
      assert(Files.exists(idx), s"${Compress.name(algo)}: member sidecar missing")
      val expect = (1 to 400).map(i => (i.toString, s"v\t$i\nx")).sortBy(_._1)
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.as[(String, String)].collect().sortBy(_._1).toSeq
      val indexed = CopyText.read(spark, dat, Seq("id", "v"))
      assert(indexed.rdd.getNumPartitions > 1,
        s"${Compress.name(algo)}: indexed read must decode frames in parallel")
      assert(rows(indexed) == expect, Compress.name(algo))
      // no sidecar = a foreign archive's payload: whole-file stream decode
      // (Hadoop has no codec for the frame formats, so this path is ours)
      Files.delete(idx)
      val single = CopyText.read(spark, dat, Seq("id", "v"))
      assert(single.rdd.getNumPartitions == 1,
        s"${Compress.name(algo)}: foreign payload must fall back to 1 stream")
      assert(rows(single) == expect, Compress.name(algo))
    }
  }

  test("writeDatFile runs the input plan once") {
    import org.apache.spark.sql.functions.{col, udf}
    val calls = spark.sparkContext.longAccumulator("encode-input-rows")
    val tick = udf { (x: Long) => calls.add(1); x }
    // the counter sits below a shuffle, so it fires once per row only
    // if the upstream stage runs exactly once
    val df = spark.range(0, 1000, 1, 4).select(tick(col("id")).as("id"))
      .groupBy(col("id")).count()
      .selectExpr("cast(id as string) id", "cast(count as string) n")
    val dat = Files.createTempDirectory("copyonce").resolve("t.dat").toString
    CopyText.writeDatFile(df, dat, graft.sources.Compress.None)
    assert(calls.value == 1000L,
      s"input plan ran ${calls.value / 1000.0} times (${calls.value} rows counted)")
    assert(CopyText.read(spark, dat, Seq("id", "n")).count() == 1000)
  }

  test("writeDatFile of an empty input: terminator only, no data members, zero rows") {
    import graft.sources.Compress
    val df = spark.range(0, 50, 1, 4).filter("id < 0")
      .selectExpr("cast(id as string) id", "'x' v")
    for (algo <- Seq(Compress.None, Compress.Gzip, Compress.Lz4, Compress.Zstd)) {
      val name = Compress.name(algo)
      val dat = Files.createTempDirectory("copyempty")
        .resolve("t.dat" + Compress.extension(algo))
      CopyText.writeDatFile(df, dat.toString, algo)
      val in = Compress.input(algo, Files.newInputStream(dat))
      val payload = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      assert(payload == "\\.\n", s"$name: payload is not the terminator alone")
      val idx = new String(Files.readAllBytes(java.nio.file.Paths.get(s"$dat.idx")), "UTF-8")
      assert(idx == s"graftgzidx v1 ${Files.size(dat)}\n",
        s"$name: sidecar must record zero data members: $idx")
      assert(CopyText.read(spark, dat.toString, Seq("id", "v")).count() == 0, name)
    }
  }

  private def gzipBytes(s: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(s.getBytes("UTF-8")); gz.close()
    bos.toByteArray
  }
}
