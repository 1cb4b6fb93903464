package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Hadoop text input format whose splits are CLIPPED at a byte bound
  * (`graft.copytext.bound`): lines starting at or after the bound are
  * never read. [[CopyText.read]] uses it to cut a COPY payload at its
  * `\.` terminator in the SAME pass that reads the data — the
  * terminator's byte offset comes from a driver-side tail probe, so the
  * payload is read exactly once and the scan stays splittable/parallel.
  *
  * Split semantics: Hadoop's LineRecordReader assigns a line to the
  * split containing its START (a reader consumes lines while
  * lineStart <= splitEnd, and a non-first split skips its leading
  * partial line). Clipping a split's end to `bound - 1` therefore keeps
  * exactly the lines that start before the bound. */
class BoundedTextInputFormat
    extends org.apache.hadoop.mapreduce.lib.input.TextInputFormat {
  import org.apache.hadoop.mapreduce.{InputSplit, JobContext}
  import org.apache.hadoop.mapreduce.lib.input.FileSplit
  override def getSplits(job: JobContext): java.util.List[InputSplit] = {
    val bound = job.getConfiguration.getLong(
      BoundedTextInputFormat.BoundKey, Long.MaxValue)
    val out = new java.util.ArrayList[InputSplit]()
    super.getSplits(job).forEach { s =>
      val f = s.asInstanceOf[FileSplit]
      // keep lines with start <= bound-1: first split reads from 0, any
      // other split reads lines starting strictly after its own start
      if (bound > 0 && (f.getStart == 0 || f.getStart < bound - 1)) {
        val end = math.min(f.getStart + f.getLength, bound - 1)
        val len = end - f.getStart
        if (len > 0 || f.getStart == 0)
          out.add(new FileSplit(f.getPath, f.getStart, len, f.getLocations))
      }
    }
    out
  }
}
object BoundedTextInputFormat {
  val BoundKey = "graft.copytext.bound"
}

/** PostgreSQL COPY text-format codec — the Spark edition of the
  * reference's zero-copy row codec (`internal/db/postgres/pgcopy/`:
  * delimiters `common.go:17-20` — `\t` field sep, `\N` null, `\.`
  * terminator; escape tables `encoder.go:24`, octal/hex decode
  * `decoder.go:54`).
  *
  * In the reference this format IS the wire protocol; here it is an
  * interchange format so greenmask-produced `.dat` payloads (gunzipped)
  * round-trip through the Spark engine. Values travel as strings (the
  * reference is text-first too, SURVEY §1.2); callers cast to typed
  * columns after reading.
  */
object CopyText {

  /** Escape one field per `encoder.go` rules. */
  def encodeField(v: String): String =
    if (v == null) "\\N"
    else {
      val sb = new StringBuilder(v.length + 8)
      v.foreach {
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case 0x0B => sb.append("\\v")
        case c => sb.append(c)
      }
      sb.toString
    }

  /** Decode one field: named escapes + octal (`\123`) + hex (`\x4E`)
    * (`decoder.go:54`). `\N` null is handled at line level.
    *
    * Escapes produce raw BYTES, not UTF-16 chars: octal values are masked
    * to a byte (decoder.go masks with 0377) and consecutive escaped bytes
    * decode together as UTF-8 — so `\xC3\xA9` yields "é", exactly like
    * the reference's byte-oriented decoder. */
  def decodeField(s: String): String = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val out = new java.io.ByteArrayOutputStream(s.length)
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'b' => out.write('\b'); i += 2
          case 'f' => out.write('\f'); i += 2
          case 'n' => out.write('\n'); i += 2
          case 'r' => out.write('\r'); i += 2
          case 't' => out.write('\t'); i += 2
          case 'v' => out.write(0x0B); i += 2
          case '\\' => out.write('\\'); i += 2
          case 'x' if i + 2 < s.length && isHex(s.charAt(i + 2)) =>
            val len = if (i + 3 < s.length && isHex(s.charAt(i + 3))) 2 else 1
            out.write(Integer.parseInt(s.substring(i + 2, i + 2 + len), 16) & 0xFF)
            i += 2 + len
          case d if d >= '0' && d <= '7' =>
            var len = 1
            while (len < 3 && i + 1 + len < s.length &&
              s.charAt(i + 1 + len) >= '0' && s.charAt(i + 1 + len) <= '7') len += 1
            // & 0xFF: octal escapes above \377 wrap to a byte (decoder.go)
            out.write(Integer.parseInt(s.substring(i + 1, i + 1 + len), 8) & 0xFF)
            i += 1 + len
          case other => out.write(other.toString.getBytes(utf8)); i += 2
        }
      } else {
        var j = i
        while (j < s.length && s.charAt(j) != '\\') j += 1
        if (j == i) { out.write('\\'); i += 1 } // lone TRAILING backslash
        else { out.write(s.substring(i, j).getBytes(utf8)); i = j }
      }
    }
    new String(out.toByteArray, utf8)
  }

  private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  private val HexChars = "0123456789abcdef".toCharArray

  /** PostgreSQL hex form of a bytea value: `\x` + lowercase hex — the
    * text rendering COPY expects on input and emits on output. */
  def byteaHex(b: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(2 + b.length * 2)
    sb.append("\\x")
    var i = 0
    while (i < b.length) {
      val x = b(i) & 0xFF
      sb.append(HexChars(x >> 4)).append(HexChars(x & 0xF))
      i += 1
    }
    sb.toString
  }

  /** Render rows as COPY text lines, one line per row. BinaryType
    * columns render in PostgreSQL hex form (`\x...` — the exact inverse
    * of [[graft.sources.PgArchive.loadTyped]]'s unhex decode), so bytea
    * payloads survive a dump -> restore/re-load round-trip instead of
    * degrading to `Array.toString`. */
  private def encodeLines(df: DataFrame): Dataset[String] = {
    val n = df.columns.length
    df.mapPartitions { rows =>
      rows.map { r =>
        (0 until n).map { i =>
          if (r.isNullAt(i)) "\\N"
          else r.get(i) match {
            case b: Array[Byte] => encodeField(byteaHex(b))
            case v => encodeField(String.valueOf(v))
          }
        }.mkString("\t")
      }
    }(Encoders.STRING)
  }

  /** Encode a DataFrame (stringified columns) as COPY text lines:
    * distributed text write, optionally compressed via Spark's text
    * `compression` option (matching the reference's `.dat.gz`). */
  def write(df: DataFrame, path: String, compression: Option[String] = None): Unit = {
    val w = compression.foldLeft(encodeLines(df).write)((w, c) => w.option("compression", c))
    w.mode("overwrite").text(path)
  }

  /** Shield between a per-member compression stream and the shared
    * concat target: frame streams close their underlying stream on
    * close(), but the target must stay open for the next member. */
  private final class NonClosingOutputStream(u: java.io.OutputStream)
      extends java.io.OutputStream {
    override def write(b: Int): Unit = u.write(b)
    override def write(b: Array[Byte], off: Int, len: Int): Unit =
      u.write(b, off, len)
    override def flush(): Unit = u.flush()
    override def close(): Unit = u.flush()
  }

  /** Member fan-out for inputs narrower than it. It fixes the byte
    * layout of every payload [[writeDatFile]] writes, so it is a
    * constant, not a setting. */
  private val Buckets = 16

  /** Render one SINGLE `.dat` data file (the pg_restore directory-archive
    * per-table payload). One table = one COPY stream is pg_restore's own
    * contract, so the final single-stream concat is inherent to the
    * format; the encode itself stays distributed. */
  def writeDatFile(df: DataFrame, file: String, gzip: Boolean = false): Unit =
    writeDatFile(df, file, if (gzip) Compress.Gzip else Compress.None)

  /** One execution of the plan per payload.
    *
    *  - Execute once: the input plan runs a single time
    *    ([[org.apache.spark.sql.GraftBridge.executedOnce]]); the
    *    partition count and the encode reuse its final stage.
    *  - Canonical layout: the encode is CPU-bound, so an input narrower
    *    than [[Buckets]] partitions is widened to [[Buckets]] members
    *    through a hash exchange on `xxhash64(all columns)`. The map side
    *    only hashes; each bucket renders its rows to COPY lines and sorts
    *    them by the line, 16 ways in parallel. Equal sort keys are
    *    byte-identical lines, so payload and sidecar bytes are identical
    *    across runs, input layouts and core counts, ties such as 0.0 vs
    *    -0.0 included. Inputs at or above the fan-out keep their own
    *    layout (native pg_dump payloads are not canonical across `-j`
    *    either); their decoded row multiset is invariant.
    *  - In-task members: each non-empty partition streams its lines
    *    through one [[Compress.output]] member into an attempt-unique
    *    file of the scratch dir and reports `(index, file, length)`.
    *    gzip members, LZ4 frames and zstd frames all define
    *    concatenation as one valid stream, so the driver concatenates
    *    exactly the reported files in partition order and appends a `\.`
    *    terminator member.
    *
    * Every data member's byte range goes to a `graftgzidx v1` sidecar
    * (`<file>.idx`), with which [[read]] decodes members in parallel;
    * pg_restore reads only the files toc.dat lists, so the sidecar is
    * invisible to the native toolchain. An empty input writes the
    * terminator alone and a sidecar with no members. The concat needs
    * the scratch dir on the DRIVER-LOCAL filesystem (this method targets
    * local directory archives): a member the driver cannot see fails
    * with a diagnostic. */
  def writeDatFile(df: DataFrame, file: String, algo: Int): Unit = {
    val tmp = file + ".tmpdir"
    val (rows, width) = org.apache.spark.sql.GraftBridge.executedOnce(df)
    val lines =
      if (width >= Buckets) encodeLines(rows)
      else {
        val cols = rows.columns.map(c => col(s"`$c`"))
        encodeLines(rows.repartition(Buckets, xxhash64(cols: _*)))
          .sortWithinPartitions("value")
      }
    try {
      val reported = lines.rdd.mapPartitionsWithIndex { (i, it) =>
        if (!it.hasNext) Iterator.empty
        else {
          Files.createDirectories(Paths.get(tmp))
          val name = f"part-$i%05d-${TaskContext.get().taskAttemptId()}"
          val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
            Compress.output(algo, new java.io.BufferedOutputStream(
              Files.newOutputStream(Paths.get(tmp, name)))), UTF_8), 1 << 16)
          try it.foreach { l => w.write(l); w.write('\n') } finally w.close()
          Iterator((i, name, Files.size(Paths.get(tmp, name))))
        }
      }.collect().sortBy(_._1)
      reported.foreach { case (_, name, len) =>
        val m = Paths.get(tmp, name)
        if (!Files.isRegularFile(m) || Files.size(m) != len)
          throw new IllegalStateException(
            s"CopyText.writeDatFile: scratch dir $tmp is not on the driver-local " +
              "filesystem (spark default FS must be local for single-file rendering)")
      }
      val out = new java.io.BufferedOutputStream(Files.newOutputStream(Paths.get(file)))
      try {
        reported.foreach { case (_, name, _) => Files.copy(Paths.get(tmp, name), out) }
        // close() (not just finish()) releases native codec buffers
        // immediately; the shield keeps the concat target open
        val z = Compress.output(algo, new NonClosingOutputStream(out))
        z.write("\\.\n".getBytes(UTF_8)); z.close()
      } finally out.close()
      // member byte ranges follow from the verified lengths
      val lens = reported.map(_._3)
      val ranges = lens.zip(lens.scanLeft(0L)(_ + _))
        .map { case (len, start) => s"$start $len" }
      val idx = (s"graftgzidx v1 ${Files.size(Paths.get(file))}" +: ranges)
        .mkString("", "\n", "\n")
      Files.write(Paths.get(file + ".idx"), idx.getBytes(UTF_8))
    } finally {
      val dir = new java.io.File(tmp)
      Option(dir.listFiles()).foreach(_.foreach(_.delete()))
      dir.delete()
    }
  }

  /** Byte offset of the `\.` terminator LINE START when it is the last
    * non-blank line of the file (the shape every well-formed COPY
    * payload has — real pg_dump ends with `\.` plus two blank lines), by
    * reading only the file's tail on the driver. None when the tail
    * shows no terminator (e.g. a psql `COPY TO STDOUT` spool, which
    * carries no terminator at all) or the last line exceeds the probe
    * window. */
  private def probeTerminator(fs: org.apache.hadoop.fs.FileSystem,
                              p: org.apache.hadoop.fs.Path,
                              len: Long): Option[Long] = {
    if (len == 0) return None
    val n = math.min(len, 4096L).toInt
    val buf = new Array[Byte](n)
    val in = fs.open(p)
    try { in.seek(len - n); in.readFully(buf) } finally in.close()
    var i = n - 1
    // trailing junk after a terminator is blank lines only: skip EOL bytes
    while (i >= 0 && (buf(i) == '\n' || buf(i) == '\r')) i -= 1
    if (i < 0) return None // all-blank file
    var j = i
    while (j >= 0 && buf(j) != '\n') j -= 1
    val start = j + 1
    // start == 0 with more file before the window: the line may be
    // truncated at the probe head — can't certify, fall back
    if (start == 0 && len > n) None
    else if (i - start + 1 == 2 && buf(start) == '\\' && buf(start + 1) == '.')
      Some(len - n + start)
    else None
  }

  /** Read COPY text lines back into a string-typed DataFrame — LAZY and
    * single-pass. Real pg_dump payloads end with the `\.` terminator
    * followed by two blank lines; "everything after the terminator is
    * not data" is resolved WITHOUT an eager indexing job:
    *
    *  - single plain file with the terminator as its last non-blank line
    *    (certified by a driver-side tail probe): the scan is cut at the
    *    terminator's byte offset via [[BoundedTextInputFormat]] — exact,
    *    splittable, and the payload is read once;
    *  - compressed payload (.gz/.lz4/.zst) WITH a `.idx` sidecar (our
    *    own [[writeDatFile]] output): one task per recorded member — the
    *    normally unsplittable stream decompresses in parallel, turning
    *    archive load from a 1-task bottleneck into a full-width scan
    *    (foreign archives have no sidecar and a stale one
    *    self-invalidates by total length);
    *  - foreign lz4/zstd payloads (no sidecar): whole-file stream decode
    *    on one task — Hadoop has no codec for the frame formats;
    *  - everything else (foreign gzipped payloads — unsplittable, one
    *    partition per file, so a per-partition cut at the terminator is
    *    exact; terminator-less spools/directories — the cut never
    *    fires): a per-partition `takeWhile`, zero extra jobs, one
    *    decompress.
    *
    * Legitimate empty lines BEFORE the terminator — a one-column table's
    * empty-string rows — survive in both paths; a literal "\\." row is
    * never ambiguous because COPY escapes its backslash. */
  /** Parse a `.dat.gz.idx` sidecar written by [[writeDatFile]]: header
    * `graftgzidx v1 <totalBytes>`, then one `start length` line per gzip
    * DATA member. Returns the member ranges only when the recorded total
    * matches the file's CURRENT length — a payload rewritten by any
    * other tool (real pg_dump, manual edit) invalidates the sidecar and
    * the reader falls back to the single-stream path. */
  private def memberIndex(fs: org.apache.hadoop.fs.FileSystem,
                          p: org.apache.hadoop.fs.Path,
                          len: Long): Option[Seq[(Long, Long)]] = {
    val idx = new org.apache.hadoop.fs.Path(p.toString + ".idx")
    if (!fs.exists(idx)) return None
    try {
      val n = fs.getFileStatus(idx).getLen.toInt
      val buf = new Array[Byte](n)
      val in = fs.open(idx)
      try in.readFully(0, buf) finally in.close()
      val text = new String(buf, "UTF-8")
      val lines = text.split("\n").filter(_.nonEmpty)
      val hdr = lines.head.split(" ")
      if (hdr.length != 3 || hdr(0) != "graftgzidx" || hdr(1) != "v1" ||
        hdr(2).toLong != len) None
      else Some(lines.tail.toSeq.map { l =>
        val a = l.split(" "); (a(0).toLong, a(1).toLong)
      })
    } catch { case _: Exception => None }
  }

  /** EXECUTOR-side streamed line decode of one byte range of a payload:
    * open `pathStr`, seek `start`, decompress `mlen` bytes (Long.MaxValue =
    * to EOF) with `algo`, iterate lines up to the `\.` terminator. Task
    * memory is ONE line buffer regardless of payload size — the shared
    * machinery of the batch member scan and the streaming COPY ingest
    * ([[graft.streaming.StreamingMask.copyIngestStream]]). */
  private[graft] def linesFrom(pathStr: String, start: Long, mlen: Long,
                               algo: Int): Iterator[String] = {
    // executor-side FS handle; default Configuration resolves file://
    // (the directory-archive deployment shape) and any scheme
    // configured cluster-wide. Hadoop Path(String) tolerates the
    // unencoded spaces/'%' that Path.toString and binaryFile's `path`
    // column carry — java.net.URI(raw string) would throw on them.
    val path = new org.apache.hadoop.fs.Path(pathStr)
    val efs = path.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val raw = efs.open(path)
    if (start > 0) raw.seek(start)
    val boundedIn = new java.io.InputStream {
      private var left = mlen
      override def read(): Int =
        if (left <= 0) -1
        else { val b = raw.read(); if (b >= 0) left -= 1; b }
      override def read(b: Array[Byte], o: Int, l: Int): Int =
        if (left <= 0) -1
        else {
          val n = raw.read(b, o, math.min(l.toLong, left).toInt)
          if (n > 0) left -= n
          n
        }
      override def close(): Unit = raw.close()
    }
    val br = new java.io.BufferedReader(new java.io.InputStreamReader(
      Compress.input(algo, boundedIn), "UTF-8"))
    // a downstream limit can drop the iterator mid-member: close on
    // task completion, not only on exhaustion (idempotent close)
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => br.close()))
    new Iterator[String] {
      private var nxt = br.readLine()
      def hasNext: Boolean = nxt != null || { br.close(); false }
      def next(): String = { val r = nxt; nxt = br.readLine(); r }
    }.takeWhile(_ != "\\.")
  }

  /** One task per (start, length) range of `uri`: seek, decompress with
    * `algo`, decode lines up to the member's own `\.` terminator. The
    * parallel-member scan AND the single-stream fallback for frame
    * formats Hadoop has no codec for (lz4/zstd) — the latter is just the
    * whole file as one range. */
  private def memberScan(spark: SparkSession, pathStr: String,
                         ranges: Seq[(Long, Long)], algo: Int):
      org.apache.spark.sql.Dataset[String] = {
    val rdd = spark.sparkContext
      .parallelize(ranges, ranges.size)
      .flatMap { case (start, mlen) => linesFrom(pathStr, start, mlen, algo) }
    spark.createDataset(rdd)(Encoders.STRING)
  }

  def read(spark: SparkSession, path: String, columns: Seq[String]): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = fs.getFileStatus(p)
    val algo = Compress.algoOfFile(p.getName)
    val bounded =
      if (st.isFile && algo == Compress.None)
        probeTerminator(fs, p, st.getLen)
      else None
    // Our own payloads carry a member index for EVERY algorithm: one
    // task per member turns the format's one-unsplittable-stream decode
    // into a parallel scan for compressed payloads, and gives the
    // uncompressed payload line-aligned splits at the encoder's own
    // parallelism (measured in the 10x soak: 129 MB uncompressed fell
    // back to 4 block splits and loaded 7x slower than zstd before
    // this). Foreign payloads have no sidecar -> fallback.
    val indexed =
      if (st.isFile) memberIndex(fs, p, st.getLen) else None
    val lineDs = (indexed, bounded) match {
      case (Some(ranges), _) if ranges.nonEmpty =>
        memberScan(spark, p.toString, ranges, algo)
      case (_, Some(termOffset)) =>
        val conf = new org.apache.hadoop.conf.Configuration(
          spark.sparkContext.hadoopConfiguration)
        conf.setLong(BoundedTextInputFormat.BoundKey, termOffset)
        // a FOREIGN uncompressed payload (real pg_dump --compress=0) has
        // no sidecar; splits default to the local-FS block size (32 MB),
        // which caps decode parallelism at len/32MB tasks. Size splits
        // to the session's parallelism instead (floor 4 MB keeps tiny
        // payloads at one task); on a real cluster HDFS/S3 block sizes
        // make the default reasonable, and this only ever ADDS tasks.
        val targetSplit = math.max(4L << 20,
          st.getLen / math.max(1, spark.sparkContext.defaultParallelism))
        conf.setLong("mapreduce.input.fileinputformat.split.maxsize", targetSplit)
        val rdd = spark.sparkContext.newAPIHadoopFile(
          path, classOf[BoundedTextInputFormat],
          classOf[org.apache.hadoop.io.LongWritable],
          classOf[org.apache.hadoop.io.Text], conf).map(_._2.toString)
        spark.createDataset(rdd)(Encoders.STRING)
      case _ if st.isFile &&
          (algo == Compress.Lz4 || algo == Compress.Zstd) =>
        // foreign lz4/zstd payload (no sidecar): Hadoop ships no codec
        // for the FRAME formats pg_dump writes, so stream-decode the
        // whole file as one range — same 1-task shape a foreign .gz
        // payload gets from the textFile fallback below
        memberScan(spark, p.toString, Seq((0L, st.getLen)), algo)
      case _ =>
        spark.read.textFile(path)
          .mapPartitions(_.takeWhile(_ != "\\."))(Encoders.STRING)
    }
    linesToRows(lineDs, columns)
  }

  /** COPY text lines -> string-typed rows: the shared tail of [[read]]
    * and the STREAMING ingest ([[graft.streaming.StreamingMask
    * .copyIngestStream]]) — a stateless per-row decode, so it lifts to
    * micro-batches unchanged. */
  def linesToRows(lines: org.apache.spark.sql.Dataset[String],
                  columns: Seq[String]): DataFrame = {
    val schema = StructType(columns.map(c => StructField(c, StringType, nullable = true)))
    val enc = Encoders.row(schema)
    lines.mapPartitions { ls =>
      ls.map { l =>
        val fields = l.split("\t", -1).map {
          case "\\N" => null
          case f => decodeField(f)
        }
        Row.fromSeq(fields.padTo(columns.size, null).take(columns.size).toIndexedSeq)
      }
    }(enc)
  }
}
