package graft.sources

import java.io.{InputStream, OutputStream}

/** pg_dump compression-member codec, shared by the archive writer
  * ([[CopyText.writeDatFile]], [[graft.pipeline.PgToc]] blob files), the
  * archive loaders ([[CopyText.read]], [[PgArchive]]) and the restore
  * CLI ([[PgRestore]]).
  *
  * Algorithm numbering follows the archive header's compression byte
  * (reference `internal/db/postgres/toc/` and PostgreSQL
  * pg_backup_archiver: 0=none 1=gzip 2=lz4 3=zstd); file extensions
  * follow pg_dump's directory format (`.gz` / `.lz4` / `.zst`, TOC
  * records the bare `.dat` name for all of them). lz4 members are LZ4
  * FRAME format (what `pg_dump --compress=lz4` and the `lz4` CLI write,
  * not Hadoop's incompatible block codec); zstd members are standard
  * zstd frames. The archive writer streams each partition through
  * [[output]] inside its task, one member per partition. gzip members,
  * LZ4 frames and zstd frames all define concatenated members as one
  * valid stream, the property the parallel member encode/decode relies
  * on. Streams come from the lz4-java and zstd-jni libraries Spark
  * itself bundles — no new dependency.
  */
object Compress {

  val None = 0
  val Gzip = 1
  val Lz4 = 2
  val Zstd = 3

  /** Parse a user-facing spec (`--compress=` value) with the NATIVE
    * pg_dump grammar: a bare integer is a GZIP LEVEL (`0` = none,
    * `1`-`9` = gzip at that level — never an algorithm byte), otherwise
    * `method[:level]` with method in none/gzip/lz4/zstd. The level is
    * validated against the codec's range (gzip 1-9, lz4 1-12, zstd
    * 1-22) and then ignored — members encode at each codec's default
    * level, and the archive format records only the algorithm byte, so
    * round-trips are unaffected. Unknown methods or out-of-range levels
    * fail loudly. */
  def parse(spec: String): Int = {
    val s = spec.trim.toLowerCase
    val (method, levelStr) = s.indexOf(':') match {
      case -1 => (s, scala.None)
      case i  => (s.substring(0, i), Some(s.substring(i + 1)))
    }
    def level(lo: Int, hi: Int): Unit = levelStr.foreach { t =>
      val v = try t.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"invalid compression level '$t' in '$spec'")
      }
      if (v < lo || v > hi) throw new IllegalArgumentException(
        s"compression level $v out of range [$lo, $hi] for $method in '$spec'")
    }
    method match {
      case "" | "none" => level(0, 0); None
      case "gzip"      => level(1, 9); Gzip
      case "lz4"       => level(1, 12); Lz4
      case "zstd"      => level(1, 22); Zstd
      case n if n.nonEmpty && n.forall(_.isDigit) =>
        val v = n.toInt
        if (levelStr.nonEmpty) throw new IllegalArgumentException(
          s"bare integer --compress takes no ':level' suffix: '$spec'")
        if (v == 0) None
        else if (v <= 9) Gzip
        else throw new IllegalArgumentException(
          s"compression level $v out of range (a bare integer is a gzip " +
            "level 0-9, as with native pg_dump; use lz4/zstd by name)")
      case other => throw new IllegalArgumentException(
        s"unknown compression '$other' (supported: none, gzip, lz4, zstd, " +
          "a bare gzip level 0-9, or method:level)")
    }
  }

  def name(algo: Int): String = algo match {
    case None => "none"
    case Gzip => "gzip"
    case Lz4  => "lz4"
    case Zstd => "zstd"
    case other => throw new IllegalArgumentException(
      s"unknown compression algorithm byte $other (supported: 0=none, " +
        "1=gzip, 2=lz4, 3=zstd — a newer pg_dump format?)")
  }

  /** pg_dump's payload suffix for the algorithm ("" for none). */
  def extension(algo: Int): String = algo match {
    case None => ""
    case Gzip => ".gz"
    case Lz4  => ".lz4"
    case Zstd => ".zst"
    case other => throw new IllegalArgumentException(
      s"unknown compression algorithm byte $other")
  }

  /** Algorithm from a payload file name (by suffix). */
  def algoOfFile(fileName: String): Int =
    if (fileName.endsWith(".gz")) Gzip
    else if (fileName.endsWith(".lz4")) Lz4
    else if (fileName.endsWith(".zst")) Zstd
    else None

  /** Wrap `raw` for writing one compressed member (caller closes). */
  def output(algo: Int, raw: OutputStream): OutputStream = algo match {
    case None => raw
    case Gzip => new java.util.zip.GZIPOutputStream(raw)
    case Lz4  => new net.jpountz.lz4.LZ4FrameOutputStream(raw)
    case Zstd => new com.github.luben.zstd.ZstdOutputStream(raw)
    case other => throw new IllegalArgumentException(
      s"unknown compression algorithm byte $other")
  }

  /** Wrap `raw` for reading member(s); all three codecs decode
    * concatenated members/frames until EOF. */
  def input(algo: Int, raw: InputStream): InputStream = algo match {
    case None => raw
    case Gzip => new java.util.zip.GZIPInputStream(raw)
    // readSingleFrame = false: a payload may hold one frame per encoded
    // part file, and all of them are one logical stream
    case Lz4  => new net.jpountz.lz4.LZ4FrameInputStream(raw, false)
    case Zstd => new com.github.luben.zstd.ZstdInputStream(raw)
    case other => throw new IllegalArgumentException(
      s"unknown compression algorithm byte $other")
  }

  /** Probe `base`, then `base.gz` / `base.lz4` / `base.zst` in `dir` —
    * the TOC records the bare name for every algorithm. */
  def probeFile(dir: String, base: String): Option[java.io.File] =
    ("" +: Seq(Gzip, Lz4, Zstd).map(extension))
      .map(e => new java.io.File(dir, base + e)).find(_.exists())
}
