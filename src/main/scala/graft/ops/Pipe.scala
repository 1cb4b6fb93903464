package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types.{StructType, StringType, StructField}

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.util.concurrent.{ArrayBlockingQueue, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import graft.sources.CopyText

/** External-process row transformer — the Spark rebuild of the reference's
  * `Cmd` transformer (`transformers/cmd.go:50-140`, framing protocol
  * `utils/cmd_transformer_base.go:39-360`, csv/json codecs
  * `pkg/toolkit/csv_api.go:30`, `json_api.go:35`).
  *
  * One process per PARTITION (not per row): `mapPartitions` spawns the
  * executable, a feeder thread streams encoded rows to stdin, the
  * partition iterator yields decoded rows from stdout. At 1000 executors
  * that is one process per task — the same worker-pool shape the reference
  * builds by hand with goroutines (`transformation_window.go`), inherited
  * from Spark's scheduler for free.
  *
  * Streaming, not materializing: rows flow feeder -> process -> output
  * iterator through a BOUNDED queue (the reference streams with 1 MiB
  * buffers, `restorers/table.go:37`); memory is O(queueCapacity), never
  * O(partition) — a wide-row partition holding GBs of strings streams
  * through in constant space.
  */
/** Cmd execution options (ref `transformers/cmd.go:50-140`): per-process
  * timeout (default 2s in the reference, 0 = unlimited here), expected
  * exit code, null-input skip behavior (`skip_on_null_input` with any/all
  * semantics — skipped rows bypass the process and pass through
  * unchanged), and column scoping:
  *
  *  - `affectedColumns` (ref `affected_columns` + `not_affected` merge,
  *    `cmd_transformer_base.go:39-360`): only these columns are sent to
  *    the process and replaced from its output; all other columns pass
  *    through untouched. Empty = every column is affected.
  *  - `skipOriginalData` (ref `skip_original_data`): the process receives
  *    an empty record per row (a row-sync marker, no original values) and
  *    its output still replaces the affected columns — for generator-style
  *    commands that don't need the input.
  */
case class PipeOptions(timeoutSec: Int = 0, expectedExitCode: Int = 0,
                       skipOnNull: Option[String] = None,
                       affectedColumns: Seq[String] = Nil,
                       skipOriginalData: Boolean = false,
                       queueCapacity: Int = 1024,
                       jsonAttributes: String = "indexes",
                       jsonData: String = "text",
                       csvAttributes: String = "config") {
  require(skipOnNull.forall(Set("any", "all")), "skipOnNull: 'any' or 'all'")
  require(queueCapacity > 0, "queueCapacity must be positive")
  // `jsonrecord` codec knobs, mirroring the reference driver params
  // (`definition.go:34-39` json_attributes_format / json_data_format;
  // reference defaults are indexes+bytes, `definition.go:27-32` — ours
  // default to indexes+text because Spark rows carry strings, not raw
  // wire bytes; set jsonData="bytes" for byte-exact reference parity)
  require(Set("indexes", "names")(jsonAttributes), "jsonAttributes: 'indexes' or 'names'")
  require(Set("text", "bytes")(jsonData), "jsonData: 'text' or 'bytes'")
  // csv field layout (`definition.go:38` csv_attributes_format, reference
  // default "direct", `csv_api.go:41-57`): "config" sends ONLY the
  // affected columns in their configured order (this library's historical
  // behavior — unaffected values never cross the process boundary);
  // "direct" sends the FULL tuple so a script addresses fields by
  // absolute column position, with only affected positions merged back
  require(Set("config", "direct")(csvAttributes), "csvAttributes: 'config' or 'direct'")
}

object Pipe {

  private case object End
  private final case class Entry(fields: Array[String], skipped: Boolean)

  /** Pipe string-encoded columns through `cmd`. The command must echo one
    * output line per input line (same contract as the reference's
    * line-oriented csv/json drivers). Output schema = input columns, all
    * StringType (callers re-cast as needed, mirroring the reference's
    * text-format round-trip).
    *
    * @param codec "csv" (tab-separated, \\N for NULL — pgcopy-style),
    *              "json" (one flat object per line keyed by column name —
    *              this library's simplified format),
    *              "jsonrecord" (the reference Cmd wire protocol: one
    *              object per line whose keys are column indexes or names
    *              per `opts.jsonAttributes` and whose values are raw-value
    *              objects `{"d":<data>,"n":<is_null>}` with `d` a plain
    *              string or base64 bytes per `opts.jsonData` — ref
    *              `json_api.go:26-31`, `values.go:17-44`; a script written
    *              against the reference's json driver runs unchanged), or
    *              "text" (single affected column, raw line per row, \\N
    *              for NULL — ref `text_api.go`, `raw_record_text.go:17`;
    *              NOTE: raw means a value containing a newline breaks the
    *              framing, exactly as in the reference — use csv/json
    *              codecs for arbitrary text)
    */
  def through(df: DataFrame, cmd: Seq[String], codec: String = "csv",
              opts: PipeOptions = PipeOptions()): DataFrame = {
    val cols = df.columns.toSeq
    val outSchema = StructType(cols.map(c => StructField(c, StringType, nullable = true)))
    val enc = Encoders.row(outSchema)
    if (!Set("csv", "json", "jsonrecord", "text")(codec))
      throw new IllegalArgumentException(s"Pipe: unknown codec $codec")
    val isJson = codec == "json"
    val affected: Seq[String] = if (opts.affectedColumns.isEmpty) cols else opts.affectedColumns
    affected.foreach(c => require(cols.contains(c), s"Pipe: affected column $c not in input"))
    if (codec == "text") require(affected.size == 1,
      s"Pipe: text codec carries exactly 1 affected column, got ${affected.size} " +
        "(use json or csv — same rule as the reference, interaction_api.go:59-65)")
    val affectedIdx: Array[Int] = affected.map(cols.indexOf).toArray
    // jsonrecord keys: the reference keys by the column's index in the
    // full tuple (Column.Idx), not its position in the affected subset
    val recordKeys: Array[String] =
      if (opts.jsonAttributes == "indexes") affectedIdx.map(_.toString)
      else affected.toArray
    val bytesFmt = opts.jsonData == "bytes"

    df.toDF(cols: _*).mapPartitions { rows =>
      if (!rows.hasNext) Iterator.empty
      else {
        val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(false).start()
        val stdin = new BufferedWriter(new OutputStreamWriter(proc.getOutputStream, "UTF-8"))
        val stdout = new BufferedReader(new InputStreamReader(proc.getInputStream, "UTF-8"))

        // Executor JVMs are long-lived: if the task dies mid-stream
        // (downstream failure, kill), the child process and the feeder
        // thread must not leak. Task completion fires on success AND
        // failure; destroying the process unblocks any stdin/stdout wait
        // and the interrupt breaks the feeder's backpressure loop.
        Option(org.apache.spark.TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
          if (proc.isAlive) proc.destroyForcibly()
        })

        // Watchdog: per-INTERACTION timeout, matching `cmd.go:98-100` —
        // the reference arms a fresh 2s (default) timer around each
        // send/receive, not around total process lifetime. Here every
        // stdin write and stdout read stamps `lastActivity`; the watchdog
        // kills the child only after `timeoutSec` of continuous silence,
        // so a slow-per-row-but-alive command streams a whole partition
        // safely while a hung one dies at the timeout.
        val lastActivity = new AtomicLong(System.nanoTime())
        if (opts.timeoutSec > 0) {
          val timeoutNanos = opts.timeoutSec.toLong * 1000000000L
          val t = new Thread(() => {
            var watching = true
            while (watching && proc.isAlive) {
              val idle = System.nanoTime() - lastActivity.get()
              if (idle >= timeoutNanos) { proc.destroyForcibly(); watching = false }
              else watching = !proc.waitFor(
                math.max(50L, (timeoutNanos - idle) / 1000000L), TimeUnit.MILLISECONDS)
            }
          }, "graft-pipe-watchdog")
          t.setDaemon(true); t.start()
        }

        def skippedRow(fields: Array[String]): Boolean = opts.skipOnNull match {
          case Some("any") => affectedIdx.exists(i => fields(i) == null)
          case Some("all") => affectedIdx.nonEmpty && affectedIdx.forall(i => fields(i) == null)
          case _ => false
        }

        // Framing safety: values containing literal tabs/newlines/control
        // bytes must not break the one-line-per-row protocol. The csv
        // codec reuses the COPY text escape tables (CopyText.encodeField,
        // ref `pgcopy/encoder.go:24`); the json codec escapes every
        // control character per RFC 8259 (ref frames via `encoding/json`
        // which does the same, `json_api.go:35`).
        def encode(fields: Array[String]): String = codec match {
          case _ if opts.skipOriginalData =>
            // row-sync marker with no payload: `{}` for the json drivers
            // (ref emptyJson, json_api.go:33), empty line for csv/text
            if (isJson || codec == "jsonrecord") "{}" else ""
          case "json" =>
            affectedIdx.zip(affected).map { case (i, c) =>
              val v = fields(i)
              val vv = if (v == null) "null" else "\"" + jsonEscape(v) + "\""
              "\"" + jsonEscape(c) + "\":" + vv
            }.mkString("{", ",", "}")
          case "jsonrecord" =>
            // {"<key>":{"d":<data>,"n":<is_null>},...} — d is null when n,
            // else the string (text) or base64 of its UTF-8 bytes (bytes),
            // matching Go json.Marshal of RawValue/RawValueStr
            recordKeys.indices.map { p =>
              val v = fields(affectedIdx(p))
              val dv =
                if (v == null) "null"
                else if (bytesFmt) "\"" + java.util.Base64.getEncoder
                  .encodeToString(v.getBytes("UTF-8")) + "\""
                else "\"" + jsonEscape(v) + "\""
              "\"" + jsonEscape(recordKeys(p)) + "\":{\"d\":" + dv +
                ",\"n\":" + (v == null) + "}"
            }.mkString("{", ",", "}")
          case "text" =>
            val v = fields(affectedIdx(0))
            if (v == null) "\\N" else v
          case _ if opts.csvAttributes == "direct" =>
            fields.indices.map(i => CopyText.encodeField(fields(i))).mkString("\t")
          case _ =>
            affectedIdx.map(i => CopyText.encodeField(fields(i))).mkString("\t")
        }

        // Bounded hand-off between feeder and output iterator: puts block
        // when the consumer lags (backpressure). A line the consumer is
        // about to await must never sit in the writer buffer, so the
        // feeder flushes stdin when the consumer asks (it is about to
        // block on stdout), before a put that would block, and every 50 ms
        // while a put stays blocked. Only the feeder writes to the child:
        // the consumer never blocks on stdin, so it always drains stdout
        // (no feeder<->consumer deadlock). Flush failure (process died)
        // is surfaced by the next write or read, not here.
        val pending = new ArrayBlockingQueue[AnyRef](opts.queueCapacity)
        @volatile var feederError: Throwable = null
        @volatile var flushWanted = false
        def flushStdin(): Unit = {
          flushWanted = false
          try stdin.flush() catch { case _: java.io.IOException => () }
        }
        def put(e: AnyRef): Unit = {
          if (flushWanted || pending.remainingCapacity() == 0) flushStdin()
          while (!pending.offer(e, 50, TimeUnit.MILLISECONDS)) flushStdin() // throws if interrupted
        }

        val feeder = new Thread(() => {
          try {
            rows.foreach { r =>
              val fields = Array.tabulate(r.length)(i =>
                if (r.isNullAt(i)) null else String.valueOf(r.get(i)))
              val skip = skippedRow(fields)
              if (!skip) {
                stdin.write(encode(fields)); stdin.newLine()
                lastActivity.set(System.nanoTime())
              }
              put(Entry(fields, skip))
            }
            try stdin.close() catch { case _: Throwable => () }
            put(End)
          } catch {
            case _: InterruptedException => () // task ended; just exit
            case t: Throwable =>
              feederError = t
              try stdin.close() catch { case _: Throwable => () }
              try put(End) catch { case _: InterruptedException => () }
          }
        }, "graft-pipe-feeder")
        feeder.setDaemon(true)
        feeder.start()
        Option(org.apache.spark.TaskContext.get()).foreach(_.addTaskCompletionListener[Unit] { _ =>
          feeder.interrupt()
        })

        def parseLine(line: String): Array[String] = {
          val vals: Array[String] = codec match {
            case "json" =>
              parseFlatJson(line, affected).map(_.asInstanceOf[String]).toArray
            case "jsonrecord" =>
              parseRecordJson(line, recordKeys, bytesFmt)
            case "text" =>
              Array(if (line == "\\N") null else line)
            case _ if opts.csvAttributes == "direct" =>
              // full-tuple line: pick the affected absolute positions
              val full = line.split("\t", -1).map(v =>
                if (v == "\\N") null else CopyText.decodeField(v))
              affectedIdx.map(i => if (i < full.length) full(i) else null)
            case _ => line.split("\t", -1).map(v =>
              if (v == "\\N") null else CopyText.decodeField(v))
          }
          vals.padTo(affected.size, null).take(affected.size)
        }

        new Iterator[Row] {
          private var nextRow: Row = null
          private var done = false

          private def advance(): Unit = {
            while (nextRow == null && !done) {
              if (feederError != null) throw feederError
              pending.take() match {
                case End =>
                  if (feederError != null) throw feederError
                  val exit = proc.waitFor()
                  if (exit != opts.expectedExitCode)
                    throw new RuntimeException(s"Pipe: ${cmd.head} exited with $exit " +
                      s"(expected ${opts.expectedExitCode}; timeout=${opts.timeoutSec}s)")
                  done = true
                case Entry(fields, skip) =>
                  if (skip) nextRow = Row.fromSeq(fields.toIndexedSeq)
                  else {
                    if (!stdout.ready()) flushWanted = true
                    val line = stdout.readLine()
                    lastActivity.set(System.nanoTime())
                    if (line == null) {
                      // process died early — surface exit code if bad
                      val exit = proc.waitFor()
                      throw new RuntimeException(s"Pipe: ${cmd.head} produced fewer lines " +
                        s"than fed (exit=$exit)")
                    }
                    val out = parseLine(line)
                    val merged = fields.clone()
                    var i = 0
                    while (i < affectedIdx.length) { merged(affectedIdx(i)) = out(i); i += 1 }
                    nextRow = Row.fromSeq(merged.toIndexedSeq)
                  }
              }
            }
          }

          override def hasNext: Boolean = { advance(); nextRow != null }
          override def next(): Row = {
            advance()
            if (nextRow == null) throw new NoSuchElementException("Pipe: empty")
            val r = nextRow; nextRow = null; r
          }
        }
      }
    }(enc)
  }

  /** Reference-wire record line parser: `{"<key>":{"d":…,"n":…},…}` per
    * `json_api.go` / `values.go:17-44`. A real JSON parse (json4s ships
    * with Spark) because `d` values are nested objects the flat regex
    * parser can't frame. Missing keys decode to NULL (same lenient
    * stance as the flat codec); `n:true` wins over any `d` payload,
    * matching the Go struct semantics. */
  private[ops] def parseRecordJson(line: String, keys: Array[String],
                                   bytesFmt: Boolean): Array[String] = {
    import org.json4s._
    val jv = org.json4s.jackson.JsonMethods.parse(line)
    keys.map { k =>
      jv \ k match {
        case JObject(flds) =>
          val m = flds.toMap
          if (m.get("n").contains(JBool(true))) null
          else m.get("d") match {
            case Some(JString(s)) =>
              if (bytesFmt) new String(java.util.Base64.getDecoder.decode(s), "UTF-8")
              else s
            case _ => null
          }
        case _ => null
      }
    }
  }

  /** Minimal flat-JSON-object line parser (string/null values) for the
    * json codec round-trip — no external deps by design. */
  private[ops] def parseFlatJson(line: String, cols: Seq[String]): Seq[Any] = {
    val m = scala.collection.mutable.Map[String, String]()
    val re = """"((?:[^"\\]|\\.)*)"\s*:\s*(null|"(?:[^"\\]|\\.)*")""".r
    re.findAllMatchIn(line).foreach { mm =>
      val k = unescape(mm.group(1))
      val v = mm.group(2)
      m(k) = if (v == "null") null else unescape(v.substring(1, v.length - 1))
    }
    cols.map(c => m.getOrElse(c, null))
  }

  /** RFC 8259 string escape: quotes, backslash, and every control
    * character (so embedded newlines/tabs can never break the
    * one-object-per-line framing). */
  private[ops] def jsonEscape(v: String): String = {
    val sb = new StringBuilder(v.length + 8)
    v.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case '\r' => sb.append("\\r")
      case '\b' => sb.append("\\b")
      case '\f' => sb.append("\\f")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  private def unescape(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => sb.append('"'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case '/' => sb.append('/'); i += 2
          case 'n' => sb.append('\n'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case 'u' if i + 6 <= s.length =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
