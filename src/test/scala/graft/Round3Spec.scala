package graft

import org.apache.spark.sql.functions._
import graft.expressions.JsonEditOp
import graft.transformers.{HashText, JsonNested}
import graft.ops.{Pipe, PipeOptions}
import graft.pipeline._

import java.nio.file.Files
import java.sql.DriverManager
import java.util.Properties

/** sha3 family (ref `hash.go:35-80`): NIST known-answer vectors, salt
  * participation, truncation, cross-partitioning determinism. */
class Sha3Spec extends SparkSpec {
  import spark.implicits._

  private def hashOf(algo: String, input: String, salt: String = ""): String =
    Seq(input).toDF("v")
      .select(HashText(algo, salt = salt).applied(col("v")).as("h"))
      .as[String].collect().head

  test("sha3 NIST known-answer vectors (empty salt)") {
    assert(hashOf("sha3-256", "abc") ==
      "3a985da74fe225b2045c172d6bd390bd855f086e3e9d525b46bfe24511431532")
    assert(hashOf("sha3-224", "abc") ==
      "e642824c3f8cf24ad09234ee7d3c766fc9a3a5168d0c94ad73b46fdf")
    assert(hashOf("sha3-384", "abc") ==
      "ec01498288516fc926459f58e2c6ad8df9b473cb0fc08c2596da7cf0e49be4b2" +
        "98d88cea927ac7f539f1edf228376d25")
    assert(hashOf("sha3-512", "abc") ==
      "b751850b1a57168a5693cd924b6b096e08f621827444f70d884f5d0240d2712e" +
        "10e116e9192af3c91a7ec57647e3934057340b4cf408d5a56592f8274eec53f0")
    assert(hashOf("sha3-256", "") ==
      "a7ffc6f8bf1ed76651c14756a061d662f580ff4de43b49fa82d80a4b80f8434a")
  }

  test("salt participates and truncation applies") {
    val salted = hashOf("sha3-256", "abc", salt = "s1")
    assert(salted != hashOf("sha3-256", "abc"))
    assert(salted == hashOf("sha3-256", "s1abc")) // digest(salt || value)
    val trunc = Seq("x").toDF("v")
      .select(HashText("sha3-256", maxLength = 8).applied(col("v")).as("h"))
      .as[String].collect().head
    assert(trunc.length == 8)
  }

  test("identical output across partition counts (hash-engine contract)") {
    val in = (1 to 500).map(_.toString)
    def run(parts: Int) = in.toDF("v").repartition(parts)
      .select(col("v"), HashText("sha3-512").applied(col("v")).as("h"))
      .as[(String, String)].collect().toMap
    assert(run(2) == run(16))
  }

  test("registry builds sha3 and rejects unknown algos") {
    assert(Registry.build("Hash", Map("function" -> "sha3-384"))
      .isInstanceOf[HashText])
    intercept[IllegalArgumentException] {
      Seq("x").toDF("v").select(HashText("crc32").applied(col("v"))).collect()
    }
  }
}

/** Nested gjson-path JSON edits (ref `json.go:40-140`). */
class JsonEditSpec extends SparkSpec {
  import spark.implicits._

  private def edit(doc: String, ops: Seq[JsonEditOp], sortKeys: Boolean = true): String =
    Seq(doc).toDF("d")
      .select(JsonNested(ops, sortKeys).applied(col("d")).as("out"))
      .as[String].collect().head

  test("nested set creates intermediate objects (gjson semantics)") {
    assert(edit("""{"k":1}""", Seq(JsonEditOp("set", "a.b.c", "\"x\""))) ==
      """{"a":{"b":{"c":"x"}},"k":1}""")
  }

  test("numeric segments index arrays, padding with nulls") {
    assert(edit("""{"a":[1,2,3]}""", Seq(JsonEditOp("set", "a.1", "9"))) ==
      """{"a":[1,9,3]}""")
    assert(edit("""{"a":[1]}""", Seq(JsonEditOp("set", "a.3", "9"))) ==
      """{"a":[1,null,null,9]}""")
    assert(edit("""{}""", Seq(JsonEditOp("set", "a.0.b", "true"))) ==
      """{"a":[{"b":true}]}""")
  }

  test("delete removes keys and array elements; missing paths are no-ops") {
    assert(edit("""{"k":1,"j":2}""", Seq(JsonEditOp("delete", "k"))) == """{"j":2}""")
    assert(edit("""{"a":[1,2,3]}""", Seq(JsonEditOp("delete", "a.1"))) == """{"a":[1,3]}""")
    assert(edit("""{"k":1}""", Seq(JsonEditOp("delete", "x.y"))) == """{"k":1}""")
  }

  test("ops apply in order and values may be any JSON") {
    assert(edit("""{}""", Seq(
      JsonEditOp("set", "o", """{"z":1,"a":2}"""),
      JsonEditOp("set", "o.a", "3"),
      JsonEditOp("delete", "o.z"))) == """{"o":{"a":3}}""")
  }

  test("sortKeys yields canonical rendering; NULL doc stays NULL") {
    assert(edit("""{"b":1,"a":2}""", Nil) == """{"a":2,"b":1}""")
    val out = Seq[String](null).toDF("d")
      .select(JsonNested(Nil).applied(col("d")).as("out"))
      .as[Option[String]].collect().head
    assert(out.isEmpty)
  }
}

/** Pipe column scoping + streaming (ref `cmd.go:50-140`,
  * `cmd_transformer_base.go:39-360`). */
class PipeScopingSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq(("1", "alpha", "keep1"), ("2", "beta", "keep2"), ("3", null, "keep3"))
    .toDF("id", "val", "extra")

  test("affected_columns: only scoped columns cross the process boundary") {
    // tr uppercases EVERYTHING it receives — untouched `id`/`extra` prove
    // they were never sent; the \N null marker survives tr and decodes
    // back to NULL
    val out = Pipe.through(df, Seq("/usr/bin/tr", "a-z", "A-Z"), "csv",
        PipeOptions(affectedColumns = Seq("val")))
      .orderBy("id").as[(String, Option[String], String)].collect()
    assert(out.toSeq == Seq(("1", Some("ALPHA"), "keep1"), ("2", Some("BETA"), "keep2"),
      ("3", None, "keep3")))
  }

  test("affected_columns with skip_on_null bypasses the process for null rows") {
    val out = Pipe.through(df, Seq("/usr/bin/tr", "a-z", "A-Z"), "csv",
        PipeOptions(affectedColumns = Seq("val"), skipOnNull = Some("any")))
      .orderBy("id").as[(String, Option[String], String)].collect()
    assert(out.toSeq == Seq(("1", Some("ALPHA"), "keep1"), ("2", Some("BETA"), "keep2"),
      ("3", None, "keep3")))
  }

  test("json codec respects affected column scoping") {
    val out = Pipe.through(df.filter(col("val").isNotNull),
        Seq("/bin/cat"), "json", PipeOptions(affectedColumns = Seq("val")))
      .orderBy("id").as[(String, String, String)].collect()
    assert(out.toSeq == Seq(("1", "alpha", "keep1"), ("2", "beta", "keep2")))
  }

  test("skip_original_data: process sees sync markers, output still merges") {
    // the command emits a constant per input line; original values are
    // never sent (awk would print them if they were)
    val out = Pipe.through(df.filter(col("val").isNotNull).coalesce(1),
        Seq("/usr/bin/awk", "{print \"GEN\" NR}"), "csv",
        PipeOptions(affectedColumns = Seq("val"), skipOriginalData = true))
      .orderBy("id").as[(String, String, String)].collect()
    assert(out.map(_._2).toSeq == Seq("GEN1", "GEN2"))
    assert(out.map(_._3).toSeq == Seq("keep1", "keep2"))
  }

  test("streams a wide partition in bounded memory (no full materialization)") {
    // 200k rows through one process on one partition with a small queue:
    // completes correctly under backpressure
    val big = (1 to 200000).map(i => (i.toString, "v" + i)).toDF("id", "v").coalesce(1)
    val out = Pipe.through(big, Seq("/bin/cat"), "csv", PipeOptions(queueCapacity = 64))
    assert(out.count() == 200000)
    val sample = out.filter(col("id") === "123456").as[(String, String)].collect()
    assert(sample.toSeq == Seq(("123456", "v123456")))
  }
}

/** Manifest schema persistence, cycle-safe deps, env interpolation, and
  * the utility command surface. */
class ManifestRound3Spec extends SparkSpec {
  import spark.implicits._

  test("manifest round-trip preserves the schema snapshot; diff reports a retype") {
    val df = Seq((1L, "a", 1.5)).toDF("id", "name", "score")
    val dir = Files.createTempDirectory("graft_m3").toString
    df.write.mode("overwrite").parquet(s"$dir/t")
    val m = Manifest.build(Seq(("t", df, s"$dir/t")), keys = CatalogKeys(Nil, Nil))
    Manifest.write(m, s"$dir/manifest.json")
    val back = Manifest.readEntries(s"$dir/manifest.json")
    val stored = Manifest.schemaOf(back.head)
    assert(stored.contains(df.schema)) // schema survives (round-2 reader dropped it)
    // a retyped column is reported by the restore-side diff
    val retyped = org.apache.spark.sql.types.StructType(df.schema.fields.map(f =>
      if (f.name == "score") f.copy(dataType = org.apache.spark.sql.types.StringType) else f))
    val drift = Validator.schemaDiff(stored.get, retyped)
    assert(drift == Seq("retyped:score:double->string"))
  }

  test("filtered terminates on cyclic and self-referencing dependsOn") {
    val entries = Seq(
      ManifestEntry(1, "a", "p1", "{}", 1, Seq(2)),
      ManifestEntry(2, "b", "p2", "{}", 1, Seq(1)),     // cycle a<->b
      ManifestEntry(3, "c", "p3", "{}", 1, Seq(3)),     // self-dep
      ManifestEntry(4, "d", "p4", "{}", 1, Nil))
    val kept = Manifest(entries).filtered(Set("a")).entries.map(_.table)
    assert(kept.toSet == Set("a", "b"))
    assert(Manifest(entries).filtered(Set("c")).entries.map(_.table) == Seq("c"))
  }

  test("build never records a self-dependency for self-FK tables") {
    val df = Seq((1L, 2L)).toDF("id", "parent_id")
    val selfRef = Seq(FkRef("emp", Seq("parent_id"), "emp", Seq("id")))
    val m = Manifest.build(Seq(("emp", df, "/tmp/emp")),
      keys = CatalogKeys(Seq(TableMeta("emp", Seq("id"))), selfRef))
    assert(m.entries.head.dependsOn.isEmpty)
  }

  test("config env interpolation substitutes, escapes, and fails fast") {
    val env = Map("SEG" -> "AUTOMOBILE")
    val cfg = ConfigLoader.fromJson(
      """{"tables":[{"table":"customer","when":"c_mktsegment = '${SEG}'"}]}""", env)
    assert(cfg.head.when.contains("c_mktsegment = 'AUTOMOBILE'"))
    assert(ConfigLoader.interpolate("a $${literal} b", env) == "a ${literal} b")
    intercept[IllegalArgumentException](ConfigLoader.interpolate("${MISSING_VAR_42}", env))
  }

  test("config dump_slices parses per table (default 1)") {
    val cfg = ConfigLoader.fromJson(
      """{"tables":[{"table":"lineitem","dump_slices":8},{"table":"region"}]}""")
    assert(cfg.head.dumpSlices == 8 && cfg(1).dumpSlices == 1)
  }

  test("list-dumps / show-dump / delete over a manifest directory") {
    val root = Files.createTempDirectory("graft_dumps").toString
    val df = Seq((1L, "x")).toDF("id", "v")
    Files.createDirectories(java.nio.file.Paths.get(s"$root/d1"))
    df.write.mode("overwrite").parquet(s"$root/d1/t")
    Manifest.write(Manifest.build(Seq(("t", df, s"$root/d1/t")), keys = CatalogKeys(Nil, Nil)),
      s"$root/d1/manifest.json")
    val listed = Lifecycle.listDumps(root)
    assert(listed.size == 1 && listed.head.startsWith("d1 tables=1 rows=1"))
    // manifest without heartbeat = legacy done dump (dumpstatus parity)
    assert(listed.head.endsWith("status=done"))
    val shown = Lifecycle.showDump(s"$root/d1/manifest.json")
    assert(shown.size == 1 && shown.head.contains("t rows=1"))
    assert(Lifecycle.deleteDump(root, "d1"))
    assert(Lifecycle.listDumps(root).isEmpty)
    assert(!Lifecycle.deleteDump(root, "d1"))
  }

  test("delete retention policies: retain-recent, prune-failed(+unsafe), retain-for, dry-run") {
    import java.nio.file.{Files => F, Paths => P}
    import java.nio.file.attribute.FileTime
    val root = F.createTempDirectory("graft_retain").toString
    val now = java.time.Instant.now()
    def mkDone(name: String, ageDays: Long): Unit = {
      val d = P.get(root, name); F.createDirectories(d)
      F.writeString(d.resolve("manifest.json"), "[]")
      F.setLastModifiedTime(d.resolve("manifest.json"),
        FileTime.from(now.minus(java.time.Duration.ofDays(ageDays))))
    }
    def mkFailed(name: String): Unit = {
      val d = P.get(root, name); F.createDirectories(d)
      F.writeString(d.resolve(Lifecycle.HeartBeatFileName), "in-progress")
      F.setLastModifiedTime(d.resolve(Lifecycle.HeartBeatFileName),
        FileTime.fromMillis(System.currentTimeMillis() - 600000))
    }
    def mkUnknown(name: String): Unit = F.createDirectories(P.get(root, name))
    mkDone("d_old", 30); mkDone("d_mid", 10); mkDone("d_new", 1)
    mkFailed("d_fail"); mkUnknown("d_unk")

    // pruneUnsafe without pruneFailed rejects (reference fatal)
    intercept[IllegalArgumentException](
      Lifecycle.deleteDumps(root, pruneUnsafe = true))
    // no selector at all rejects
    intercept[IllegalArgumentException](Lifecycle.deleteDumps(root))

    // dry-run reports, deletes nothing
    val dry = Lifecycle.deleteDumps(root, retainRecent = 1, dryRun = true, now = now)
    assert(dry.forall(_.startsWith("would delete")) && dry.size == 2)
    assert(F.exists(P.get(root, "d_old")))

    // retain-for: done dumps older than the window go; failed untouched
    val rf = Lifecycle.deleteDumps(root,
      retainFor = Some(Lifecycle.parseRetainFor("2w")), now = now)
    assert(rf.size == 1 && rf.head.contains("d_old"), rf)
    assert(!F.exists(P.get(root, "d_old")) && F.exists(P.get(root, "d_fail")))

    // retain-recent keeps the newest N done dumps
    val rr = Lifecycle.deleteDumps(root, retainRecent = 1, now = now)
    assert(rr.size == 1 && rr.head.contains("d_mid"), rr)
    assert(F.exists(P.get(root, "d_new")))

    // prune-failed alone leaves unknown; +unsafe takes it too
    val pf = Lifecycle.deleteDumps(root, pruneFailed = true, now = now)
    assert(pf.size == 1 && pf.head.contains("d_fail"), pf)
    assert(F.exists(P.get(root, "d_unk")))
    val pu = Lifecycle.deleteDumps(root, pruneFailed = true, pruneUnsafe = true, now = now)
    assert(pu.size == 1 && pu.head.contains("d_unk"), pu)

    // duration grammar: composite parses, junk rejects
    assert(Lifecycle.parseRetainFor("1w2d3h4m5s").toHours == 9 * 24 + 3)
    intercept[IllegalArgumentException](Lifecycle.parseRetainFor("3 weeks"))
  }

  test("dump heartbeat + status: in-progress refresh, done stamp, stale->failed, legacy cases") {
    val root = Files.createTempDirectory("graft_hb").toString
    // live heartbeat: in progress while fresh
    val d = s"$root/hb1"
    val finish = Lifecycle.startHeartbeat(d, intervalMs = 50)
    assert(Lifecycle.dumpStatus(d, intervalMs = 50000) == "in progress")
    // the daemon REFRESHES the stamp: back-date it and wait one interval
    val hb = java.nio.file.Paths.get(d, Lifecycle.HeartBeatFileName)
    Files.setLastModifiedTime(hb,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000))
    Thread.sleep(300)
    assert(Lifecycle.dumpStatus(d, intervalMs = 50000) == "in progress",
      "daemon thread must refresh the in-progress stamp")
    finish(true)
    assert(Lifecycle.dumpStatus(d) == "done")
    // a crashed dump leaves a stale in-progress stamp -> failed
    val d2 = s"$root/hb2"
    Lifecycle.startHeartbeat(d2, intervalMs = 60000)(false)
    Files.setLastModifiedTime(java.nio.file.Paths.get(d2, Lifecycle.HeartBeatFileName),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 300000))
    assert(Lifecycle.dumpStatus(d2, intervalMs = 60000) == "failed")
    // empty heartbeat -> failed; nothing at all -> unknown or failed
    val d3 = s"$root/hb3"
    Files.createDirectories(java.nio.file.Paths.get(d3))
    Files.writeString(java.nio.file.Paths.get(d3, Lifecycle.HeartBeatFileName), "")
    assert(Lifecycle.dumpStatus(d3) == "failed")
    assert(Lifecycle.dumpStatus(s"$root/nope") == "unknown or failed")
    // a real dump stamps done end-to-end AND records metadata.json
    // (startedAt/completedAt/sizes — storage/metadata_json.go parity)
    val d4 = s"$root/hb4"
    Lifecycle.dump(spark, """{"tables":[{"table":"region"}]}""",
      "/root/testdata/sf0.001", d4)
    assert(Lifecycle.dumpStatus(d4) == "done")
    val meta = Files.readString(java.nio.file.Paths.get(d4, "metadata.json"))
    val started = "\"startedAt\":\"([^\"]+)\"".r.findFirstMatchIn(meta).get.group(1)
    val completed = "\"completedAt\":\"([^\"]+)\"".r.findFirstMatchIn(meta).get.group(1)
    assert(!java.time.Instant.parse(completed).isBefore(java.time.Instant.parse(started)))
    val size = "\"compressedSize\":(\\d+)".r.findFirstMatchIn(meta).get.group(1).toLong
    assert(size > 0, s"payload bytes must be counted: $meta")
    // in-progress/failed dumps LIST with their status (no manifest yet)
    val lines = Lifecycle.listDumps(root)
    assert(lines.exists(l => l.startsWith("hb2 ") && l.endsWith("status=failed")), lines)
    assert(lines.exists(l => l.startsWith("hb4 ") && l.endsWith("status=done")), lines)
  }

  test("list-transformers / show-transformer expose the registry") {
    val names = Lifecycle.listTransformers()
    assert(names.contains("Hash") && names.contains("RandomInt") && names == names.sorted)
    assert(Lifecycle.showTransformer("Masking").startsWith("Masking:"))
    assert(Lifecycle.showTransformer("Nope").contains("unknown"))
  }
}

/** Constraint IsAffected warnings (ref `constraints.go:63-78,180-211`). */
class ConstraintSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq((1L, "a@x.com", 10.0)).toDF("id", "email", "balance")
  private val constraints = Seq(
    UniqueConstraint("uq_email", Seq("email")),
    CheckConstraint("ck_balance", Seq("balance"), "balance >= 0"),
    ExclusionConstraint("ex_range", Seq("id", "balance"), "id WITH =, balance WITH &&"),
    TriggerConstraint("trg_audit", Seq("email")))

  test("transformer on a unique column warns") {
    val warns = Planner.validate(df, TableConfig("t", transforms = Seq(
      ColumnTransform("email", graft.transformers.Masking("email")))), constraints)
    assert(warns.exists(w => w.msg.contains("unique constraint uq_email")))
    assert(warns.exists(w => w.msg.contains("trigger constraint trg_audit")))
  }

  test("transformer on a check-constrained column warns with the expression") {
    val warns = Planner.validate(df, TableConfig("t", transforms = Seq(
      ColumnTransform("balance", graft.transformers.NoiseFloat(0.5)))), constraints)
    assert(warns.exists(w =>
      w.msg.contains("check constraint ck_balance") && w.msg.contains("balance >= 0")))
    assert(warns.exists(w => w.msg.contains("exclusion constraint ex_range")))
  }

  test("untouched columns produce no constraint warnings") {
    val warns = Planner.validate(df, TableConfig("t", transforms = Seq(
      ColumnTransform("id", graft.transformers.RandomInt(0, 9)))), constraints)
    assert(!warns.exists(_.msg.contains("uq_email")))
    assert(!warns.exists(_.msg.contains("ck_balance")))
    assert(warns.exists(_.msg.contains("ex_range"))) // id IS covered by the exclusion
  }
}

/** Row-wise fallback on ignorable batch failures + sequence restore. */
class RestoreFallbackSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftr3;create=true"

  test("ignorable batch failure keeps every valid row (row-wise replay)") {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE fb_t") catch { case _: Throwable => () }
      st.execute("CREATE TABLE fb_t (id BIGINT PRIMARY KEY, v VARCHAR(20))")
      st.execute("INSERT INTO fb_t VALUES (3, 'existing')")
      st.close()
    } finally conn.close()
    // one batch of 5 rows containing one dup: the reference's row-wise
    // semantics (`table_insert_format.go:139-145`) keep the 4 valid rows
    val df = Seq((1L, "one"), (2L, "two"), (3L, "dup"), (4L, "four"), (5L, "five"))
      .toDF("id", "v").coalesce(1)
    RestoreSink.insertRows(df, url, "fb_t", ignoreSqlStates = Set("23505"), batchSize = 100)
    val back = spark.read.jdbc(url, "fb_t", new Properties())
      .as[(Long, String)].collect().toMap
    assert(back.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(back(3L) == "existing")
  }

  test("non-ignorable batch failure still propagates") {
    intercept[Exception] {
      RestoreSink.insertRows(Seq((3L, "dup")).toDF("id", "v"), url, "fb_t",
        ignoreSqlStates = Set.empty, batchSize = 10)
    }
  }

  test("insert-mode restore drives the manifest path into an existing table") {
    val dir = Files.createTempDirectory("graft_insrestore").toString
    val df = Seq((1L, "one"), (2L, "two"), (3L, "three")).toDF("id", "v")
    df.write.mode("overwrite").parquet(s"$dir/ins_restore_t")
    Manifest.write(Manifest.build(Seq(("ins_restore_t", df, s"$dir/ins_restore_t")),
      keys = CatalogKeys(Nil, Nil)), s"$dir/manifest.json")
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE ins_restore_t") catch { case _: Throwable => () }
      st.execute("CREATE TABLE ins_restore_t (id BIGINT PRIMARY KEY, v VARCHAR(20))")
      st.execute("INSERT INTO ins_restore_t VALUES (2, 'existing')")
      st.close()
    } finally conn.close()
    val restored = Lifecycle.restore(spark, s"$dir/manifest.json", url,
      insertMode = true, ignoreSqlStates = Set("23505"))
    assert(restored == Seq("ins_restore_t"))
    val back = spark.read.jdbc(url, "ins_restore_t", new Properties())
      .as[(Long, String)].collect().toMap
    assert(back == Map(1L -> "one", 2L -> "existing", 3L -> "three"))
  }

  test("insert_error_exclusions: constraint-NAME rule skips its violations, per-table scoped") {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE excl_t") catch { case _: Throwable => () }
      st.execute("CREATE TABLE excl_t (id BIGINT, v VARCHAR(20), " +
        "CONSTRAINT EXCL_PK PRIMARY KEY (id))")
      st.execute("INSERT INTO excl_t VALUES (2, 'existing')")
      st.close()
    } finally conn.close()
    // reference rule shape: the config names the CONSTRAINT, no SQLSTATE
    // (domains/config.go:115-130; isErrorAllowed matches ConstraintName)
    val df = Seq((1L, "one"), (2L, "dup"), (3L, "three")).toDF("id", "v").coalesce(1)
    RestoreSink.insertRows(df, url, "excl_t", ignoreSqlStates = Set.empty,
      batchSize = 100, ignoreConstraints = Set("EXCL_PK"))
    val back = spark.read.jdbc(url, "excl_t", new Properties())
      .as[(Long, String)].collect().toMap
    assert(back == Map(1L -> "one", 2L -> "existing", 3L -> "three"))
    // a rule naming a DIFFERENT constraint does not cover this violation
    intercept[Exception] {
      RestoreSink.insertRows(Seq((2L, "dup")).toDF("id", "v"), url, "excl_t",
        ignoreConstraints = Set("OTHER_FK"))
    }
    // a rule naming a SUBSTRING of the violated constraint must not cover
    // it either: the fallback match is whole-identifier, not substring —
    // a short generic name ('PK', 'id') would otherwise skip unrelated
    // failures (reference compares the structured ConstraintName field)
    intercept[Exception] {
      RestoreSink.insertRows(Seq((2L, "dup")).toDF("id", "v"), url, "excl_t",
        ignoreConstraints = Set("PK"))
    }
  }

  test("constraint-name fallback matches whole identifiers only") {
    assert(RestoreSink.mentionsConstraint(
      "duplicate key value violates unique constraint \"users_pk\"", "users_pk"))
    assert(RestoreSink.mentionsConstraint(
      "The statement was aborted because ... identified by 'EXCL_PK' ...", "EXCL_PK"))
    // substring of a longer identifier: no match
    assert(!RestoreSink.mentionsConstraint("constraint \"users_pk\"", "pk"))
    assert(!RestoreSink.mentionsConstraint("constraint \"users_pk\"", "users"))
    // regex metacharacters in a (quoted-identifier) name stay literal
    assert(RestoreSink.mentionsConstraint("violates \"a.b*c\"", "a.b*c"))
    assert(!RestoreSink.mentionsConstraint("violates \"aXbYc\"", "a.b*c"))
  }

  test("pg-dump refuses overlapping partition trees (root + sub-partition both named)") {
    val leavesOf = Map(
      "measurements" -> Seq("m_2024_01", "m_2024_02", "m_2025_01"),
      "measurements_2024" -> Seq("m_2024_01", "m_2024_02"),
      "other_tree" -> Seq("o_1"))
    // disjoint trees pass
    Lifecycle.assertDisjointPartitionTrees(
      Seq("measurements", "other_tree"), leavesOf)
    Lifecycle.assertDisjointPartitionTrees(Seq("measurements"), leavesOf)
    // a root plus its sub-partitioned descendant shares leaves: refuse
    val e = intercept[IllegalArgumentException] {
      Lifecycle.assertDisjointPartitionTrees(
        Seq("measurements", "measurements_2024", "other_tree"), leavesOf)
    }
    assert(e.getMessage.contains("m_2024_01") &&
      e.getMessage.contains("name only one"), e.getMessage)
  }

  test("insert_error_exclusions config block: per-table rule SHADOWS global, restore-path wiring") {
    import graft.pipeline.ConfigLoader
    val excl = ConfigLoader.exclusionsFromJson(
      """{"insert_error_exclusions": {
           "global": {"error_codes": ["23505"]},
           "tables": [{"name": "orders", "error_codes": ["23503"],
                       "constraints": ["ORDERS_FK"]},
                      {"name": "scoped", "schema": "audit",
                       "error_codes": ["23514"]}] }}""")
    assert(excl.forTable("anything") ==
      ConfigLoader.ExclusionRule(Set("23505"), Set.empty))
    // per-table rule is EXCLUSIVE (isErrorAllowed consults it INSTEAD of
    // global, table_insert_format.go:226-247): 23505 must NOT leak in
    assert(excl.forTable("orders") ==
      ConfigLoader.ExclusionRule(Set("23503"), Set("ORDERS_FK")))
    // schema-qualified rule only matches when the caller names the schema
    assert(excl.forTable("scoped") ==
      ConfigLoader.ExclusionRule(Set("23505"), Set.empty))
    assert(excl.forTable("scoped", Some("audit")) ==
      ConfigLoader.ExclusionRule(Set("23514"), Set.empty))
    assert(excl.forTable("scoped", Some("public")) ==
      ConfigLoader.ExclusionRule(Set("23505"), Set.empty))
    // absent block -> empty rules (every insert error propagates)
    assert(ConfigLoader.exclusionsFromJson("{}").forTable("t").isEmpty)

    // e2e through Lifecycle.restore: a constraint-name-only config rule
    // lets the manifest-driven insert restore skip the planted dup
    val dir = Files.createTempDirectory("graft_exclrestore").toString
    val df = Seq((1L, "one"), (2L, "dup")).toDF("id", "v")
    df.write.mode("overwrite").parquet(s"$dir/excl_r_t")
    Manifest.write(Manifest.build(Seq(("excl_r_t", df, s"$dir/excl_r_t")),
      keys = CatalogKeys(Nil, Nil)), s"$dir/manifest.json")
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE excl_r_t") catch { case _: Throwable => () }
      st.execute("CREATE TABLE excl_r_t (id BIGINT, v VARCHAR(20), " +
        "CONSTRAINT EXCLR_PK PRIMARY KEY (id))")
      st.execute("INSERT INTO excl_r_t VALUES (2, 'existing')")
      st.close()
    } finally conn.close()
    val cfg = ConfigLoader.exclusionsFromJson(
      """{"insert_error_exclusions": {
           "tables": [{"name": "excl_r_t", "constraints": ["EXCLR_PK"]}] }}""")
    Lifecycle.restore(spark, s"$dir/manifest.json", url,
      insertMode = true, exclusions = Some(cfg))
    val back2 = spark.read.jdbc(url, "excl_r_t", new Properties())
      .as[(Long, String)].collect().toMap
    assert(back2 == Map(1L -> "one", 2L -> "existing"))
  }

  test("restore threads batch-size and integrity options through to the JDBC sink") {
    import graft.pipeline.IntegrityOptions
    val dir = Files.createTempDirectory("graft_integrestore").toString
    val df = Seq((1L, "one"), (2L, "two")).toDF("id", "v")
    df.write.mode("overwrite").parquet(s"$dir/integ_r_t")
    Manifest.write(Manifest.build(Seq(("integ_r_t", df, s"$dir/integ_r_t")),
      keys = CatalogKeys(Nil, Nil)), s"$dir/manifest.json")
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      for (t <- Seq("integ_r_t", "integ_mark"))
        try st.execute(s"DROP TABLE $t") catch { case _: Throwable => () }
      st.execute("CREATE TABLE integ_r_t (id BIGINT PRIMARY KEY, v VARCHAR(20))")
      st.execute("CREATE TABLE integ_mark (hit INT)")
      st.close()
    } finally conn.close()
    // extraSetup is the dialect-neutral observable (Derby has no
    // session_replication_role): its marker proves the CLI-surfaced
    // options reach every restore connection
    Lifecycle.restore(spark, s"$dir/manifest.json", url,
      insertMode = true, batchSize = 1,
      integrity = IntegrityOptions(
        extraSetup = Seq("INSERT INTO integ_mark VALUES (1)")))
    val back = spark.read.jdbc(url, "integ_r_t", new Properties())
      .as[(Long, String)].collect().toMap
    assert(back == Map(1L -> "one", 2L -> "two"))
    val marks = spark.read.jdbc(url, "integ_mark", new Properties()).count()
    assert(marks >= 1, "integrity setup must have run on the sink connections")
  }

  test("PiiScrub and TextNormalize are config-registrable transformers") {
    val scrub = Registry.build("PiiScrub", Map.empty)
    val out = Seq("mail me@x.org now").toDF("v")
      .select(scrub.applied(col("v")).as("o")).as[String].collect().head
    assert(out == "mail <EMAIL> now")
    val norm = Registry.build("TextNormalize", Map.empty)
    val n = Seq("  Hello,   WORLD!! ").toDF("v")
      .select(norm.applied(col("v")).as("o")).as[String].collect().head
    assert(n == "hello world")
  }

  test("sequence restore re-seeds a Derby identity column from max(pk)") {
    val conn = DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      try st.execute("DROP TABLE seq_t") catch { case _: Throwable => () }
      st.execute("CREATE TABLE seq_t (id BIGINT GENERATED BY DEFAULT AS IDENTITY " +
        "PRIMARY KEY, v VARCHAR(10))")
      st.execute("INSERT INTO seq_t (id, v) VALUES (41, 'a'), (7, 'b')")
      st.close()
    } finally conn.close()
    val restored = spark.read.jdbc(url, "seq_t", new Properties())
    val restart = RestoreSink.reseedSequence(restored, "id", url,
      RestoreSink.derbyRestart("seq_t", "id"))
    assert(restart == 42L)
    // next identity insert takes the re-seeded value, no collision
    val conn2 = DriverManager.getConnection(url)
    try {
      val st = conn2.createStatement()
      st.execute("INSERT INTO seq_t (v) VALUES ('c')")
      val rs = st.executeQuery("SELECT max(id) FROM seq_t")
      rs.next()
      assert(rs.getLong(1) == 42L)
      st.close()
    } finally conn2.close()
    assert(RestoreSink.pgRestart("s")(42L) == "SELECT setval('s', 41)")
  }
}

/** Fix-point convergence guard + UTF-8 byte-escape decoding. */
class Round3SmallFixSpec extends SparkSpec {
  import spark.implicits._

  test("cyclic subset with maxIter too low fails loudly, not silently") {
    val nation = Seq((1L, 1L), (2L, 1L)).toDF("n_nationkey", "n_regionkey")
    val region = Seq(Tuple1(1L)).toDF("r_regionkey")
    val edges = Seq(
      FkRef("nation", Seq("n_regionkey"), "region", Seq("r_regionkey")),
      FkRef("region", Seq("r_regionkey"), "nation", Seq("n_regionkey"), virtual = true))
    intercept[IllegalStateException] {
      graft.subset.SubsetPlanner.plan(
        Map("nation" -> nation, "region" -> region),
        Map("nation" -> Seq("n_nationkey"), "region" -> Seq("r_regionkey")),
        edges, Map("nation" -> Seq("n_nationkey < 2")), maxIter = 0)
    }
  }

  test("k-anonymity and l-diversity audits find planted violations") {
    import org.apache.spark.sql.functions._
    // QI class (age=30, zip=1) has 3 rows; (40, 2) has 1 row -> k=2 violated once
    val masked = Seq(
      (30, 1, "flu"), (30, 1, "flu"), (30, 1, "cold"), (40, 2, "flu"))
      .toDF("age", "zip", "diagnosis")
    val ka = Validator.kAnonymity(masked, Seq("age", "zip"), k = 2)
      .as[(Long, Long)].collect().head
    assert(ka == ((1L, 1L))) // min class 1, one class below k
    val ld = Validator.lDiversity(masked, Seq("age", "zip"), "diagnosis", l = 2)
      .as[(Long, Long)].collect().head
    assert(ld == ((1L, 1L))) // the (40,2) class has 1 sensitive value
    val ok = Validator.kAnonymity(masked.filter(col("age") === 30), Seq("age", "zip"), 2)
      .as[(Long, Long)].collect().head
    assert(ok == ((3L, 0L)))
  }

  test("t-closeness audit measures exact TV distance per class") {
    import org.apache.spark.sql.functions._
    // global: flu 3/4, cold 1/4. Class (30,1): flu 2/3, cold 1/3 ->
    // TV = (|2/3-3/4| + |1/3-1/4|)/2 = 1/12. Class (40,2): flu 1/1 ->
    // TV = (|1-3/4| + |0-1/4|)/2 = 1/4.
    val masked = Seq(
      (30, 1, "flu"), (30, 1, "flu"), (30, 1, "cold"), (40, 2, "flu"))
      .toDF("age", "zip", "diagnosis")
    // t = 1/5: only the (40,2) class (TV=1/4) exceeds it
    val r = Validator.tCloseness(masked, Seq("age", "zip"), "diagnosis", 1, 5)
      .as[(Long, Long, Long)].collect().head
    assert(r == ((250000000L, 1L, 2L))) // floor(1/4 * 1e9), 1 class above, 2 classes
    // t = 1/2: nothing exceeds
    val r2 = Validator.tCloseness(masked, Seq("age", "zip"), "diagnosis", 1, 2)
      .as[(Long, Long, Long)].collect().head
    assert(r2 == ((250000000L, 0L, 2L)))
    // a NULL sensitive value is its own category, not dropped: class (50,3)
    // is all-NULL -> its TV vs the new global (flu 3/5, cold 1/5, null 1/5)
    // is (|1-1/5| + 3/5 + 1/5)/2 = 4/5
    val withNull = masked.union(Seq((50, 3, null.asInstanceOf[String]))
      .toDF("age", "zip", "diagnosis"))
    val r3 = Validator.tCloseness(withNull, Seq("age", "zip"), "diagnosis", 1, 2)
      .as[(Long, Long, Long)].collect().head
    assert(r3._1 == 800000000L && r3._3 == 3L)
  }

  test("implicit-change detection flags undeclared column rewrites") {
    import org.apache.spark.sql.functions._
    val orig = Seq((1L, "a", "x"), (2L, "b", "y")).toDF("id", "name", "seg")
    // a rogue transform: declared to touch only `name`, but also rewrites `seg`
    val transformed = orig.select(col("id"), upper(col("name")).as("name"),
      lit("REWRITTEN").as("seg"))
    val diffRow = Validator.diff(orig, transformed, Seq("id")).collect().head
    assert(Validator.implicitChanges(diffRow, declaredAffected = Set("name")) == Seq("seg"))
    assert(Validator.implicitChanges(diffRow, declaredAffected = Set("name", "seg")).isEmpty)
  }

  test("COPY escapes of multi-byte UTF-8 decode as bytes, like the reference") {
    import graft.sources.CopyText
    // é = C3 A9 in UTF-8: consecutive escaped bytes form one char
    assert(CopyText.decodeField("\\xC3\\xA9") == "é")
    assert(CopyText.decodeField("\\303\\251") == "é") // same in octal
    // octal > 255 masks to a byte (decoder.go & 0377)
    assert(CopyText.decodeField("\\501") ==
      new String(Array((0x141 & 0xFF).toByte), java.nio.charset.StandardCharsets.UTF_8))
    // encode/decode round-trip for non-ASCII text
    val s = "héllo wörld – ünïcode"
    assert(CopyText.decodeField(CopyText.encodeField(s)) == s)
  }
}
