package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import graft.pipeline.{ColumnTransform, Planner, TableConfig}
import graft.transformers.{HashText, Masking}

/** Dump-side determinism battery (round-13 verdict #7): Verify proves
  * QUERY results byte-identical across partition counts; this spec
  * extends the contract to ARCHIVE ARTIFACTS.
  *
  * The contract, as shipped:
  *  - same config + salt + parallelism ⇒ the member payload BYTES are
  *    identical run to run, at every compression algorithm (the scan
  *    order of a fixed file set is stable, and the hash engine is
  *    input-deterministic);
  *  - across DIFFERENT parallelism: inputs NARROWER than the 16-member
  *    fan-out are hash-bucketed on a row-content digest and sorted per
  *    member by the rendered COPY line, so the payload bytes are CANONICAL —
  *    identical across runs, input layouts and core counts, even for
  *    rows that tie as values but render differently (0.0 vs -0.0);
  *  - inputs already at or above the fan-out keep their own layout
  *    (pg_dump's own -Fd shape has the same property — payload bytes
  *    are not canonical across -j), so bytes legitimately differ there,
  *    while the DECODED ROW MULTISET and every masked value are
  *    invariant. */
class DumpDeterminismSpec extends SparkSpec {
  import spark.implicits._

  private def sha(path: String): String = {
    val d = MessageDigest.getInstance("SHA-256")
    d.digest(Files.readAllBytes(Paths.get(path))).map("%02x".format(_)).mkString
  }

  private val cfg = TableConfig("customer", transforms = Seq(
    ColumnTransform("c_name", Masking("name")),
    ColumnTransform("c_mktsegment", HashText())))

  private def masked() = Planner.plan(
    spark.read.parquet("/root/testdata/sf0.001/customer.parquet"), cfg)

  test("same config+salt+parallelism: member payload bytes identical run-to-run at every algorithm") {
    val dir = Files.createTempDirectory("graft_dumpdet").toString
    for (algo <- Seq("none", "gzip", "lz4", "zstd")) {
      val a = graft.sources.Compress.parse(algo)
      val ext = graft.sources.Compress.extension(a)
      val f1 = s"$dir/run1_$algo.dat$ext"; val f2 = s"$dir/run2_$algo.dat$ext"
      graft.sources.CopyText.writeDatFile(masked(), f1, a)
      graft.sources.CopyText.writeDatFile(masked(), f2, a)
      assert(sha(f1) == sha(f2), s"$algo payload bytes diverged run-to-run")
      // the sidecar (member offsets) is part of the artifact contract
      assert(sha(f1 + ".idx") == sha(f2 + ".idx"), s"$algo sidecar diverged")
    }
  }

  test("across parallelism: sub-fan-out inputs canonicalize to identical bytes; wide inputs keep their layout, decoded rows invariant") {
    val dir = Files.createTempDirectory("graft_dumpdet_par").toString
    val f1 = s"$dir/p1.dat.gz"; val f2 = s"$dir/p2.dat.gz"
    val f8 = s"$dir/p8.dat.gz"; val f17 = s"$dir/p17.dat.gz"
    graft.sources.CopyText.writeDatFile(masked().coalesce(1), f1,
      graft.sources.Compress.Gzip)
    graft.sources.CopyText.writeDatFile(masked().repartition(2), f2,
      graft.sources.Compress.Gzip)
    graft.sources.CopyText.writeDatFile(masked().repartition(8), f8,
      graft.sources.Compress.Gzip)
    // above the fan-out: the encode inherits the input layout (the
    // documented boundary — canonical bytes stop where the input is
    // already wide)
    graft.sources.CopyText.writeDatFile(masked().repartition(17), f17,
      graft.sources.Compress.Gzip)
    def memberCount(f: String): Int =
      Files.readAllLines(Paths.get(f + ".idx")).size - 1
    // r19 contract: any input narrower than the 16-member fan-out is
    // hash-bucketed on row content + locally sorted, so the payload and
    // sidecar bytes are identical whatever the input partitioning was
    assert(sha(f1) == sha(f2) && sha(f2) == sha(f8),
      "sub-fan-out payload bytes must be canonical across input layouts")
    assert(sha(f1 + ".idx") == sha(f2 + ".idx") &&
      sha(f2 + ".idx") == sha(f8 + ".idx"),
      "sub-fan-out sidecars must be canonical across input layouts")
    assert(memberCount(f17) == 17,
      s"wide input must keep its own layout: ${memberCount(f17)} members")
    // the invariant that survives the boundary: identical decoded row
    // multiset, value for value
    val cols = masked().columns.toSeq
    def decoded(f: String): Map[Seq[String], Long] =
      graft.sources.CopyText.read(spark, f, cols).collect()
        .map(r => cols.indices.map(i => if (r.isNullAt(i)) null else r.getString(i)))
        .groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(decoded(f2) == decoded(f17),
      "decoded row multiset must be invariant across encode parallelism")
  }

  test("rows that tie as values but render differently: payload bytes independent of input order") {
    // 0.0 and -0.0 are equal as doubles but render as different COPY
    // lines; the layout must order them the same whatever order they
    // arrive in
    val rows = Seq((1, 0.0, "a"), (1, -0.0, "a"), (2, 1.5, "b"))
    def input(rs: Seq[(Int, Double, String)]) = rs.toDF("id", "x", "s").coalesce(1)
    val dir = Files.createTempDirectory("graft_dumpdet_tie").toString
    for (algo <- Seq(graft.sources.Compress.None, graft.sources.Compress.Gzip)) {
      val ext = graft.sources.Compress.extension(algo)
      val fwd = s"$dir/fwd_$algo.dat$ext"; val rev = s"$dir/rev_$algo.dat$ext"
      graft.sources.CopyText.writeDatFile(input(rows), fwd, algo)
      graft.sources.CopyText.writeDatFile(input(rows.reverse), rev, algo)
      val name = graft.sources.Compress.name(algo)
      assert(sha(fwd) == sha(rev), s"$name payload bytes depend on input row order")
      assert(sha(fwd + ".idx") == sha(rev + ".idx"), s"$name sidecar depends on input row order")
    }
  }
}
