package graft

import org.apache.spark.sql.functions._
import graft.pipeline.Catalog

/** One-order-of-magnitude interop soak: the full dump → directory
  * archive → load cycle over an ~sf1-equivalent lineitem (sf0.1 rows
  * duplicated `mult`× with re-keyed order keys), at every compression
  * algorithm. The small-SF bench (`q_pg_archive_lineitem`, 600k rows)
  * proves correctness of the cycle; this main measures whether the
  * claimed scale levers — distributed COPY/frame encode on the write
  * side, `.idx` member-indexed one-task-per-frame decode on the read
  * side — actually hold when the payload grows 10×, and records the
  * evidence (member counts = parallel decode tasks, throughput per
  * phase) for COVERAGE.
  *
  * Usage: runMain graft.InteropSoak [sfDir] [multiplier]
  * Prints one JSON line per algorithm plus a summary line.
  */
object InteropSoak {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mult = args.drop(1).headOption.map(_.toInt).getOrElse(10)
    val cpus = LocalSession.cpus
    val spark = LocalSession(cpus)

    // ---- untimed staging: materialize the mult× table once as a
    // 32-file parquet source (the shape a real lake table has)
    val stage = s"/tmp/graft_soak_lineitem_x$mult"
    val base = Catalog.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"),
        col("l_quantity").cast("int").as("l_quantity"),
        col("l_returnflag"), col("l_linestatus"))
    val rows0 = base.count()
    base.withColumn("rep", explode(sequence(lit(0), lit(mult - 1))))
      .withColumn("l_orderkey", col("l_orderkey") * mult + col("rep"))
      .drop("rep")
      .repartition(cpus)
      .write.mode("overwrite").parquet(stage)
    val src = Catalog.read(spark, stage)
    val expectRows = rows0 * mult
    val expectQty = Catalog.read(spark, stage)
      .agg(sum(col("l_quantity").cast("long"))).head().getLong(0)

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // warm the encode/decode paths once untimed (JIT)
    locally {
      val w = s"/tmp/graft_soak_warm"
      graft.pipeline.PgToc.dumpArchive(
        Seq("lineitem" -> src.limit(10000)), w, "warm", compress = "gzip")
      graft.sources.PgArchive.load(spark, w).head._2.count()
    }

    def deleteRec(fl: java.io.File): Unit = {
      if (fl.isDirectory) Option(fl.listFiles()).foreach(_.foreach(deleteRec))
      fl.delete(); ()
    }

    val results = Seq("none", "gzip", "lz4", "zstd").map { algo =>
      val out = s"/tmp/graft_soak_arch_$algo"
      deleteRec(new java.io.File(out))
      val (_, dumpSec) = timed {
        graft.pipeline.PgToc.dumpArchive(Seq("lineitem" -> src), out, "soak",
          compress = algo)
      }
      val dir = new java.io.File(out)
      val payloadBytes = dir.listFiles()
        .filter(f => f.getName != "toc.dat" &&
          (f.getName.endsWith(".dat") || f.getName.endsWith(".gz") ||
            f.getName.endsWith(".lz4") || f.getName.endsWith(".zst")))
        .map(_.length()).sum
      // members in the .idx sidecar = parallel decode tasks on load
      val members = dir.listFiles().find(_.getName.endsWith(".idx")).map { idx =>
        scala.io.Source.fromFile(idx).getLines().drop(1).count(_.nonEmpty)
      }.getOrElse(if (algo == "none") -1 else 1)
      val ((nRows, qty, parts), loadSec) = timed {
        val df = graft.sources.PgArchive.load(spark, out).head._2
        val agg = df.agg(count(lit(1)),
          sum(col("l_quantity").cast("long"))).head()
        (agg.getLong(0), agg.getLong(1), df.rdd.getNumPartitions)
      }
      require(nRows == expectRows, s"$algo: rows $nRows != $expectRows")
      require(qty == expectQty, s"$algo: quantity checksum mismatch")
      val line = s"""{"algo":"$algo","rows":$nRows,""" +
        s""""dump_sec":${f(dumpSec)},"load_sec":${f(loadSec)},""" +
        s""""payload_mb":${f(payloadBytes / 1e6)},"members":$members,""" +
        s""""load_partitions":$parts,""" +
        s""""dump_mrows_per_sec":${f(nRows / dumpSec / 1e6)},""" +
        s""""load_mrows_per_sec":${f(nRows / loadSec / 1e6)}}"""
      println(line)
      line
    }
    println(s"""{"soak":"interop_cycle","sf_dir":"$sfDir","mult":$mult,""" +
      s""""rows":$expectRows,"algos":[${results.mkString(",")}]}""")
    spark.stop()
  }

  private def f(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
}
