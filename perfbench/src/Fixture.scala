package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the TPC-H-ish star schema the program's catalog
  * declares (`graft.pipeline.Catalog`): region, nation, customer,
  * supplier, part, orders, lineitem, events, documents, embeddings.
  *
  * Every value is a pure function of (seed, table, row id) through
  * `xxhash64`, so the same seed and scale give byte-identical tables on
  * any core count. Row counts follow the TPC-H ratios at scale factor
  * `sf` (lineitem ~ 6 M x sf, 1..7 lines per order).
  *
  * `selfFk` adds `customer.c_parent = c_custkey / 2`, a self-referencing
  * foreign key (the root customer 0 points at itself) for the subset
  * fix-point. */
object Fixture {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val Words = Seq("the", "a", "data", "spark", "table", "row", "column", "join",
    "merge", "sort", "scan", "filter", "group", "agg", "window", "hash", "key", "order",
    "part", "line", "customer", "value", "query", "batch", "stream", "vector", "big",
    "small", "fast", "slow", "dup", "index", "page", "block", "shard", "cache", "plan",
    "stage", "task", "shuffle", "spill", "commit", "log", "node", "edge", "graph", "text",
    "token", "model", "score")

  final case class Sizes(customers: Long, suppliers: Long, parts: Long, orders: Long,
                         events: Long, users: Long, documents: Long, embeddings: Long)

  def sizes(sf: Double): Sizes = {
    def n(base: Double, min: Long) = math.max(min, math.round(base * sf))
    Sizes(customers = n(150000, 20), suppliers = n(10000, 5), parts = n(200000, 20),
      orders = n(1500000, 100), events = n(1000000, 200), users = n(15000, 20),
      documents = n(50000, 400), embeddings = n(20000, 400))
  }

  /** Writes `tables` as `<dir>/<table>.parquet` with `files` files each. */
  def write(spark: SparkSession, dir: String, seed: Long, sf: Double, files: Int,
            tables: Seq[String] = Tables, selfFk: Boolean = false): Unit =
    build(spark, seed, sf, selfFk).filter(t => tables.contains(t._1)).foreach { case (t, df) =>
      df.coalesce(files).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }

  def build(spark: SparkSession, seed: Long, sf: Double,
            selfFk: Boolean): Seq[(String, DataFrame)] = {
    val s = sizes(sf)
    def h(tag: String, cs: Column*): Column = xxhash64((lit(seed) +: lit(tag) +: cs): _*)
    def mod(tag: String, n: Long, cs: Column*): Column = pmod(h(tag, cs: _*), lit(n))
    def unit(tag: String, cs: Column*): Column =
      mod(tag, 1000000007L, cs: _*).cast("double") / 1000000007.0
    def pick(tag: String, vs: Seq[String], cs: Column*): Column =
      element_at(array(vs.map(lit): _*), (mod(tag, vs.size.toLong, cs: _*) + 1).cast("int"))
    def money(tag: String, lo: Double, hi: Double, cs: Column*): Column =
      round(lit(lo) + unit(tag, cs: _*) * (hi - lo), 2)
    def day(tag: String, fromEpochDay: Long, days: Long, cs: Column*): Column =
      timestamp_seconds((lit(fromEpochDay) + mod(tag, days, cs: _*)) * 86400L)
        .cast("timestamp_ntz")
    def ids(n: Long) = spark.range(0, n, 1, 4)

    val id = col("id")
    val region = spark.createDataFrame(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (n, i) => (i, n) }).toDF("r_regionkey", "r_name")
    val nation = spark.range(0, 25, 1, 1).select(
      id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"),
      (id % 5).cast("int").as("n_regionkey"))
    val customer0 = ids(s.customers).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      mod("c_nation", 25, id).cast("int").as("c_nationkey"),
      money("c_acct", -999.99, 9999.99, id).as("c_acctbal"),
      pick("c_seg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), id)
        .as("c_mktsegment"))
    val customer = if (selfFk) customer0.withColumn("c_parent", (col("c_custkey") / 2).cast("long"))
                   else customer0
    val supplier = ids(s.suppliers).select(
      id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      mod("s_nation", 25, id).cast("int").as("s_nationkey"),
      money("s_acct", -999.99, 9999.99, id).as("s_acctbal"))
    val adjectives = Seq("small", "red", "blue", "hot", "cold", "old", "new", "big")
    val nouns = Seq("widget", "bolt", "gear", "gizmo", "ring", "nut", "valve", "spring")
    val part = ids(s.parts).select(
      id.as("p_partkey"),
      concat_ws(" ", pick("p_adj", adjectives, id), pick("p_noun", nouns, id)).as("p_name"),
      concat(lit("Brand#"), mod("p_brand", 25, id) + 1).as("p_brand"),
      pick("p_type", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), id)
        .as("p_type"),
      (mod("p_size", 50, id) + 1).cast("int").as("p_size"),
      money("p_price", 900.0, 999.9, id).as("p_retailprice"))
    val orders = ids(s.orders).select(
      id.as("o_orderkey"),
      mod("o_cust", s.customers, id).as("o_custkey"),
      pick("o_status", Seq("F", "O", "P"), id).as("o_orderstatus"),
      money("o_total", 1000.0, 500000.0, id).as("o_totalprice"),
      day("o_date", 9131, 2400, id).as("o_orderdate"),
      pick("o_prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), id)
        .as("o_orderpriority"))
    val ln = col("l_linenumber")
    val okey = col("l_orderkey")
    val lineitem = ids(s.orders)
      .select(id.as("l_orderkey"),
        explode(sequence(lit(1), (mod("l_count", 7, id) + 1).cast("int"))).as("l_linenumber"))
      .select(okey,
        mod("l_part", s.parts, okey, ln).as("l_partkey"),
        mod("l_supp", s.suppliers, okey, ln).as("l_suppkey"),
        ln,
        (mod("l_qty", 50, okey, ln) + 1).cast("double").as("l_quantity"),
        money("l_price", 900.0, 105000.0, okey, ln).as("l_extendedprice"),
        (mod("l_disc", 11, okey, ln).cast("double") / 100).as("l_discount"),
        (mod("l_tax", 9, okey, ln).cast("double") / 100).as("l_tax"),
        pick("l_flag", Seq("A", "N", "R"), okey, ln).as("l_returnflag"),
        pick("l_status", Seq("F", "O"), okey, ln).as("l_linestatus"),
        day("l_ship", 9132, 2500, okey, ln).as("l_shipdate"))
    val events = ids(s.events).select(
      id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + mod("e_ts", 30L * 86400L * 1000000L, id))
        .cast("timestamp_ntz").as("ts"),
      mod("e_user", math.min(s.users, s.customers), id).as("user_id"),
      pick("e_type", Seq("click", "error", "purchase", "signup", "view"), id).as("event_type"),
      money("e_val", 0.01, 490.0, id).as("value"),
      format_string("{\"k\": %d}", mod("e_k", 100, id)).as("props"))
    // near-duplicate documents: every 5th document copies an earlier one
    // with one word changed, so the dedup family has real pairs to find
    val words = array(Words.map(lit): _*)
    val docWords = ids(s.documents).select(id.as("doc_id"),
      (mod("d_len", 90, id) + 10).cast("int").as("n_words"),
      when(mod("d_dup", 5, id) === 0 && id > 0, mod("d_src", s.documents, id) % id)
        .otherwise(id).as("base"))
    val text = transform(sequence(lit(1), col("n_words")), i =>
      when(col("base") =!= col("doc_id") && i === 3, lit("dup"))
        .otherwise(element_at(words,
          (pmod(xxhash64(lit(seed), lit("d_word"), col("base"), i), lit(Words.size.toLong)) + 1)
            .cast("int"))))
    val documents = docWords.select(col("doc_id"),
      array_join(text, " ").as("text"),
      pick("d_lang", Seq("en", "en", "en", "de", "es", "fr", "zh"), col("doc_id")).as("lang"),
      concat(lit("src"), mod("d_source", 20, col("doc_id"))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val dims = 64
    val embeddings = ids(s.embeddings).select(id.as("vec_id"),
      mod("v_label", 10, id).cast("int").as("label"))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(dims - 1)), j =>
          ((unit("v_center", col("label"), j) - 0.5) * 0.4 +
            (unit("v_noise", col("vec_id"), j) - 0.5) * 0.2).cast("float")).as("embedding"),
        col("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer, "supplier" -> supplier,
      "part" -> part, "orders" -> orders, "lineitem" -> lineitem, "events" -> events,
      "documents" -> documents, "embeddings" -> embeddings)
  }
}
