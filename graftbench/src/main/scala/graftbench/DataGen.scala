package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded generator of the TPC-H-shaped star schema plus the `events`,
  * `documents` and `embeddings` tables that graft's operators read, in the
  * parquet layout and column types they expect (one `<table>.parquet` per
  * table under a directory).
  *
  * Every value is a pure function of (seed, table, row id, column), built
  * from Spark's xxhash64, so the same seed writes the same rows whatever
  * the partitioning. Money columns carry two decimals, as graft's exact
  * decimal sums assume. */
object DataGen {

  private def h(seed: Long, salt: String, parts: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: parts): _*)
  /** Uniform integer in [0, n). */
  private def uni(seed: Long, salt: String, n: Long, parts: Column*): Column =
    pmod(h(seed, salt, parts: _*), lit(n))
  /** Uniform money value in [lo, hi) with two decimals. */
  private def money(seed: Long, salt: String, lo: Double, hi: Double,
      parts: Column*): Column =
    (lit(lo) + uni(seed, salt, ((hi - lo) * 100).toLong, parts: _*) / 100.0)
      .cast(DoubleType)
  private def pick(xs: Seq[String], idx: Column): Column =
    element_at(array(xs.map(lit): _*), (idx + 1).cast(IntegerType))
  /** Wall-clock timestamp (TIMESTAMP_NTZ, as the fixtures store it). */
  private def ntz(epochSeconds: Column): Column =
    timestamp_seconds(epochSeconds).cast(TimestampNTZType)
  private def epoch(date: String): Long =
    java.time.LocalDate.parse(date).atStartOfDay(java.time.ZoneOffset.UTC)
      .toEpochSecond

  final case class Sizes(customer: Long, supplier: Long, part: Long,
      orders: Long, events: Long, documents: Long, embeddings: Long)

  /** Table sizes at a TPC-H-style scale factor (lineitem ~ 4 x orders). */
  def sizes(sf: Double): Sizes = {
    def n(perUnit: Long) = math.max(1L, math.round(perUnit * sf))
    Sizes(n(150000), n(10000), n(200000), n(1500000), n(1000000),
      math.max(500L, n(50000)), math.max(500L, n(20000)))
  }

  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Types = Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
  private val Adjectives = Seq("small", "red", "blue", "hot", "green", "big",
    "cold", "steel")
  private val Nouns = Seq("ring", "widget", "bolt", "gear", "gizmo", "nut",
    "spring", "valve")
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val Langs = Seq("de", "en", "es", "fr", "zh")
  /** Token vocabulary of the synthetic documents. */
  private val Vocab: Seq[String] = Seq("a", "the", "key", "agg", "row", "scan",
    "slow", "fast", "table", "value", "part", "hash", "merge", "batch", "spark",
    "line", "sort", "window", "data", "column", "join", "small", "big",
    "customer", "query", "order", "group", "filter", "stream")

  /** Orders of the star schema; `lineitem` explodes these. */
  def orders(s: SparkSession, seed: Long, sz: Sizes): DataFrame = {
    val id = col("id")
    val d0 = epoch("1995-01-01")
    s.range(0, sz.orders).select(
      id.as("o_orderkey"),
      uni(seed, "o_cust", sz.customer, id).as("o_custkey"),
      pick(Seq("F", "O", "P"), uni(seed, "o_status", 3, id)).as("o_orderstatus"),
      money(seed, "o_total", 1000.0, 500000.0, id).as("o_totalprice"),
      ntz(lit(d0) + uni(seed, "o_date", 2404, id) * 86400).as("o_orderdate"),
      pick(Priorities, uni(seed, "o_prio", 5, id)).as("o_orderpriority"))
  }

  def lineitem(s: SparkSession, seed: Long, sz: Sizes): DataFrame = {
    val ok = col("o_orderkey")
    val ln = col("l_linenumber")
    val d0 = epoch("1995-01-02")
    val qty = (uni(seed, "l_qty", 50, ok, ln) + 1).cast(DoubleType)
    orders(s, seed, sz).select(ok,
      explode(sequence(lit(1), (uni(seed, "l_lines", 7, ok) + 1).cast(IntegerType)))
        .as("l_linenumber"))
      .select(
        ok.as("l_orderkey"),
        uni(seed, "l_part", sz.part, ok, ln).as("l_partkey"),
        uni(seed, "l_supp", sz.supplier, ok, ln).as("l_suppkey"),
        ln,
        qty.as("l_quantity"),
        round(qty * money(seed, "l_price", 900.0, 2100.0, ok, ln), 2)
          .as("l_extendedprice"),
        (uni(seed, "l_disc", 11, ok, ln) / 100.0).cast(DoubleType).as("l_discount"),
        (uni(seed, "l_tax", 9, ok, ln) / 100.0).cast(DoubleType).as("l_tax"),
        pick(Seq("A", "N", "R"), uni(seed, "l_rf", 3, ok, ln)).as("l_returnflag"),
        pick(Seq("F", "O"), uni(seed, "l_ls", 2, ok, ln)).as("l_linestatus"),
        ntz(lit(d0) + uni(seed, "l_ship", 2498, ok, ln) * 86400).as("l_shipdate"))
  }

  /** Every table, written as `<dir>/<table>.parquet`. */
  def write(s: SparkSession, seed: Long, sf: Double, dir: String): Unit = {
    import s.implicits._
    val sz = sizes(sf)
    val id = col("id")
    def out(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    out("region", Regions.zipWithIndex.map { case (n, i) => (i, n) }
      .toDF("r_regionkey", "r_name"))
    out("nation", (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"))
    out("customer", s.range(0, sz.customer).select(
      id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      uni(seed, "c_nat", 25, id).cast(IntegerType).as("c_nationkey"),
      money(seed, "c_bal", -999.99, 9999.99, id).as("c_acctbal"),
      pick(Segments, uni(seed, "c_seg", 5, id)).as("c_mktsegment")))
    out("supplier", s.range(0, sz.supplier).select(
      id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      uni(seed, "s_nat", 25, id).cast(IntegerType).as("s_nationkey"),
      money(seed, "s_bal", -999.99, 9999.99, id).as("s_acctbal")))
    out("part", s.range(0, sz.part).select(
      id.as("p_partkey"),
      concat_ws(" ", pick(Adjectives, uni(seed, "p_n1", Adjectives.size, id)),
        pick(Nouns, uni(seed, "p_n2", Nouns.size, id))).as("p_name"),
      format_string("Brand#%d", uni(seed, "p_b", 25, id) + 1).as("p_brand"),
      pick(Types, uni(seed, "p_t", Types.size, id)).as("p_type"),
      (uni(seed, "p_size", 50, id) + 1).cast(IntegerType).as("p_size"),
      money(seed, "p_price", 900.0, 1000.0, id).as("p_retailprice")))
    out("orders", orders(s, seed, sz))
    out("lineitem", lineitem(s, seed, sz))

    val t0 = epoch("2024-01-01")
    out("events", s.range(0, sz.events).select(
      id.as("event_id"),
      timestamp_micros(lit(t0 * 1000000L) + uni(seed, "e_ts", 30L * 86400 * 1000000L, id))
        .cast(TimestampNTZType).as("ts"),
      uni(seed, "e_user", math.max(1L, sz.events / 67), id).as("user_id"),
      pick(EventTypes, uni(seed, "e_type", 5, id)).as("event_type"),
      money(seed, "e_val", 0.01, 490.0, id).as("value"),
      format_string("{\"k\": %d}", uni(seed, "e_k", 100, id)).as("props")))

    // Documents come in clusters of three that share a token sequence, each
    // member perturbing about a tenth of its tokens: near-duplicates for the
    // dedup operators, bag-of-words-distinct texts for everything else.
    val base = id.divide(3).cast(LongType)
    val nTok = (uni(seed, "d_len", 80, base) + 10).cast(IntegerType)
    val tokens = transform(sequence(lit(1), nTok), i =>
      pick(Vocab, when(uni(seed, "d_mut", 10, id, i) === 0,
        uni(seed, "d_alt", Vocab.size, id, i))
        .otherwise(uni(seed, "d_tok", Vocab.size, base, i))))
    out("documents", s.range(0, sz.documents)
      .select(id.as("doc_id"), concat_ws(" ", tokens).as("text"),
        pick(Langs, uni(seed, "d_lang", 5, id)).as("lang"),
        format_string("src%d", uni(seed, "d_src", 20, id)).as("source"))
      .withColumn("n_chars", length(col("text")).cast(LongType)))

    // Embeddings: a per-label centroid plus per-vector noise, dimension 64.
    val label = uni(seed, "v_label", 10, id).cast(IntegerType)
    val emb = transform(sequence(lit(0), lit(63)), j =>
      ((uni(seed, "v_c", 2001, label, j) - 1000) / 1000.0 +
        (uni(seed, "v_n", 601, id, j) - 300) / 1000.0).cast(FloatType))
    out("embeddings", s.range(0, sz.embeddings)
      .select(id.as("vec_id"), emb.as("embedding"), label.as("label")))
  }
}
