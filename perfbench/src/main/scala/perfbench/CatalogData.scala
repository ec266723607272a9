package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the catalog's input tables: the TPC-H-ish star
  * schema plus `events`, `documents` and `embeddings`, with the schemas,
  * key ranges and value mixes of the harness testdata at the same scale
  * factor. Every column is a pure function of (seed, row id) through
  * xxhash64, so one seed always yields bit-identical tables on any core
  * count. Each table is written as one parquet file, as the harness
  * testdata is, so scan parallelism matches it.
  */
object CatalogData {

  final case class Sizes(customer: Long, supplier: Long, part: Long,
      orders: Long, lineitem: Long, events: Long, documents: Long,
      embeddings: Long, users: Long)

  def sizes(sf: Double): Sizes = Sizes(
    customer = (150000 * sf).round, supplier = (10000 * sf).round,
    part = (200000 * sf).round, orders = (1500000 * sf).round,
    lineitem = (6000000 * sf).round, events = (1000000 * sf).round,
    documents = (50000 * sf).round,
    embeddings = math.max(500L, (20000 * sf).round),
    users = math.max(150L, (15000 * sf).round))

  private val Vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  /** Uniform in [0, 1) from (seed, tag, key columns). */
  private def u(seed: Long, tag: String, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(tag) +: keys): _*), lit(1000000007L))
      .cast("double") / 1000000007.0

  private def pick(values: Seq[String], r: Column): Column =
    element_at(array(values.map(lit): _*),
      (floor(r * values.size) + 1).cast("int"))

  private def money(lo: Double, hi: Double, r: Column): Column =
    round(lit(lo) + r * (hi - lo), 2)

  private def day(from: String, spanDays: Int, r: Column): Column =
    date_add(to_date(lit(from)), floor(r * spanDays).cast("int"))
      .cast("timestamp")

  /** Writes every table under `dir`. */
  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val n = sizes(sf)
    val id = col("id")
    def r(tag: String): Column = u(seed, tag, id)
    def keyed(rows: Long)(cols: Column*): DataFrame =
      spark.range(rows).select(cols: _*)

    val tables = Seq[(String, DataFrame)](
      "region" -> keyed(5)(id.cast("int").as("r_regionkey"),
        pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"),
          id.cast("double") / 5).as("r_name")),
      "nation" -> keyed(25)(id.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), id.cast("string")).as("n_name"),
        pmod(id, lit(5L)).cast("int").as("n_regionkey")),
      "customer" -> keyed(n.customer)(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        floor(r("c_nation") * 25).cast("int").as("c_nationkey"),
        money(-999.99, 9999.99, r("c_acctbal")).as("c_acctbal"),
        pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
          "MACHINERY"), r("c_seg")).as("c_mktsegment")),
      "supplier" -> keyed(n.supplier)(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        floor(r("s_nation") * 25).cast("int").as("s_nationkey"),
        money(-999.99, 9999.99, r("s_acctbal")).as("s_acctbal")),
      "part" -> keyed(n.part)(id.as("p_partkey"),
        concat_ws(" ",
          pick(Seq("blue", "cold", "hot", "large", "new", "old", "red",
            "small"), r("p_adj")),
          pick(Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
            "widget"), r("p_noun"))).as("p_name"),
        concat(lit("Brand#"), (floor(r("p_brand") * 25) + 1).cast("string"))
          .as("p_brand"),
        pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"),
          r("p_type")).as("p_type"),
        (floor(r("p_size") * 50) + 1).cast("int").as("p_size"),
        (lit(900.0) + pmod(id, lit(1000L)) / 10.0).as("p_retailprice")),
      "orders" -> keyed(n.orders)(id.as("o_orderkey"),
        floor(r("o_cust") * n.customer).cast("long").as("o_custkey"),
        pick(Seq("F", "O", "P"), r("o_status")).as("o_orderstatus"),
        money(1000.0, 500000.0, r("o_price")).as("o_totalprice"),
        day("1995-01-01", 2404, r("o_date")).as("o_orderdate"),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
          "5-LOW"), r("o_prio")).as("o_orderpriority")),
      "lineitem" -> keyed(n.lineitem)(
        floor(r("l_order") * n.orders).cast("long").as("l_orderkey"),
        floor(r("l_part") * n.part).cast("long").as("l_partkey"),
        floor(r("l_supp") * n.supplier).cast("long").as("l_suppkey"),
        (floor(r("l_line") * 7) + 1).cast("int").as("l_linenumber"),
        (floor(r("l_qty") * 50) + 1).as("l_quantity"),
        money(900.0, 105000.0, r("l_price")).as("l_extendedprice"),
        (floor(r("l_disc") * 11) / 100).as("l_discount"),
        (floor(r("l_tax") * 9) / 100).as("l_tax"),
        pick(Seq("A", "N", "R"), r("l_rf")).as("l_returnflag"),
        pick(Seq("F", "O"), r("l_ls")).as("l_linestatus"),
        day("1995-01-02", 2498, r("l_ship")).as("l_shipdate")),
      "events" -> keyed(n.events)(id.as("event_id"),
        timestamp_micros((lit(1704067200.0) +
          (id.cast("double") + r("e_ts")) * (30.0 * 86400 / n.events))
          .multiply(1e6).cast("long")).as("ts"),
        floor(r("e_user") * n.users).cast("long").as("user_id"),
        pick(Seq("click", "error", "purchase", "signup", "view"), r("e_type"))
          .as("event_type"),
        round(-log(lit(1.0) - r("e_value")) * 50, 2).as("value"),
        format_string("{\"k\": %d}", floor(r("e_k") * 100).cast("int"))
          .as("props")),
      "documents" -> documents(spark, n.documents, seed),
      "embeddings" -> embeddings(spark, n.embeddings, seed))

    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
  }

  /** Random-word documents over a 30-word vocabulary; about 5% are
    * near-duplicates of a recent document (its text plus the token
    * `dup`) and about 0.2% are exact duplicates, so the dedup families
    * have clusters to find.
    */
  private def documents(spark: SparkSession, rows: Long, seed: Long): DataFrame = {
    val id = col("id")
    val near = u(seed, "d_near", id) < 0.05
    val exact = u(seed, "d_exact", id) < 0.002
    val back = floor(u(seed, "d_back", id) * 10).cast("long") + 1
    val src = when((near || exact) && id >= back, id - back).otherwise(id)
    val nWords = (pmod(xxhash64(lit(seed), lit("d_n"), col("src")), lit(91L)) + 10)
      .cast("int")
    val vocab = array(Vocab.map(lit): _*)
    val words = transform(sequence(lit(0), nWords - 1), i =>
      element_at(vocab, (pmod(xxhash64(lit(seed), lit("d_w"), col("src"), i),
        lit(Vocab.size.toLong)) + 1).cast("int")))
    val text = when(near && !exact && col("src") =!= id,
      concat(array_join(words, " "), lit(" dup"))).otherwise(array_join(words, " "))
    spark.range(rows).select(id, src.as("src"))
      .select(id.as("doc_id"), text.as("text"),
        pick(Seq.fill(8)("en") ++ Seq("de", "es", "fr", "zh").flatMap(Seq.fill(3)(_)),
          u(seed, "d_lang", id)).as("lang"),
        concat(lit("src"), pmod(id, lit(20L)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** 64-dimensional random unit vectors (pseudo-normal components from
    * an Irwin-Hall sum of four uniforms) with a random label in 0..9.
    */
  private def embeddings(spark: SparkSession, rows: Long, seed: Long): DataFrame = {
    val id = col("id")
    val raw = transform(sequence(lit(0), lit(63)), d =>
      (0 until 4).map(k => u(seed, s"v$k", id, d)).reduce(_ + _) - 2.0)
    spark.range(rows).select(id, raw.as("raw"))
      .select(id.as("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0),
          (acc, y) => acc + y * y))).cast("float")).as("embedding"),
        floor(u(seed, "label", id) * 10).cast("int").as("label"))
  }
}
