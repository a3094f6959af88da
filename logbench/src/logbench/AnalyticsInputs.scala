package logbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded tables for analytics_batch, in the layout graft.util.Tables reads
  * (one `<name>.parquet` per table: the TPC-H-like star schema, `events`,
  * `documents` and `embeddings`) at the row counts of the sf0.01 test
  * tables. Every value is a hash of (seed, column tag, row key), so the
  * same seed writes the same tables. */
object AnalyticsInputs {
  val Customers = 1500L
  val Suppliers = 100L
  val Parts = 2000L
  val Orders = 15000L
  val Events = 10000L
  val Documents = 500L
  val Vectors = 500L
  val Dim = 64
  val Clusters = 10

  private val Words = Seq("a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
    "value", "part", "hash", "merge", "batch", "spark", "line", "sort", "window", "order",
    "data", "column", "join", "small", "big", "customer", "query", "stream", "filter",
    "group", "vector")

  /** Writes every table under `dir`; returns their bytes on disk. */
  def write(spark: SparkSession, dir: String, seed: Long): Long = {
    def h(tag: String, keys: Column*): Column = xxhash64(lit(seed) +: lit(tag) +: keys: _*)
    def below(n: Long, tag: String, keys: Column*): Column = pmod(h(tag, keys: _*), lit(n))
    def unit(tag: String, keys: Column*): Column =
      shiftrightunsigned(h(tag, keys: _*), 11).cast("double") / 9007199254740992.0
    def pick(xs: Seq[String], tag: String, keys: Column*): Column =
      element_at(array(xs.map(lit): _*), (below(xs.size, tag, keys: _*) + 1).cast("int"))
    def money(scale: Double, tag: String, keys: Column*): Column = round(unit(tag, keys: _*) * scale, 2)
    def rows(n: Long): DataFrame = spark.range(n).toDF("k")
    val k = col("k")
    val tables = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame)]
    def save(name: String, df: DataFrame): Unit = tables += name -> df

    save("region", rows(5).select(k.cast("int").as("r_regionkey"),
      pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"), "r", k).as("r_name")))
    save("nation", rows(25).select(k.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), k).as("n_name"), (k % 5).cast("int").as("n_regionkey")))
    save("customer", rows(Customers).select(k.as("c_custkey"),
      format_string("Customer#%09d", k).as("c_name"),
      below(25, "cn", k).cast("int").as("c_nationkey"),
      (money(10999, "cb", k) - 999).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), "cs", k)
        .as("c_mktsegment")))
    save("supplier", rows(Suppliers).select(k.as("s_suppkey"),
      format_string("Supplier#%09d", k).as("s_name"),
      below(25, "sn", k).cast("int").as("s_nationkey"),
      (money(10999, "sb", k) - 999).as("s_acctbal")))
    save("part", rows(Parts).select(k.as("p_partkey"),
      concat_ws(" ", pick(Seq("red", "blue", "small", "large", "green"), "pc", k),
        pick(Seq("ring", "widget", "bolt", "gear", "panel"), "pn", k)).as("p_name"),
      concat(lit("Brand#"), below(25, "pb", k) + 1).as("p_brand"),
      pick(Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"), "pt", k).as("p_type"),
      (below(50, "ps", k) + 1).cast("int").as("p_size"),
      (lit(900.0) + k / 10.0).as("p_retailprice")))

    // order dates span 1995-01-01 .. 2001-08-01; a line ships 1-121 days
    // after its order, so the date-filtered joins find matches
    val orders = rows(Orders).select(k.as("o_orderkey"),
      below(Customers, "oc", k).as("o_custkey"),
      pick(Seq("O", "F", "P"), "os", k).as("o_orderstatus"),
      money(500000, "op", k).as("o_totalprice"),
      (below(2404, "od", k) * 86400 + 788918400L).as("o_day_s"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), "oo", k)
        .as("o_orderpriority"))
    save("orders", orders.select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"), timestamp_seconds(col("o_day_s")).as("o_orderdate"),
      col("o_orderpriority")))
    val ok = col("o_orderkey")
    val ln = col("l_linenumber")
    save("lineitem", orders
      .select(ok, col("o_day_s"),
        explode(sequence(lit(1), (below(7, "ll", ok) + 1).cast("int"))).as("l_linenumber"))
      .select(ok.as("l_orderkey"), below(Parts, "lp", ok, ln).as("l_partkey"),
        below(Suppliers, "lsu", ok, ln).as("l_suppkey"), ln,
        (below(50, "lq", ok, ln) + 1).cast("double").as("l_quantity"),
        round((below(50, "lq", ok, ln) + 1) * (lit(900.0) + below(Parts, "lp", ok, ln) / 10.0), 2)
          .as("l_extendedprice"),
        (below(11, "ld", ok, ln) / 100.0).as("l_discount"),
        (below(9, "lt", ok, ln) / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), "lr", ok, ln).as("l_returnflag"),
        pick(Seq("O", "F"), "ls", ok, ln).as("l_linestatus"),
        timestamp_seconds(col("o_day_s") + (below(121, "lsd", ok, ln) + 1) * 86400).as("l_shipdate")))

    // events: dense ids, increasing timestamps from 2024-01-01, 150 users
    save("events", rows(Events).select(k.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + k * 259000000L + below(1000000, "et", k)).as("ts"),
      below(150, "eu", k).as("user_id"),
      pick(Seq("click", "signup", "error", "view", "purchase"), "ey", k).as("event_type"),
      (money(490, "ev", k) + 0.01).as("value"),
      format_string("{\"k\": %d}", below(100, "ek", k)).as("props")))

    // documents: 8-92 words from a small vocabulary; one in ten copies an
    // earlier document with one word changed, so near-duplicates exist
    val dupOf = when(k > 0 && below(10, "dd", k) === 0, pmod(h("ds", k), k)).otherwise(k)
    val docs = rows(Documents).select(k, dupOf.as("src"))
      .withColumn("n", (below(85, "dn", col("src")) + 8).cast("int"))
      .withColumn("edit", (below(Long.MaxValue, "de", k) % col("n") + 1).cast("int"))
    val word = (i: Column) =>
      element_at(array(Words.map(lit): _*), (pmod(
        xxhash64(lit(seed), lit("dw"), when(i === col("edit") && k =!= col("src"), k)
          .otherwise(col("src")), i), lit(Words.size.toLong)) + 1).cast("int"))
    save("documents", docs
      .select(k.as("doc_id"),
        array_join(transform(sequence(lit(1), col("n")), word), " ").as("text"),
        pick(Seq("en", "en", "en", "en", "zh", "es", "de", "fr"), "dl", k).as("lang"),
        concat(lit("src"), below(20, "dc", k)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))

    // embeddings: 10 clusters, each a random centre plus per-vector noise
    val label = col("label")
    save("embeddings", rows(Vectors)
      .select(k.as("vec_id"), below(Clusters, "el", k).cast("int").as("label"))
      .select(col("vec_id"),
        transform(sequence(lit(0), lit(Dim - 1)), j =>
          (unit("ec", label, j) * 2 - 1 + (unit("en", col("vec_id"), j) * 2 - 1) * 0.5)
            .cast("float")).as("embedding"),
        label))

    // the tables are small: write them side by side, one job each
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try tables.map { case (name, df) =>
      pool.submit(new Runnable {
        def run(): Unit = df.coalesce(1).write.parquet(s"$dir/$name.parquet")
      })
    }.foreach(_.get())
    finally pool.shutdown()
    Proc.dirBytes(java.nio.file.Paths.get(dir))
  }
}
