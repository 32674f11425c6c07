package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic generator of the engine's fixture tables (the TPC-H-ish
  * star schema plus `events`, `documents` and `embeddings`), written as
  * one parquet file per table under `dir`, the layout `graft.Tables`
  * loads. Every value is a hash of (seed, salt, row id), so the same
  * seed and scale factor always give the same tables, whatever the
  * partitioning. Row counts follow the scale factor the same way the
  * engine's reference fixtures do: sf0.01 has 1 500 customers, 15 000
  * orders and about 60 000 line items.
  */
object Fixture {
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val statuses = Seq("F", "O", "P")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Seq("click", "error", "purchase", "signup",
    "view")
  private val words = Seq("a", "agg", "batch", "big", "column",
    "customer", "data", "fast", "filter", "group", "hash", "join", "key",
    "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector",
    "window")

  /** Tables the serving workloads read (no text or vector tables). */
  val servingTables: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem")

  final case class Sizes(customers: Long, suppliers: Long, parts: Long,
      orders: Long, events: Long, documents: Long, embeddings: Long)

  def sizes(sf: Double): Sizes = Sizes(
    customers = math.round(150000 * sf), suppliers = math.round(10000 * sf),
    parts = math.round(200000 * sf), orders = math.round(1500000 * sf),
    events = math.round(1000000 * sf),
    documents = math.max(500L, math.round(50000 * sf)),
    embeddings = math.max(500L, math.round(20000 * sf)))

  /** One generated table set: its directory name, scale factor, data
    * seed and tables. */
  final case class Spec(name: String, sf: Double, seed: Long,
      tables: Seq[String])

  /** The tables every workload reads. They come from a fixed data seed,
    * so every run seed sees the same tables and the golden answers stay
    * valid; a run's seed draws its requests, mutations and event window. */
  val serving: Spec = Spec("serving", 0.01, 42L, servingTables)
  val registry: Spec = Spec("registry", 0.02, 42L, graft.Tables.names)
  val events: Spec = Spec("events", 0.1, 42L, Seq("events"))
  val specs: Seq[Spec] = Seq(serving, registry, events)

  /** Write `tables` at scale `sf` under `dir`. */
  def write(spark: SparkSession, dir: String, sf: Double, seed: Long,
      tables: Seq[String]): Unit = {
    val n = sizes(sf)
    tables.foreach { t =>
      val df = t match {
        case "region" => region(spark)
        case "nation" => nation(spark)
        case "customer" => customer(spark, seed, n)
        case "supplier" => supplier(spark, seed, n)
        case "part" => part(spark, seed, n)
        case "orders" => orders(spark, seed, n)
        case "lineitem" => lineitem(spark, seed, n)
        case "events" => events(spark, seed, n)
        case "documents" => documents(spark, seed, n)
        case "embeddings" => embeddings(spark, seed, n)
      }
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
  }

  /** Generate every table set under `cache`, each in a directory named
    * after its spec. This runs in a JVM of its own before the measured
    * one starts, so the measured JVM never runs the generating jobs;
    * the session is a plain one, not the engine's, so the files depend
    * on this file alone. */
  def makeAll(cache: String): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .appName("perfbench-fixtures")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try specs.foreach { s =>
      write(spark, s"$cache/${s.name}", s.sf, s.seed, s.tables) }
    finally spark.stop()
  }

  /** The directory of a generated table set. */
  def dirOf(cache: String, s: Spec): String = {
    val dir = s"$cache/${s.name}"
    require(new java.io.File(dir).isDirectory,
      s"generated tables missing: $dir")
    dir
  }

  /** Copy a generated table directory (a fresh path, so nothing memoised
    * for the original applies to the copy). */
  def copy(src: String, dst: String): Unit = {
    import java.nio.file.{Files, Path, Paths}
    val from = Paths.get(src)
    Files.walk(from).forEach { p: Path =>
      val to = Paths.get(dst).resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to)
    }
  }

  /** Uniform double in [0, 1) from (seed, salt, id). */
  private def u(seed: Long, salt: Int, id: Column = col("id")): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(1000000007L))
      .cast("double") / 1000000007.0

  private def pick(xs: Seq[String], r: Column): Column =
    element_at(array(xs.map(lit): _*),
      (floor(r * xs.size) + 1).cast("int"))

  private def ids(spark: SparkSession, n: Long): DataFrame =
    spark.range(0, n, 1, 4).toDF()

  private def money(lo: Double, hi: Double, r: Column): Column =
    round(lit(lo) + r * (hi - lo), 2)

  private def region(spark: SparkSession): DataFrame =
    ids(spark, 5).select(col("id").cast("int").as("r_regionkey"),
      pick(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"),
        col("id") / 5.0).as("r_name"))

  private def nation(spark: SparkSession): DataFrame =
    ids(spark, 25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      pmod(col("id"), lit(5)).cast("int").as("n_regionkey"))

  private def customer(spark: SparkSession, seed: Long, n: Sizes) =
    ids(spark, n.customers).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      floor(u(seed, 1) * 25).cast("int").as("c_nationkey"),
      money(-999.99, 9999.99, u(seed, 2)).as("c_acctbal"),
      pick(segments, u(seed, 3)).as("c_mktsegment"))

  private def supplier(spark: SparkSession, seed: Long, n: Sizes) =
    ids(spark, n.suppliers).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      floor(u(seed, 11) * 25).cast("int").as("s_nationkey"),
      money(-999.99, 9999.99, u(seed, 12)).as("s_acctbal"))

  private def part(spark: SparkSession, seed: Long, n: Sizes) =
    ids(spark, n.parts).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(Seq("blue", "green", "red", "small", "large",
        "steel", "brass", "plain"), u(seed, 21)),
        pick(Seq("bolt", "gear", "ring", "widget", "nut", "pipe", "valve",
          "spring"), u(seed, 22))).as("p_name"),
      concat(lit("Brand#"), floor(u(seed, 23) * 25) + 1).as("p_brand"),
      pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"),
        u(seed, 24)).as("p_type"),
      (floor(u(seed, 25) * 50) + 1).cast("int").as("p_size"),
      round(lit(900.0) + pmod(col("id"), lit(1000)) / 10.0, 1)
        .as("p_retailprice"))

  private def orderDate(seed: Long): Column =
    to_timestamp(date_add(lit("1995-01-01").cast("date"),
      floor(u(seed, 35) * 2404).cast("int")))

  private def orders(spark: SparkSession, seed: Long, n: Sizes) =
    ids(spark, n.orders).select(col("id").as("o_orderkey"),
      floor(u(seed, 31) * n.customers).cast("long").as("o_custkey"),
      pick(statuses, u(seed, 32)).as("o_orderstatus"),
      money(1000.0, 500000.0, u(seed, 33)).as("o_totalprice"),
      orderDate(seed).as("o_orderdate"),
      pick(priorities, u(seed, 34)).as("o_orderpriority"))

  private def lineitem(spark: SparkSession, seed: Long, n: Sizes) = {
    val lines = ids(spark, n.orders)
      .select(col("id").as("l_orderkey"), orderDate(seed).as("od"),
        explode(sequence(lit(1), (floor(u(seed, 41) * 7) + 1).cast("int")))
          .as("l_linenumber"))
    val key = col("l_orderkey") * 8 + col("l_linenumber")
    val qty = floor(u(seed, 43, key) * 50) + 1
    lines.select(col("l_orderkey"),
      floor(u(seed, 44, key) * n.parts).cast("long").as("l_partkey"),
      floor(u(seed, 45, key) * n.suppliers).cast("long").as("l_suppkey"),
      col("l_linenumber"),
      qty.cast("double").as("l_quantity"),
      round(qty * (lit(900.0) + u(seed, 46, key) * 1200.0), 2)
        .as("l_extendedprice"),
      (floor(u(seed, 47, key) * 11) / 100.0).as("l_discount"),
      (floor(u(seed, 48, key) * 9) / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), u(seed, 49, key)).as("l_returnflag"),
      pick(Seq("F", "O"), u(seed, 50, key)).as("l_linestatus"),
      to_timestamp(date_add(col("od"),
        (floor(u(seed, 51, key) * 121) + 1).cast("int"))).as("l_shipdate"))
  }

  private def events(spark: SparkSession, seed: Long, n: Sizes) = {
    val step = 30L * 86400L * 1000000L / n.events
    ids(spark, n.events).select(col("id").as("event_id"),
      timestamp_micros((lit(1704067200000000L) + col("id") * step +
        floor(u(seed, 61) * step)).cast("long")).as("ts"),
      floor(u(seed, 62) * math.max(1L, n.customers / 10)).cast("long")
        .as("user_id"),
      pick(eventTypes, u(seed, 63)).as("event_type"),
      round(-log(lit(1.0) - u(seed, 64)) * 50.0 + 0.01, 2).as("value"),
      format_string("{\"k\": %d}", floor(u(seed, 65) * 100).cast("int"))
        .as("props"))
  }

  private def documents(spark: SparkSession, seed: Long, n: Sizes) = {
    val vocab = array(words.map(lit): _*)
    val len = (floor(u(seed, 71) * 93) + 8).cast("int")
    val text = concat_ws(" ", transform(sequence(lit(1), len), i =>
      element_at(vocab, (pmod(xxhash64(lit(seed), lit(72), col("id"), i),
        lit(words.size.toLong)) + 1).cast("int"))))
    // every 50th document repeats its predecessor's text with a marker
    // word, so the dedup kernels find near-duplicate pairs
    val base = ids(spark, n.documents).select(col("id"),
      text.as("t0"),
      lag(text, 1).over(org.apache.spark.sql.expressions.Window
        .orderBy("id")).as("prev"))
    base.select(col("id").as("doc_id"),
      when(pmod(col("id"), lit(50)) === 49 && col("prev").isNotNull,
        concat(col("prev"), lit(" dup"))).otherwise(col("t0")).as("text"),
      pick(Seq("en", "en", "en", "de", "es", "fr", "zh"), u(seed, 73))
        .as("lang"),
      concat(lit("src"), pmod(col("id"), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  private def embeddings(spark: SparkSession, seed: Long, n: Sizes) = {
    val label = floor(u(seed, 81) * 10).cast("int")
    val raw = transform(sequence(lit(0), lit(63)), j =>
      sin(col("label") * 7.0 + j * 1.3) * 0.8 +
        (pmod(xxhash64(lit(seed), lit(82), col("id"), j), lit(2001L)) -
          1000) / 2500.0)
    ids(spark, n.embeddings).select(col("id"), col("id").as("vec_id"),
      label.as("label"))
      .withColumn("raw", raw)
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0),
        (acc, x) => acc + x * x)))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / col("norm")).cast("float"))
          .as("embedding"),
        col("label"))
  }
}
