package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic tables in the shape the engine's registry reads
  * (FIXTURES.md): the TPC-H-ish star schema, the `events` stream table and
  * the `documents`/`embeddings` corpus. Row counts scale with `sf` the way
  * the fixture datasets do (lineitem = 6M × sf; documents and embeddings
  * never fall below `corpusFloor` rows, 500 in the fixtures).
  *
  * Every value is a pure function of (row id, column salt, seed)
  * through `xxhash64`, so the output does not depend on partitioning and
  * the same call always writes byte-identical values. Each table is one
  * parquet file per directory, with timestamps written as
  * TIMESTAMP(MICROS) without a time zone, as the fixture files are.
  */
object DataGen {
  private val vocab = Seq("batch", "sort", "value", "hash", "filter", "big",
    "data", "spark", "line", "small", "fast", "group", "customer", "query",
    "row", "stream", "the", "part", "column", "order", "scan", "a", "slow",
    "agg", "key", "window", "table", "merge", "vector", "join")

  /** Uniform double in [0, 1) drawn from the row id and a per-column salt. */
  private def u(id: Column, salt: Int, seed: Long): Column =
    pmod(xxhash64(id, lit(salt), lit(seed)), lit(1L << 52)).cast("double") /
      lit((1L << 52).toDouble)

  /** Uniform long in [lo, hi]. */
  private def ri(id: Column, salt: Int, seed: Long, lo: Long, hi: Long): Column =
    (pmod(xxhash64(id, lit(salt), lit(seed)), lit(hi - lo + 1)) + lit(lo)).cast("long")

  /** Money-like double with two decimals, uniform over [lo, hi] cents. */
  private def cents(id: Column, salt: Int, seed: Long, lo: Long, hi: Long): Column =
    ri(id, salt, seed, lo, hi).cast("double") / lit(100.0)

  private def pick(id: Column, salt: Int, seed: Long, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), ri(id, salt, seed, 1, xs.size).cast("int"))

  private def day(id: Column, salt: Int, seed: Long, from: String, days: Long): Column =
    date_add(to_date(lit(from)), ri(id, salt, seed, 0, days - 1).cast("int"))
      .cast("timestamp_ntz")

  def tables(spark: SparkSession, sf: Double, seed: Long,
      corpusFloor: Long): Seq[(String, DataFrame)] = {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEv = n(1000000)
    val nDoc = math.max(corpusFloor, n(50000)); val nEmb = math.max(corpusFloor, n(20000))
    val nUser = n(15000)
    val id = col("id")
    def rows(k: Long) = spark.range(0, k, 1, math.max(1, (k / 200000).toInt))

    val region = spark.createDataFrame(Seq(0 -> "AFRICA", 1 -> "AMERICA",
      2 -> "ASIA", 3 -> "EUROPE", 4 -> "MIDDLE EAST")).toDF("r_regionkey", "r_name")
    val nation = spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      (id % 5).cast("int").as("n_regionkey"))
    val customer = rows(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      ri(id, 1, seed, 0, 24).cast("int").as("c_nationkey"),
      cents(id, 2, seed, -99999, 999999).as("c_acctbal"),
      pick(id, 3, seed, Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE",
        "BUILDING")).as("c_mktsegment"))
    val supplier = rows(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      ri(id, 4, seed, 0, 24).cast("int").as("s_nationkey"),
      cents(id, 5, seed, -99999, 999999).as("s_acctbal"))
    val part = rows(nPart).select(id.as("p_partkey"),
      concat(pick(id, 6, seed, Seq("blue", "red", "cold", "hot", "small", "new",
        "big", "green")), lit(" "), pick(id, 7, seed, Seq("ring", "plate", "gear",
        "rod", "bolt", "anvil", "widget", "spring"))).as("p_name"),
      concat(lit("Brand#"), ri(id, 8, seed, 1, 25).cast("string")).as("p_brand"),
      pick(id, 9, seed, Seq("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL",
        "MEDIUM")).as("p_type"),
      ri(id, 10, seed, 1, 50).cast("int").as("p_size"),
      (lit(9000L) + pmod(id, lit(1000L))).cast("double") / lit(10.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
    val orders = rows(nOrd).select(id.as("o_orderkey"),
      ri(id, 11, seed, 0, nCust - 1).as("o_custkey"),
      pick(id, 12, seed, Seq("F", "O", "P")).as("o_orderstatus"),
      cents(id, 13, seed, 100000, 50000000).as("o_totalprice"),
      day(id, 14, seed, "1995-01-01", 2405).as("o_orderdate"),
      pick(id, 15, seed, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))
    val lineitem = rows(nLine).select(
      ri(id, 16, seed, 0, nOrd - 1).as("l_orderkey"),
      ri(id, 17, seed, 0, nPart - 1).as("l_partkey"),
      ri(id, 18, seed, 0, nSupp - 1).as("l_suppkey"),
      ri(id, 19, seed, 1, 7).cast("int").as("l_linenumber"),
      ri(id, 20, seed, 1, 50).cast("double").as("l_quantity"),
      cents(id, 21, seed, 90000, 10500000).as("l_extendedprice"),
      cents(id, 22, seed, 0, 10).as("l_discount"),
      cents(id, 23, seed, 0, 8).as("l_tax"),
      pick(id, 24, seed, Seq("A", "N", "R")).as("l_returnflag"),
      pick(id, 25, seed, Seq("F", "O")).as("l_linestatus"),
      day(id, 26, seed, "1995-01-02", 2498).as("l_shipdate"))
    // 30 days of events in id order, with sub-second jitter inside each
    // row's slot; values are exponential-ish with a mean near 50.
    val slotMicros = 30L * 86400L * 1000000L / nEv
    val events = rows(nEv).select(id.as("event_id"),
      (timestamp_micros(lit(1704067200000000L) + id * lit(slotMicros) +
        ri(id, 27, seed, 0, slotMicros - 1)).cast("timestamp_ntz")).as("ts"),
      ri(id, 28, seed, 0, nUser - 1).as("user_id"),
      pick(id, 29, seed, Seq("error", "signup", "purchase", "view", "click")).as("event_type"),
      (floor(-log(lit(1.0) - u(id, 30, seed)) * lit(5000.0)).cast("long")
        .cast("double") / lit(100.0)).as("value"),
      concat(lit("{\"k\": "), ri(id, 31, seed, 0, 99).cast("string"), lit("}")).as("props"))
    // Word soup of 10..100 words; every 20th doc on average is a copy of
    // an earlier doc's base text with " dup" appended (near-duplicates).
    def soup(d: Column): Column = array_join(transform(
      sequence(lit(1), ri(d, 32, seed, 10, 100).cast("int")),
      j => element_at(array(vocab.map(lit): _*),
        (pmod(xxhash64(d, j, lit(seed)), lit(vocab.size.toLong)) + 1).cast("int"))), " ")
    val isDup = id > 0 && u(id, 33, seed) < lit(0.05)
    val documents = rows(nDoc)
      .select(id.as("doc_id"),
        when(isDup, concat(soup(pmod(xxhash64(id, lit(34), lit(seed)), id)), lit(" dup")))
          .otherwise(soup(id)).as("text"),
        when(u(id, 35, seed) < lit(0.41), lit("en"))
          .otherwise(pick(id, 36, seed, Seq("es", "fr", "de", "zh"))).as("lang"),
        concat(lit("src"), pmod(id, lit(20L)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    // Unit vectors in 64 dims from Gaussian coordinates (Box-Muller).
    val gauss = transform(sequence(lit(0), lit(63)), d =>
      sqrt(lit(-2.0) * log(lit(1.0) - pmod(xxhash64(id, d, lit(37), lit(seed)),
        lit(1L << 52)).cast("double") / lit((1L << 52).toDouble))) *
        cos(lit(2 * math.Pi) * pmod(xxhash64(id, d, lit(38), lit(seed)),
          lit(1L << 52)).cast("double") / lit((1L << 52).toDouble)))
    val embeddings = rows(nEmb).select(id.as("vec_id"), gauss.as("g"),
        ri(id, 39, seed, 0, 9).cast("int").as("label"))
      .select(col("vec_id"),
        transform(col("g"), x => (x / sqrt(aggregate(col("g"), lit(0.0),
          (acc, y) => acc + y * y))).cast("float")).as("embedding"),
        col("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  /** Writes the named tables to `<dir>/<name>.parquet`. */
  def write(spark: SparkSession, dir: String, sf: Double, seed: Long, corpusFloor: Long,
      names: Set[String]): Unit =
    tables(spark, sf, seed, corpusFloor).filter(t => names(t._1)).foreach { case (name, df) =>
      df.coalesce(1).write.parquet(s"$dir/$name.parquet")
    }
}
