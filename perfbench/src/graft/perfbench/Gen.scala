package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators with the fixture schemas (FIXTURES.md).
  *
  * Every value is a pure function of (seed, row key, column tag) through
  * `xxhash64`, and every table is written as a single parquet file, so the
  * same seed gives byte-identical files up to the parquet footer (see
  * `Main.dirDigest`) and a different seed different ones. Money columns are whole cents and quantities whole units, so the
  * oracle's DECIMAL(18,2) casts are exact on both engines.
  */
object Gen {

  /** Table sizes in rows (lineitem: about 4 per order). */
  case class Sizes(supplier: Long = 100, customer: Long = 1500, part: Long = 2000,
                   orders: Long = 15000, events: Long = 10000, users: Long = 150,
                   docs: Long = 5000, embeddings: Long = 2000, vocab: Long = 2000)

  private def h(seed: Long, key: Column, tag: String): Column =
    xxhash64(lit(seed), key, lit(tag))

  /** Uniform integer in [0, n). */
  private def uint(seed: Long, key: Column, tag: String, n: Long): Column =
    pmod(h(seed, key, tag), lit(n))

  private def pick(seed: Long, key: Column, tag: String, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (uint(seed, key, tag, values.size) + 1).cast("int"))

  private def cents(seed: Long, key: Column, tag: String, lo: Long, hi: Long): Column =
    ((uint(seed, key, tag, hi - lo + 1) + lo) / 100.0).cast("double")

  private def day(base: String, offset: Column): Column =
    date_add(lit(base).cast("date"), offset.cast("int")).cast("timestamp_ntz")

  private def write(df: DataFrame, dir: String, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val EventTypes = Seq("error", "signup", "purchase", "view", "click")

  val StarTables = Seq("region", "nation", "supplier", "customer", "part", "orders",
    "lineitem", "events")

  /** The star-schema tables named in `tables` (default: all of them). */
  def star(s: SparkSession, dir: String, seed: Long, z: Sizes,
           tables: Seq[String] = StarTables): Unit = {
    def write(df: => DataFrame, name: String): Unit =
      if (tables.contains(name)) Gen.write(df, dir, name)
    val id = col("id")
    write(s.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name")), "region")
    write(s.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      pmod(id, lit(5)).cast("int").as("n_regionkey")), "nation")
    write(s.range(z.supplier).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      uint(seed, id, "s_nat", 25).cast("int").as("s_nationkey"),
      cents(seed, id, "s_bal", -99999, 999999).as("s_acctbal")), "supplier")
    write(s.range(z.customer).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      uint(seed, id, "c_nat", 25).cast("int").as("c_nationkey"),
      cents(seed, id, "c_bal", -99999, 999999).as("c_acctbal"),
      pick(seed, id, "c_seg", Segments).as("c_mktsegment")), "customer")
    write(s.range(z.part).select(id.as("p_partkey"),
      concat_ws(" ",
        pick(seed, id, "p_adj", Seq("large", "hot", "blue", "small", "green", "shiny")),
        pick(seed, id, "p_noun", Seq("ring", "bolt", "widget", "gear", "valve", "nut"))).as("p_name"),
      concat(lit("Brand#"), (uint(seed, id, "p_brand", 25) + 1).cast("string")).as("p_brand"),
      pick(seed, id, "p_type", Seq("ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"))
        .as("p_type"),
      (uint(seed, id, "p_size", 50) + 1).cast("int").as("p_size"),
      cents(seed, id, "p_price", 90000, 200000).as("p_retailprice")), "part")
    def orderDate(key: Column) = day("1995-01-01", uint(seed, key, "o_date", 2404))
    write(s.range(z.orders).select(id.as("o_orderkey"),
      uint(seed, id, "o_cust", z.customer).as("o_custkey"),
      pick(seed, id, "o_status", Seq("F", "O", "P")).as("o_orderstatus"),
      cents(seed, id, "o_total", 100000, 50000000).as("o_totalprice"),
      orderDate(id).as("o_orderdate"),
      pick(seed, id, "o_prio", Priorities).as("o_orderpriority")), "orders")
    // 1..7 lines per order; a line's key is (orderkey, linenumber)
    val lk = col("l_orderkey") * 8 + col("l_linenumber")
    val lines = s.range(z.orders).select(id.as("l_orderkey"),
        explode(sequence(lit(1), (uint(seed, id, "o_lines", 7) + 1).cast("int"))).as("l_linenumber"))
      .withColumn("o_orderdate", orderDate(col("l_orderkey")))
    write(lines.select(col("l_orderkey"),
      uint(seed, lk, "l_part", z.part).as("l_partkey"),
      uint(seed, lk, "l_supp", z.supplier).as("l_suppkey"),
      col("l_linenumber").cast("int").as("l_linenumber"),
      (uint(seed, lk, "l_qty", 50) + 1).cast("double").as("l_quantity"),
      cents(seed, lk, "l_price", 90000, 10000000).as("l_extendedprice"),
      (uint(seed, lk, "l_disc", 11) / 100.0).as("l_discount"),
      (uint(seed, lk, "l_tax", 9) / 100.0).as("l_tax"),
      pick(seed, lk, "l_rf", Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, lk, "l_ls", Seq("F", "O")).as("l_linestatus"),
      date_add(col("o_orderdate").cast("date"), (uint(seed, lk, "l_ship", 121) + 1).cast("int"))
        .cast("timestamp_ntz").as("l_shipdate"))
      .orderBy("l_orderkey", "l_linenumber"), "lineitem")
    val start = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
    write(s.range(z.events).select(id.as("event_id"),
      timestamp_micros(lit(start) + uint(seed, id, "e_ts", 30L * 86400L * 1000000L))
        .cast("timestamp_ntz").as("ts"),
      // squared uniform: a few heavy users, a long tail of light ones
      (pow(uint(seed, id, "e_user", 1L << 20) / (1L << 20).toDouble, 2) * z.users)
        .cast("long").as("user_id"),
      pick(seed, id, "e_type", EventTypes).as("event_type"),
      cents(seed, id, "e_val", 3, 33000).as("value"),
      format_string("{\"k\": %d}", uint(seed, id, "e_k", 100)).as("props")), "events")
  }

  /** documents + embeddings with the PipelineSpec plant layout, scaled to
    * `docs`: text near-dup pairs (2i, 2i+1) sharing 29 of 33 word bigrams,
    * exact text copies, embedding near-dups at cosine ~0.999, and
    * multimodal plants whose embedding twin is a text near-dup. Vector ids
    * are the doc ids of the first `embeddings` documents.
    */
  def corpus(s: SparkSession, dir: String, seed: Long, z: Sizes,
             withDocs: Boolean = true): Unit = {
    val n = z.docs; val ne = z.embeddings
    val nearPairs = n / 25            // docs [0, 2·nearPairs) are planted pairs
    val exactLo = n / 4; val exactN = n / 25
    val copyLo = exactLo + 2 * exactN // docs [copyLo, copyLo+exactN) copy [exactLo, …)
    val id = col("id")
    val textKey = when(id >= copyLo && id < copyLo + exactN, id - 2 * exactN).otherwise(id)
    val words = expr(s"""transform(sequence(0, 31), j -> concat('w', CAST(pmod(xxhash64(
      |  ${seed}L, CASE WHEN id < ${2 * nearPairs} AND j < 30 THEN id DIV 2 * 2 ELSE text_key END,
      |  j, 'word'), ${z.vocab}) AS STRING)))""".stripMargin)
    val docs = s.range(n).withColumn("text_key", textKey).select(id.as("doc_id"),
        array_join(words, " ").as("text"),
        pick(seed, col("text_key"), "d_lang", Seq("en", "en", "en", "es", "de", "fr", "zh")).as("lang"),
        concat(lit("src"), uint(seed, id, "d_src", 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    if (withDocs) write(docs, dir, "documents")
    // embedding plants: vec [ne/2, ne/2+ne/30) twins [ne/4, …); vec
    // [3ne/4, 3ne/4+ne/40) twins the text-planted doc 2i
    val nearLo = ne / 2; val nearN = ne / 30
    val mmLo = 3 * ne / 4; val mmN = math.min(ne / 40, nearPairs)
    val base = when(id >= nearLo && id < nearLo + nearN, id - nearLo + ne / 4)
      .when(id >= mmLo && id < mmLo + mmN, (id - mmLo) * 2).otherwise(id)
    def gauss(key: String, tag: String): String =
      s"""sqrt(-2.0 * ln((pmod(xxhash64(${seed}L, $key, k, '$tag'), 2147483647) + 1) / 2147483648.0))
         |  * cos(6.283185307179586 * pmod(xxhash64(${seed}L, $key, k, '${tag}2'), 2147483647)
         |  / 2147483647.0)""".stripMargin
    val vec = expr(s"""transform(sequence(0, 63), k -> CAST(0.1 * ${gauss("base", "e")}
      |  + CASE WHEN base <> id THEN 0.003 * ${gauss("id", "n")} ELSE 0.0 END AS FLOAT))""".stripMargin)
    write(s.range(ne).withColumn("base", base).select(id.as("vec_id"), vec.as("embedding"),
      uint(seed, id, "label", 10).cast("int").as("label")), dir, "embeddings")
  }
}
