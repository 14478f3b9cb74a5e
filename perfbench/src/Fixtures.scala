package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generator for the ten fixture tables the engine reads.
  *
  * Schemas, key relations and value domains follow FIXTURES.md (the
  * TPC-H-shaped star schema plus `events`, `documents` and `embeddings`),
  * so every declared query runs on the output. Every column is a pure
  * function of (row id, seed) through `xxhash64`, and each table is one
  * single-partition range, so the same (sf, seed) always writes the same
  * rows in the same order. Each table lands as one `<name>.parquet` file,
  * the layout `util.Tables` and DuckDB both read. */
object Fixtures {
  private val vocab = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  def main(args: Array[String]): Unit = {
    val Array(outDir, sfArg, seedArg) = args
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "snappy")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try write(spark, outDir, sfArg.toDouble, seedArg.toLong)
    finally spark.stop()
  }

  def write(spark: SparkSession, outDir: String, sf: Double, seed: Long): Unit = {
    def n(base: Double, floor: Long = 1L) = math.max(floor, math.round(base * sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEv = n(1000000)
    val nUsers = n(15000); val nDocs = n(50000, 500); val nVec = n(20000, 500)

    // uniform hash draws: pick(salt, m) in [0, m), u(salt) in [0, 1)
    def pick(salt: Int, m: Long, id: Column = col("id")): Column =
      pmod(xxhash64(id, lit(seed), lit(salt)), lit(m))
    def u(salt: Int, id: Column = col("id")): Column =
      pick(salt, 1000000L, id).cast("double") / lit(1e6)
    def oneOf(salt: Int, xs: Seq[String]): Column =
      element_at(array(xs.map(lit): _*), (pick(salt, xs.size.toLong) + 1).cast("int"))
    def money(lo: Double, hi: Double, salt: Int): Column =
      round(lit(lo) + u(salt) * lit(hi - lo), 2)
    def day(from: String, days: Int, salt: Int): Column =
      expr(s"timestamp_ntz'$from 00:00:00'") +
        make_dt_interval(pick(salt, days.toLong).cast("int"))
    def rows(count: Long): DataFrame = spark.range(0, count, 1, 1).toDF()

    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> rows(5).select(col("id").cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE",
          "MIDDLE EAST").map(lit): _*), (col("id") + 1).cast("int")).as("r_name")),
      "nation" -> rows(25).select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"),
        (col("id") % 5).cast("int").as("n_regionkey")),
      "customer" -> rows(nCust).select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"),
        pick(1, 25).cast("int").as("c_nationkey"),
        money(-999.99, 9999.99, 2).as("c_acctbal"),
        oneOf(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
          "MACHINERY")).as("c_mktsegment")),
      "supplier" -> rows(nSupp).select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"),
        pick(4, 25).cast("int").as("s_nationkey"),
        money(-999.99, 9999.99, 5).as("s_acctbal")),
      "part" -> rows(nPart).select(col("id").as("p_partkey"),
        concat_ws(" ", oneOf(6, Seq("small", "large", "red", "blue", "hot",
            "cold", "new", "old")),
          oneOf(7, Seq("ring", "widget", "bolt", "gear", "rod", "plate",
            "anvil", "gizmo"))).as("p_name"),
        concat(lit("Brand#"), pick(8, 25)).as("p_brand"),
        oneOf(9, Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
          "PROMO")).as("p_type"),
        (pick(10, 50) + 1).cast("int").as("p_size"),
        round(lit(900.0) + (col("id") % 1000) / lit(10.0), 1).as("p_retailprice")),
      "orders" -> rows(nOrd).select(col("id").as("o_orderkey"),
        pick(11, nCust).as("o_custkey"),
        oneOf(12, Seq("F", "O", "P")).as("o_orderstatus"),
        money(1000.0, 500000.0, 13).as("o_totalprice"),
        day("1995-01-01", 2404, 14).as("o_orderdate"),
        oneOf(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
          "5-LOW")).as("o_orderpriority")),
      "lineitem" -> rows(nLine).select(pick(16, nOrd).as("l_orderkey"),
        pick(17, nPart).as("l_partkey"), pick(18, nSupp).as("l_suppkey"),
        (pick(19, 7) + 1).cast("int").as("l_linenumber"),
        (pick(20, 50) + 1).cast("double").as("l_quantity"),
        round((pick(20, 50) + 1) * (lit(900.0) + u(21) * lit(1200.0)), 2)
          .as("l_extendedprice"),
        (pick(22, 11) / lit(100.0)).as("l_discount"),
        (pick(23, 9) / lit(100.0)).as("l_tax"),
        oneOf(24, Seq("A", "N", "R")).as("l_returnflag"),
        oneOf(25, Seq("F", "O")).as("l_linestatus"),
        day("1995-01-02", 2498, 26).as("l_shipdate")),
      // one month of events, increasing in event_id, with sub-ms precision
      "events" -> rows(nEv).select(col("id").as("event_id"),
        (expr("timestamp_ntz'2024-01-01 00:00:00'") + make_dt_interval(
          lit(0), lit(0), lit(0), ((col("id") + u(27)) *
            lit(30.0 * 86400.0 / nEv)).cast("decimal(18,6)"))).as("ts"),
        pick(28, nUsers).as("user_id"),
        oneOf(29, Seq("click", "error", "purchase", "signup", "view"))
          .as("event_type"),
        round(u(30) * u(31) * lit(560.0), 2).as("value"),
        format_string("{\"k\": %d}", pick(32, 100)).as("props")),
      "documents" -> documents(rows(nDocs), nDocs, pick),
      // ten labelled clusters of 64-dim float vectors, ~N(0, 0.125) overall
      "embeddings" -> rows(nVec).withColumn("label", pick(33, 10).cast("int"))
        .select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(63)), d =>
            (gauss(seed, 34, col("label"), d) * lit(0.08) +
              gauss(seed, 35, col("id"), d) * lit(0.096)).cast("float")).as("embedding"),
          col("label"))
    )
    new java.io.File(outDir).mkdirs()
    tables.foreach { case (name, df) => writeOne(df, s"$outDir/$name.parquet") }
  }

  // Box-Muller standard normal from two hash draws of (salt, key, dim)
  private def gauss(seed: Long, salt: Int, key: Column, d: Column): Column = {
    def uu(s: Int) = (pmod(xxhash64(key, d, lit(seed), lit(salt), lit(s)),
      lit(999999L)) + 1).cast("double") / lit(1e6)
    sqrt(lit(-2.0) * log(uu(0))) * cos(lit(2 * math.Pi) * uu(1))
  }

  // 10..100 vocabulary words per document; every 20th document repeats
  // another document's text with a trailing " dup" (the near-duplicate
  // population the dedup keys look for). No two texts are identical.
  private def documents(base: DataFrame, nDocs: Long,
      pick: (Int, Long, Column) => Column): DataFrame = {
    val words = array(vocab.map(lit): _*)
    def text(id: Column): Column = {
      val len = (pick(40, 91L, id) + 10).cast("int")
      concat_ws(" ", transform(sequence(lit(1), len),
        i => element_at(words, (pick(41, vocab.size.toLong, id * 1000 + i) + 1).cast("int"))))
    }
    val isDup = pick(42, 20L, col("id")) === 0
    val other = (col("id") + lit(nDocs / 2)) % lit(nDocs)
    base.select(col("id").as("doc_id"),
      when(isDup, concat(text(other), lit(" dup"))).otherwise(text(col("id"))).as("text"),
      element_at(array(Seq("en", "en", "en", "en", "en", "en", "de", "de", "fr",
        "fr", "es", "es", "zh", "zh").map(lit): _*),
        (pick(44, 14L, col("id")) + 1).cast("int")).as("lang"),
      concat(lit("src"), col("id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  private def writeOne(df: DataFrame, target: String): Unit = {
    val tmp = target + ".tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    val dst = new java.io.File(target)
    dst.delete()
    require(part.renameTo(dst), s"cannot move $part to $dst")
    Option(new java.io.File(tmp).listFiles()).toSeq.flatten.foreach(_.delete())
    new java.io.File(tmp).delete()
  }
}
