package graftbench

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Deterministic synthetic tables with the shapes of the repository testdata
  * (TESTDATA.md): the TPC-H-ish star schema, `events`, `documents` and
  * `embeddings`. Every value is a hash of (table salt, row id, column
  * index), so the same `scale` always writes the same rows, whatever the
  * partitioning. The expected result digests in `expected/` depend on
  * that: the workload seed never changes these tables, only the order of
  * the queries.
  */
object Data {
  private val Salt = 20240101L

  /** Uniform double in [0, 1) from (salt, k, id). */
  private def u(salt: String, k: Int, id: Column = col("id")): Column =
    pmod(xxhash64(lit(Salt), lit(salt), lit(k), id), lit(1000000007L)).cast("double") /
      lit(1000000007.0)

  private def pick(values: Seq[String], x: Column): Column =
    element_at(array(values.map(lit): _*), (x * values.size).cast("int") + 1)

  private def ts(base: String, x: Column, spanSeconds: Long): Column =
    timestamp_seconds(unix_timestamp(lit(base)) + (x * spanSeconds).cast("long"))

  val Vocabulary: Seq[String] = Seq("a", "agg", "batch", "big", "column", "customer", "data",
    "dup", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  /** Write all ten tables under `dir`, sized like sf = `scale`. */
  def write(spark: SparkSession, dir: String, scale: Double): Unit = {
    def n(base: Long): Long = math.max(1L, math.round(base * scale / 0.01))
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val nCust = n(1500); val nSupp = n(100); val nPart = n(2000); val nOrd = n(15000)

    save("region", spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        col("id").cast("int") + 1).as("r_name")))
    save("nation", spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"), (col("id") % 5).cast("int").as("n_regionkey")))
    save("customer", spark.range(nCust).select(
      col("id").as("c_custkey"), format_string("Customer#%09d", col("id")).as("c_name"),
      (u("c", 1) * 25).cast("int").as("c_nationkey"),
      round(u("c", 2) * 10999.99 - 999.99, 2).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), u("c", 3))
        .as("c_mktsegment")))
    save("supplier", spark.range(nSupp).select(
      col("id").as("s_suppkey"), format_string("Supplier#%09d", col("id")).as("s_name"),
      (u("s", 1) * 25).cast("int").as("s_nationkey"),
      round(u("s", 2) * 10999.99 - 999.99, 2).as("s_acctbal")))
    val colors = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
    val nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    save("part", spark.range(nPart).select(
      col("id").as("p_partkey"),
      concat_ws(" ", pick(colors, u("p", 1)), pick(nouns, u("p", 2))).as("p_name"),
      concat(lit("Brand#"), ((u("p", 3) * 25).cast("int") + 1).cast("string")).as("p_brand"),
      pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), u("p", 4)).as("p_type"),
      ((u("p", 5) * 50).cast("int") + 1).as("p_size"),
      round(lit(900.0) + (col("id") % 1000) * 0.1, 2).as("p_retailprice")))
    save("orders", spark.range(nOrd).select(
      col("id").as("o_orderkey"), (u("o", 1) * nCust).cast("long").as("o_custkey"),
      pick(Seq("F", "O", "P"), u("o", 2)).as("o_orderstatus"),
      round(u("o", 3) * 498965.0 + 1013.0, 2).as("o_totalprice"),
      ts("1995-01-01 00:00:00", floor(u("o", 4) * 2404), 86400L).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), u("o", 5))
        .as("o_orderpriority")))
    save("lineitem", spark.range(n(60000)).select(
      (u("l", 1) * nOrd).cast("long").as("l_orderkey"),
      (u("l", 2) * nPart).cast("long").as("l_partkey"),
      (u("l", 3) * nSupp).cast("long").as("l_suppkey"),
      ((u("l", 4) * 7).cast("int") + 1).as("l_linenumber"),
      ((u("l", 5) * 50).cast("int") + 1).cast("double").as("l_quantity"),
      round(u("l", 6) * 104096.0 + 901.82, 2).as("l_extendedprice"),
      ((u("l", 7) * 11).cast("int") / 100.0).as("l_discount"),
      ((u("l", 8) * 9).cast("int") / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), u("l", 9)).as("l_returnflag"),
      pick(Seq("F", "O"), u("l", 10)).as("l_linestatus"),
      ts("1995-01-02 00:00:00", floor(u("l", 11) * 2499), 86400L).as("l_shipdate")))
    save("events", spark.range(n(10000)).select(
      col("id").as("event_id"),
      timestamp_micros(unix_micros(lit("2024-01-01 00:00:00").cast("timestamp")) +
        (u("e", 1) * 30 * 86400L * 1000000L).cast("long")).as("ts"),
      (u("e", 2) * 150).cast("long").as("user_id"),
      pick(Seq("click", "error", "purchase", "signup", "view"), u("e", 3)).as("event_type"),
      round(u("e", 4) * 490.0 + 0.01, 2).as("value"),
      format_string("{\"k\": %d}", (u("e", 5) * 100).cast("int")).as("props")))

    // documents: every 20th doc repeats its predecessor verbatim and every
    // 10th (offset 3) differs from its predecessor in one word, so the
    // dedup families find exact and near duplicates
    val vocab = array(Vocabulary.map(lit): _*)
    val base = when(col("id") % 20 === 7 || col("id") % 10 === 3, col("id") - 1).otherwise(col("id"))
    val nWords = (u("dlen", 0, base) * 80).cast("int") + 8
    val word = (i: Column) => element_at(vocab,
      (pmod(xxhash64(lit(Salt), when(col("id") % 10 === 3 && i === 2, col("id")).otherwise(base), i),
        lit(Vocabulary.size.toLong)) + 1).cast("int"))
    save("documents", spark.range(n(500)).select(col("id").as("doc_id"),
      array_join(transform(sequence(lit(1), nWords), word), " ").as("text"),
      pick(Seq("en", "en", "en", "en", "zh", "de", "es", "fr", "en"), u("d", 2)).as("lang"),
      concat(lit("src"), (col("id") % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))

    // embeddings: 64-dim unit vectors around ten label centres
    val label = (u("v", 1) * 10).cast("int")
    val dims = sequence(lit(0), lit(63))
    val raw = transform(dims, d =>
      (pmod(xxhash64(lit(Salt), lit("c"), label, d), lit(2001L)) - 1000).cast("double") / 1000.0 +
        (pmod(xxhash64(lit(Salt), lit("g"), col("id"), d), lit(2001L)) - 1000).cast("double") / 2000.0)
    save("embeddings", spark.range(n(500)).select(col("id").as("vec_id"), raw.as("raw"), label.as("label"))
      .select(col("vec_id"),
        transform(col("raw"), x => (x / sqrt(aggregate(col("raw"), lit(0.0), (a, y) => a + y * y)))
          .cast("float")).as("embedding"),
        col("label")))
  }
}

/** Writes the benchmark's tables to a directory, so that graft.Verify and
  * tools/check_oracle.py can check the recorded digests against DuckDB:
  * `WriteData <dir> <scale>`.
  */
object WriteData {
  def main(args: Array[String]): Unit = {
    val spark = Session.create()
    Data.write(spark, args(0), args(1).toDouble)
    spark.stop()
  }
}
