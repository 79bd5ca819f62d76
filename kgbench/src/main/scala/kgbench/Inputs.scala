package kgbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generators for the parquet tables the pinned queries read,
  * in the schema `SparkEntry.queries` expects. Every value is a pure
  * function of (seed, row id), so a seed gives identical tables at any
  * parallelism; the program under test only ever sees the files.
  *
  * The shapes follow the repository's reference tables (TESTDATA.md,
  * profiled at sf0.001, sf0.01 and sf0.1; figures in
  * kgbench/README.md): row ratios, key cardinalities, vocabularies and
  * value distributions are the reference's, drawn from the seed. */
object Inputs {

  private val Vocab = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch")

  /** Uniform draw in [0, n) from (seed, row id, salt). */
  private def u(seed: Long, salt: Int, n: Long, id: Column = col("id")): Column =
    pmod(xxhash64(id, lit(seed), lit(salt)), lit(n))

  private def pick(values: Seq[String], draw: Column): Column =
    element_at(array(values.map(lit): _*), (draw + 1).cast("int"))

  /** Documents: 10-99 words drawn uniformly from a 30-word vocabulary;
    * 5% are copies of an earlier document with " dup" appended
    * (near-duplicates for the similarity joins and corpus cleaning);
    * 40% English, the rest split evenly over four languages; 20
    * sources round-robin. */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val src = when(u(seed, 1, 100) < 5 && col("id") > 0,
      greatest(lit(0L), col("id") - 1 - u(seed, 2, 50))).otherwise(col("id"))
    val words = expr(s"transform(sequence(0, 9 + cast(pmod(xxhash64(src, $seed, 3), 90) as int)), " +
      s"i -> element_at(array(${Vocab.map(w => s"'$w'").mkString(",")}), " +
      s"cast(pmod(xxhash64(src, i, $seed, 4), ${Vocab.size}) as int) + 1))")
    spark.range(n).withColumn("src", src)
      .select(col("id").as("doc_id"),
        concat(concat_ws(" ", words), when(col("src") =!= col("id"), lit(" dup")).otherwise(lit("")))
          .as("text"),
        when(u(seed, 5, 100) < 40, lit("en"))
          .otherwise(pick(Seq("zh", "es", "fr", "de"), u(seed, 27, 4))).as("lang"),
        concat(lit("src"), (col("id") % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** Events: 30 days of uniform traffic from one user per
    * [[EventsPerUser]] events, five equally likely event types, and
    * exponentially distributed values (mean 50, cents). */
  val EventsPerUser = 200.0 / 3

  def events(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + u(seed, 6, 30L * 86400L * 1000000L))
        .cast("timestamp_ntz").as("ts"),
      u(seed, 7, math.max(1L, math.round(n / EventsPerUser))).as("user_id"),
      pick(Seq("signup", "purchase", "view", "click", "error"), u(seed, 8, 5)).as("event_type"),
      round(-log((u(seed, 9, 1000000000L) + 1) / 1e9) * 50, 2).as("value"),
      concat(lit("{\"k\": "), u(seed, 10, 100).cast("string"), lit("}")).as("props"))

  /** Parts: names from 8 adjectives x 8 nouns, the reference's
    * vocabulary. At any size all 64 names occur, so q30's output (one
    * best match per distinct name) is the same for every seed, as it
    * is across the reference's scale factors; the seed changes which
    * part keys carry each name, and with it the candidate pairs q30
    * joins before it deduplicates them. */
  def part(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("p_partkey"),
      concat(pick(Seq("blue", "cold", "hot", "large", "new", "old", "red", "small"), u(seed, 11, 8)),
        lit(" "), pick(Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"),
          u(seed, 12, 8))).as("p_name"),
      concat(lit("Brand#"), (u(seed, 13, 25) + 1).cast("string")).as("p_brand"),
      pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), u(seed, 14, 6)).as("p_type"),
      (u(seed, 15, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + (col("id") % 1000) / 10.0).as("p_retailprice"))

  /** Line items over `n / 4` orders, `nParts` parts and `n / 600` suppliers. */
  def lineitem(spark: SparkSession, seed: Long, n: Long, nParts: Long): DataFrame =
    spark.range(n).select(
      u(seed, 16, n / 4).as("l_orderkey"),
      u(seed, 17, nParts).as("l_partkey"),
      u(seed, 18, math.max(1L, n / 600)).as("l_suppkey"),
      (u(seed, 19, 7) + 1).cast("int").as("l_linenumber"),
      (u(seed, 20, 50) + 1).cast("double").as("l_quantity"),
      (lit(900.0) + u(seed, 21, 10410000) / 100.0).as("l_extendedprice"),
      (u(seed, 22, 11) / 100.0).as("l_discount"),
      (u(seed, 23, 9) / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), u(seed, 24, 3)).as("l_returnflag"),
      pick(Seq("F", "O"), u(seed, 25, 2)).as("l_linestatus"),
      timestamp_micros(lit(789004800000000L) + u(seed, 26, 2500L) * 86400000000L)
        .cast("timestamp_ntz").as("l_shipdate"))

  /** Writes the four tables the pinned query set reads into `dir`,
    * at `rows` documents (the other tables scale with it: 20 events,
    * 4 parts and 120 line items per document). */
  val QueryTables: Seq[String] = Seq("documents", "events", "part", "lineitem")

  def writeQueryTables(spark: SparkSession, seed: Long, rows: Long, dir: String): Unit = {
    def out(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    out(documents(spark, seed, rows), "documents")
    out(events(spark, seed, rows * 20), "events")
    out(part(spark, seed, rows * 4), "part")
    out(lineitem(spark, seed, rows * 120, rows * 4), "lineitem")
  }
}
