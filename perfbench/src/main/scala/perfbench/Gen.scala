package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of
  * (seed, salt, row id) through `xxhash64`, so the same seed gives the
  * same rows whatever the partitioning, and the engine only ever sees
  * the generated frames. The seed decides the CONTENT (keys, values,
  * which buckets a batch touches); the AMOUNT of work (row counts,
  * batch sizes, bucket fan-out) is fixed by the workload's shape, so
  * runs with different seeds cost the same.
  */
object Gen {

  /** A non-negative pseudo-random long in [0, n). */
  def draw(seed: Long, salt: Int, id: Column, n: Long): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(n))

  private def cents(seed: Long, salt: Int, id: Column, maxCents: Long): Column =
    ((draw(seed, salt, id, maxCents) + 100L) / 100.0).cast("double")

  private def dayOffset(base: String, days: Column): Column =
    (lit(java.sql.Timestamp.valueOf(base)).cast("long") + days * 86400L)
      .cast("timestamp")

  private def pick(values: Seq[String], idx: Column): Column =
    element_at(array(values.map(lit): _*), (idx + 1).cast("int"))

  // -- orders job inputs (TPC-H-shaped, the sizes of the sf0.1 tier) --------

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  def orders(spark: SparkSession, seed: Long, n: Long, customers: Long): DataFrame =
    spark.range(n).select(
      col("id").as("o_orderkey"),
      draw(seed, 1, col("id"), customers).as("o_custkey"),
      pick(Seq("F", "O", "P"), draw(seed, 2, col("id"), 3)).as("o_orderstatus"),
      cents(seed, 3, col("id"), 50000000L).as("o_totalprice"),
      dayOffset("1995-01-01 00:00:00", draw(seed, 4, col("id"), 2405)).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        draw(seed, 5, col("id"), 5)).as("o_orderpriority"))

  def customers(spark: SparkSession, seed: Long, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      draw(seed, 11, col("id"), 25).cast("int").as("c_nationkey"),
      cents(seed, 12, col("id"), 1000000L).as("c_acctbal"),
      pick(Segments, draw(seed, 13, col("id"), Segments.size)).as("c_mktsegment"))

  // -- corpus prep input (the `documents` fixture's shape) ------------------

  private val Vocab = Seq("spark", "data", "table", "row", "column", "query",
    "scan", "filter", "join", "group", "sort", "hash", "key", "value", "batch",
    "stream", "window", "merge", "part", "line", "order", "customer", "vector",
    "index", "file", "fast", "slow", "big", "small", "the", "a", "agg", "plan",
    "cache", "shard", "commit", "read", "write", "log", "node")

  /** `n` documents of 20-120 words over a small, skewed vocabulary. Every
    * 53rd document repeats its predecessor's text exactly and every 37th
    * repeats it with one extra word, so both dedup passes have work; every
    * 11th carries an email and a phone number for the PII scrub.
    */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val id = col("id")
    val exact = pmod(id, lit(53)) === 52
    val near = pmod(id, lit(37)) === 36
    val content = when((exact || near) && id > 0, id - 1).otherwise(id)
    val nWords = draw(seed, 21, content, 101) + 20
    val word = (i: Column) => {
      // squaring a uniform draw skews toward the head of the vocabulary
      val u = draw(seed, 22, content * 1000 + i, 1000000L) / 1000000.0
      element_at(array(Vocab.map(lit): _*),
        (floor(u * u * Vocab.size) + 1).cast("int"))
    }
    val body = array_join(
      transform(sequence(lit(0L), nWords - 1), word), " ")
    val withNear = when(near && id > 0, concat(body, lit(" tail"))).otherwise(body)
    val pii = pmod(id, lit(11)) === 3
    val text = when(pii, concat(withNear,
      format_string(" mail user%d@example.com or call 555-010-%04d", id, pmod(id, lit(10000)))))
      .otherwise(withNear)
    spark.range(n).select(
      id.as("doc_id"),
      text.as("text"),
      pick(Seq("en", "en", "en", "en", "en", "en", "en", "de", "fr", "es"),
        draw(seed, 23, id, 10)).as("lang"),
      format_string("src%d", draw(seed, 24, id, 20)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  // -- lake rows (the `lineitem` fixture's shape plus a unique key) ---------

  val Buckets = 16

  /** Width of one bucket's `l_orderkey` band: bucket `b` holds the orders
    * `[b * OrderBand, (b + 1) * OrderBand)`, so the tracked `l_orderkey`
    * stats separate the partitions and a range read can skip them.
    */
  val OrderBand: Long = 1L << 32

  /** Lake rows for explicit keys: `keys` carries `lk` (the unique key;
    * its bucket is `lk % 16` and its slot `lk / 16`). An order has four
    * lines, four consecutive slots of one bucket. `ver` is the writing
    * op's sequence number, so a later write of a key always wins the
    * upsert order.
    */
  def lakeRows(keys: DataFrame, seed: Long, salt: Int, ver: Long): DataFrame = {
    val k = col("lk")
    val slot = floor(k / Buckets)
    keys.select(
      k,
      (pmod(k, lit(Buckets)) * OrderBand + floor(slot / 4)).cast("long").as("l_orderkey"),
      draw(seed, salt + 1, k, 20000).as("l_partkey"),
      draw(seed, salt + 2, k, 1000).as("l_suppkey"),
      (pmod(slot, lit(4)) + 1).cast("int").as("l_linenumber"),
      (draw(seed, salt + 3, k, 50) + 1).cast("double").as("l_quantity"),
      cents(seed, salt + 4, k, 10000000L).as("l_extendedprice"),
      (draw(seed, salt + 5, k, 11) / 100.0).as("l_discount"),
      dayOffset("1992-01-02 00:00:00", draw(seed, salt + 6, k, 2500)).as("l_shipdate"),
      pick(Seq("A", "N", "R"), draw(seed, salt + 7, k, 3)).as("l_returnflag"),
      lit(ver).as("ver"),
      pmod(k, lit(Buckets)).cast("int").as("bucket"))
  }

  /** Column order every comparison uses. */
  val LakeCols: Seq[String] = Seq("lk", "l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_shipdate",
    "l_returnflag", "ver", "bucket")

  /** Order-independent fingerprint of a frame: (row count, sum of per-row
    * 64-bit hashes as an exact decimal).
    */
  def fingerprint(df: DataFrame, cols: Seq[String]): (Long, java.math.BigDecimal) = {
    val r = df.select(cols.map(col): _*)
      .agg(count(lit(1)), sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }
}
