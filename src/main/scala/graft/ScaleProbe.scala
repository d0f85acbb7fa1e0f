package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe main (dev evidence tool, SCALE.md §8/§11): replicates the
  * fixture `factor`x into a probe dir with SHIFTED KEYS (join graph
  * preserved), then times registered queries, cold then warm, through the
  * same `SparkEntry.queries` path `Verify` and `Bench` use.
  *
  * Replication policy — built to keep per-operator DENSITY realistic at
  * scale, so the probe measures the operator's asymptote rather than a
  * synthetic worst case:
  *   - lineitem / orders: replica i shifts every orderkey by
  *     i * (max(o_orderkey)+1); dims are copied untouched, so every join
  *     still resolves and per-group aggregates scale by `factor`.
  *   - events: event_id and user_id shift — `factor`x more users, not
  *     `factor`x longer per-user histories.
  *   - documents: doc_id shifts and the TEXT goes through a per-replica
  *     rotation cipher (letters rotate by i mod 26, digits by i/26 mod 10;
  *     case preserved). Replicas of one doc therefore share NO shingles,
  *     so near-dup family sizes stay what they were at sf0.1 and d02/d03
  *     measure signature+banding+join cost at `factor`x corpus — the
  *     quadratic-output exact-replica regime is pinned separately at 10x
  *     (SCALE.md §8).
  *   - embeddings: vec_id shifts and the vector rotates by i mod dim
  *     positions (negated past one full turn, so all replicas are
  *     pairwise distinct): rotations of a random vector are near-
  *     orthogonal, keeping cosine near-dup density constant.
  *
  * Usage: runMain graft.ScaleProbe [srcDir] [factor] [probeDir] [q1 q2 ...]
  * Generation is skipped when probeDir already holds a lineitem.parquet.
  */
object ScaleProbe {

  private val defaultQueries = Seq(
    "q01_pricing_summary", "q05_regional_revenue",
    "u06_keyed_dedup", "u07_agg_dedup",
    "r01_bm25_topk", "r02_term_stats", "c05_decontaminate",
    "d02_minhash_pairs", "d03_simhash_pairs",
    "t04_token_freq", "e01_hourly_windows")

  private val lower = "abcdefghijklmnopqrstuvwxyz"
  private val digits = "0123456789"

  /** Per-replica substitution cipher: disjoint shingle sets across
    * replicas, identical length/shape statistics. The substitution is a
    * SEEDED RANDOM PERMUTATION of letters and digits, not a rotation:
    * the round-5 rotation cipher had only 26 distinct letter maps, so at
    * factor > 26 the replicas with i ≡ j (mod 26) shared their letter
    * map and every DIGIT-FREE document came out byte-identical across
    * them — 720k genuine exact-dup pairs at 100x that looked like
    * signature false families until diagnosed (SCALE.md). Independent
    * per-replica permutations make coincident token sets vanishingly
    * unlikely at any factor.
    */
  private def cipher(text: org.apache.spark.sql.Column, i: Int) = {
    if (i == 0) text
    else {
      val rnd = new scala.util.Random(1000003L * i)
      val lto = rnd.shuffle(lower.toList).mkString
      val dto = rnd.shuffle(digits.toList).mkString
      val from = lower + lower.toUpperCase + digits
      val to = lto + lto.toUpperCase + dto
      translate(text, from, to)
    }
  }

  private def shiftBase(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head().getLong(0) + 1L

  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val factor = if (args.length > 1) args(1).toInt else 100
    val probeDir = if (args.length > 2) args(2) else s"/tmp/graft_probe_${factor}x"
    val queryNames = if (args.length > 3) args.drop(3).toSeq else defaultQueries

    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // heap comes from the forked JVM (build.sbt SPARK_DRIVER_MEM);
      // spark.driver.memory set here would be ignored in local mode
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val gen = !new java.io.File(s"$probeDir/lineitem.parquet").exists()
    if (gen) {
      println(s"[probe] generating ${factor}x fixture at $probeDir from $src")
      val t = graft.sources.Tables(spark, src)
      // replica index column; every replicated frame starts from this
      def reps(df: DataFrame): DataFrame =
        df.withColumn("_r", explode(sequence(lit(0), lit(factor - 1))))

      Seq("region", "nation", "customer", "supplier", "part").foreach { d =>
        spark.read.parquet(s"$src/$d.parquet")
          .write.mode("overwrite").parquet(s"$probeDir/$d.parquet")
      }
      val okBase = shiftBase(t.orders, "o_orderkey")
      reps(t.orders)
        .withColumn("o_orderkey", col("o_orderkey") + col("_r") * okBase)
        .drop("_r")
        .write.mode("overwrite").parquet(s"$probeDir/orders.parquet")
      reps(t.lineitem)
        .withColumn("l_orderkey", col("l_orderkey") + col("_r") * okBase)
        .drop("_r")
        .write.mode("overwrite").parquet(s"$probeDir/lineitem.parquet")
      val evBase = shiftBase(t.events, "event_id")
      val uBase = shiftBase(t.events, "user_id")
      reps(t.events)
        .withColumn("event_id", col("event_id") + col("_r") * evBase)
        .withColumn("user_id", col("user_id") + col("_r") * uBase)
        .drop("_r")
        .write.mode("overwrite").parquet(s"$probeDir/events.parquet")
      val docBase = shiftBase(t.documents, "doc_id")
      // the cipher is a per-replica constant expression: build the replica
      // union column-wise (factor branches of a CASE would defeat codegen;
      // a union of `factor` cheap scans does not)
      val docParts = (0 until factor).map { i =>
        t.documents
          .withColumn("doc_id", col("doc_id") + lit(i.toLong * docBase))
          .withColumn("text", cipher(col("text"), i))
      }
      docParts.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$probeDir/documents.parquet")
      val vBase = shiftBase(t.embeddings, "vec_id")
      val dim = 64
      val embParts = (0 until factor).map { i =>
        val r = i % dim
        val rotated =
          if (r == 0) col("embedding")
          else concat(slice(col("embedding"), r + 1, dim - r),
            slice(col("embedding"), 1, r))
        val signed =
          if (i < dim) rotated
          else transform(rotated, x => -x) // second turn: negate, stay distinct
        t.embeddings
          .withColumn("vec_id", col("vec_id") + lit(i.toLong * vBase))
          .withColumn("embedding", signed)
      }
      embParts.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$probeDir/embeddings.parquet")
      println("[probe] generation done")
    } else println(s"[probe] reusing existing $probeDir")

    Seq("lineitem", "documents", "events", "embeddings").foreach { n =>
      println(s"[probe] $n rows: " +
        spark.read.parquet(s"$probeDir/$n.parquet").count())
    }

    // cold + warm timing per query; warm is the SCALE.md number (matches
    // the bench protocol, where plans/codegen are already cached)
    queryNames.foreach { name =>
      val fn = SparkEntry.queries(name)
      def once(): Double = {
        val t0 = System.nanoTime()
        val df = fn(spark, probeDir)
        val n = df.count()
        val s = (System.nanoTime() - t0) / 1e9
        println(f"[probe] $name%-24s $s%7.2f s  ($n rows)")
        if (n <= 10) df.collect().foreach(r => println(s"[probe]   row: $r"))
        s
      }
      try { once(); once() } catch {
        case e: Throwable => println(s"[probe] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
