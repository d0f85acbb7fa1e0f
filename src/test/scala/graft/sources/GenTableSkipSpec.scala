package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.SparkSpec

/** The explicit read doorways ([[GenTable.readRange]],
  * [[GenTable.readEquals]]) and the Catalyst-integrated
  * [[GenTableFileIndex]] share one skip decision: for the same predicate
  * they must open exactly the same partition directories.
  */
class GenTableSkipSpec extends SparkSpec {
  import spark.implicits._

  /** 8 hash buckets of `k`; `n` has a disjoint band per bucket
    * (`[1000 b, 1000 b + 49]`), `k` a bloom sidecar, `u` neither.
    */
  private def seed(dir: String): Unit = {
    val rows = (0L until 400L).toDF("k")
      .withColumn("bucket", pmod(col("k"), lit(8L)).cast("int"))
      .withColumn("n", col("bucket") * 1000L + floor(col("k") / 8))
      .withColumn("u", col("k") * 3L)
      .withColumn("ver", lit(1L))
    GenTable.upsertBatch(rows, dir, "k", Seq("ver"), "bucket",
      statsCols = Seq("n"), bloomCols = Seq("k"), bloomExpectedItems = 100L)
  }

  private def dirOf(p: String): String = new Path(p).getParent.toUri.getPath

  private def doorwayDirs(df: DataFrame): Set[String] =
    df.inputFiles.map(dirOf).toSet

  private def indexDirs(dir: String, predicate: Expression): Set[String] =
    GenTable.indexFor(spark, dir).listFiles(Nil, Seq(predicate))
      .flatMap(_.files.map(f => dirOf(f.getPath.toString))).toSet

  private def attr(c: String) = AttributeReference(c, LongType)()

  test("readRange and readEquals open the partitions the FileIndex lists") {
    val dir = tempDir("graft_skip_")
    seed(dir)
    val all = indexDirs(dir, Literal(true))
    assert(all.size === 8)

    val ranges = Seq(
      "n" -> (0L, 10L), // one bucket
      "n" -> (1040L, 3010L), // buckets 1..3
      "n" -> (-5L, -1L), // below every band
      "n" -> (0L, 99999L), // every bucket
      "u" -> (0L, 10L)) // untracked: conservative
    ranges.foreach { case (c, (lo, hi)) =>
      val got = doorwayDirs(GenTable.readRange(spark, dir, c, lo, hi).get)
      val want = indexDirs(dir, And(GreaterThanOrEqual(attr(c), Literal(lo)),
        LessThanOrEqual(attr(c), Literal(hi))))
      assert(got === want, s"readRange($c, $lo, $hi)")
    }
    assert(doorwayDirs(GenTable.readRange(spark, dir, "n", 0L, 10L).get)
      .size === 1)
    assert(doorwayDirs(GenTable.readRange(spark, dir, "u", 0L, 10L).get)
      === all)

    val lookups = Seq(
      "k" -> Seq(5L), // bloom: one bucket
      "k" -> Seq(1L, 2L, 17L), // buckets 1 and 2
      "k" -> Seq(100000L, 100001L), // absent keys
      "n" -> Seq(2003L), // band only, no sidecar
      "u" -> Seq(3L)) // untracked: conservative
    lookups.foreach { case (c, keys) =>
      val got = doorwayDirs(GenTable.readEquals(spark, dir, c, keys).get)
      val want = indexDirs(dir, In(attr(c), keys.map(Literal(_))))
      assert(got === want, s"readEquals($c, $keys)")
    }
    assert(doorwayDirs(GenTable.readEquals(spark, dir, "k", Seq(5L)).get)
      .size === 1)
    assert(doorwayDirs(GenTable.readEquals(spark, dir, "u", Seq(3L)).get)
      === all)
  }
}
