package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** [[GenTable.deleteKeys]]'s literal key filter against the join it
  * replaced.
  */
class GenTableRewriteSpec extends SparkSpec {
  import spark.implicits._

  test("deleteKeys deletes what a key join deletes: NULL, duplicate, " +
      "int-typed and absent-partition keys") {
    val dir = tempDir("graft_delkeys_")
    val bucket = pmod(col("k"), lit(4)).cast("int")
    // buckets 0..2 only: keys in bucket 3 map to an absent partition
    GenTable.upsertBatch((0L until 40L).filter(_ % 4 != 3).toDF("k")
      .withColumn("bucket", bucket).withColumn("ver", lit(1L)),
      dir, "k", Seq("ver"), "bucket")
    val cases: Seq[(String, DataFrame)] = Seq(
      "NULL key" -> Seq(Some(4L), None, Some(9L)).toDF("k"),
      "duplicate keys" -> Seq(5L, 5L, 10L, 10L, 10L).toDF("k"),
      "int keys, long column" -> Seq(1, 2, 6).toDF("k"),
      "absent partition" -> Seq(11L, 15L, 16L).toDF("k"),
      "absent key" -> Seq(100L).toDF("k"))
    cases.foreach { case (name, keys) =>
      val table = GenTable.read(spark, dir).get.localCheckpoint()
      val want = table.join(keys, Seq("k"), "left_semi").count()
      val survivors: Set[Row] =
        table.join(keys, Seq("k"), "left_anti").collect().toSet
      assert(GenTable.deleteKeys(keys, dir, "k", bucket) === want, name)
      assert(GenTable.read(spark, dir).get.collect().toSet === survivors,
        name)
    }
    assert(GenTable.read(spark, dir).get.count() === 30L - 8L)
  }
}
