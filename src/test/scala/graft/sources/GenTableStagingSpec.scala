package graft.sources

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The one staging path every data commit runs: each manifest field
  * (generations, skip bands, exact rows, file counts, bloom sidecars)
  * must describe the files that landed, through every commit kind, and
  * a stage whose landed partitions differ from the declared ones must
  * publish nothing.
  */
class GenTableStagingSpec extends SparkSpec {
  import spark.implicits._

  private val Stats = Seq("n", "ts", "x") // long, timestamp, double
  private val Blooms = Seq("k")

  /** Rows keyed by `k`; `bucket` is the stable key→partition mapping and
    * `grp` a second one that [[GenTable.repartitionTable]] re-keys onto.
    */
  private def rowsOf(keys: Seq[Long], ver: Long): DataFrame =
    keys.toDF("k")
      .withColumn("bucket", pmod(col("k"), lit(4)).cast("int"))
      .withColumn("grp", pmod(col("k"), lit(3)).cast("int"))
      .withColumn("ver", lit(ver))
      .withColumn("ts",
        timestamp_seconds(lit(1700000000L) + col("k") * 3607L + col("ver")))
      .withColumn("x", col("k") * 1.5 - 20.25 + col("ver"))
      .withColumn("n", col("k") * 100 + col("ver"))

  /** Data files per committed partition, by listing its generation dir. */
  private def listedFiles(dir: String, c: GenTable.Commit): Map[String, Long] =
    c.gens.map { case (k, g) =>
      val s = Files.list(Paths.get(dir,
        GenTable.partRelDir(c.partitionCols, k), s"gen=$g"))
      try k -> s.filter { p =>
        val n = p.getFileName.toString
        !n.startsWith("_") && !n.startsWith(".")
      }.count()
      finally s.close()
    }

  /** The invariants every commit must leave behind, checked against the
    * table as read back (independent of how the commit computed them).
    */
  private def assertLanded(dir: String, op: String): Unit = {
    val c = GenTable.readCommit(dir).get
    val pcol = c.partitionCols.head
    val df = GenTable.read(spark, dir).get
    // the skip tier's long encoding of a numeric or timestamp column
    val enc = (cn: String) => col(cn).cast("long")
    val agg = df.groupBy(col(pcol).cast("string").as("_p"))
      .agg(count(lit(1)).as("_n"), Stats.flatMap(cn =>
        Seq(min(enc(cn)).as(s"mn_$cn"), max(enc(cn)).as(s"mx_$cn"))): _*)
      .collect().map(r => GenTable.partKey(Seq(r.getString(0))) -> r).toMap
    assert(c.gens.keySet === agg.keySet, s"$op: partitions")
    assert(c.rows === agg.map { case (k, r) => k -> r.getLong(1) },
      s"$op: #rows")
    assert(c.stats === agg.map { case (k, r) => k -> Stats.map(cn =>
      cn -> (r.getAs[Long](s"mn_$cn"), r.getAs[Long](s"mx_$cn"))).toMap },
      s"$op: #stat bands")
    assert(c.files === listedFiles(dir, c), s"$op: #files")
    val (f, root) = GenTable.fsRoot(dir)
    c.gens.foreach { case (k, g) =>
      assert(f.exists(
        new org.apache.hadoop.fs.Path(root, s"_filters/$k~k~$g.bloom")),
        s"$op: no bloom sidecar for partition $k gen $g")
    }
    df.select(col(pcol).cast("string"), col("k")).collect().foreach { r =>
      val k = GenTable.partKey(Seq(r.getString(0)))
      assert(GenTable.bloomSurvives(f, root, k, "k", c.gens(k),
        Seq(r.getLong(1))),
        s"$op: live key ${r.getLong(1)} fails partition $k's bloom sidecar")
    }
  }

  test("every commit kind records what landed: bands, rows, files, blooms") {
    val dir = tempDir("graft_staging_")
    def upsert(df: DataFrame): Unit = GenTable.upsertBatch(df, dir, "k",
      Seq("ver"), "bucket", statsCols = Stats, bloomCols = Blooms)
    upsert(rowsOf(1L to 40L, 1L))
    assertLanded(dir, "upsert (seed)")
    upsert(rowsOf((5L to 12L) ++ (41L to 48L), 2L))
    assertLanded(dir, "upsert")

    // 2 and 6 update, 13 deletes, 50 and 51 insert
    val st = GenTable.merge(rowsOf(Seq(2L, 6L, 13L, 50L, 51L), 3L)
        .withColumn("ver",
          when(col("k") === 13L, lit(99L)).otherwise(col("ver"))),
      dir, "k", deleteWhen = Some(col("ver") === 99L))
    assert(st === GenTable.MergeStats(updated = 2L, deleted = 1L,
      inserted = 2L))
    assertLanded(dir, "merge")

    assert(GenTable.updateWhere(spark, dir, col("k") < 10L,
      Seq("n" -> (col("n") + 7))) > 0L)
    assertLanded(dir, "updateWhere")
    // a nondeterministic SET: whatever values the write lands, the bands
    // must be theirs
    assert(GenTable.updateWhere(spark, dir, col("bucket") === 2,
      Seq("x" -> (rand() * 1000 - 500))) > 0L)
    assertLanded(dir, "updateWhere rand()")

    assert(GenTable.deleteKeys(Seq(3L, 7L, 11L, 99L).toDF("k"), dir, "k",
      pmod(col("k"), lit(4)).cast("int")) === 3L)
    assertLanded(dir, "deleteKeys")
    // empties bucket 3 entirely: the partition must leave the manifest
    assert(GenTable.deleteWhere(spark, dir,
      col("bucket") === 3 || col("n") > 4500L) > 0L)
    assert(!GenTable.readCommit(dir).get.gens.contains("3"))
    assertLanded(dir, "deleteWhere")

    val diff = rowsOf(Seq(1L, 60L), 4L).withColumn("_change", lit("update"))
      .unionByName(rowsOf(Seq(5L), 1L).withColumn("_change", lit("delete")))
    GenTable.applyCdcBatch(diff, dir, "k", "bucket")
    assertLanded(dir, "applyCdcBatch")

    assert(GenTable.replaceWhere(rowsOf(Seq(1L, 9L, 21L, 101L), 5L), dir,
      col("bucket") === 1) === 1L)
    assertLanded(dir, "replaceWhere")

    GenTable.compact(spark, dir, 3L)
    assertLanded(dir, "compact")

    GenTable.replaceAll(rowsOf(200L to 230L, 6L), dir, "bucket",
      statsCols = Stats, bloomCols = Blooms)
    assertLanded(dir, "replaceAll")

    GenTable.repartitionTable(spark, dir, "grp")
    assert(GenTable.readCommit(dir).get.partitionCols === Seq("grp"))
    assertLanded(dir, "repartitionTable")
  }

  test("a batch that moves a key to another partition fails loud; the " +
      "table is unchanged") {
    val dir = tempDir("graft_staging_")
    val seed = Seq((1L, 0, 1L, 1.0), (2L, 1, 1L, 2.0))
      .toDF("k", "bucket", "ver", "x")
    GenTable.upsertBatch(seed, dir, "k", Seq("ver"), "bucket")
    val head = GenTable.readCommit(dir).get
    def content: Set[Row] = GenTable.read(spark, dir).get
      .select("k", "bucket", "ver", "x").collect().toSet
    val before = content
    // key 1 re-appears in bucket 2 with a newer version: the merge's winner
    // lands in bucket 2, so declared bucket 0 (which only held key 1)
    // would commit an empty generation — a silent delete
    val moved = Seq((1L, 0, 1L, 1.0), (1L, 2, 2L, 9.0))
      .toDF("k", "bucket", "ver", "x")
    val e = intercept[IllegalArgumentException] {
      GenTable.upsertBatch(moved, dir, "k", Seq("ver"), "bucket")
    }
    assert(e.getMessage.contains("stable-partition-per-key"), e.getMessage)
    assert(e.getMessage.contains("nothing was published"))
    val after = GenTable.readCommit(dir).get
    assert(after === head)
    assert(content === before)
  }

  test("compaction writes ceil(rows / target) files per partition") {
    val dir = tempDir("graft_staging_")
    // 12, 4 and 11 rows in buckets 0, 1 and 2
    val keys = (0L until 12L).map(_ * 3) ++ (0L until 4L).map(_ * 3 + 1) ++
      (0L until 11L).map(_ * 3 + 2)
    GenTable.upsertBatch(keys.toDF("k")
        .withColumn("bucket", pmod(col("k"), lit(3)).cast("int"))
        .withColumn("ver", lit(1L)),
      dir, "k", Seq("ver"), "bucket")
    GenTable.compact(spark, dir, 3L)
    val c = GenTable.readCommit(dir).get
    assert(c.rows === Map("0" -> 12L, "1" -> 4L, "2" -> 11L))
    assert(c.files === Map("0" -> 4L, "1" -> 2L, "2" -> 4L))
    assert(c.files === listedFiles(dir, c))

    // one partition of 60 rows in 12 files merges into 2
    val one = tempDir("graft_staging_")
    val key = "spark.sql.files.maxRecordsPerFile"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "5")
    try GenTable.upsertBatch((1L to 60L).toDF("k")
        .withColumn("bucket", lit(0)).withColumn("ver", lit(1L)),
      one, "k", Seq("ver"), "bucket")
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(GenTable.compact(spark, one, 30L) === ((12L, 2L)))
    val c1 = GenTable.readCommit(one).get
    assert(c1.files === Map("0" -> 2L))
    assert(c1.files === listedFiles(one, c1))
    assert(GenTable.read(spark, one).get.count() === 60L)
  }
}
