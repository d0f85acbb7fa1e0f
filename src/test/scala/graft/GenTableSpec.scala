package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.GenTable

/** The atomic-commit protocol: readers see a committed snapshot — entirely
  * before or entirely after a batch — under crashes at every protocol
  * point (mid-stage, between stage and publish), across retries, through
  * compaction, and after vacuum.
  */
class GenTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    tempDir("graft_gentable_")

  private def rows(df: DataFrame): Set[(Long, Long, Double, Int)] =
    df.select(col("user_id"), col("ts"), col("value"),
        col("bucket").cast("int"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getInt(3))).toSet

  private def batch(tuples: (Long, Long, Double)*): DataFrame =
    tuples.toSeq.toDF("user_id", "ts", "value")
      .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))

  test("upsertBatch converges to latest-per-key across batches") {
    val dir = tmp()
    GenTable.upsertBatch(batch((1L, 10L, 1.0), (2L, 10L, 2.0), (5L, 10L, 5.0)),
      dir, "user_id", Seq("ts"), "bucket")
    GenTable.upsertBatch(batch((1L, 20L, 1.5), (3L, 20L, 3.0)),
      dir, "user_id", Seq("ts"), "bucket")
    // out-of-order arrival: older ts must NOT displace the merged row
    GenTable.upsertBatch(batch((1L, 15L, 9.9), (2L, 30L, 2.5)),
      dir, "user_id", Seq("ts"), "bucket")
    val got = rows(GenTable.read(spark, dir).get)
    assert(got === Set(
      (1L, 20L, 1.5, 1), (2L, 30L, 2.5, 2), (3L, 20L, 3.0, 3),
      (5L, 10L, 5.0, 1)))
  }

  test("crash between stage and publish: readers never see a torn state") {
    val dir = tmp()
    GenTable.upsertBatch(batch((1L, 10L, 1.0), (2L, 10L, 2.0)),
      dir, "user_id", Seq("ts"), "bucket")
    val before = rows(GenTable.read(spark, dir).get)

    // CRASH INJECTION: stage the second batch's merged state but "die"
    // before publish — the new generation's files exist on disk, the
    // manifest still points at the old one
    val staged = GenTable.stage(batch((1L, 20L, 1.5), (3L, 20L, 3.0)),
      dir, "bucket")
    assert(Files.exists(Paths.get(s"$dir/bucket=1/gen=2")),
      "staged generation should exist on disk")
    assert(rows(GenTable.read(spark, dir).get) === before,
      "uncommitted generation leaked into the committed view")

    // RETRY: the normal path re-runs the whole batch; it must clear the
    // orphan generation (same gen number) and commit without duplicates
    GenTable.upsertBatch(batch((1L, 20L, 1.5), (3L, 20L, 3.0)),
      dir, "user_id", Seq("ts"), "bucket")
    val after = GenTable.read(spark, dir).get
    assert(after.count() === 3L, "orphan rows doubled up after retry")
    assert(rows(after) === Set(
      (1L, 20L, 1.5, 1), (2L, 10L, 2.0, 2), (3L, 20L, 3.0, 3)))
    // the crash left no effect a later publish could resurrect
    assert(staged.gens.values.max === GenTable.readCommit(dir).get.tableGen)
  }

  test("compact rewrites committed files atomically; vacuum drops the rest") {
    val dir = tmp()
    // 3 batches -> bucket 1 accumulates 3 generations, one file each
    GenTable.upsertBatch(batch((1L, 10L, 1.0)), dir, "user_id", Seq("ts"), "bucket")
    GenTable.upsertBatch(batch((5L, 10L, 5.0)), dir, "user_id", Seq("ts"), "bucket")
    GenTable.upsertBatch(batch((9L, 10L, 9.0)), dir, "user_id", Seq("ts"), "bucket")
    val before = rows(GenTable.read(spark, dir).get)
    val (filesBefore, filesAfter) =
      GenTable.compact(spark, dir, targetRecordsPerFile = 1000L)
    assert(filesBefore >= 1L && filesAfter >= 1L)
    assert(rows(GenTable.read(spark, dir).get) === before,
      "compaction changed table contents")
    // superseded generations are still on disk (reader retention)...
    assert(Files.exists(Paths.get(s"$dir/bucket=1/gen=3")))
    // ...until vacuum, which removes everything unreferenced
    val removed = GenTable.vacuum(dir)
    assert(removed >= 3L, s"expected >=3 superseded dirs, removed $removed")
    assert(rows(GenTable.read(spark, dir).get) === before,
      "vacuum touched a committed generation")
  }

  test("time travel: archived commits stay readable within retention") {
    val dir = tmp()
    GenTable.upsertBatch(batch((1L, 10L, 1.0), (2L, 10L, 2.0)),
      dir, "user_id", Seq("ts"), "bucket")
    GenTable.upsertBatch(batch((1L, 20L, 1.5), (3L, 20L, 3.0)),
      dir, "user_id", Seq("ts"), "bucket")
    GenTable.upsertBatch(batch((2L, 30L, 2.9)),
      dir, "user_id", Seq("ts"), "bucket")
    val ids = GenTable.commits(dir)
    assert(ids === Seq(1L, 2L, 3L))
    // every snapshot is exact — generations are immutable
    assert(rows(GenTable.readAt(spark, dir, 1L).get) === Set(
      (1L, 10L, 1.0, 1), (2L, 10L, 2.0, 2)))
    assert(rows(GenTable.readAt(spark, dir, 2L).get) === Set(
      (1L, 20L, 1.5, 1), (2L, 10L, 2.0, 2), (3L, 20L, 3.0, 3)))
    assert(rows(GenTable.readAt(spark, dir, 3L).get) ===
      rows(GenTable.read(spark, dir).get))
    // retention: keep the 2 newest commits — snapshot 2 survives vacuum,
    // snapshot 1 is dropped (archive AND its unreferenced generations)
    GenTable.vacuum(dir, keepCommits = 2)
    assert(GenTable.commits(dir) === Seq(2L, 3L))
    assert(rows(GenTable.readAt(spark, dir, 2L).get) === Set(
      (1L, 20L, 1.5, 1), (2L, 10L, 2.0, 2), (3L, 20L, 3.0, 3)))
    assert(GenTable.readAt(spark, dir, 1L).isEmpty)
    // current view untouched by retention trimming
    assert(rows(GenTable.read(spark, dir).get) === Set(
      (1L, 20L, 1.5, 1), (2L, 30L, 2.9, 2), (3L, 20L, 3.0, 3)))
  }

  test("deleteWhere: bounded rewrite, emptied partitions leave the manifest") {
    val dir = tmp()
    GenTable.upsertBatch(
      batch((1L, 10L, 1.0), (2L, 10L, 2.0), (5L, 10L, 5.0), (3L, 10L, 3.0)),
      dir, "user_id", Seq("ts"), "bucket")
    val c1 = GenTable.readCommit(dir).get
    // deletes users 2 (bucket 2 -> emptied) and 5 (bucket 1 -> rewritten);
    // bucket 3 has no matches and must keep its committed generation
    val n = GenTable.deleteWhere(spark, dir,
      col("value") >= 2.0 && col("bucket") =!= 3)
    assert(n === 2L)
    val c2 = GenTable.readCommit(dir).get
    assert(!c2.gens.contains("2"), "emptied partition still in manifest")
    assert(c2.gens("3") === c1.gens("3"), "untouched partition was rewritten")
    assert(c2.gens("1") === c1.tableGen + 1)
    assert(rows(GenTable.read(spark, dir).get) ===
      Set((1L, 10L, 1.0, 1), (3L, 10L, 3.0, 3)))
    // a no-match delete makes no commit
    assert(GenTable.deleteWhere(spark, dir, col("value") > 100.0) === 0L)
    assert(GenTable.readCommit(dir).get === c2)
  }

  test("delete emptying the newest generation keeps commit ids monotonic") {
    val dir = tmp()
    GenTable.upsertBatch(batch((2L, 10L, 2.0)), dir, "user_id", Seq("ts"), "bucket")
    GenTable.upsertBatch(batch((1L, 20L, 1.0)), dir, "user_id", Seq("ts"), "bucket")
    // empties bucket 1 — the ONLY gen=2 partition; without the manifest's
    // explicit table generation the next commit id would collide with
    // archive 2 and corrupt time travel
    assert(GenTable.deleteWhere(spark, dir, col("user_id") === 1L) === 1L)
    assert(GenTable.commits(dir) === Seq(1L, 2L, 3L))
    GenTable.upsertBatch(batch((3L, 30L, 3.0)), dir, "user_id", Seq("ts"), "bucket")
    assert(GenTable.commits(dir) === Seq(1L, 2L, 3L, 4L))
    assert(rows(GenTable.read(spark, dir).get) ===
      Set((2L, 10L, 2.0, 2), (3L, 30L, 3.0, 3)))
    // snapshots on both sides of the delete stay exact
    assert(rows(GenTable.readAt(spark, dir, 2L).get) ===
      Set((1L, 20L, 1.0, 1), (2L, 10L, 2.0, 2)))
    assert(rows(GenTable.readAt(spark, dir, 3L).get) === Set((2L, 10L, 2.0, 2)))
  }

  test("deleteKeys: key-list takedown touches only the keys' partitions") {
    val dir = tmp()
    GenTable.upsertBatch(
      batch((1L, 10L, 1.0), (2L, 10L, 2.0), (3L, 10L, 3.0), (5L, 10L, 5.0)),
      dir, "user_id", Seq("ts"), "bucket")
    val c1 = GenTable.readCommit(dir).get
    // key 1 deletes; key 9 maps to bucket 1 too but is absent (no-op);
    // user 5 shares bucket 1 and must survive the rewrite
    val n = GenTable.deleteKeys(Seq(1L, 9L).toDF("user_id"), dir,
      "user_id", pmod(col("user_id"), lit(4)))
    assert(n === 1L)
    val c2 = GenTable.readCommit(dir).get
    assert(rows(GenTable.read(spark, dir).get) ===
      Set((2L, 10L, 2.0, 2), (3L, 10L, 3.0, 3), (5L, 10L, 5.0, 1)))
    // partitions no key maps to keep their committed generation (never read)
    assert(c2.gens("2") === c1.gens("2"))
    assert(c2.gens("3") === c1.gens("3"))
    assert(c2.gens("1") === c1.tableGen + 1)
    // keys present in mapped partitions but absent from the table: no commit
    assert(GenTable.deleteKeys(Seq(13L).toDF("user_id"), dir,
      "user_id", pmod(col("user_id"), lit(4))) === 0L)
    assert(GenTable.readCommit(dir).get === c2)
  }

  test("changesBetween: keyed insert/update/delete; unchanged partitions pruned") {
    val dir = tmp()
    GenTable.upsertBatch(
      batch((1L, 10L, 1.0), (2L, 10L, 2.0), (3L, 10L, 3.0)),
      dir, "user_id", Seq("ts"), "bucket")                    // commit 1
    GenTable.upsertBatch(batch((1L, 20L, 1.5), (5L, 20L, 5.0)),
      dir, "user_id", Seq("ts"), "bucket")                    // commit 2 (bucket 1)
    assert(GenTable.deleteWhere(spark, dir, col("user_id") === 2L) === 1L) // commit 3
    def ch(from: Long, to: Long): (Set[(Long, String, Long, Double)], Seq[String]) = {
      val df = GenTable.changesBetween(spark, dir, from, to, "user_id")
      (df.select(col("user_id"), col("_change"), col("ts"), col("value"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet,
        df.inputFiles.toSeq)
    }
    val (got13, files13) = ch(1L, 3L)
    assert(got13 === Set(
      (1L, "update", 20L, 1.5),   // post-image
      (5L, "insert", 20L, 5.0),
      (2L, "delete", 10L, 2.0)))  // pre-image
    // bucket 3's generation is identical in both commits: never read
    assert(!files13.exists(_.contains("bucket=3")),
      s"unchanged partition was scanned: $files13")
    // one-commit step: only the delete
    assert(ch(2L, 3L)._1 === Set((2L, "delete", 10L, 2.0)))
    // from the empty table, everything is an insert
    val (got01, _) = ch(0L, 1L)
    assert(got01 === Set((1L, "insert", 10L, 1.0), (2L, "insert", 10L, 2.0),
      (3L, "insert", 10L, 3.0)))
    // identical snapshots diff to nothing
    assert(GenTable.changesBetween(spark, dir, 3L, 3L, "user_id").count() === 0L)
  }

  test("readRange: manifest column stats skip partitions; sticky across rewrites") {
    val dir = tmp()
    // disjoint ts ranges per bucket so the skip is observable
    GenTable.upsertBatch(batch((1L, 10L, 1.0), (5L, 20L, 5.0)),
      dir, "user_id", Seq("ts"), "bucket", statsCols = Seq("ts"))  // bucket 1
    // later writers do NOT re-declare the stats column — it is sticky
    GenTable.upsertBatch(batch((2L, 100L, 2.0), (6L, 110L, 6.0)),
      dir, "user_id", Seq("ts"), "bucket")                         // bucket 2
    GenTable.upsertBatch(batch((3L, 1000L, 3.0)),
      dir, "user_id", Seq("ts"), "bucket")                         // bucket 3
    val df = GenTable.readRange(spark, dir, "ts", 90L, 200L).get
    assert(rows(df) === Set((2L, 100L, 2.0, 2), (6L, 110L, 6.0, 2)))
    val files = df.inputFiles.toSeq
    assert(!files.exists(_.contains("bucket=1")) &&
      !files.exists(_.contains("bucket=3")),
      s"stats-pruned partitions were opened: $files")
    // the residual filter still applies inside a kept partition
    assert(rows(GenTable.readRange(spark, dir, "ts", 105L, 200L).get) ===
      Set((6L, 110L, 6.0, 2)))
    // a delete rewrite re-derives the touched partition's stats:
    // bucket 2 collapses to [110, 110]
    assert(GenTable.deleteKeys(Seq(2L).toDF("user_id"), dir, "user_id",
      pmod(col("user_id"), lit(4))) === 1L)
    assert(GenTable.readRange(spark, dir, "ts", 90L, 105L).get.count() === 0L)
    val df2 = GenTable.readRange(spark, dir, "ts", 105L, 200L).get
    assert(rows(df2) === Set((6L, 110L, 6.0, 2)))
    assert(df2.inputFiles.forall(_.contains("bucket=2")),
      "refreshed stats failed to prune after the rewrite")
    // everything-pruned still returns a schema-correct (empty) frame
    assert(GenTable.readRange(spark, dir, "ts", 5000L, 6000L).get
      .columns.toSet === Set("user_id", "ts", "value", "bucket"))
  }

  test("maintainView: exactly-once materialized view across source commits") {
    import graft.operators.RollupStore
    val table = tmp(); val viewDir = tmp()
    def refresh() = RollupStore.maintainView(
      spark, table, viewDir, "user_id", "bucket", "value")
    def asView(df: DataFrame): Set[(Int, Long, BigDecimal)] =
      df.collect().map(r => (r.getAs[Number]("bucket").intValue(),
        r.getAs[Long]("n_rows"),
        BigDecimal(r.getAs[java.math.BigDecimal]("value_sum_dec")))).toSet
    def recompute(): Set[(Int, Long, BigDecimal)] =
      asView(GenTable.read(spark, table).get.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("value").cast("decimal(28,10)"))
            .cast("decimal(38,10)").as("value_sum_dec")))

    assert(refresh().isEmpty, "no source commits: nothing to refresh")
    GenTable.upsertBatch(batch((1L, 10L, 1.0), (2L, 10L, 2.0), (5L, 10L, 5.0)),
      table, "user_id", Seq("ts"), "bucket")
    assert(refresh() === Some(1L))
    assert(asView(RollupStore.readView(spark, viewDir).get) === recompute())
    // idle poll: no source movement, no view commit, NO double-count
    val markerAfterFirst = GenTable.readCommit(viewDir).get
    assert(refresh().isEmpty)
    assert(GenTable.readCommit(viewDir).get === markerAfterFirst)
    // two source commits between polls — one refresh must cover both:
    // an update (user 1) + insert (user 3), then a delete emptying the
    // bucket-2 group
    GenTable.upsertBatch(batch((1L, 20L, 1.5), (3L, 20L, 3.0)),
      table, "user_id", Seq("ts"), "bucket")
    GenTable.deleteWhere(spark, table, col("user_id") === 2L)
    assert(refresh() === Some(3L))
    val served = RollupStore.readView(spark, viewDir).get
    assert(asView(served) === recompute())
    assert(!served.collect().map(_.getAs[Number]("bucket").intValue())
      .contains(2), "retracted-to-zero group must leave the stored view")
    assert(refresh().isEmpty)
    // retract EVERYTHING: the view empties but stays served with the
    // schema carried in commit meta (no parquet files left to infer from)
    assert(GenTable.deleteWhere(spark, table, lit(true)) === 3L)
    assert(refresh() === Some(4L))
    val empty = RollupStore.readView(spark, viewDir).get
    assert(empty.count() === 0L)
    assert(empty.columns.toSet === Set("bucket", "n_rows", "value_sum_dec"))
    // and the loop recovers from the empty state on the next commit
    GenTable.upsertBatch(batch((8L, 30L, 8.0)), table, "user_id", Seq("ts"),
      "bucket")
    assert(refresh() === Some(5L))
    assert(asView(RollupStore.readView(spark, viewDir).get) === recompute())
  }

  test("maintainViewByGroups: max-delete recomputes changed groups only") {
    import graft.operators.RollupStore
    val table = tmp(); val viewDir = tmp()
    def viewOf(df: DataFrame): DataFrame = df.groupBy(col("bucket"))
      .agg(max(col("value")).as("v_max"), count(lit(1)).as("n_rows"))
    def refresh() = RollupStore.maintainViewByGroups(
      spark, table, viewDir, "user_id", "bucket", viewOf)
    def asView(df: DataFrame): Set[(Int, Double, Long)] =
      df.collect().map(r => (r.getAs[Number]("bucket").intValue(),
        r.getAs[Double]("v_max"), r.getAs[Long]("n_rows"))).toSet

    // bucket 1 holds users 1 (max, 5.0) and 5 (2.0); bucket 2 user 2
    GenTable.upsertBatch(
      batch((1L, 10L, 5.0), (5L, 10L, 2.0), (2L, 10L, 7.0)),
      table, "user_id", Seq("ts"), "bucket")
    assert(refresh() === Some(1L))
    assert(asView(RollupStore.readView(spark, viewDir).get) ===
      Set((1, 5.0, 2L), (2, 7.0, 1L)))
    assert(refresh().isEmpty, "idle poll must not commit")
    // delete the bucket-1 MAX row: retraction cannot derive the new max;
    // the group recomputes and lands on the surviving 2.0
    assert(GenTable.deleteWhere(spark, table, col("user_id") === 1L) === 1L)
    assert(refresh() === Some(2L))
    assert(asView(RollupStore.readView(spark, viewDir).get) ===
      Set((1, 2.0, 1L), (2, 7.0, 1L)))
    // a group deleted outright leaves the view on the next refresh
    assert(GenTable.deleteWhere(spark, table, col("user_id") === 2L) === 1L)
    assert(refresh() === Some(3L))
    assert(asView(RollupStore.readView(spark, viewDir).get) ===
      Set((1, 2.0, 1L)))
    assert(refresh().isEmpty)
  }

  test("readRanges: conjunction prunes where each single range keeps") {
    val dir = tmp()
    // three partitions with bands: bucket 1 (ts 10-20, value 1-2),
    // bucket 2 (ts 100-110, value 1-2), bucket 3 (ts 10-20, value 9)
    GenTable.upsertBatch(
      batch((1L, 10L, 1.0), (5L, 20L, 2.0), (2L, 100L, 1.0), (6L, 110L, 2.0),
        (3L, 10L, 9.0)),
      dir, "user_id", Seq("ts"), "bucket", statsCols = Seq("ts", "value"))
    // ts<=50 alone keeps buckets 1,3; value<=5 alone keeps 1,2; the
    // conjunction must open ONLY bucket 1
    val df = GenTable.readRanges(spark, dir,
      Map("ts" -> (0L, 50L), "value" -> (0L, 5L))).get
    assert(rows(df) === Set((1L, 10L, 1.0, 1), (5L, 20L, 2.0, 1)))
    assert(df.inputFiles.forall(_.contains("bucket=1")),
      s"conjunction failed to prune: ${df.inputFiles.toSeq}")
  }

  test("readRange: partitions committed before tracking read conservatively") {
    val dir = tmp()
    // bucket 1 commits BEFORE any stats tracking exists
    GenTable.upsertBatch(batch((1L, 10L, 1.0)), dir, "user_id", Seq("ts"),
      "bucket")
    // tracking starts later; bucket 2 gets a ts band, bucket 1 has none
    GenTable.upsertBatch(batch((2L, 1000L, 2.0)), dir, "user_id", Seq("ts"),
      "bucket", statsCols = Seq("ts"))
    // the range excludes bucket 2's tracked band — but bucket 1 is
    // UNTRACKED, so it must be opened (and its row found), never skipped
    assert(rows(GenTable.readRange(spark, dir, "ts", 0L, 100L).get) ===
      Set((1L, 10L, 1.0, 1)))
    // once a rewrite touches bucket 1, the sticky set covers it and the
    // same range now prunes nothing incorrectly (row still found via stats)
    GenTable.upsertBatch(batch((5L, 20L, 5.0)), dir, "user_id", Seq("ts"),
      "bucket")
    assert(rows(GenTable.readRange(spark, dir, "ts", 0L, 100L).get) ===
      Set((1L, 10L, 1.0, 1), (5L, 20L, 5.0, 1)))
    assert(GenTable.readCommit(dir).get.stats.contains("1"),
      "rewrite of an untracked partition must derive the sticky stats set")
  }

  test("applyCdcDeltas: CDC refresh == recompute across insert/update/delete") {
    val dir = tmp()
    GenTable.upsertBatch(
      batch((1L, 10L, 1.0), (2L, 10L, 2.0), (3L, 10L, 3.0), (5L, 10L, 5.0)),
      dir, "user_id", Seq("ts"), "bucket")                      // commit 1
    GenTable.upsertBatch(batch((1L, 20L, 1.5), (4L, 20L, 4.0)),
      dir, "user_id", Seq("ts"), "bucket")                      // commit 2
    assert(GenTable.deleteWhere(spark, dir, col("user_id") === 3L) === 1L) // 3
    def viewOf(df: DataFrame): DataFrame = df.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("value").cast("decimal(28,10)"))
          .cast("decimal(38,10)").as("value_sum_dec"))
    val refreshed = graft.operators.RollupStore.applyCdcDeltas(
      viewOf(GenTable.readAt(spark, dir, 1L).get),
      GenTable.changesWithImages(spark, dir, 1L, 3L, "user_id"),
      "bucket", "value")
    def asSet(df: DataFrame): Set[(Int, Long, BigDecimal)] =
      df.collect().map(r => (r.getAs[Number]("bucket").intValue(),
        r.getAs[Long]("n_rows"),
        BigDecimal(r.getAs[java.math.BigDecimal]("value_sum_dec")))).toSet
    // delete emptied bucket 3's group: it must leave the view entirely
    assert(asSet(refreshed) === asSet(viewOf(GenTable.read(spark, dir).get)))
    assert(!refreshed.collect().map(_.getAs[Number]("bucket").intValue())
      .contains(3))
  }

  test("changesSince + applyCdcDeltas: polled view == recompute at every poll") {
    val dir = tmp()
    def viewOf(df: DataFrame): DataFrame = df.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("value").cast("decimal(28,10)"))
          .cast("decimal(38,10)").as("value_sum_dec"))
    def asSet(df: DataFrame): Set[(Int, Long, BigDecimal)] =
      df.collect().map(r => (r.getAs[Number]("bucket").intValue(),
        r.getAs[Long]("n_rows"),
        BigDecimal(r.getAs[java.math.BigDecimal]("value_sum_dec")))).toSet

    assert(GenTable.changesSince(spark, dir, 0L, "user_id").isEmpty)
    var seen = 0L
    var view = viewOf(spark.range(0).selectExpr("int(id) bucket",
      "double(id) value")) // empty view, right schema
    def poll(): Unit = GenTable.changesSince(spark, dir, seen, "user_id")
      .foreach { case (head, changes) =>
        view = graft.operators.RollupStore
          .applyCdcDeltas(view, changes, "bucket", "value")
          .localCheckpoint(true)
        seen = head
      }

    GenTable.upsertBatch(batch((1L, 10L, 1.0), (2L, 10L, 2.0)),
      dir, "user_id", Seq("ts"), "bucket")
    poll()
    assert(asSet(view) === asSet(viewOf(GenTable.read(spark, dir).get)))
    // two commits between polls: one diff must cover both
    GenTable.upsertBatch(batch((1L, 20L, 1.5), (3L, 20L, 3.0)),
      dir, "user_id", Seq("ts"), "bucket")
    GenTable.upsertBatch(batch((6L, 30L, 6.0)),
      dir, "user_id", Seq("ts"), "bucket")
    poll()
    assert(asSet(view) === asSet(viewOf(GenTable.read(spark, dir).get)))
    // idle poll: no new commit, no state change
    assert(GenTable.changesSince(spark, dir, seen, "user_id").isEmpty)
    // a delete commit retracts through the same loop
    GenTable.deleteWhere(spark, dir, col("user_id") === 2L)
    poll()
    assert(asSet(view) === asSet(viewOf(GenTable.read(spark, dir).get)))
  }

  test("compact(clusterBy): range scans prune row groups of non-covering files") {
    val dir = tmp()
    // 4000 keys in one table partition, written in hash order (independent
    // of user_id) as 500-row files: every file spans the id range
    val df = spark.range(4000).select(
        col("id").as("user_id"), lit(0L).as("ts"),
        col("id").cast("double").as("value"))
      .withColumn("bucket", lit(0).cast("int"))
      .orderBy(xxhash64(col("user_id")))
    val key = "spark.sql.files.maxRecordsPerFile"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "500")
    try GenTable.replaceAll(df, dir, "bucket")
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))

    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def scanned(d: DataFrame): Long = {
      d.collect()
      def walk(p: SparkPlan): Long = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: FileSourceScanExec => s.metrics("numOutputRows").value
        case other => other.children.map(walk).sum
      }
      walk(d.queryExecution.executedPlan)
    }
    def rangeQ = GenTable.read(spark, dir).get
      .filter(col("user_id").between(1000, 1199))

    assert(rangeQ.count() === 200L)
    val unclustered = scanned(rangeQ)
    GenTable.compact(spark, dir, 500L, clusterBy = Seq("user_id"))
    assert(rangeQ.count() === 200L)
    val clustered = scanned(rangeQ)
    // clustered: the pushed range filter's footer min/max check keeps a
    // single 500-row file's row group; unclustered reads everything
    assert(clustered <= 500L, s"clustered scan read $clustered rows")
    assert(unclustered >= clustered * 4,
      s"no row-group pruning: unclustered=$unclustered clustered=$clustered")
  }

  test("streaming atomic upsert sink == batch latest-per-key") {
    val dir = tmp()
    val in = s"$dir/in"; val out = s"$dir/out"; val ckpt = s"$dir/ckpt"
    val all = batch(
      (1L, 10L, 1.0), (2L, 10L, 2.0), (1L, 20L, 1.5),
      (3L, 20L, 3.0), (2L, 15L, 8.8), (1L, 30L, 1.9))
    // three time-ordered files -> three AvailableNow micro-batches
    all.repartitionByRange(3, col("ts")).write.parquet(in)
    graft.streaming.EventStreams.upsertForeachBatchAvailableNowAtomic(
      spark.readStream.schema(all.schema)
        .option("maxFilesPerTrigger", "1").parquet(in),
      out, ckpt, keyCol = "user_id", orderCols = Seq("ts"),
      partitionCol = "bucket")
    assert(rows(GenTable.read(spark, out).get) === Set(
      (1L, 30L, 1.9, 1), (2L, 15L, 8.8, 2), (3L, 20L, 3.0, 3)))
  }

  test("streaming sink with served view: view == batch recompute at close") {
    import graft.operators.RollupStore
    val dir = tmp()
    val in = s"$dir/in"; val out = s"$dir/out"; val viewDir = s"$dir/view"
    val all = batch(
      (1L, 10L, 1.0), (2L, 10L, 2.0), (1L, 20L, 1.5),
      (3L, 20L, 3.0), (2L, 15L, 8.8), (1L, 30L, 1.9))
    all.repartitionByRange(3, col("ts")).write.parquet(in)
    graft.streaming.EventStreams.upsertForeachBatchAvailableNowAtomicWithView(
      spark.readStream.schema(all.schema)
        .option("maxFilesPerTrigger", "1").parquet(in),
      out, viewDir, s"$dir/ckpt", keyCol = "user_id", orderCols = Seq("ts"),
      partitionCol = "bucket", groupCol = "bucket", valueCol = "value")
    // the served view equals a from-scratch recompute of the final lake
    def asView(df: DataFrame): Set[(Int, Long, BigDecimal)] =
      df.collect().map(r => (r.getAs[Number]("bucket").intValue(),
        r.getAs[Long]("n_rows"),
        BigDecimal(r.getAs[java.math.BigDecimal]("value_sum_dec")))).toSet
    val expect = asView(GenTable.read(spark, out).get.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("value").cast("decimal(28,10)"))
          .cast("decimal(38,10)").as("value_sum_dec")))
    assert(asView(RollupStore.readView(spark, viewDir).get) === expect)
    // the view consumed every commit the stream made (one per micro-batch)
    assert(GenTable.readCommit(viewDir).get.meta("consumed_commit") ===
      GenTable.commits(out).last.toString)
  }

  test("publish fails loud on a concurrent writer (stale staged head)") {
    val dir = tmp()
    GenTable.upsertBatch(batch((1L, 10L, 1.0)), dir, "user_id", Seq("ts"),
      "bucket")
    // writer A stages from head 1...
    val stagedA = GenTable.stage(batch((2L, 20L, 2.0)), dir, "bucket")
    // ...writer B commits first — the head moves under A (disjoint
    // partitions, so the stage-level append hazard doesn't fire here;
    // the publish-time guard is what must catch the interleave)
    GenTable.upsertBatch(batch((5L, 30L, 5.0)), dir, "user_id", Seq("ts"),
      "bucket")
    val before = rows(GenTable.read(spark, dir).get)
    val ex = intercept[IllegalArgumentException] {
      GenTable.publish(dir, stagedA)
    }
    assert(ex.getMessage.contains("concurrent writer"))
    // B's committed state is untouched by A's failed publish
    assert(rows(GenTable.read(spark, dir).get) === before)
    assert(GenTable.readCommit(dir).get.tableGen === 2L)
  }

  test("OCC retry: two interleaved disjoint-key upserts both commit") {
    val dir = tmp()
    GenTable.upsertBatch(batch((1L, 10L, 1.0)), dir, "user_id", Seq("ts"),
      "bucket")
    // writer B lands between A's stage and publish; keys are disjoint
    // (B: user 5, A: user 2) so A must rebase on B's head and retry —
    // both batches commit, and the table equals the sequential result
    GenTable.interleaveHook = Some(() =>
      GenTable.upsertBatch(batch((5L, 30L, 5.0)), dir, "user_id", Seq("ts"),
        "bucket"))
    try {
      GenTable.upsertBatch(batch((2L, 20L, 2.0)), dir, "user_id", Seq("ts"),
        "bucket")
    } finally GenTable.interleaveHook = None
    assert(rows(GenTable.read(spark, dir).get) === Set(
      (1L, 10L, 1.0, 1), (2L, 20L, 2.0, 2), (5L, 30L, 5.0, 1)))
    // A retried on top of B: three commits total, lineage intact
    assert(GenTable.readCommit(dir).get.tableGen === 3L)
    assert(GenTable.commits(dir) === Seq(1L, 2L, 3L))
  }

  test("OCC retry: overlapping-partition interleave still fails loud") {
    val dir = tmp()
    GenTable.upsertBatch(batch((1L, 10L, 1.0)), dir, "user_id", Seq("ts"),
      "bucket")
    // B stages the SAME partition A is staging (here also the same key):
    // shared gen directories are not retry-safe, whatever the keys —
    // the per-partition single-writer contract must be enforced upstream
    GenTable.interleaveHook = Some(() =>
      GenTable.upsertBatch(batch((2L, 30L, 9.9)), dir, "user_id", Seq("ts"),
        "bucket"))
    val e = try {
      intercept[IllegalStateException] {
        GenTable.upsertBatch(batch((2L, 20L, 2.0)), dir, "user_id",
          Seq("ts"), "bucket")
      }
    } finally GenTable.interleaveHook = None
    assert(e.getMessage.contains("partitions this batch also stages"))
    // B's commit is the committed state; A's conflicting batch is not in
    assert(rows(GenTable.read(spark, dir).get) === Set(
      (1L, 10L, 1.0, 1), (2L, 30L, 9.9, 2)))
  }

  test("swap arms: lifecycle green through HDFS-rename and object-PUT paths") {
    for (mode <- Seq(GenTable.HadoopRename, GenTable.SingleObjectPut)) {
      GenTable.swapModeOverride = Some(mode)
      try {
        val dir = tmp()
        GenTable.upsertBatch(batch((1L, 10L, 1.0), (2L, 10L, 2.0)),
          dir, "user_id", Seq("ts"), "bucket")
        GenTable.upsertBatch(batch((1L, 20L, 1.5), (3L, 20L, 3.0)),
          dir, "user_id", Seq("ts"), "bucket")
        assert(rows(GenTable.read(spark, dir).get) === Set(
          (1L, 20L, 1.5, 1), (2L, 10L, 2.0, 2), (3L, 20L, 3.0, 3)),
          s"swap mode $mode broke the committed view")
        assert(GenTable.commits(dir) === Seq(1L, 2L))
        assert(rows(GenTable.readAt(spark, dir, 1L).get) === Set(
          (1L, 10L, 1.0, 1), (2L, 10L, 2.0, 2)))
        assert(GenTable.deleteWhere(spark, dir, col("user_id") === 2L) === 1L)
        GenTable.vacuum(dir)
        // neither arm strands a temp manifest
        assert(!new java.io.File(dir).listFiles()
          .exists(_.getName.startsWith("_commit.tmp.")),
          s"swap mode $mode stranded a temp manifest")
      } finally GenTable.swapModeOverride = None
    }
  }

  test("crash between swap and archive: manifest rules; next publish backfills") {
    val dir = tmp()
    GenTable.upsertBatch(batch((1L, 10L, 1.0)), dir, "user_id", Seq("ts"),
      "bucket")
    GenTable.upsertBatch(batch((2L, 20L, 2.0)), dir, "user_id", Seq("ts"),
      "bucket")
    // simulate a publish that died after its manifest swap but before the
    // archive write: the head archive is missing
    val headArch = Paths.get(s"$dir/_commits/" + f"ct_${2L}%020d")
    Files.delete(headArch)
    // the head stays fully visible — commits/readAt/changesSince all
    // derive it from the committed manifest, never the archive listing
    assert(GenTable.commits(dir) === Seq(1L, 2L))
    assert(rows(GenTable.readAt(spark, dir, 2L).get) ===
      rows(GenTable.read(spark, dir).get))
    val (head, changes) = GenTable.changesSince(spark, dir, 1L, "user_id").get
    assert(head === 2L)
    assert(changes.count() === 1L)
    // the next publish backfills the missing archive BEFORE superseding it
    GenTable.upsertBatch(batch((3L, 30L, 3.0)), dir, "user_id", Seq("ts"),
      "bucket")
    assert(Files.exists(headArch), "superseded commit lost its archive")
    assert(rows(GenTable.readAt(spark, dir, 2L).get) === Set(
      (1L, 10L, 1.0, 1), (2L, 20L, 2.0, 2)))
  }

  test("schema evolution: added column nulls old rows; old snapshots keep old schema") {
    val dir = tmp()
    GenTable.upsertBatch(batch((1L, 10L, 1.0), (2L, 10L, 2.0)),
      dir, "user_id", Seq("ts"), "bucket")                     // commit 1
    // commit 2 ADDS a column; bucket 1 (user 1) is untouched
    val evolved = batch((2L, 20L, 2.5), (3L, 20L, 3.0))
      .withColumn("tag", concat(lit("u"), col("user_id")))
    GenTable.upsertBatch(evolved, dir, "user_id", Seq("ts"), "bucket")
    val cur = GenTable.read(spark, dir).get
    assert(cur.columns.contains("tag"))
    val tags = cur.select(col("user_id"), col("tag")).collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    // old-generation rows read through the evolved schema as null
    assert(tags === Map(1L -> None, 2L -> Some("u2"), 3L -> Some("u3")))
    // time travel reads the schema AS OF the archived commit
    assert(!GenTable.readAt(spark, dir, 1L).get.columns.contains("tag"))
    // CDC across the boundary: both images through the TO-side schema
    val ch = GenTable.changesBetween(spark, dir, 1L, 2L, "user_id")
    assert(ch.columns.contains("tag"))
    val byKey = ch.collect().map(r => r.getAs[Long]("user_id") ->
      (r.getAs[String]("_change"), Option(r.getAs[String]("tag")))).toMap
    assert(byKey === Map(2L -> ("update", Some("u2")),
      3L -> ("insert", Some("u3"))))
    // later batches may omit the added column (null-filled), but a TYPE
    // change is rejected before anything is staged
    GenTable.upsertBatch(batch((5L, 30L, 5.0)), dir, "user_id", Seq("ts"),
      "bucket")
    assert(GenTable.read(spark, dir).get.filter(col("user_id") === 5L)
      .select(col("tag")).collect().head.isNullAt(0))
    val before = GenTable.readCommit(dir).get
    intercept[IllegalArgumentException] {
      GenTable.upsertBatch(
        batch((6L, 40L, 6.0)).withColumn("tag", lit(1)),
        dir, "user_id", Seq("ts"), "bucket")
    }
    assert(GenTable.readCommit(dir).get === before,
      "rejected type change must not commit")
  }

  test("no-churn diff returns a schema-correct empty change set") {
    val dir = tmp()
    def viewRows(n: Int): DataFrame =
      (1 to n).map(i => (i.toLong, i.toDouble)).toDF("user_id", "value")
        .withColumn("vp", lit("all")).limit(0) // meta-only: zero rows
    GenTable.replaceAll(viewRows(1), dir, "vp", meta = Map("marker" -> "1"))
    GenTable.replaceAll(viewRows(1), dir, "vp", meta = Map("marker" -> "2"))
    assert(GenTable.commits(dir) === Seq(1L, 2L))
    // two distinct genless commits: no partition moved, but the diff is
    // still the schema-correct empty frame (ADVICE r11: a zero-column
    // frame here breaks every downstream image consumer)
    val imgs = GenTable.changesWithImages(spark, dir, 1L, 2L, "user_id")
    assert(imgs.columns.toSet === Set("user_id", "_pre", "_post", "_change"))
    assert(imgs.count() === 0L)
    val flat = GenTable.changesBetween(spark, dir, 1L, 2L, "user_id")
    assert(flat.columns.toSet === Set("user_id", "_change", "value", "vp"))
    assert(flat.count() === 0L)
    // and the empty diff flows through the view-maintenance delta math
    val emptyView = spark.range(0).selectExpr("cast(id as string) vp",
      "id as n_rows", "cast(id as decimal(38,10)) value_sum_dec")
    val refreshed = graft.operators.RollupStore.applyCdcDeltas(
      emptyView, imgs, "vp", "value")
    assert(refreshed.count() === 0L)
  }

  test("maintainViewMixed: one refresh serves both algebra classes") {
    import graft.operators.RollupStore
    val table = tmp(); val viewDir = tmp()
    def refresh() = RollupStore.maintainViewMixed(
      spark, table, viewDir, "user_id", "bucket", "value")
    def asView(df: DataFrame): Set[(Int, Long, BigDecimal, Double, Double)] =
      df.collect().map(r => (r.getAs[Number]("bucket").intValue(),
        r.getAs[Long]("n_rows"),
        BigDecimal(r.getAs[java.math.BigDecimal]("value_sum_dec")),
        r.getAs[Double]("v_min"), r.getAs[Double]("v_max"))).toSet
    def recompute(): Set[(Int, Long, BigDecimal, Double, Double)] =
      asView(GenTable.read(spark, table).get.groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("value").cast("decimal(28,10)"))
            .cast("decimal(38,10)").as("value_sum_dec"),
          min(col("value")).as("v_min"), max(col("value")).as("v_max")))

    // bucket 1: users 1 (max 5.0) and 5 (2.0); bucket 2: user 2 (7.0)
    GenTable.upsertBatch(
      batch((1L, 10L, 5.0), (5L, 10L, 2.0), (2L, 10L, 7.0)),
      table, "user_id", Seq("ts"), "bucket")
    assert(refresh() === Some(1L))
    assert(asView(RollupStore.readView(spark, viewDir).get) === recompute())
    assert(refresh().isEmpty, "idle poll must not commit")
    // two commits between polls: a max-row delete (non-retractable case)
    // AND an update+insert — ONE refresh must cover both halves
    GenTable.deleteWhere(spark, table, col("user_id") === 1L)    // commit 2
    GenTable.upsertBatch(batch((2L, 20L, 6.0), (3L, 20L, 3.0)),
      table, "user_id", Seq("ts"), "bucket")                     // commit 3
    assert(refresh() === Some(3L))
    assert(asView(RollupStore.readView(spark, viewDir).get) === recompute())
    // a group deleted outright leaves all five aggregates
    GenTable.deleteWhere(spark, table, col("bucket") === 2)      // commit 4
    assert(refresh() === Some(4L))
    assert(asView(RollupStore.readView(spark, viewDir).get) === recompute())
    assert(refresh().isEmpty)
  }

  test("followChanges drains multi-commit history with durable resume") {
    val dir = tmp()
    GenTable.upsertBatch(batch((1L, 10L, 1.0)), dir, "user_id", Seq("ts"),
      "bucket")
    GenTable.upsertBatch(batch((2L, 20L, 2.0)), dir, "user_id", Seq("ts"),
      "bucket")
    var heads = Seq.empty[Long]; var n = 0L
    val last = GenTable.followChanges(spark, dir, "user_id", 0L) {
      (head, ch) => heads :+= head; n += ch.count()
    }
    assert(last === 2L)
    assert(heads === Seq(2L), "a poll must coalesce all pending commits")
    assert(n === 2L)
    // resume from the consumer's checkpoint: only the new commit flows
    GenTable.upsertBatch(batch((3L, 30L, 3.0)), dir, "user_id", Seq("ts"),
      "bucket")
    val last2 = GenTable.followChanges(spark, dir, "user_id", last) {
      (head, ch) => heads :+= head; n += ch.count()
    }
    assert(last2 === 3L && heads === Seq(2L, 3L) && n === 3L)
    // an idle follow consumes nothing and returns the same checkpoint
    assert(GenTable.followChanges(spark, dir, "user_id", last2) {
      (_, _) => fail("idle follow must not deliver a batch")
    } === last2)
  }

  test("streamed view == batch recompute across interleaved live commits") {
    import graft.operators.RollupStore
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val table = tmp(); val viewDir = tmp()
    def drain(): Int = RollupStore.maintainViewAvailableNow(
      spark, table, viewDir, "user_id", "bucket", "value")
    // a live writer lands 3 commits while the follower drains concurrently
    // (single writer, single follower — the protocol's contract; the
    // follower's reads and view commits interleave freely with the writes)
    val writer = Future {
      GenTable.upsertBatch(batch((1L, 10L, 1.0), (2L, 10L, 2.0)),
        table, "user_id", Seq("ts"), "bucket")
      Thread.sleep(100)
      GenTable.upsertBatch(batch((1L, 20L, 1.5), (3L, 20L, 3.0)),
        table, "user_id", Seq("ts"), "bucket")
      Thread.sleep(100)
      GenTable.deleteWhere(spark, table, col("user_id") === 2L)
      ()
    }
    while (!writer.isCompleted) { drain(); Thread.sleep(20) }
    Await.result(writer, 60.seconds)
    drain() // catch a final commit that landed after the last poll
    // whatever the interleaving, the served view equals a from-scratch
    // recompute of the final table and the marker names the final head
    def asView(df: DataFrame): Set[(Int, Long, BigDecimal)] =
      df.collect().map(r => (r.getAs[Number]("bucket").intValue(),
        r.getAs[Long]("n_rows"),
        BigDecimal(r.getAs[java.math.BigDecimal]("value_sum_dec")))).toSet
    val expect = asView(GenTable.read(spark, table).get.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("value").cast("decimal(28,10)"))
          .cast("decimal(38,10)").as("value_sum_dec")))
    assert(asView(RollupStore.readView(spark, viewDir).get) === expect)
    assert(GenTable.readCommit(viewDir).get.meta("consumed_commit") ===
      GenTable.readCommit(table).get.tableGen.toString)
  }

  test("readEquals: bloom sidecars prune where min/max bands cannot") {
    val dir = tmp()
    // interleaved user ids: every bucket's [min, max] user band contains
    // every looked-up key, so range stats can never prune — the bloom
    // sidecar is what knows which bucket actually holds a user
    val b = batch((1L, 10L, 1.0), (5L, 20L, 5.0), (9L, 30L, 9.0),
      (2L, 10L, 2.0), (6L, 20L, 6.0), (10L, 30L, 10.0),
      (3L, 10L, 3.0), (7L, 20L, 7.0), (11L, 30L, 11.0))
    GenTable.upsertBatch(b, dir, "user_id", Seq("ts"), "bucket",
      statsCols = Seq("user_id"), bloomCols = Seq("user_id"))
    val one = GenTable.readEquals(spark, dir, "user_id", Seq(5L)).get
    assert(rows(one) === Set((5L, 20L, 5.0, 1)))
    assert(one.inputFiles.nonEmpty &&
      one.inputFiles.forall(_.contains("bucket=1")),
      s"bloom failed to prune: ${one.inputFiles.toSeq}")
    // a multi-key lookup keeps the union of the keys' partitions
    val two = GenTable.readEquals(spark, dir, "user_id", Seq(6L, 7L)).get
    assert(rows(two) === Set((6L, 20L, 6.0, 2), (7L, 20L, 7.0, 3)))
    assert(!two.inputFiles.exists(_.contains("bucket=1")))
    // a key inside every band but present nowhere: blooms prune all
    // partitions (mod a 1% false positive, which the residual absorbs)
    val none = GenTable.readEquals(spark, dir, "user_id", Seq(4L)).get
    assert(none.count() === 0L)
    assert(none.columns.toSet === Set("user_id", "ts", "value", "bucket"))
    // a delete rewrite regenerates the touched partition's sidecars —
    // skipping survives the generation move
    GenTable.deleteKeys(Seq(5L).toDF("user_id"), dir, "user_id",
      pmod(col("user_id"), lit(4)))
    val after = GenTable.readEquals(spark, dir, "user_id", Seq(9L)).get
    assert(rows(after) === Set((9L, 30L, 9.0, 1)))
    assert(after.inputFiles.nonEmpty &&
      after.inputFiles.forall(_.contains("bucket=1")))
    assert(GenTable.readEquals(spark, dir, "user_id", Seq(5L)).get
      .count() === 0L)
    // vacuum drops sidecars with their unpinned generations, keeps current
    GenTable.vacuum(dir)
    val names = new java.io.File(s"$dir/_filters").listFiles()
      .map(_.getName).toSet
    assert(names.contains("1~user_id~2.bloom"), s"sidecars: $names")
    assert(!names.contains("1~user_id~1.bloom"), s"sidecars: $names")
    // missing sidecars: conservative read, identical result
    new java.io.File(s"$dir/_filters").listFiles().foreach(_.delete())
    assert(rows(GenTable.readEquals(spark, dir, "user_id", Seq(9L)).get) ===
      Set((9L, 30L, 9.0, 1)))
  }

  test("readEqualsStrings: string point lookups prune via hashed sidecars") {
    val dir = tmp()
    // url is a string key scattered one-per-bucket: min/max bands don't
    // exist for strings, so the xxhash64 bloom sidecar is the only skip
    val b = Seq((1L, 10L, "https://a.example/x"),
      (5L, 10L, "https://b.example/y"),
      (2L, 10L, "https://c.example/z"),
      (6L, 10L, "https://d.example/w"))
      .toDF("user_id", "ts", "url")
      .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
    GenTable.upsertBatch(b, dir, "user_id", Seq("ts"), "bucket",
      bloomCols = Seq("url"), bloomExpectedItems = 100L)
    val one = GenTable.readEqualsStrings(spark, dir, "url",
      Seq("https://b.example/y")).get
    assert(one.select("user_id").collect().map(_.getLong(0)).toSet === Set(5L))
    assert(one.inputFiles.nonEmpty &&
      one.inputFiles.forall(_.contains("bucket=1")),
      s"string bloom failed to prune: ${one.inputFiles.toSeq}")
    // an absent key prunes everything (schema-correct empty result)
    val none = GenTable.readEqualsStrings(spark, dir, "url",
      Seq("https://nowhere.example/")).get
    assert(none.count() === 0L)
    assert(none.columns.toSet === Set("user_id", "ts", "url", "bucket"))
    // missing sidecars: conservative, identical rows
    new java.io.File(s"$dir/_filters").listFiles().foreach(_.delete())
    assert(GenTable.readEqualsStrings(spark, dir, "url",
      Seq("https://b.example/y")).get.count() === 1L)
  }

  test("date statsCols: bands record epoch days; readRange prunes and filters") {
    val dir = tmp()
    // a DateType statsCol was an AnalysisException before (ANSI rejects
    // date->long); bands now encode via unix_date, so day-range reads prune
    val b = Seq((1L, "2024-01-05"), (2L, "2024-01-06"),
      (5L, "2024-02-10"), (6L, "2024-02-11"))
      .toDF("user_id", "d")
      .withColumn("d", col("d").cast("date"))
      .withColumn("bucket", (col("user_id") % 2).cast("int"))
    GenTable.upsertBatch(b, dir, "user_id", Seq("d"), "bucket",
      statsCols = Seq("d"))
    val c = GenTable.readCommit(dir).get
    assert(c.trackedStatsCols === Set("d"))
    // epoch days for 2024-01-05 = 19727
    val jan = java.time.LocalDate.parse("2024-01-05").toEpochDay
    val got = GenTable.readRange(spark, dir, "d", jan, jan + 1).get
    assert(got.select("user_id").collect().map(_.getLong(0)).toSet ===
      Set(1L, 2L))
    // bucket 0 holds only feb rows for user 2? both buckets hold jan+feb…
    // make the prune observable: range covering only february
    val feb = java.time.LocalDate.parse("2024-02-10").toEpochDay
    val febRead = GenTable.readRange(spark, dir, "d", feb, feb + 1).get
    assert(febRead.select("user_id").collect().map(_.getLong(0)).toSet ===
      Set(5L, 6L))
  }

  test("footer-derived skip stats equal the aggregate tier; unprovable types fall back") {
    // r17: long/date/in-range-decimal bands come from the parquet footers
    // the commit already opens (zero extra Spark jobs) and must equal the
    // aggregate tier's arithmetic EXACTLY; double (NaN-contaminated stats)
    // and the partition column itself (no column chunk) must fall back to
    // the aggregate and still band.
    val dir = tmp()
    val b = Seq(
      (1L, 7L, "2024-01-05", "12345.67", 1.5),
      (2L, -3L, "2024-01-06", "-999.99", -2.25),
      (5L, 1000L, "2024-02-10", "0.01", 42.0),
      (6L, 12L, "2024-02-11", "-0.01", 0.0))
      .toDF("user_id", "v", "d", "m", "x")
      .withColumn("d", col("d").cast("date"))
      .withColumn("m", col("m").cast("decimal(12,2)"))
      .withColumn("bucket", (col("user_id") % 2).cast("int"))
    GenTable.upsertBatch(b, dir, "user_id", Seq("v"), "bucket",
      statsCols = Seq("v", "d", "m")) // all three footer-provable
    val c = GenTable.readCommit(dir).get
    // the aggregate tier's own arithmetic, recomputed independently
    val expected = b.groupBy(col("bucket").cast("string").as("k"))
      .agg(min(col("v")).as("vn"), max(col("v")).as("vx"),
        min(unix_date(col("d")).cast("long")).as("dn"),
        max(unix_date(col("d")).cast("long")).as("dx"),
        min(col("m").cast("long")).as("mn"),
        max(col("m").cast("long")).as("mx"))
      .collect().map { r => r.getString(0) -> Map(
        "v" -> (r.getLong(1), r.getLong(2)),
        "d" -> (r.getLong(3), r.getLong(4)),
        "m" -> (r.getLong(5), r.getLong(6))) }.toMap
    assert(c.stats === expected)
    // the skip itself: negative decimal band prunes exactly
    val neg = GenTable.readRange(spark, dir, "m", -1000L, -900L).get
    assert(neg.select("user_id").collect().map(_.getLong(0)).toSet === Set(2L))
    // a double statsCol (unprovable: NaN hides in footer bounds) falls
    // back to the aggregate and still records bands
    val dir2 = tmp()
    GenTable.upsertBatch(b, dir2, "user_id", Seq("v"), "bucket",
      statsCols = Seq("x"))
    val c2 = GenTable.readCommit(dir2).get
    assert(c2.stats.nonEmpty && c2.stats.values.forall(_.contains("x")))
    assert(c2.stats("0")("x") === (-2L, 0L)) // users 2,6: -2.25 -> -2, 0.0 -> 0
    // tracking the PARTITION column falls back too (no column chunk in
    // the data files) and bands the dir value
    val dir3 = tmp()
    GenTable.upsertBatch(b, dir3, "user_id", Seq("v"), "bucket",
      statsCols = Seq("bucket"))
    val c3 = GenTable.readCommit(dir3).get
    assert(c3.stats("0")("bucket") === (0L, 0L))
    assert(c3.stats("1")("bucket") === (1L, 1L))
    // rewrite path (deleteWhere -> commitRewrite): footer stats re-derive
    // for the surviving rows, equal to the aggregate's answer
    assert(GenTable.deleteWhere(spark, dir, col("user_id") === 1L) === 1L)
    val cd = GenTable.readCommit(dir).get
    assert(cd.stats("1")("v") === (1000L, 1000L)) // bucket 1 keeps user 5
    assert(cd.stats("1")("m") === (0L, 0L)) // 0.01 truncates to 0
  }

  test("non-encodable skip columns fail loud at declaration time") {
    val dir = tmp()
    val b = batch((1L, 10L, 1.0))
      .withColumn("tags", array(lit("a"), lit("b")))
    // array statsCol: no long encoding exists — refuse, don't band nulls
    val e1 = intercept[IllegalArgumentException] {
      GenTable.upsertBatch(b, dir, "user_id", Seq("ts"), "bucket",
        statsCols = Seq("tags"))
    }
    assert(e1.getMessage.contains("statsCol 'tags'"))
    // string statsCol: points to bloomCols instead of banding hashes
    val s = b.withColumn("url", concat(lit("u"), col("user_id")))
    val e2 = intercept[IllegalArgumentException] {
      GenTable.upsertBatch(s, dir, "user_id", Seq("ts"), "bucket",
        statsCols = Seq("url"))
    }
    assert(e2.getMessage.contains("bloomCols"))
    // array bloomCol: rejected too, never silently blooming nulls
    val e3 = intercept[IllegalArgumentException] {
      GenTable.upsertBatch(b, dir, "user_id", Seq("ts"), "bucket",
        bloomCols = Seq("tags"))
    }
    assert(e3.getMessage.contains("bloomCol 'tags'"))
    // and nothing was committed by any refused write
    assert(GenTable.readCommit(dir).isEmpty)
  }

  test("vacuum sweeps stranded temp manifests") {
    val dir = tmp()
    GenTable.upsertBatch(batch((1L, 10L, 1.0)), dir, "user_id", Seq("ts"),
      "bucket")
    Files.write(Paths.get(s"$dir/_commit.tmp.deadbeef"),
      "junk".getBytes("UTF-8"))
    GenTable.vacuum(dir)
    assert(!Files.exists(Paths.get(s"$dir/_commit.tmp.deadbeef")),
      "stranded temp manifest survived vacuum")
    assert(rows(GenTable.read(spark, dir).get) === Set((1L, 10L, 1.0, 1)))
  }
}
