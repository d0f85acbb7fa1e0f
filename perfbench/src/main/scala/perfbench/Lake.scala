package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.sources.GenTable

/** One seeded lake operation. Keys are addressed as (bucket, slot):
  * `lk = slot * 16 + bucket`, so a batch targets exactly the buckets it
  * names. `existing` keys come from the seeded key range (a strided walk
  * with an odd stride over a power-of-two slot count, so they are
  * distinct); `fresh` keys come from a range no earlier op used. A
  * `delete_where` deletes the orders `[lo, lo + width]`.
  */
final case class LakeOp(idx: Int, kind: String, buckets: Seq[Int] = Nil,
    existing: Int = 0, fresh: Int = 0, start: Long = 0L, stride: Long = 1L,
    lo: Long = 0L, width: Long = 0L) {
  def ver: Long = idx + 1L
  def salt: Int = 1000 + 10 * idx
  def rows: Long = existing.toLong + fresh
}

/** A lake row as the replay model sees it: the key, the columns the
  * merge arms and the delete band test, and the row's hash as
  * [[Gen.fingerprint]] computes it.
  */
final case class ModelRow(lk: Long, orderkey: Long, quantity: Double, discount: Double,
    hash: Long)

/** A seeded op schedule over one lake table, the engine calls that run
  * it, and the model that replays it. Op `idx` has the
  * shape `history(idx)` for the first `history.size` ops, then cycles
  * through [[Lake.Cycle]].
  */
final class Lake(val spark: SparkSession, val seed: Long, val slots: Long,
    val dir: String, val replica: String, val checkpoint: String,
    val history: IndexedSeq[(String, Int, Int, Int)] = Vector.empty) {
  import Lake._
  require(java.lang.Long.bitCount(slots) == 1, "slots must be a power of two")

  val seedRows: Long = slots * Gen.Buckets
  /** Orders per bucket in the seeded rows (four lines each). */
  val seedOrders: Long = slots / 4

  private def rnd(idx: Int) = new scala.util.Random(seed * 7919L + idx)

  /** Op `idx` of the schedule: the shape (kind, sizes, bucket fan-out)
    * comes from the history, then from [[Lake.Cycle]]; the seed picks the
    * buckets, the keys and the delete band.
    */
  def op(idx: Int): LakeOp = {
    val r = rnd(idx)
    val (kind, nb, existing, fresh) =
      if (idx < history.size) history(idx) else Cycle((idx - history.size) % Cycle.size)
    val buckets = r.shuffle((0 until Gen.Buckets).toList).take(nb).sorted
    val start = (r.nextLong() & Long.MaxValue) % slots
    val stride = ((r.nextLong() & Long.MaxValue) % slots) | 1L
    kind match {
      case "delete_where" =>
        // a band of seeded orders inside one bucket's l_orderkey band
        LakeOp(idx, kind, buckets, lo = buckets.head * Gen.OrderBand +
          (r.nextLong() & Long.MaxValue) % (seedOrders - DeleteBand), width = DeleteBand)
      case _ => LakeOp(idx, kind, buckets, existing, fresh, start, stride)
    }
  }

  /** Keys of `op`: `existing` strided slots plus `fresh` new slots, spread
    * round-robin over the op's buckets.
    */
  def keys(op: LakeOp, withFresh: Boolean = true): DataFrame = {
    val nb = op.buckets.size.toLong
    val bucket = element_at(array(op.buckets.map(b => lit(b)): _*),
      (pmod(col("id"), lit(nb)) + 1).cast("int"))
    val old = spark.range(op.existing).select(
      (pmod(lit(op.start) + floor(col("id") / nb) * op.stride, lit(slots)) * Gen.Buckets +
        bucket).cast("long").as("lk"))
    if (!withFresh || op.fresh == 0) old
    else old.unionByName(spark.range(op.fresh).select(
      ((lit(slots) + lit(op.idx.toLong) * FreshPerOp + floor(col("id") / nb)) * Gen.Buckets +
        bucket).cast("long").as("lk")))
  }

  def batch(op: LakeOp): DataFrame = Gen.lakeRows(keys(op), seed, op.salt, op.ver)

  def seedFrame: DataFrame =
    Gen.lakeRows(spark.range(seedRows).select(col("id").as("lk")), seed, 0, 0L)

  /** Seeds the table (one commit). */
  def create(): Unit = upsert(seedFrame)

  private def upsert(rows: DataFrame): Unit =
    GenTable.upsertBatch(rows, dir, "lk", Seq("ver"), "bucket",
      statsCols = StatsCols, bloomCols = BloomCols)

  /** Runs `op` against the table; returns the input rows it processed. */
  def run(op: LakeOp): Long = op.kind match {
    case "upsert" => upsert(batch(op)); op.rows
    case "merge" =>
      GenTable.merge(batch(op), dir, "lk", updateWhen = Some(lit(true)),
        deleteWhen = Some(MergeDelete), insertWhen = Some(MergeInsert))
      op.rows
    case "delete_keys" =>
      GenTable.deleteKeys(keys(op, withFresh = false), dir, "lk",
        pmod(col("lk"), lit(Gen.Buckets)).cast("int"))
      op.existing.toLong
    case "delete_where" => GenTable.deleteWhere(spark, dir, deleteBand(op))
    case "compact" => GenTable.compact(spark, dir, CompactRecords); 0L
    case "vacuum" => GenTable.vacuum(dir, VacuumKeep); 0L
    case "replicate" => replicate(); 0L
  }

  /** Catch the replica up through the CDC source into the CDC-mode sink
    * (one AvailableNow drain).
    */
  def replicate(): Unit = {
    val q = spark.readStream.format("gentable-cdc").option("keyCol", "lk").load(dir)
      .writeStream.format("gentable")
      .option("mode", "cdc").option("keyCol", "lk").option("partitionCol", "bucket")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start(replica)
    q.awaitTermination()
  }

  private def modelRows(df: DataFrame): Seq[ModelRow] =
    Workloads.lakeFrame(df).select(col("lk"), col("l_orderkey"), col("l_quantity"),
        col("l_discount"), xxhash64(Gen.LakeCols.map(col): _*))
      .collect().toSeq
      .map(r => ModelRow(r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4)))

  /** The model: `ops` replayed on the client over the same generated
    * inputs, collected; returns the fingerprint [[Gen.fingerprint]] gives
    * the resulting rows.
    */
  def replay(ops: Seq[LakeOp]): (Long, java.math.BigDecimal) =
    Lake.fingerprint(Lake.replay(modelRows(seedFrame), ops, op => modelRows(batch(op)),
      op => keys(op, withFresh = false).collect().toSeq.map(_.getLong(0))).values)
}

object Lake {
  val StatsCols: Seq[String] = Seq("l_orderkey", "l_shipdate")
  val BloomCols: Seq[String] = Seq("lk")
  val MergeDeleteBelow = 6.0
  val MergeInsertAtMost = 0.08
  val MergeDelete: Column = col("l_quantity") < MergeDeleteBelow
  val MergeInsert: Column = col("l_discount") <= MergeInsertAtMost
  val FreshPerOp: Long = 1L << 20
  val DeleteBand: Long = 200L
  val CompactRecords: Long = 1L << 20
  val VacuumKeep: Int = 16

  def deleteBand(op: LakeOp): Column = col("l_orderkey").between(op.lo, op.lo + op.width)

  def inDeleteBand(op: LakeOp, orderkey: Long): Boolean =
    orderkey >= op.lo && orderkey <= op.lo + op.width

  /** The commits of one `lake` cycle: (kind, buckets touched, existing
    * keys, fresh keys). Most batches are small and touch 2-3 of the 16
    * buckets; the second merge is large and touches every bucket. Merges
    * and deletes appear twice a cycle (a key delete and a band delete in
    * one bucket), so their per-type medians rest on two calls; the upsert
    * runs once, warm from the seeding, which is an upsert too.
    * Every cycle ends with a compaction, a vacuum (which keeps more commits
    * than a cycle makes) and a replica catch-up, so after a whole cycle the
    * replica holds every commit.
    */
  val Cycle: IndexedSeq[(String, Int, Int, Int)] = IndexedSeq(
    ("upsert", 2, 1600, 400),
    ("merge", 3, 1200, 300),
    ("delete_keys", 2, 300, 0),
    ("delete_where", 1, 0, 0),
    ("merge", 16, 6400, 1600),
    ("compact", 0, 0, 0),
    ("vacuum", 0, 0, 0),
    ("replicate", 0, 0, 0))

  /** The commit history set-up builds before the first reads: a small
    * upsert and two deletes, so the table has several generations to
    * travel back to, partitions rewritten at different times, and the
    * upsert and delete paths are warm before the first timed commit.
    */
  val History: IndexedSeq[(String, Int, Int, Int)] = IndexedSeq(
    ("upsert", 2, 1600, 400),
    ("delete_keys", 2, 300, 0),
    ("delete_where", 1, 0, 0))

  /** The live rows, by key, after `ops` applied to `seed`. Merge applies
    * SQL MERGE's clause order (matched: DELETE arm first, then UPDATE; not
    * matched: INSERT arm); a batch's keys are distinct, so its rows apply
    * one at a time. Maintenance ops leave the rows as they are.
    */
  def replay(seed: Seq[ModelRow], ops: Seq[LakeOp], batch: LakeOp => Seq[ModelRow],
      keys: LakeOp => Seq[Long]): Map[Long, ModelRow] = {
    val state = mutable.LongMap.empty[ModelRow]
    seed.foreach(r => state(r.lk) = r)
    ops.foreach { op =>
      op.kind match {
        case "upsert" => batch(op).foreach(r => state(r.lk) = r)
        case "merge" => batch(op).foreach { r =>
          if (state.contains(r.lk)) {
            if (r.quantity < MergeDeleteBelow) state -= r.lk else state(r.lk) = r
          } else if (r.discount <= MergeInsertAtMost) state(r.lk) = r
        }
        case "delete_keys" => keys(op).foreach(state -= _)
        case "delete_where" => state.filterInPlace((_, r) => !inDeleteBand(op, r.orderkey))
        case _ =>
      }
    }
    state.toMap
  }

  /** (row count, sum of the rows' hashes), as [[Gen.fingerprint]]. */
  def fingerprint(rows: Iterable[ModelRow]): (Long, java.math.BigDecimal) =
    (rows.size.toLong, rows.foldLeft(java.math.BigDecimal.ZERO)((a, r) =>
      a.add(java.math.BigDecimal.valueOf(r.hash))))
}
