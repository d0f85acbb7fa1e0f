package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The `lake` replay model on a tiny hand-made input, its fingerprint
  * against Spark's over the same rows, and the key schedule's
  * distinctness.
  *
  * Run with `sbt test` from `perfbench/`.
  */
class ReplaySpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder().master("local[2]")
    .appName("perfbench-test").config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Rows (lk, quantity, discount, orderkey, version): the hash field
    * carries the version, so a state reads as (key, version) pairs.
    */
  private def rows(rs: (Long, Double, Double, Long, Long)*): Seq[ModelRow] =
    rs.map { case (lk, q, d, o, v) => ModelRow(lk, o, q, d, v) }

  private def state(m: Map[Long, ModelRow]): Set[(Long, Long)] =
    m.values.map(r => (r.lk, r.hash)).toSet

  private val seed = rows(
    (1L, 10.0, 0.05, 100L, 0L), (2L, 10.0, 0.05, 100L, 0L),
    (3L, 10.0, 0.05, 101L, 0L), (4L, 10.0, 0.05, 102L, 0L))

  private def replay(ops: (LakeOp, Seq[ModelRow])*): Map[Long, ModelRow] = {
    val batches = ops.map { case (o, rs) => o.idx -> rs }.toMap
    Lake.replay(seed, ops.map(_._1), o => batches(o.idx), o => batches(o.idx).map(_.lk))
  }

  test("upsert replaces present keys and adds new ones") {
    val out = replay(LakeOp(0, "upsert") ->
      rows((2L, 9.0, 0.01, 100L, 1L), (9L, 9.0, 0.01, 103L, 1L)))
    assert(state(out) === Set((1L, 0L), (2L, 1L), (3L, 0L), (4L, 0L), (9L, 1L)))
  }

  test("merge applies DELETE before UPDATE, and INSERT only where its arm holds") {
    val out = replay(LakeOp(0, "merge") -> rows(
      (1L, 2.0, 0.05, 100L, 1L),   // matched, quantity < 6: deleted
      (2L, 8.0, 0.05, 100L, 1L),   // matched: updated whole
      (7L, 8.0, 0.05, 104L, 1L),   // not matched, discount <= 0.08: inserted
      (8L, 8.0, 0.10, 104L, 1L)))  // not matched, discount > 0.08: skipped
    assert(state(out) === Set((2L, 1L), (3L, 0L), (4L, 0L), (7L, 1L)))
  }

  test("deleteKeys and deleteWhere remove exactly their rows") {
    val out = replay(
      LakeOp(0, "delete_keys") -> rows((4L, 0.0, 0.0, 0L, 0L), (99L, 0.0, 0.0, 0L, 0L)),
      LakeOp(1, "delete_where", lo = 100L, width = 0L) -> Nil)
    assert(state(out) === Set((3L, 0L)))
  }

  test("maintenance leaves the model unchanged; ops compose in order") {
    val out = replay(
      LakeOp(0, "upsert") -> rows((5L, 9.0, 0.01, 105L, 1L)),
      LakeOp(1, "compact") -> Nil,
      LakeOp(2, "replicate") -> Nil,
      LakeOp(3, "delete_keys") -> rows((5L, 0.0, 0.0, 0L, 0L)),
      LakeOp(4, "vacuum") -> Nil,
      LakeOp(5, "upsert") -> rows((5L, 9.0, 0.01, 105L, 6L)),
      LakeOp(6, "compact") -> Nil)
    assert(state(out) === seed.map(r => (r.lk, r.hash)).toSet + ((5L, 6L)))
  }

  test("the model's fingerprint is the one Gen.fingerprint gives the same rows") {
    val lake = new Lake(spark, 3L, 1L << 10, "unused", "unused", "unused")
    val op = lake.op(0) // an upsert of existing and fresh keys
    val model = lake.replay(Seq(op))
    val plain = lake.seedFrame.join(lake.batch(op).select("lk"), Seq("lk"), "left_anti")
      .unionByName(lake.batch(op))
    assert(model === Gen.fingerprint(plain, Gen.LakeCols))
  }

  test("a schedule's keys are distinct within each op and across fresh ranges") {
    val lake = new Lake(spark, 7L, 1L << 13, "unused", "unused", "unused")
    val ops = (0 until Lake.Cycle.size).map(lake.op).filter(_.rows > 0)
    ops.foreach { o =>
      val ks = lake.keys(o).collect().map(_.getLong(0))
      assert(ks.distinct.length === ks.length, s"duplicate keys in op ${o.idx}")
      assert(ks.forall(k => o.buckets.contains((k % 16).toInt)), s"op ${o.idx} strays")
    }
    val fresh = ops.filter(_.fresh > 0).map { o =>
      lake.keys(o).collect().map(_.getLong(0)).filter(_ >= lake.seedRows).toSet
    }
    assert(fresh.combinations(2).forall { case Seq(a, b) => (a & b).isEmpty })
  }

  test("each bucket's l_orderkey band is its own, so range stats separate partitions") {
    val lake = new Lake(spark, 5L, 1L << 8, "unused", "unused", "unused")
    val fresh = lake.op(4) // the large merge: fresh keys in every bucket
    assert(fresh.buckets.size === Gen.Buckets && fresh.fresh > 0)
    val bands = lake.seedFrame.unionByName(lake.batch(fresh)).groupBy("bucket")
      .agg(min("l_orderkey"), max("l_orderkey")).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(bands.length === Gen.Buckets)
    bands.foreach { case (b, lo, hi) =>
      assert(lo === b * Gen.OrderBand && hi < (b + 1) * Gen.OrderBand, s"bucket $b")
    }
    val lines = lake.seedFrame.groupBy("l_orderkey").agg(count(lit(1)).as("n"))
      .filter(col("n") =!= 4).count()
    assert(lines === 0L, "every seeded order has four lines")
  }

  test("a delete band lies inside one bucket's seeded orders") {
    val lake = new Lake(spark, 9L, Workloads.LakeSlots, "unused", "unused", "unused",
      Lake.History)
    val d = Lake.History.indices.map(lake.op).filter(_.kind == "delete_where")
    assert(d.nonEmpty)
    d.foreach { o =>
      val b = o.buckets.head
      assert(o.lo >= b * Gen.OrderBand && o.lo + o.width < b * Gen.OrderBand + lake.seedOrders)
    }
  }

  test("the same seed gives the same schedule and inputs") {
    def inputs(seed: Long) = {
      val lake = new Lake(spark, seed, 1L << 13, "unused", "unused", "unused")
      (0 until Lake.Cycle.size).map(lake.op).map { o =>
        o -> (if (o.buckets.nonEmpty) Gen.fingerprint(lake.batch(o), Gen.LakeCols)
              else null)
      }
    }
    assert(inputs(3L) === inputs(3L))
    assert(inputs(3L) !== inputs(4L))
  }
}
