package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.GenTable

/** Spark jobs per GenTable commit, on a table with a bloom column and
  * tracked long and timestamp columns (the shape that once paid a frame
  * freeze plus a second sidecar aggregate per commit). Job counts do not
  * move with machine load, so each budget is an exact upper bound: a
  * change that re-adds a freeze or an aggregate to a commit fails here.
  * Lower a budget when a change removes a job.
  */
class GenTableJobCountSpec extends SparkSpec {
  import spark.implicits._

  // measured: each commit stage is the write plus one aggregate over the
  // written files (the bloom sidecar and the timestamp band together)
  private val Budget = Map("upsert" -> 7, "merge" -> 13, "deleteKeys" -> 8,
    "deleteWhere" -> 6, "compact" -> 4)

  /** The Spark jobs `f` submits, picked out of the listener bus by a job
    * group. The bus is asynchronous but delivers in order, so once a
    * marker job submitted after `f` arrives, every job of `f` has.
    */
  private def jobsOf(f: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"graft-jobcount-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .orNull match {
          case `group` => jobs.incrementAndGet()
          case g if g == s"$group-end" => drained.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "GenTable job count")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-end", "GenTable job count marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus never drained")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  private def rowsOf(keys: Seq[Long], ver: Long): DataFrame =
    keys.toDF("k")
      .withColumn("bucket", pmod(col("k"), lit(8)).cast("int"))
      .withColumn("ver", lit(ver))
      .withColumn("n", col("k") * 10 + col("ver"))
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("k") * 61L))
      .withColumn("payload", concat(lit("row-"), col("k").cast("string")))

  test("commit job counts stay within budget on a bloom + timestamp table") {
    val dir = tempDir("graft_jobcount_")
    GenTable.upsertBatch(rowsOf(0L until 4000L, 1L), dir, "k", Seq("ver"),
      "bucket", statsCols = Seq("n", "ts"), bloomCols = Seq("k"))
    val counts = Map(
      "upsert" -> jobsOf(GenTable.upsertBatch(
        rowsOf((0L until 40L).map(_ * 8 + 1) ++
          (4000L until 4040L).map(_ * 8 + 2), 2L),
        dir, "k", Seq("ver"), "bucket")),
      "merge" -> jobsOf(GenTable.merge(
        rowsOf((0L until 20L).map(_ * 8 + 3) ++ Seq(90003L, 90011L), 3L),
        dir, "k")),
      "deleteKeys" -> jobsOf(GenTable.deleteKeys(
        Seq(4L, 12L, 20L, 5L).toDF("k"), dir, "k",
        pmod(col("k"), lit(8)).cast("int"))),
      "deleteWhere" -> jobsOf(GenTable.deleteWhere(spark, dir,
        col("n").between(20000L, 20500L))),
      "compact" -> jobsOf(GenTable.compact(spark, dir, 1000L)))
    info(counts.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
    val over = counts.filter { case (op, n) => n > Budget(op) }
    assert(over.isEmpty, s"over budget (jobs > budget): " +
      over.map { case (op, n) => s"$op $n > ${Budget(op)}" }.mkString(", "))
  }
}
