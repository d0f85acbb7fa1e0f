package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One call (or one Spark job inside a call). Times are epoch milliseconds
  * with sub-millisecond fractions for call spans; `parent` is the id of
  * the span that caused this one (0 = the run itself).
  */
final case class Span(id: Long, name: String, start: Double, end: Double,
    parent: Long, run: String, attrs: Map[String, Double])

/** In-memory spans around each engine call, plus a SparkListener that
  * attributes every Spark job to the call that submitted it. Attribution
  * rides a local property set on the calling thread; Spark copies local
  * properties into the jobs a call submits (and into the threads a
  * streaming query starts), so jobs run on helper threads are attributed
  * too. Nothing is written until [[write]] at the end of the run.
  */
final class Tracer(sc: SparkContext, val runId: String) extends SparkListener {
  import Tracer._

  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1L
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  private final class JobAcc(val parent: Long, val start: Double) {
    var stages = 0L; var tasks = 0L; var failedTasks = 0L
    var runMs = 0L; var shuffleBytes = 0L; var inputBytes = 0L
    var inputRecords = 0L; var outputBytes = 0L
  }
  private val jobs = mutable.Map[Int, JobAcc]()
  private val stageToJob = mutable.Map[Int, Int]()

  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  /** Runs `f` as one traced call named `layer.op`; returns its result and
    * its span id. The caller owns the wall-clock timing; the span is the
    * tracer's own record of the same interval.
    */
  def call[A](name: String)(f: => A): (A, Long) = {
    val id = synchronized { val i = nextId; nextId += 1; i }
    sc.setLocalProperty(SpanProperty, id.toString)
    val t0 = nowMs
    try {
      val r = f
      val t1 = nowMs
      synchronized { spans += Span(id, name, t0, t1, 0L, runId, Map.empty) }
      (r, id)
    } finally {
      sc.setLocalProperty(SpanProperty, null)
      org.apache.spark.PerfbenchBus.drain(sc)
    }
  }

  /** Opens a span whose interval is only known later (a pipeline stage:
    * the runner reports its wall when the run ends). Jobs submitted from
    * now on are attributed to it, until the next [[begin]] or [[call]].
    */
  def begin(): (Long, Double) = {
    val id = synchronized { val i = nextId; nextId += 1; i }
    sc.setLocalProperty(SpanProperty, id.toString)
    (id, nowMs)
  }

  def addSpan(s: Span): Unit = synchronized { spans += s }

  /** Adds counters measured outside the call (file listings, plan
    * timings) to a call span.
    */
  def annotate(id: Long, attrs: Map[String, Double]): Unit = synchronized {
    val i = spans.indexWhere(_.id == id)
    if (i >= 0) spans(i) = spans(i).copy(attrs = spans(i).attrs ++ attrs)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    jobs(e.jobId) = new JobAcc(parent, e.time.toDouble)
    e.stageIds.foreach(s => stageToJob(s) = e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (e.taskInfo != null && e.taskInfo.failed) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRecords += m.inputMetrics.recordsRead
        j.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { j =>
      val id = nextId; nextId += 1
      spans += Span(id, "spark.job", j.start, e.time.toDouble, j.parent, runId,
        Map("stages" -> j.stages.toDouble, "tasks" -> j.tasks.toDouble,
          "failed_tasks" -> j.failedTasks.toDouble,
          "executor_run_s" -> j.runMs / 1000.0,
          "shuffle_bytes" -> j.shuffleBytes.toDouble,
          "input_bytes" -> j.inputBytes.toDouble,
          "input_records" -> j.inputRecords.toDouble,
          "output_bytes" -> j.outputBytes.toDouble))
    }
  }

  def snapshot: Seq[Span] = synchronized(spans.toList)

  /** Writes the spans as JSON lines. */
  def write(path: String): Unit = {
    val sb = new StringBuilder
    snapshot.foreach { s =>
      sb ++= s"""{"id":${s.id},"name":${Json.str(s.name)},"start":${s.start},"end":${s.end},"parent":${s.parent},"run":${Json.str(s.run)},"attrs":${Json.obj(s.attrs)}}"""
      sb += '\n'
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/** Minimal JSON rendering for the run's raw record. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  }.mkString("\"", "", "\"")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }
      .mkString("{", ",", "}")
}
