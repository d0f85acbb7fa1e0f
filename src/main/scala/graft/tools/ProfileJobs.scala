package graft.tools

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-Spark-job wall breakdown of one query — where inside a lifecycle
  * gate the seconds actually go. Not API.
  *
  * Usage: runMain graft.tools.ProfileJobs <sfDir> <query[,query...]> [reps]
  * Prints to stdout one line per job (duration, driver gap since the
  * previous job, #tasks, description/callsite) plus the closure-build vs
  * count split.
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val qname = args(1)
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = graft.Sessions.local("profilejobs", 32)
    spark.sparkContext.setLogLevel("ERROR")
    val out = Console.out

    case class Job(id: Int, t0: Long, var t1: Long = -1L,
      var tasks: Int = 0, desc: String)
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse(e.stageInfos.map(si =>
            si.name.split(" at ").lastOption.getOrElse("?") + "::" +
              si.details.linesIterator
                .find(l => l.contains("graft") && !l.contains("tools."))
                .getOrElse("").trim.takeRight(60)).mkString(" | ").take(300))
        jobs(e.jobId) = Job(e.jobId, e.time,
          tasks = e.stageInfos.map(_.numTasks).sum, desc = d)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.t1 = e.time)
      }
    })

    for (q <- qname.split(',').toSeq; rep <- 1 to reps) {
      val fn = graft.SparkEntry.queries(q)
      jobs.synchronized(jobs.clear())
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val tBuild = System.nanoTime()
      val n = df.count()
      val tCount = System.nanoTime()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      out.println(f"== $q rep$rep rows=$n build=${(tBuild - t0) / 1e9}%.3f s count=${(tCount - tBuild) / 1e9}%.3f s total=${(tCount - t0) / 1e9}%.3f s")
      jobs.synchronized {
        val js = jobs.values.toSeq
        val totalJob = js.filter(_.t1 > 0).map(j => j.t1 - j.t0).sum
        out.println(f"   jobs=${js.size} sum_job_wall=${totalJob / 1e3}%.3f s")
        var prevEnd = -1L
        js.foreach { j =>
          val dur = if (j.t1 > 0) (j.t1 - j.t0) / 1e3 else -1.0
          val gap = if (prevEnd > 0) (j.t0 - prevEnd) / 1e3 else 0.0
          if (j.t1 > 0) prevEnd = j.t1
          out.println(f"   job ${j.id}%4d ${dur}%8.3f s gap=${gap}%6.3f tasks=${j.tasks}%4d  ${j.desc.take(140)}")
        }
      }
      out.flush()
    }
    spark.stop()
  }
}
