package perfbench

import java.nio.file.{Files, Paths}

/** One benchmark run:
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <scratch dir> --out <record.json>
  * }}}
  * Starts a `local[<cores>]` session, seeds the workload (untraced: several times,
  * the median counts), then issues calls from one client thread, each
  * after the previous one returned (a closed loop, like the reference's
  * `glue:startJobRun.sync` caller). Untraced runs loop for `--seconds`,
  * then finish the workload's current cycle. A traced run makes four
  * passes of one cycle each: warm-up, untraced, traced, untraced. Its job
  * counts repeat exactly, and the tracing overhead compares the traced
  * pass with its untraced neighbours. Output checks run after the clock
  * stops. The raw record goes to `--out`; `perfbench/run.py` turns
  * it into metrics.
  */
object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val work = args("work")
    Files.createDirectories(Paths.get(work))

    val rec = new Record(workload, seed, trace)
    val t0 = System.nanoTime()
    val spark = graft.Sessions.local("perfbench", Runtime.getRuntime.availableProcessors)
    spark.sparkContext.setLogLevel("ERROR")
    rec.sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val ctx = new Ctx(spark, work, seed)
      if (trace) rec.noopS += noop(spark)
      val w = Workloads(workload, ctx)
      // a traced run reports no set-up time, so it seeds once
      (0 until (if (trace) 1 else SetupReps)).foreach { rep =>
        val s0 = System.nanoTime()
        w.seedInputs(rep)
        rec.setupReps += (System.nanoTime() - s0) / 1e9
      }
      rec.setupOnceS = w.prepare()
      if (trace) rec.noopS += noop(spark)
      if (!trace) {
        // the clock is the client's waiting time (per-call output checks
        // between calls do not count); the loop ends on a cycle boundary
        var i = 0
        while (i == 0 || rec.timedS < seconds || i % w.cycle != 0) {
          val c = w.call(i)
          rec.calls += c
          rec.timedS += c.wall
          i += 1
        }
      } else {
        // a warm-up pass, then untraced, traced and untraced passes of
        // one cycle each: the overhead compares the traced pass with the
        // mean of its two warm neighbours, so a linear warm-up drift cancels
        val n = w.cycle
        def pass(k: Int) = (k * n until (k + 1) * n).map(w.call)
        pass(0)
        rec.untracedPasses += pass(1)
        val tracer = new Tracer(spark.sparkContext, s"$workload-$seed")
        spark.sparkContext.addSparkListener(tracer)
        ctx.tracer = Some(tracer)
        rec.calls ++= pass(2)
        rec.timedS = rec.calls.map(_.wall).sum
        ctx.tracer = None
        spark.sparkContext.removeSparkListener(tracer)
        rec.untracedPasses += pass(3)
        rec.spansFile = args("out").stripSuffix(".json") + ".spans.jsonl"
        tracer.write(rec.spansFile)
      }
      if (trace) rec.noopS += noop(spark)
      val c0 = System.nanoTime()
      try w.check(rec)
      catch { case e: Exception => rec.check("checks ran", ok = false, e.toString) }
      rec.extra("check_s") = (System.nanoTime() - c0) / 1e9
    } finally {
      Files.writeString(Paths.get(args("out")), rec.json)
      spark.stop()
    }
  }

  /** Median of five one-row actions: the box's per-action floor now.
    * Only traced runs take it: it is a per-layer metric.
    */
  def noop(spark: org.apache.spark.sql.SparkSession): Double = {
    val xs = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      spark.range(1).count()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    xs(2)
  }
}
