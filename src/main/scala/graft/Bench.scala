package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): times every registered query at the
  * given scale factor and prints one JSON line. A short warm-up pass runs
  * first so the first timed query doesn't absorb JVM/codegen/session
  * startup (~5s otherwise lands on whichever query hash-orders first).
  *
  * UNLOSEABLE BY DESIGN (the round-15 driver run was killed at the cap
  * with rc=124 and, because output happened only at the very end, left
  * NO perf record): the current result line is re-rendered and persisted
  * (write-then-atomic-rename) after EVERY completed pass, a JVM shutdown
  * hook prints/persists the latest line on SIGTERM so a timeout kill
  * still yields a parseable artifact of the passes that finished, and
  * the anchor defense is bounded by a WALL-CLOCK deadline (env
  * `SPARK_GRAFT_BENCH_DEADLINE_SEC`, or derived as
  * `passes_start + nRuns x firstPassTime x 1.5`): near the deadline a
  * contaminated pass is KEPT (`anchor_ok:false`) instead of retried, and
  * past it the run stops early once >= 2 passes are in
  * (`runs_done` < `runs`). `anchor_ok=false` with data beats rc=124
  * with nothing.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val tStart = System.nanoTime()
    def nowSec: Double = (System.nanoTime() - tStart) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

    // persistence first, so even a pre-Spark failure leaves an artifact.
    // default filename is bench_driver.json (gitignored): the per-round
    // driver runs on a loaded box, and its output repeatedly overwrote
    // the committed quiet-run artifact bench_out.json — quiet runs of
    // record set SPARK_GRAFT_BENCH_OUT=bench_out.json explicitly
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_driver.json"))
    def persist(line: String): Unit = try {
      // write-then-rename: a kill mid-write leaves the previous COMPLETE
      // line, never a truncated JSON prefix
      val tmp = outPath.resolveSibling(outPath.getFileName.toString + ".tmp")
      java.nio.file.Files.write(tmp, (line + "\n").getBytes("UTF-8"))
      try java.nio.file.Files.move(tmp, outPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
        java.nio.file.Files.move(tmp, outPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING) }
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] could not persist bench_out: ${e.getMessage}")
    }
    @volatile var lastLine: String =
      s"""{"metric":"total","value":-1.0,"unit":"sec","queries":{},"sf":"$sfDir","runs_done":0,"partial":true,"error":"killed before the first pass completed"}"""
    @volatile var finalEmitted = false
    // SIGTERM (the driver's `timeout` kill) runs shutdown hooks: the
    // latest completed-pass line still reaches stdout AND the artifact
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      if (!finalEmitted) { println(lastLine); persist(lastLine) }
    }))
    persist(lastLine)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // bytes-derived AQE coalescing, same setting as Sessions.local
      // (guide §2.2): micro-shuffles stop paying one task per core
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // default 100 generated-class entries: with ~100 query plans per
      // pass, the big signature-stage classes (d02/d03) evict and
      // recompile EVERY pass — measured ~3.5s of d02's 5.5s was Janino
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm-up: exercise scan+agg, window, and text paths untimed
    Seq("q01_pricing_summary", "w03_running_revenue", "t01_text_stats").foreach { q =>
      try SparkEntry.queries(q)(spark, sfDir).count()
      catch { case _: Throwable => () }
    }
    // BASELINE.md protocol: median of 3 runs per query (n=1 is noise-bound)
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    def timeOnce(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val out = try {
        fn(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          -1.0 // a crashed query reports -1, never a normal-looking duration
      }
      // lifecycle queries return a localCheckpoint; once counted, its
      // blocks are dead weight — left cached they accumulate across the
      // pass and the block-manager residue drags LATER queries' medians
      // (measured: d04's pass-min stayed at its round-11 value while its
      // median tripled). Cleanup runs OUTSIDE the timer: harness hygiene,
      // not query cost.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      out
    }
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    // load anchor: a fixed cheap calibration query timed immediately before
    // and after every pass. Box contention between rounds shows up as
    // anchor drift, so a regression table can tell "the code got slower"
    // from "the box was loaded" (r3->r4 medians swung up to 3x, and the
    // r5 driver record 70x, with zero code change). The anchor DEFENDS
    // the run, not just annotates it: a pass whose bracketing anchors
    // drift >3x above the quietest anchor seen is discarded and re-run —
    // but only while the wall-clock deadline allows; near it, the
    // contaminated pass is kept and anchor_ok goes false instead.
    val anchorName = "q01_pricing_summary"
    val anchorFn = SparkEntry.queries(anchorName)
    val anchorFloor = 0.05 // below this, ratios measure timer noise, not load
    val maxExtraPasses = 3
    val anchors = scala.collection.mutable.ArrayBuffer.empty[Double]
    val keptPasses = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    var contaminatedKept = 0 // kept under pressure (retry budget/deadline)
    var extrasUsed = 0

    val passesStartSec = nowSec
    var firstPassSec = -1.0 // measured from the first completed pass
    def deadlineAt: Double = sys.env.get("SPARK_GRAFT_BENCH_DEADLINE_SEC")
      .map(_.toDouble).getOrElse(
        if (firstPassSec > 0) passesStartSec + nRuns * firstPassSec * 1.5
        else Double.MaxValue)
    // "would one more pass overrun?" — the only projection we can make
    def nearDeadline: Boolean =
      firstPassSec > 0 && nowSec + firstPassSec > deadlineAt

    def render(done: Boolean): String = {
      val samples = keptPasses.toSeq
      val results = names.map { case (name, _) =>
        val runs = samples.map(_.find(_._1 == name).get._2)
        val median =
          if (runs.isEmpty || runs.exists(_ < 0)) -1.0
          else runs.sorted.apply(runs.size / 2)
        name -> median
      }
      // per-query MIN alongside the median: min is the noise-robust
      // wall-clock statistic (contention only ever ADDS time), so a
      // loaded run's mins still lower-bound the engine's true cost
      val mins = names.map { case (name, _) =>
        val runs = samples.map(_.find(_._1 == name).get._2)
        name -> (if (runs.isEmpty || runs.exists(_ < 0)) -1.0 else runs.min)
      }
      val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val qsMin = mins.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      val total = results.map(_._2).filter(_ >= 0).sum
      val anchorJson = anchors.map(a => f"$a%.3f").mkString("[", ",", "]")
      val anchorOk = contaminatedKept == 0
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"queries_min":$qsMin,"sf":"$sfDir","runs":$nRuns,"runs_done":${samples.size},"partial":${!done},"elapsed_sec":${f"$nowSec%.1f"},"anchor":{"query":"$anchorName","samples":$anchorJson,"ok":$anchorOk,"retries":$extrasUsed}}"""
    }

    var aPre = timeOnce(anchorName, anchorFn)
    anchors += aPre
    var stop = false
    while (keptPasses.size < nRuns && !stop) {
      val passT0 = nowSec
      val passSamples = names.map { case (name, fn) => name -> timeOnce(name, fn) }
      val aPost = timeOnce(anchorName, anchorFn)
      anchors += aPost
      if (firstPassSec < 0) firstPassSec = nowSec - passT0
      val clean = anchors.filter(_ >= 0)
      // a crashed anchor query (-1 samples) disables the defense rather
      // than dividing by garbage: treat the run as quiet, anchor_ok stays
      // judgeable from the raw samples array
      val ref = math.max(if (clean.isEmpty) Double.MaxValue else clean.min, anchorFloor)
      val quiet = clean.isEmpty || math.max(aPre, aPost) <= 3.0 * ref
      if (quiet || extrasUsed >= maxExtraPasses || nearDeadline) {
        keptPasses += passSamples
        if (!quiet) contaminatedKept += 1
      } else extrasUsed += 1 // discard the loaded pass and re-run it
      aPre = aPost
      // past the deadline with a defensible sample (>= 2 kept passes),
      // stop early — runs_done < runs records the degradation
      if (keptPasses.size >= 2 && nearDeadline) stop = true
      // persist progress: everything up to here survives any later kill
      lastLine = render(done = keptPasses.size >= nRuns || stop)
      persist(lastLine)
    }
    val line = render(done = true)
    lastLine = line
    finalEmitted = true
    println(line)
    // The driver captures a bounded tail of stdout, which truncates the
    // head of the per-query map on a 215-query suite; the artifact file
    // carries the full line for every round's regression table.
    persist(line)
    spark.stop()
  }
}
