package graft

import org.apache.spark.sql.functions._
import graft.runner.PipelineRunner
import graft.runner.PipelineRunner.{EngineConfig, StageResult}

class PipelineRunnerSpec extends SparkSpec {

  // Spark jobs per canned pipeline at sf0.001: a stage runs its own jobs
  // only (its row count rides on its write, its upstream reads take their
  // schema from a footer). Job counts do not move with machine load, so a
  // budget is an exact upper bound; lower it when a change removes a job.
  // With a count re-read per stage, schema-inferring upstream reads and a
  // checkpointed validation report the same pipelines measured
  // orders_job=37 and corpus_prep=165.
  private val JobBudget = Map("orders_job" -> 17, "corpus_prep" -> 89)

  /** Runs `stages` into `cfg` and checks their Spark jobs against the
    * budget of `pipeline`.
    */
  private def runWithin(pipeline: String, cfg: EngineConfig,
      stages: Seq[PipelineRunner.Stage]): Seq[StageResult] = {
    var results = Seq.empty[StageResult]
    val jobs = jobsOf { results = PipelineRunner.run(spark, cfg, stages) }
    info(s"$pipeline jobs=$jobs")
    assert(jobs <= JobBudget(pipeline),
      s"$pipeline: $jobs jobs > budget ${JobBudget(pipeline)}")
    results
  }

  /** Every stage's reported rows equal a plain re-read's count, and
    * `output` reads the stage with the schema inference gives.
    */
  private def assertReadsBack(cfg: EngineConfig, results: Seq[StageResult]): Unit =
    results.foreach { r =>
      val plain = spark.read.parquet(s"${cfg.outputDir}/${r.stage}")
      assert(r.rows === plain.count(), r.stage)
      assert(PipelineRunner.output(spark, cfg, r.stage).schema === plain.schema, r.stage)
    }

  test("ordersJob runs all stages and writes a manifest") {
    val out = tempDir("graft_run")
    val cfg = EngineConfig("dev", sf, out)
    val results = runWithin("orders_job", cfg, PipelineRunner.ordersJobStages)
    assert(results.map(_.status) === Seq("ok", "ok", "ok", "ok", "ok"))
    assertReadsBack(cfg, results)
    assert(results.last.rows === 5) // five market segments
    val manifest = java.nio.file.Files.readString(java.nio.file.Paths.get(s"$out/manifest.json"))
    assert(manifest.contains("\"env\":\"dev\"") && manifest.contains("segment_revenue"))
    assert(spark.read.parquet(s"$out/segment_revenue").count() === 5)
    // the crawler step persisted one profile row per declared column
    val prof = spark.read.parquet(s"$out/profile_orders")
    assert(prof.count() === 6)
    assert(prof.filter(org.apache.spark.sql.functions.col("n_null") =!= 0L).count() === 0)
  }

  test("corpus preparation pipeline runs end to end and shrinks monotonically") {
    val out = tempDir("graft_corpus")
    val cfg = EngineConfig("dev", sf, out)
    val results = runWithin("corpus_prep", cfg, PipelineRunner.corpusPrepStages())
    assert(results.map(_.status).forall(_ == "ok"), results.mkString(", "))
    assertReadsBack(cfg, results)
    val byStage = results.map(r => r.stage -> r.rows).toMap
    assert(byStage("ingest_documents") === 500)
    // scrub and annotate are row-preserving
    assert(byStage("pii_scrub") === 500)
    assert(byStage("annotate_quality") === 500)
    // each cleaning stage can only remove documents
    assert(byStage("exact_dedup") <= byStage("annotate_quality"))
    assert(byStage("near_dedup") <= byStage("exact_dedup"))
    assert(byStage("quality_gate") <= byStage("near_dedup"))
    assert(byStage("quality_gate") > 0)
    // classifier annotation is row-preserving and every doc gets a verdict
    assert(byStage("classifier_annotate") === byStage("quality_gate"))
    val clf = spark.read.parquet(s"$out/classifier_annotate")
    assert(clf.filter(col("clf_llr_micro").isNull || col("pred_hq").isNull)
      .count() === 0)
    // the LM gate drops the high-perplexity tail of the rule-gated corpus
    assert(byStage("lm_gate") <= byStage("classifier_annotate"))
    assert(byStage("lm_gate") > 0)
    // tokenization is row-preserving over the final corpus, and BPE can
    // only produce at least one subword per token
    assert(byStage("bpe_tokenize") === byStage("lm_gate"))
    val bpe = spark.read.parquet(s"$out/bpe_tokenize")
    assert(bpe.filter(col("n_subwords") < col("n_tokens")).count() === 0)
    // chunking can only multiply surviving docs; packing keeps one row per doc
    assert(byStage("chunk_documents") >= byStage("lm_gate"))
    assert(byStage("pack_shards") === byStage("lm_gate"))
    // every pack respects the budget up to one straddling document
    val overBudget = spark.read.parquet(s"$out/pack_shards")
      .groupBy(col("lang_guess"), col("pack_id"))
      .agg(sum(col("n_tokens")).as("pack_tokens"), max(col("n_tokens")).as("max_doc"))
      .filter(col("pack_tokens") > lit(65536L) + col("max_doc"))
      .count()
    assert(overBudget === 0L)
    // holdout: at most 25 docs per language, all from the gated corpus
    val holdout = spark.read.parquet(s"$out/holdout_sample")
    assert(holdout.groupBy("lang_guess").count()
      .collect().forall(_.getLong(1) <= 25))
    assert(holdout.join(spark.read.parquet(s"$out/lm_gate"), "doc_id").count()
      === holdout.count())
    // phrased corpus: row-preserving over the final corpus, and rewriting
    // can only shrink the whitespace token count (merges join two tokens)
    assert(byStage("phrase_corpus") === byStage("lm_gate"))
    val phrased = spark.read.parquet(s"$out/phrase_corpus")
      .select(size(split(col("phrased_text"), " ")).as("n_ph"))
      .agg(min(col("n_ph"))).head().getInt(0)
    assert(phrased > 0)
    // split assignment: row-preserving, no fingerprint family straddles
    assert(byStage("split_assign") === byStage("lm_gate"))
    assert(spark.read.parquet(s"$out/split_assign")
      .groupBy("fp").agg(countDistinct(col("split")).as("n"))
      .filter(col("n") > 1).count() === 0)
    // stats cover every language present in the gated corpus
    val langs = spark.read.parquet(s"$out/corpus_stats").count()
    assert(langs > 0 && langs <= 6)
  }

  test("promote: smoke tier gates the full tier (E1 lifecycle)") {
    // happy path: the orders job validates at the sf0.001 smoke tier and
    // only then executes at the sf0.01 full tier
    val smokeOut = tempDir("graft_smoke")
    val fullOut = tempDir("graft_full")
    val r = PipelineRunner.promote(spark,
      EngineConfig("dev", sf, smokeOut),
      EngineConfig("test", sf01, fullOut),
      PipelineRunner.ordersJobStages)
    assert(r.promoted, r.smoke.mkString(", "))
    assert(r.full.get.forall(_.status == "ok"), r.full.get.mkString(", "))
    assert(spark.read.parquet(s"$fullOut/segment_revenue").count() === 5)
  }

  test("promote: a seeded violation at smoke BLOCKS the full run") {
    import spark.implicits._
    val smokeIn = tempDir("graft_badin")
    val smokeOut = tempDir("graft_smoke2")
    val fullOut = tempDir("graft_full2")
    // seed a constraint violation into the smoke input: a null custkey
    Seq((Some(1L), 10.0), (None: Option[Long], 20.0))
      .toDF("o_custkey", "o_totalprice")
      .write.parquet(s"$smokeIn/batch")
    val stages: Seq[PipelineRunner.Stage] = Seq(
      "ingest" -> { (s, cfg) => s.read.parquet(s"${cfg.inputDir}/batch") },
      "validate" -> { (s, cfg) =>
        import graft.operators.Validate
        val rep = Validate.report(PipelineRunner.output(s, cfg, "ingest"),
          Seq(Validate.notNull("o_custkey"))).localCheckpoint(true)
        val bad = rep.filter(!col("pass")).collect()
        require(bad.isEmpty, s"constraint violations: ${bad.mkString("; ")}")
        rep
      },
      "aggregate" -> { (s, cfg) =>
        PipelineRunner.output(s, cfg, "ingest")
          .agg(sum(col("o_totalprice")).as("total"))
      })
    val r = PipelineRunner.promote(spark,
      EngineConfig("dev", smokeIn, smokeOut),
      EngineConfig("test", sf01, fullOut), stages)
    assert(!r.promoted)
    assert(r.full.isEmpty)
    // the constraint's require is what failed, not a read of the ingest
    assert(r.smoke.map(_.status) ===
      Seq("ok", "failed: IllegalArgumentException", "skipped"), r.smoke.mkString(", "))
    // nothing behind the failed gate is published, even if it ran
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$smokeOut/aggregate")))
    // the full environment was never touched: no stage output, no manifest
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$fullOut/manifest.json")))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$fullOut/aggregate")))
  }

  test("a failing stage stops the run and marks the rest skipped") {
    val out = tempDir("graft_run_fail")
    val stages: Seq[PipelineRunner.Stage] = Seq(
      "ok_stage" -> ((s, cfg) => graft.sources.Tables(s, cfg.inputDir).region),
      "boom" -> ((s, _) => s.read.parquet("/nonexistent/path")),
      "never" -> ((s, cfg) => graft.sources.Tables(s, cfg.inputDir).nation))
    val results = PipelineRunner.run(spark, EngineConfig("dev", sf, out), stages)
    assert(results.map(_.status).head === "ok")
    assert(results(1).status.startsWith("failed"))
    assert(results(2) === StageResult("never", 0L, 0L, "skipped"))
  }

  test("a two-stage pipeline of trivial frames submits one job per stage") {
    val cfg = EngineConfig("dev", sf, tempDir("graft_run_jobs"))
    var results = Seq.empty[StageResult]
    val jobs = jobsOf {
      results = PipelineRunner.run(spark, cfg, Seq(
        "numbers" -> ((s, _) => s.range(0, 1000, 1, 4).toDF()),
        "copy" -> ((s, c) => PipelineRunner.output(s, c, "numbers"))))
    }
    assert(results.map(r => (r.rows, r.status)) === Seq((1000L, "ok"), (1000L, "ok")))
    // with a count re-read per stage and a schema-inferring upstream read
    // the same pipeline submitted 9
    assert(jobs === 2)
  }

  test("an empty stage output counts 0 rows, reads back and feeds the next stage") {
    val cfg = EngineConfig("dev", sf, tempDir("graft_run_empty"))
    val results = PipelineRunner.run(spark, cfg, Seq(
      // empty at run time (the scan's rows all fail the filter) ...
      "no_regions" -> ((s, c) =>
        graft.sources.Tables(s, c.inputDir).region.filter(col("r_regionkey") < 0)),
      // ... and empty at plan time (the optimizer drops the scan)
      "no_nations" -> ((s, c) =>
        graft.sources.Tables(s, c.inputDir).nation.filter(lit(false))),
      "region_count" -> ((s, c) =>
        PipelineRunner.output(s, c, "no_regions").agg(count(lit(1)).as("n"))),
      "nation_names" -> ((s, c) =>
        PipelineRunner.output(s, c, "no_nations").select(col("n_name")))))
    assert(results.map(r => (r.stage, r.rows, r.status)) === Seq(
      ("no_regions", 0L, "ok"), ("no_nations", 0L, "ok"),
      ("region_count", 1L, "ok"), ("nation_names", 0L, "ok")))
    val t = graft.sources.Tables(spark, sf)
    assert(PipelineRunner.output(spark, cfg, "no_regions").columns === t.region.columns)
    assert(PipelineRunner.output(spark, cfg, "no_nations").columns === t.nation.columns)
    assert(PipelineRunner.output(spark, cfg, "region_count").head().getLong(0) === 0L)
  }

  test("a write that fails while executing marks the stage failed without waiting on its count") {
    val cfg = EngineConfig("dev", sf, tempDir("graft_run_udf_fail"))
    val boom = udf((id: Long) => {
      if (id >= 0) throw new IllegalStateException(s"boom at $id")
      id
    })
    val stages: Seq[PipelineRunner.Stage] = Seq(
      "numbers" -> ((s, _) => s.range(0, 100, 1, 2).toDF()),
      "boom" -> ((s, c) => PipelineRunner.output(s, c, "numbers").select(boom(col("id")).as("id"))),
      "never" -> ((s, c) => PipelineRunner.output(s, c, "boom")))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val results = Await.result(Future(PipelineRunner.run(spark, cfg, stages)), 2.minutes)
    assert(results.map(_.stage) === Seq("numbers", "boom", "never"))
    assert(results.head.status === "ok")
    assert(results(1).status.startsWith("failed"), results(1).status)
    assert(results(2) === StageResult("never", 0L, 0L, "skipped"))
  }

  test("independent stages run at once: both meet at one barrier") {
    val cfg = EngineConfig("dev", sf, tempDir("graft_run_barrier"))
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def meet(name: String): PipelineRunner.Stage = name -> { (s, c) =>
      val in = PipelineRunner.output(s, c, "numbers")
      // a sequential runner enters the second stage only after the first
      // returned, so the first would time out here
      barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
      in
    }
    val results = PipelineRunner.run(spark, cfg, Seq(
      "numbers" -> ((s, _) => s.range(0, 10, 1, 2).toDF()), meet("left"), meet("right")))
    assert(results.map(r => (r.stage, r.rows, r.status)) === Seq(
      ("numbers", 10L, "ok"), ("left", 10L, "ok"), ("right", 10L, "ok")))
  }

  test("a stage after a failed write is skipped and its output removed, even if it wrote") {
    val cfg = EngineConfig("dev", sf, tempDir("graft_run_unpublish"))
    val boom = udf((id: Long) => {
      // give the independent stage below time to finish its write first
      Thread.sleep(2000)
      if (id >= 0) throw new IllegalStateException(s"boom at $id")
      id
    })
    val stages: Seq[PipelineRunner.Stage] = Seq(
      "numbers" -> ((s, _) => s.range(0, 4, 1, 1).toDF()),
      "boom" -> ((s, c) => PipelineRunner.output(s, c, "numbers").select(boom(col("id")).as("id"))),
      "independent" -> ((s, c) => PipelineRunner.output(s, c, "numbers")))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val results = Await.result(Future(PipelineRunner.run(spark, cfg, stages)), 2.minutes)
    assert(results.head.status === "ok")
    assert(results(1).status.startsWith("failed"), results(1).status)
    assert(results(2) === StageResult("independent", 0L, 0L, "skipped"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"${cfg.outputDir}/independent")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"${cfg.outputDir}/numbers")))
  }

  test("a read of a later stage fails at once and the run still ends") {
    val cfg = EngineConfig("dev", sf, tempDir("graft_run_forward"))
    val stages: Seq[PipelineRunner.Stage] = Seq(
      "first" -> ((s, _) => s.range(0, 10, 1, 1).toDF()),
      // reads a stage declared after it: no wait, the directory is absent
      "early" -> ((s, c) => PipelineRunner.output(s, c, "late")),
      "late" -> ((s, c) => PipelineRunner.output(s, c, "first")),
      "after" -> ((s, c) => PipelineRunner.output(s, c, "early")))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val results = Await.result(Future(PipelineRunner.run(spark, cfg, stages)), 2.minutes)
    assert(results.head.status === "ok")
    assert(results(1).status.startsWith("failed"), results(1).status)
    assert(results.drop(2) === Seq(
      StageResult("late", 0L, 0L, "skipped"), StageResult("after", 0L, 0L, "skipped")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"${cfg.outputDir}/late")))
  }

  test("run returns only after its stage threads, all daemons, have ended") {
    val cfg = EngineConfig("dev", sf, tempDir("graft_run_threads"))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Thread]
    def probe(name: String, from: Option[String]): PipelineRunner.Stage = name -> { (s, c) =>
      seen.add(Thread.currentThread)
      from.map(PipelineRunner.output(s, c, _)).getOrElse(s.range(0, 5, 1, 1).toDF())
    }
    val results = PipelineRunner.run(spark, cfg, Seq(
      probe("t_source", None), probe("t_copy", Some("t_source")),
      probe("t_other", Some("t_source"))))
    assert(results.forall(_.status == "ok"), results.mkString(", "))
    import scala.jdk.CollectionConverters._
    val threads = seen.asScala.toSeq
    assert(threads.size === 3 && threads.distinct.size === 3)
    assert(!threads.contains(Thread.currentThread))
    assert(threads.forall(_.isDaemon))
    assert(threads.forall(!_.isAlive), threads.filter(_.isAlive).map(_.getName))
  }

  test("parseTriggers decodes the Lambda-shaped event payload") {
    import spark.implicits._
    val payloads = Seq(
      """{"env":"dev","job":"orders-job","detail":{"bucket":"b","key":"data/x.parquet"}}""",
      """{"env":"test","job":"orders-job","detail":{"bucket":"b2","key":"k2"}}"""
    ).toDF("payload")
    val got = PipelineRunner.parseTriggers(payloads, "payload")
      .collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(got === Set(("dev", "b"), ("test", "b2")))
  }
}
