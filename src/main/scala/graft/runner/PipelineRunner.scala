package graft.runner

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CompletableFuture, ConcurrentLinkedQueue, CountDownLatch, Executors}
import scala.util.control.ControlThrowable
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batch-job orchestration (SURVEY.md §3, M5) — the in-process analog of the
  * reference's control plane:
  *
  *  - E2 (Step Functions `${Env}-etl-workflow` running `${Env}-orders-job`,
  *    `Hoth/FHIR/cloudformations/lambda-stack.yml:42-55`): `run` runs
  *    named stages to completion, failing fast like
  *    `glue:startJobRun.sync`, and writes a structured run manifest where
  *    the reference would publish to SNS.
  *  - E3 (trigger Lambda `${Env}-etl-trigger`, `lambda-stack.yml:23-35`):
  *    `parseTrigger` decodes the event payload that would start a run.
  *  - Environment parameterization (`--ENV`, `lambda-stack.yml:19-21`):
  *    `EngineConfig` carries env/paths; code never hardcodes either.
  */
object PipelineRunner {

  final case class EngineConfig(env: String, inputDir: String, outputDir: String)

  final case class StageResult(stage: String, rows: Long, millis: Long, status: String)

  type Stage = (String, (SparkSession, EngineConfig) => DataFrame)

  /** Runs a pipeline to completion, failing fast like the state machine's
    * `.sync` task, and writes `outputDir/manifest.json`. Each stage's frame
    * is written to `outputDir/<stage>` as parquet. Its `rows` are counted
    * inside its write job (an `Observation` read after the write returns),
    * so the runner adds no Spark job of its own.
    *
    * Stages run at once, one daemon thread each. Every thread carries the
    * caller's Spark local properties (job group, description, scheduler
    * pool) and active session, so the jobs a stage submits are attributed
    * as if the caller had submitted them. The runner sets no job group.
    *  - Start order: the stages' threads start in declaration order; stage
    *    k+1 starts once stage k's function has made its first [[output]]
    *    call or has returned. Stage functions are thus entered one at a
    *    time, in order. No stage starts once one has failed, so a stage
    *    that fails while building its frame stops the run before the next
    *    stage starts.
    *  - Reads: a stage reads another stage's output only through
    *    [[output]], which waits for an earlier stage's write (see there).
    *    A raw `spark.read` of `outputDir/<stage>` may run before that stage
    *    has written.
    *  - Statuses are those a one-at-a-time run reports: each stage up to
    *    the first failure in declaration order reports its own status
    *    ("ok" or "failed: <exception class>"); every stage after it is
    *    "skipped" with 0 rows and 0 ms, whatever it did. Once all stage
    *    threads have ended, the output directory of every skipped stage
    *    that wrote in this run is deleted, so nothing behind a failed gate
    *    is published.
    *  - `millis` is a stage's wall from its thread's start to the end of
    *    its write, including the time it waited on upstream stages.
    *
    * Returns after every stage thread has ended; a failing run waits for
    * stages already running. A stage that throws a non-`Exception`
    * `Throwable` counts as a failure, and `run` rethrows it at the end.
    *
    * Session state the stages share: Spark runs jobs from concurrent
    * threads of one session, but a stage that changes session state does
    * so for every stage. In the operators stages run, such changes keep to
    * three patterns. `Corpus`'s bloom builds raise
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` and restore it
    * under one lock; the bracket only ever raises the cap, so a query
    * planned concurrently inside it sees a higher cap, never a lower one.
    * `GraftExtensions.register` adds only what the session lacks, so it
    * swaps no function under a concurrent plan. A persist/unpersist pair
    * over a plan that another running stage also caches shares one cache
    * entry; the first unpersist makes the other recompute, with the same
    * result.
    */
  def run(spark: SparkSession, config: EngineConfig, stages: Seq[Stage]): Seq[StageResult] = {
    val names = stages.map(_._1).toIndexedSeq
    require(names.distinct.size == names.size,
      s"stage names must be distinct: ${names.mkString(", ")}")
    Files.createDirectories(Paths.get(config.outputDir))
    val live = new Running(config.outputDir, names)
    val threads = new ConcurrentLinkedQueue[Thread]
    val pool = Executors.newFixedThreadPool(math.max(names.size, 1), { (task: Runnable) =>
      val t = new Thread(task, "PipelineRunner-stage")
      t.setDaemon(true)
      threads.add(t)
      t
    })
    try {
      var k = 0
      while (k < names.size && !live.failed) {
        val (name, fn) = stages(k)
        val me = k
        SQLExecution.withThreadLocalCaptured(
            spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], pool) {
          Thread.currentThread.setName(s"PipelineRunner-$name")
          live.outcome(me).complete(runStage(spark, config, live, me, fn))
          live.entered(me).countDown()
        }
        live.entered(k).await()
        k += 1
      }
    } finally {
      pool.shutdown()
      threads.forEach(_.join())
    }
    def skipped(k: Int) = StageResult(names(k), 0L, 0L, "skipped")
    val own = names.indices.map(k =>
      if (live.outcome(k).isDone) live.outcome(k).join() else skipped(k))
    val firstFailure = own.indexWhere(_.status.startsWith("failed"))
    val results = names.indices.map(k =>
      if (firstFailure >= 0 && k > firstFailure) skipped(k) else own(k))
    val conf = spark.sparkContext.hadoopConfiguration
    for (k <- names.indices if results(k).status == "skipped" && live.wrote(k)) {
      val dir = new Path(s"${config.outputDir}/${names(k)}")
      dir.getFileSystem(conf).delete(dir, true)
    }
    live.fatal.foreach(e => throw e)
    def esc(v: String): String = v.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    }
    val manifest = results.map { r =>
      s"""{"stage":"${esc(r.stage)}","rows":${r.rows},"millis":${r.millis},"status":"${esc(r.status)}"}"""
    }.mkString("[", ",", "]")
    Files.writeString(Paths.get(s"${config.outputDir}/manifest.json"),
      s"""{"env":"${esc(config.env)}","stages":$manifest}""")
    results
  }

  /** One `run` in flight: per stage, in declaration order, whether its
    * function has been entered far enough for the next stage to start,
    * its own outcome (before `run`'s status rule), and whether it
    * began its write.
    */
  private final class Running(val outputDir: String, val names: IndexedSeq[String]) {
    val entered: IndexedSeq[CountDownLatch] = names.map(_ => new CountDownLatch(1))
    val outcome: IndexedSeq[CompletableFuture[StageResult]] =
      names.map(_ => new CompletableFuture[StageResult])
    val wrote: Array[Boolean] = new Array[Boolean](names.size)
    @volatile var failed = false
    @volatile var fatal: Option[Throwable] = None
  }

  /** The stage a runner thread is running, for [[output]]. */
  private val current = new ThreadLocal[(Running, Int)]

  /** Thrown by [[output]] when the stage it waited on did not write: the
    * caller ends "skipped". A control throwable, so a stage's own
    * `NonFatal` handlers let it pass.
    */
  private final class UpstreamNotWritten extends ControlThrowable

  private def runStage(spark: SparkSession, config: EngineConfig, r: Running, k: Int,
      fn: (SparkSession, EngineConfig) => DataFrame): StageResult = {
    val name = r.names(k)
    val t0 = System.nanoTime()
    def failed(e: Throwable) = {
      r.failed = true
      StageResult(name, 0L, (System.nanoTime() - t0) / 1000000,
        s"failed: ${e.getClass.getSimpleName}")
    }
    current.set((r, k))
    try {
      val obs = Observation()
      val df = fn(spark, config).observe(obs, count(lit(1)).as("rows"))
      r.entered(k).countDown()
      r.wrote(k) = true
      df.write.mode("overwrite").parquet(s"${config.outputDir}/$name")
      // only reached once the write succeeded, so the metric is posted
      StageResult(name, obs.get("rows").asInstanceOf[Long],
        (System.nanoTime() - t0) / 1000000, "ok")
    } catch {
      case _: UpstreamNotWritten => StageResult(name, 0L, 0L, "skipped")
      case e: Exception => failed(e)
      case e: Throwable => r.fatal = Some(e); failed(e)
    } finally current.remove()
  }

  /** A stage's persisted output, read with the schema Spark recorded in
    * the footer of the stage's first data file (the
    * `org.apache.spark.sql.parquet.row.metadata` string that schema
    * inference would read), so opening it submits no Spark job. Every
    * runner-written stage directory holds at least one data file: Spark
    * writes an empty one when a stage produced no rows.
    *
    * Called by a stage of a running [[run]] into the same `outputDir`,
    * for a stage declared before the caller, it first blocks until that
    * stage has written; if that stage did not succeed, the caller ends
    * "skipped". Any other read (the caller itself, a later stage, a stage
    * not in the run, or a call from outside a run) reads at once, so
    * waits never form a cycle and a forward read still fails on a
    * directory that holds no data file. The first call of a stage lets
    * the next stage start.
    */
  def output(spark: SparkSession, cfg: EngineConfig, stage: String): DataFrame =
    current.get match {
      case (r, me) if r.outputDir == cfg.outputDir =>
        val up = r.names.indexOf(stage)
        if (up >= 0 && up < me) {
          r.entered(me).countDown()
          if (r.outcome(up).join().status != "ok") throw new UpstreamNotWritten
          read(spark, cfg, stage)
        } else try read(spark, cfg, stage) finally r.entered(me).countDown()
      case _ => read(spark, cfg, stage)
    }

  private def read(spark: SparkSession, cfg: EngineConfig, stage: String): DataFrame = {
    val dir = new Path(s"${cfg.outputDir}/$stage")
    val conf = spark.sparkContext.hadoopConfiguration
    val data = dir.getFileSystem(conf).listStatus(dir).filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    require(data.nonEmpty, s"stage output $dir holds no data file")
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromStatus(data.minBy(_.getPath.getName), conf))
    val json = try reader.getFooter.getFileMetaData.getKeyValueMetaData
      .get(ParquetReadSupport.SPARK_METADATA_KEY) finally reader.close()
    require(json != null, s"stage output $dir has no Spark schema in its footer")
    spark.read.schema(DataType.fromJson(json).asInstanceOf[StructType])
      .parquet(dir.toString)
  }

  // -- E1: environment promotion ----------------------------------------------

  final case class PromotionResult(smoke: Seq[StageResult], promoted: Boolean,
      full: Option[Seq[StageResult]])

  /** The reference's most elaborated flow as ONE command — dev deploy →
    * validate → approval gate → test promotion
    * (`Hoth/FHIR/cloudformations/pipeline-stack.yml:294-472`, manual gate at
    * `:396-406`): run `stages` against the SMOKE environment first; `gate`
    * inspects the smoke results (default: every stage status "ok", which
    * makes any Validate publish-gate violation — a thrown constraint — block
    * promotion); only a passing gate executes the FULL environment. A
    * blocked promotion leaves the full environment's outputDir untouched —
    * the failed smoke run IS the denial, with its manifest as the evidence
    * the approver would read.
    *
    * Scale posture: the smoke tier costs minutes on a fixture while the
    * full tier costs hours on the lake — this inversion (cheap validation
    * fences expensive execution) is the entire point of the reference's
    * promotion pipeline, reproduced here without the CI/CD scaffolding.
    */
  def promote(spark: SparkSession, smoke: EngineConfig, full: EngineConfig,
      stages: Seq[Stage],
      gate: Seq[StageResult] => Boolean = _.forall(_.status == "ok")): PromotionResult = {
    require(smoke.outputDir != full.outputDir,
      "smoke and full environments must write to distinct outputDirs")
    val smokeResults = run(spark, smoke, stages)
    if (!gate(smokeResults)) PromotionResult(smokeResults, promoted = false, None)
    else PromotionResult(smokeResults, promoted = true,
      Some(run(spark, full, stages)))
  }

  // -- E3: trigger payload ---------------------------------------------------

  val triggerSchema: StructType = StructType(Seq(
    StructField("env", StringType),
    StructField("job", StringType),
    StructField("detail", StructType(Seq(
      StructField("bucket", StringType),
      StructField("key", StringType))))))

  final case class Trigger(env: String, job: String, bucket: String, key: String)

  /** Decodes trigger events (the Lambda's input) from a JSON column. */
  def parseTriggers(events: DataFrame, jsonCol: String): DataFrame =
    events
      .withColumn("_t", from_json(col(jsonCol), triggerSchema))
      .select(
        col("_t.env").as("env"),
        col("_t.job").as("job"),
        col("_t.detail.bucket").as("bucket"),
        col("_t.detail.key").as("key"))

  /** Training-corpus preparation pipeline — the LLM-data-pipeline operators
    * (SURVEY.md §2.11) composed end to end: ingest → PII scrub → quality
    * signals (score, Gopher rule verdicts, repetition) → language ID →
    * exact dedup → near-dup dedup → quality gate → clean corpus +
    * per-language stats. Each stage reads its upstream stages' parquet
    * through [[output]], so any stage can be re-run or inspected in
    * isolation (the same property the reference's promote-per-stage CI/CD
    * gives templates), and a stage's row count comes from its own write
    * (see [[run]]). PII is scrubbed FIRST so no downstream stage ever
    * persists raw identifiers.
    */
  def corpusPrepStages(nearDupThreshold: Double = 0.9,
      minQuality: Double = 0.3): Seq[Stage] = {
    import graft.functions.TextFunctions._
    Seq(
      "ingest_documents" -> { (spark, cfg) =>
        graft.sources.Tables(spark, cfg.inputDir).documents
      },
      "pii_scrub" -> { (spark, cfg) =>
        val raw = output(spark, cfg, "ingest_documents")
        raw.withColumn("n_redactions",
            graft.functions.Redact.emailCount(col("text")) +
              graft.functions.Redact.phoneCount(col("text")) +
              graft.functions.Redact.ipv4Count(col("text")))
          .withColumn("text", graft.functions.Redact.scrub(col("text")))
          // n_chars is fixture-precomputed from the RAW text; downstream
          // quality scoring must see post-scrub lengths
          .withColumn("n_chars", length(col("text")).cast("long"))
      },
      "annotate_quality" -> { (spark, cfg) =>
        val scrubbed = output(spark, cfg, "pii_scrub")
          .withColumn("n_tokens", tokenCount(col("text")))
          .withColumn("quality", qualityScore(col("text"), col("n_chars")))
          .withColumn("lang_guess", languageId(col("text")))
          .withColumn("rule_word_count",
            graft.functions.QualityRules.wordCount(col("text")).between(50L, 100000L))
          .withColumn("rule_mean_word_len",
            graft.functions.QualityRules.meanWordLength(col("text")).between(3.0, 10.0))
        scrubbed.join(
          graft.functions.QualityRules.repetitionSignals(scrubbed, "doc_id", "text")
            .select(col("doc_id"), col("dup_trigram_frac")),
          Seq("doc_id"), "left")
      },
      "exact_dedup" -> { (spark, cfg) =>
        graft.operators.Dedup.exactByText(
          output(spark, cfg, "annotate_quality"), "text", "doc_id")
      },
      "near_dedup" -> { (spark, cfg) =>
        graft.operators.Dedup.dedupNearDups(
          output(spark, cfg, "exact_dedup"), "text", "doc_id",
          threshold = nearDupThreshold)
      },
      // gate on the composite score plus the repetition rule; the Gopher
      // verdict columns ride along for downstream mixture decisions
      "quality_gate" -> { (spark, cfg) =>
        output(spark, cfg, "near_dedup")
          .filter(col("quality") >= minQuality &&
            col("dup_trigram_frac") <= 0.5)
      },
      // learned quality classifier (GPT-3 §A / CCNet): NB trained with the
      // curated source allowlist as positives and the rest of the gated
      // corpus as negatives; every doc gets its exact-integer LLR and the
      // Bayes verdict. ANNOTATE, not filter: the score is mixture-weight
      // input downstream (like the Gopher verdicts), and the llr column is
      // the deterministic analogue of GPT-3's stochastic keep probability
      "classifier_annotate" -> { (spark, cfg) =>
        val gated = output(spark, cfg, "quality_gate")
        val m = graft.operators.QualityClassifier.trainNaiveBayes(
          gated, "text", col("source").isin("src0", "src1", "src2", "src3", "src4"))
        gated.join(
          graft.operators.QualityClassifier.scoreLlr(gated, "text", "doc_id", m)
            .select(col("id").as("doc_id"),
              col("llr_micro").as("clf_llr_micro"), col("pred_hq")),
          Seq("doc_id"), "left")
      },
      // CCNet-style LM gate: train the unigram LM on the rule-gated
      // survivors themselves, score every doc, drop the high-perplexity
      // tail (integer threshold test — avg NLL <= 3.45 nats). Training on
      // the post-gate corpus, not the raw crawl, is the CCNet trick: the
      // model represents what survived the cheap rules, so the tail is
      // "unlike the acceptable corpus", not "unlike the web"
      "lm_gate" -> { (spark, cfg) =>
        val gated = output(spark, cfg, "classifier_annotate")
        val (lm, oov) = graft.operators.LanguageModel.unigramLm(gated, "text")
        gated.join(
          graft.operators.LanguageModel.scoreNll(gated, "text", "doc_id", lm, oov)
            .filter(col("nll_micro") <= lit(3450000L) * col("n_tokens"))
            .select(col("id").as("doc_id")),
          Seq("doc_id"))
      },
      // tokenizer induction on the final corpus: BPE merges learned from
      // the gated survivors, every doc segmented map-only — the subword
      // stream a trainer actually consumes
      "bpe_tokenize" -> { (spark, cfg) =>
        val gated = output(spark, cfg, "lm_gate")
        val merges = graft.operators.Bpe.learnMerges(gated, "text", numMerges = 100)
        graft.operators.Bpe.segment(gated, "text", "doc_id", merges)
      },
      // word2phrase pass over the final corpus: collocations detected
      // from corpus statistics, then every doc rewritten with accepted
      // pairs joined as single units — the phrased stream an embedding
      // trainer (word2vec-style, whitespace tokenization) consumes. Kept
      // SEPARATE from bpe_tokenize: the BPE normalizer strips '_', so the
      // two tokenizations are alternative terminal outputs, not a chain
      "phrase_corpus" -> { (spark, cfg) =>
        val gated = output(spark, cfg, "lm_gate")
        val phrases = graft.operators.Phrases.detect(gated, "text", threshold = 1)
        graft.operators.Phrases.rewrite(gated, "text", "doc_id", phrases)
      },
      // leakage-safe split assignment: exact-dup fingerprint families
      // co-assign to one of train/val/test by the group representative's
      // hash — reproducible across runs, so the split is stable even as
      // upstream gates change membership
      "split_assign" -> { (spark, cfg) =>
        graft.operators.Corpus.groupHoldoutSplit(
          output(spark, cfg, "lm_gate")
            .withColumn("fp", md5(graft.functions.TextFunctions
              .normalizeText(col("text")).cast("binary"))),
          "doc_id", "fp")
      },
      // training-ready outputs: overlapping token chunks of the gated
      // corpus, and fixed-token-budget shard assignments per language
      "chunk_documents" -> { (spark, cfg) =>
        graft.operators.Corpus.chunkDocuments(
          output(spark, cfg, "lm_gate"),
          "doc_id", "text", chunkTokens = 512, overlapTokens = 64)
      },
      "pack_shards" -> { (spark, cfg) =>
        graft.operators.Corpus.packSequences(
          output(spark, cfg, "lm_gate")
            .select(col("doc_id"), col("lang_guess"), col("text")),
          "lang_guess", "doc_id", "text", budgetTokens = 65536L)
      },
      // length-based curriculum order over the gated training corpus:
      // rank/stage stamped per doc (exact distributed rank — the training
      // loader reads stages in order, easy-first)
      "curriculum_order" -> { (spark, cfg) =>
        graft.operators.Corpus.curriculumStages(
          output(spark, cfg, "lm_gate")
            .select(col("doc_id"), col("n_tokens")),
          "doc_id", "n_tokens", nStages = 4)
      },
      // reproducible held-out eval sample: same docs on every run, so eval
      // sets stay comparable across pipeline re-runs
      "holdout_sample" -> { (spark, cfg) =>
        graft.operators.Corpus.stratifiedSample(
          output(spark, cfg, "lm_gate"),
          "lang_guess", "doc_id", perStratum = 25)
      },
      // decontaminate the TRAINING corpus against the held-out sample:
      // any doc sharing a 13-gram with the eval slice leaves training
      // (the eval docs themselves leave too, via the id anti-join)
      "train_decontaminated" -> { (spark, cfg) =>
        val gated = output(spark, cfg, "lm_gate")
        val holdout = output(spark, cfg, "holdout_sample")
        graft.operators.Corpus.decontaminate(
          gated.join(holdout.select(col("doc_id")), Seq("doc_id"), "left_anti"),
          holdout, "doc_id", "text", n = 13)
      },
      // lexical retrieval index over the gated corpus (postings persist;
      // repeated queries then probe them instead of rescanning text)
      "term_index" -> { (spark, cfg) =>
        graft.operators.TextIndex.postings(
          output(spark, cfg, "lm_gate"), "doc_id", "text")
      },
      // fingerprint store for the NEXT run's incremental dedup
      // (Dedup.incrementalExact probes this instead of rescanning history)
      "fingerprint_store" -> { (spark, cfg) =>
        graft.operators.Dedup.fingerprints(
          output(spark, cfg, "lm_gate"), "text")
      },
      "corpus_stats" -> { (spark, cfg) =>
        output(spark, cfg, "lm_gate")
          .groupBy(col("lang_guess"))
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tokens")).as("total_tokens"),
            avg(col("quality")).as("avg_quality"))
      }
    )
  }

  /** The reference's namesake orders job as a canned stage sequence:
    * ingest (filter to the env's date window) → enrich (join customer) →
    * aggregate (revenue per segment) — scan→filter→join→agg→sink, the full
    * §3 lifecycle.
    */
  def ordersJobStages: Seq[Stage] = Seq(
    "ingest_orders" -> { (spark, cfg) =>
      graft.sources.Tables(spark, cfg.inputDir).orders
        .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")))
    },
    // publish gate: constraint report on the ingested batch — the run
    // FAILS (stopping downstream stages, like the reference's state
    // machine on a failed step) if any constraint is violated
    "validate_orders" -> { (spark, cfg) =>
      import graft.operators.Validate
      val rep = Validate.report(output(spark, cfg, "ingest_orders"), Seq(
        Validate.notNull("o_custkey"),
        Validate.unique("o_orderkey"),
        Validate.inRange("o_totalprice", 0.0, 1e9)))
      // collect the 3-row report ONCE: the gate and the runner's write both
      // use the collected rows, so the batch aggregate runs one time. One
      // slice writes them to one file, in declaration order
      val rows = rep.collect()
      val bad = rows.filterNot(_.getAs[Boolean]("pass"))
      require(bad.isEmpty, s"constraint violations: ${bad.mkString("; ")}")
      spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), rep.schema)
    },
    // crawler step: the column-statistics profile of the ingested batch,
    // persisted alongside the data like a Glue-crawler catalog entry.
    // Approx distinct (the operator default) — the profile informs, the
    // constraint report above gates.
    "profile_orders" -> { (spark, cfg) =>
      graft.operators.Validate.profile(
        output(spark, cfg, "ingest_orders"),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority"))
    },
    "enrich_customers" -> { (spark, cfg) =>
      val t = graft.sources.Tables(spark, cfg.inputDir)
      output(spark, cfg, "ingest_orders")
        .join(t.customer, col("o_custkey") === col("c_custkey"))
    },
    "segment_revenue" -> { (spark, cfg) =>
      output(spark, cfg, "enrich_customers")
        .groupBy(col("c_mktsegment"))
        .agg(sum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
    }
  )
}
