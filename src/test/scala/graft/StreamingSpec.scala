package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStreams

class StreamingSpec extends SparkSpec {

  test("chunkDocuments is stateless and runs unchanged under readStream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    stream.addData((1L, "a b c d e f"), (2L, "x y"))
    val chunked = graft.operators.Corpus.chunkDocuments(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text",
      chunkTokens = 4, overlapTokens = 1)
    val q = chunked.writeStream.format("memory").queryName("chunks")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    stream.addData((3L, "p q r s t u v")) // second micro-batch
    q.processAllAvailable()
    val got = spark.table("chunks")
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    q.stop()
    assert(got((1L, 0)) === "a b c d")
    assert(got((1L, 1)) === "d e f")
    assert(got((2L, 0)) === "x y")
    assert(got((3L, 1)) === "s t u v")
  }

  test("weightedBernoulliSample + shardAssign are stateless and run unchanged under readStream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = (0L until 200L).map(i => (i, (i * 37 % 900 + 100).toInt))
    val batchDf = rows.toDF("doc_id", "n_chars")
    val expectSample = graft.operators.Corpus.weightedBernoulliSample(
      batchDf, "doc_id", "n_chars", fullWeight = 1000L, seed = 7L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expectShards = graft.operators.Corpus.shardAssign(
      batchDf, "doc_id", numShards = 8, seed = 3L)
      .select("doc_id", "shard_id").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val stream = MemoryStream[(Long, Int)]
    val sampled = graft.operators.Corpus.shardAssign(
      graft.operators.Corpus.weightedBernoulliSample(
        stream.toDF().toDF("doc_id", "n_chars"),
        "doc_id", "n_chars", fullWeight = 1000L, seed = 7L),
      "doc_id", numShards = 8, seed = 3L)
    val q = sampled.writeStream.format("memory").queryName("wsample")
      .outputMode(OutputMode.Append).start()
    stream.addData(rows.take(120): _*)
    q.processAllAvailable()
    stream.addData(rows.drop(120): _*) // second micro-batch: same membership rule
    q.processAllAvailable()
    val got = spark.table("wsample").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("shard_id")).toMap
    q.stop()
    assert(got.keySet === expectSample,
      "streaming membership must equal the batch sample exactly")
    assert(got.forall { case (id, s) => expectShards(id) === s },
      "streaming shard ids must equal the batch assignment")
    assert(expectSample.nonEmpty && expectSample.size < rows.size)
  }

  test("quality rules + PII scrub are stateless and run unchanged under readStream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    stream.addData(
      (1L, "reach me at a@b.io for the offer to be had with all of that"),
      (2L, "zz"))
    val filtered = stream.toDF().toDF("doc_id", "text").select(
      col("doc_id"),
      graft.functions.QualityRules.distinctStopwordHits(col("text")).as("stops"),
      graft.functions.QualityRules.wordCount(col("text")).as("n_words"),
      graft.functions.Redact.scrub(col("text")).as("clean"))
    val q = filtered.writeStream.format("memory").queryName("hygiene")
      .outputMode(OutputMode.Append).start()
    q.processAllAvailable()
    stream.addData((3L, "ping x@y.dev again")) // second micro-batch
    q.processAllAvailable()
    val got = spark.table("hygiene").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getString(3)))).toMap
    q.stop()
    assert(got(1L)._1 >= 5 && got(1L)._2.contains("[EMAIL]"))
    assert(got(2L) === ((0, "zz")))
    assert(got(3L)._2 === "ping [EMAIL] again")
  }

  test("streaming near-dup detection probes and grows the persisted signature store") {
    import spark.implicits._
    val tmp = tempDir("graft_e12_")
    val inDir = s"$tmp/in"; val store = s"$tmp/store"
    val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
    val base = "the quick brown fox jumps over the lazy dog again and again " +
      "while the spark engine shuffles partitions across the cluster today"
    val far = "completely unrelated content about catalyst optimizer rules " +
      "and tungsten code generation with adaptive query execution enabled"
    val b1 = Seq((1L, base), (2L, far)).toDF("doc_id", "text")
    b1.coalesce(1).write.mode("append").parquet(inDir)
    def run(): Unit = graft.streaming.DedupStreams.nearDupDetectAvailableNow(
      spark.readStream.schema(b1.schema).option("maxFilesPerTrigger", "1").parquet(inDir),
      "text", "doc_id", store, out, ckpt, minEstJaccard = 0.5)
    run() // batch 0: nothing to probe, store seeded with 2 signatures
    assert(spark.read.parquet(store).count() === 2)
    // batch 1: doc 3 duplicates doc 1 (guaranteed signature match), doc 4 is new
    Seq((3L, base), (4L, "fresh novel text with nothing shared at all whatsoever"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
    run()
    assert(spark.read.parquet(store).count() === 4, "store grows by the new batch")
    val det = spark.read.parquet(out)
      .select("new_id", "seen_id", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(det.keySet === Set(3L -> 1L), s"only the duplicate is detected: $det")
    assert(det(3L -> 1L) === 1.0, "identical text → identical signatures")
    // restart with the processed checkpoint: a no-op, nothing re-appends
    run()
    assert(spark.read.parquet(store).count() === 4)
    assert(spark.read.parquet(out).count() === 1)
    // REPLAY: simulate a crash between the store write and the checkpoint
    // commit of batch 1 by deleting its commit marker — the restart then
    // re-executes batch 1 while the store ALREADY holds batch 1's own
    // signatures. The probe must exclude the batch's own partition, or
    // docs 3 and 4 would each match themselves (est_jaccard = 1.0) and
    // overwrite the detections partition with self-pairs.
    val commit1 = java.nio.file.Paths.get(ckpt, "commits", "1")
    assert(java.nio.file.Files.deleteIfExists(commit1), "commit marker exists")
    // the local ChecksumFileSystem keeps a sidecar .crc that breaks the
    // re-written commit's rename if left behind
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(ckpt, "commits", ".1.crc"))
    run()
    assert(spark.read.parquet(store).count() === 4, "replay rewrites, not appends")
    val replayed = spark.read.parquet(out)
      .select("new_id", "seen_id", "est_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(replayed.keySet === Set(3L -> 1L),
      s"replayed batch must not self-match against its own store rows: $replayed")
  }

  test("LM scoring composes with streaming: per-batch scores equal batch") {
    import spark.implicits._
    import graft.operators.LanguageModel
    // train once on a static reference corpus, persist the LM as a table;
    // each micro-batch then scores against the SAME frozen model — the
    // stateless score-at-ingest shape (exact bigint sums make this a
    // strict equality with the batch run, not a property bound)
    val tmp = tempDir("graft_lmstream")
    val corpus = Seq((1L, "a a b c"), (2L, "b a a"), (3L, "c c a b a"))
      .toDF("doc_id", "text")
    val (lm, oov) = LanguageModel.unigramLm(corpus, "text")
    lm.write.parquet(s"$tmp/lm")
    val frozen = spark.read.parquet(s"$tmp/lm")
    corpus.filter($"doc_id" <= 2).coalesce(1).write.mode("append").parquet(s"$tmp/in")
    corpus.filter($"doc_id" === 3).coalesce(1).write.mode("append").parquet(s"$tmp/in")
    val q = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in")
      .writeStream
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        LanguageModel.scoreNll(batch, "text", "doc_id", frozen, oov)
          .write.mode("append").parquet(s"$tmp/out")
      }
      .start()
    q.awaitTermination()
    val streamed = spark.read.parquet(s"$tmp/out")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val batch = LanguageModel.scoreNll(corpus, "text", "doc_id", lm, oov)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed === batch, "frozen-LM streaming scores == batch scores")
  }

  test("streaming token-count accumulation: merged store equals batch counts") {
    import spark.implicits._
    import graft.operators.LanguageModel._
    // the LM training-state twin of the dedup stores: each micro-batch
    // merges its counts into the persisted store (vocab-sized rewrite —
    // counts merge exactly, so the result is order-independent)
    val tmp = tempDir("graft_cntstream")
    val corpus = Seq((1L, "a a b"), (2L, "c b a"), (3L, "b c c d"), (4L, "a d"))
      .toDF("doc_id", "text")
    corpus.filter($"doc_id" <= 2).coalesce(1).write.mode("append").parquet(s"$tmp/in")
    corpus.filter($"doc_id" > 2).coalesce(1).write.mode("append").parquet(s"$tmp/in")
    val q = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in")
      .writeStream
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val s = batch.sparkSession
        val bc = tokenCounts(batch, "text")
        val merged =
          try mergeTokenCounts(s.read.parquet(s"$tmp/store"), bc)
            .localCheckpoint(true) // must materialize BEFORE the overwrite
          catch {
            case e: org.apache.spark.sql.AnalysisException
                if e.getCondition == "PATH_NOT_FOUND" => bc
          }
        merged.write.mode("overwrite").parquet(s"$tmp/store")
      }
      .start()
    q.awaitTermination()
    val streamed = spark.read.parquet(s"$tmp/store")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batch = tokenCounts(corpus, "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed === batch, "accumulated store == one-shot corpus counts")
  }

  test("foreachBatch upsert keeps the latest row per key across micro-batches") {
    import spark.implicits._
    val tmp = tempDir("graft_upsert")
    val inDir = s"$tmp/in"; val outDir = s"$tmp/out"
    def writeBatch(sub: String, rows: Seq[(Long, String, Double)]): Unit =
      rows.toDF("user_id", "day", "score").write.parquet(s"$inDir/$sub")
    // batch 1: two users on one day
    writeBatch("b1", Seq((1L, "2024-01-01", 10.0), (2L, "2024-01-01", 20.0)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("day", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("score", org.apache.spark.sql.types.DoubleType)))
    def run(ckpt: String): Unit = EventStreams.upsertForeachBatchAvailableNow(
      spark.readStream.schema(schema).parquet(s"$inDir/*"),
      outDir, s"$tmp/$ckpt", keyCol = "user_id", orderCols = Seq("score"),
      partitionCol = "day")
    run("ck1")
    assert(spark.read.parquet(outDir).count() === 2)
    // first-batch dedup: a fresh table fed a batch with duplicate keys
    val dupOut = s"$tmp/out_dup"
    // separate input dir: the main scenario's stream globs $inDir/*
    Seq((9L, "2024-01-03", 1.0), (9L, "2024-01-03", 7.0))
      .toDF("user_id", "day", "score").write.parquet(s"$tmp/dup_in/d")
    EventStreams.upsertForeachBatchAvailableNow(
      spark.readStream.schema(schema).parquet(s"$tmp/dup_in/*"),
      dupOut, s"$tmp/ck_dup", keyCol = "user_id", orderCols = Seq("score"),
      partitionCol = "day")
    val dupRows = spark.read.parquet(dupOut).collect()
    assert(dupRows.length === 1 && dupRows.head.getAs[Double]("score") === 7.0)
    // batch 2: user 1 updated (higher score wins), user 3 new
    writeBatch("b2", Seq((1L, "2024-01-01", 99.0), (3L, "2024-01-02", 30.0)))
    run("ck1")
    val rows = spark.read.parquet(outDir)
      .select("user_id", "score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rows === Map(1L -> 99.0, 2L -> 20.0, 3L -> 30.0))
  }

  test("upsert with key-bucket partitioning replaces a key whose date moved") {
    import spark.implicits._
    // partitionCol must be stable per key (sink contract): here the
    // update arrives on a LATER day — with day partitioning the stale
    // day-1 row would survive in an untouched partition, with a key
    // bucket it cannot.
    val tmp = tempDir("graft_upsert_bkt")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("day", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("score", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("bucket", org.apache.spark.sql.types.LongType)))
    def writeBatch(sub: String, rows: Seq[(Long, String, Double)]): Unit =
      rows.toDF("user_id", "day", "score")
        .withColumn("bucket", org.apache.spark.sql.functions.pmod(
          org.apache.spark.sql.functions.col("user_id"), org.apache.spark.sql.functions.lit(4)))
        .write.parquet(s"$tmp/in/$sub")
    def run(): Unit = EventStreams.upsertForeachBatchAvailableNow(
      spark.readStream.schema(schema).parquet(s"$tmp/in/*"),
      s"$tmp/out", s"$tmp/ckpt", keyCol = "user_id",
      orderCols = Seq("day", "score"), partitionCol = "bucket")
    writeBatch("b1", Seq((1L, "2024-01-01", 10.0), (2L, "2024-01-01", 20.0)))
    run()
    writeBatch("b2", Seq((1L, "2024-02-05", 7.0)))
    run()
    val rows = spark.read.parquet(s"$tmp/out")
      .select("user_id", "day", "score").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getDouble(2)))).toMap
    assert(rows === Map(1L -> (("2024-02-05", 7.0)), 2L -> (("2024-01-01", 20.0))))
  }
}
