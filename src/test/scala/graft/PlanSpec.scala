package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Plan-shape regression suite: the physical plans we designed for stay the
  * plans we get. These assertions encode the 100 TB design decisions —
  * broadcasts on dims, top-k as TakeOrderedAndProject, partial aggregation,
  * shuffle-free bucketed joins — so a refactor that silently degrades a
  * plan fails the build, not the cluster.
  */
class PlanSpec extends SparkSpec {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  test("q05 joins dimension tables with BroadcastHashJoin") {
    val p = plan("q05_regional_revenue")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q03 top-k plans as TakeOrderedAndProject (no global sort)") {
    val p = plan("q03_top_orders")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q01 aggregation is partial (two HashAggregate phases)") {
    val p = plan("q01_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("q06 projection is pruned to referenced columns at the scan") {
    val p = plan("q06_forecast_revenue")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_returnflag") && !readSchema.contains("l_orderkey"),
      s"scan reads unneeded columns: $readSchema")
  }

  test("bucketed co-located join runs without a shuffle exchange") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // DROP leaves the managed location behind if a previous JVM died mid-test
    Seq("b_orders", "b_lineitem").foreach { t =>
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) org.apache.commons.io.FileUtils.deleteDirectory(loc)
    }
    val t = Tables(spark, sf)
    t.orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    t.lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    // disable auto-broadcast so the join exercises the bucketed SMJ path
    // (at this fixture size Catalyst would rightly broadcast instead)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(sum(col("l_quantity")).as("qty"))
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), p.take(2000))
      // the only shuffle is the groupBy's — the join reads bucket-aligned
      val joinSection = p.substring(p.indexOf("SortMergeJoin"))
      assert(!joinSection.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles its inputs:\n${joinSection.take(2500)}")
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
  }

  test("dynamic partition pruning fires on a partitioned fact join") {
    val tmp = tempDir("graft_dpp")
    val t = Tables(spark, sf)
    t.orders.withColumn("yr", year(col("o_orderdate")))
      .write.partitionBy("yr").parquet(s"$tmp/orders_part")
    val fact = spark.read.parquet(s"$tmp/orders_part")
    // the dim must come from storage (a literal dim constant-folds into a
    // STATIC partition filter — good, but not the feature under test): the
    // filter on `tag` is only resolvable at runtime → DPP subquery
    import spark.implicits._
    (1995 to 2001).map(y => (y, if (y == 1997) "keep" else "drop"))
      .toDF("dim_yr", "tag").write.parquet(s"$tmp/years_dim")
    val years = spark.read.parquet(s"$tmp/years_dim").filter(col("tag") === "keep")
    val joined = fact.join(years, col("yr") === col("dim_yr"))
      .groupBy(col("yr")).agg(count(lit(1)).as("n"))
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning") || p.contains("DynamicPruning") ||
      p.contains("dynamicpruningexpression"), s"no DPP in plan:\n${p.take(2500)}")
    assert(joined.count() === 1)
  }

  test("u06 keyed dedup windows on the high-cardinality key, pruned to 3 columns") {
    val p = plan("u06_keyed_dedup")
    assert(p.contains("hashpartitioning(l_orderkey"),
      s"window must partition on l_orderkey (orders-many partitions):\n${p.take(2000)}")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_shipdate"),
      s"scan must read only the 3 projected columns: $readSchema")
  }

  test("u07 agg dedup partial-aggregates (map-side combine, no window sort)") {
    val p = plan("u07_agg_dedup")
    // min(struct) is order-based → Spark picks SortAggregate; the scale
    // property is the PARTIAL phase (shuffle carries one row per key)
    assert(p.contains("partial_min"), p.take(2000))
    assert(!p.contains("Window"), s"u07 must be window-free:\n${p.take(2000)}")
  }

  test("t05 language-id partial-aggregates the exploded marker sums") {
    val p = plan("t05_language_id")
    assert(p.contains("Generate explode"), p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("s04 embedding near-dups meet on an equi join, never a cartesian") {
    val p = plan("s04_embedding_neardups")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"blocked pair generation must be an equi join:\n${p.take(2000)}")
  }

  test("s06 LSH-mode near-dups: multi-table candidates still meet on equi keys") {
    val p = plan("s06_embedding_neardups_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"LSH candidate generation must be an equi join on (table, bucket):\n${p.take(2000)}")
    assert(p.contains("Generate"),
      s"per-table bucket keys fan out via explode (Generate), not plan duplication:\n${p.take(2000)}")
  }

  test("codec synthesis spreads the single-file scan before the encode loop") {
    // the 100 TB shape: per-row codec cost must parallelize across all
    // cores/executors — a single-file fixture scan arrives as ONE
    // partition and the synthesizers must not inherit it (measured 6x
    // end-to-end on the m-suite; see SCALE.md)
    val docs = graft.sources.Tables(spark, sf).documents
    val n = spark.sparkContext.defaultParallelism
    assert(graft.multimodal.Multimodal.synthesizeImages(docs).rdd.getNumPartitions === n)
    assert(graft.multimodal.Multimodal.synthesizeVideos(docs).rdd.getNumPartitions === n)
    assert(graft.multimodal.Multimodal.synthesizeAudio(docs).rdd.getNumPartitions === n)
  }

  test("r01 BM25 small-|Q| plan: no explode, broadcast stats, top-k without a global sort") {
    val p = plan("r01_bm25_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must not be a global Sort+Limit:\n${p.take(2000)}")
    assert(!p.contains("Generate"),
      s"bounded query sets must score via per-row array scans, not explode:\n${p.take(2000)}")
    assert(p.contains("Broadcast"),
      s"the one-row stats frame must broadcast:\n${p.take(2000)}")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"df/stats aggregate must be partial (map-side combine):\n${p.take(2000)}")
  }

  test("t09 repetition signals partial-aggregate the exploded n-grams") {
    val p = plan("t09_repetition")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("w01 per-group top-k plans a WindowGroupLimit (partial rank pruning, SPARK-37099)") {
    val p = plan("w01_top_customers_per_nation")
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
      s"rank<=k filter must push a partial+final group limit below the sort:\n${p.take(2000)}")
  }

  test("runtime bloom-filter join filter injects for a selective fact-fact SMJ") {
    // 100 TB posture: a selective dimension predicate seeds a bloom filter
    // that prunes the fact scan BEFORE the join shuffle (SPARK-32268).
    // Thresholds lowered because the fixture is tiny; on a cluster the
    // defaults (10MB creation side) fire on exactly this query shape.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val t = graft.sources.Tables(spark, sf)
      val sel = t.orders.filter(col("o_totalprice") > 500000.0)
      val p = t.lineitem.join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
        .queryExecution.optimizedPlan.toString
      assert(p.contains("bloom_filter_agg") && p.contains("might_contain"),
        s"bloom filter must inject on the fact side:\n${p.take(2000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("s08 packed int8 top-k: broadcast query side, native probe, no extra shuffle") {
    val p = plan("s08_int8_topk_packed")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side must broadcast — the corpus scan stays map-only:\n${p.take(2000)}")
    assert(p.contains("int8_cosine"),
      s"scoring must be the native fused expression:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // exactly the window's exchange: corpus -> score -> partitionBy(query_id)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"only the top-k window may shuffle:\n${p.take(2000)}")
  }

  test("c07 bloom probe: train side filters via bloom_might_contain, no eval join") {
    val p = plan("c07_bloom_decontaminate")
    // the expression renders by its own prettyName, not the registry alias
    assert(p.contains("might_contain"),
      s"the probe must be the constant-broadcast filter expression:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // the gate query joins exact vs bloom FLAGS (one doc_id join) — but the
    // bloom leg itself must not join grams against an eval-gram set
    assert("SortMergeJoin".r.findAllIn(p).size <= 3, p.take(3000))
  }

  test("c09 token-budget selection plans with no global window") {
    val p = plan("c09_token_budget")
    assert(!p.contains("Window"),
      s"the global prefix sum must be the distributed two-pass scan, not a one-task window:\n${p.take(2000)}")
    assert(p.contains("Scan ExistingRDD") || p.contains("LocalTableScan"),
      s"selection materializes via the checkpointed two-pass result:\n${p.take(2000)}")
  }

  test("s09 nearest-centroid assignment is map-only after one broadcast") {
    val p = plan("s09_nearest_centroid")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the one-row centroid array must broadcast:\n${p.take(2000)}")
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"),
      s"assignment must be the argmax HOF, never a per-vector shuffle:\n${p.take(2000)}")
    // the only exchanges are inside centroid training (labels x dim rows):
    // (label,pos) partial+final, the label roll-up, and the one-row collect
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 3,
      s"the corpus branch must not shuffle:\n${p.take(3000)}")
  }

  test("t11 LM scoring: broadcast token lookup, two-phase doc aggregate") {
    val docs = graft.sources.Tables(spark, sf).documents
    val (lm, oov) = graft.operators.LanguageModel.unigramLm(docs, "text")
    val scored = graft.operators.LanguageModel.scoreNll(docs, "text", "doc_id", lm, oov)
    scored.collect() // finalize under AQE
    val p = scored.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the vocab-sized LM must broadcast, never shuffle the token stream:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"), s"no token-keyed shuffle join:\n${p.take(2000)}")
    assert(p.contains("partial_sum"),
      s"doc aggregate must map-side combine before the one exchange:\n${p.take(2000)}")
  }

  test("c12 line-span dedup reuses the tokenize exchange (base subtree computed once)") {
    val docs = graft.sources.Tables(spark, sf).documents
    val out = graft.operators.Corpus.lineSpanDedup(docs, "doc_id", "text")
    out.collect() // finalize under AQE
    val p = out.queryExecution.executedPlan.toString
    // base (repartition -> normalize+tokenize projection) feeds both the
    // span explode and the final left join-back; column pruning gives the
    // two consumers different projections so ReusedExchange does NOT fire
    // — the operator persists base instead, and the expensive regex
    // tokenize must appear under exactly one non-cached subtree
    assert(p.contains("InMemoryTableScan"),
      s"base must be persisted across its two consumers:\n${p.take(3000)}")
    assert("TableCacheQueryStage|InMemoryRelation".r.findAllIn(p).nonEmpty,
      s"cache must materialize inside this plan:\n${p.take(3000)}")
  }

  test("q11 threshold compare is a one-row broadcast, never a shuffle join") {
    val p = plan("q11_important_stock")
    assert(p.contains("BroadcastNestedLoopJoin BuildRight, Inner"),
      s"threshold must broadcast the single aggregate row:\n${p.take(2500)}")
  }

  test("r03 fusion inputs are rank-bounded before the join (top-50 each side)") {
    val p = plan("r03_hybrid_rrf")
    assert(p.contains("TakeOrderedAndProject(limit=50"),
      s"lexical side must bound via top-k, not global sort:\n${p.take(2500)}")
    assert(p.contains("TakeOrderedAndProject(limit=20"),
      s"final fusion emits top-20 via top-k:\n${p.take(2500)}")
  }

  test("e14 SCD2 reuses one user_id exchange across both windows") {
    val p = plan("e14_scd2_history")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"lag and lead windows must share the user_id partitioning:\n${p.take(2500)}")
  }

  test("s10 PQ: ADC scoring is element_at lookups; shortlist re-rank joins broadcast") {
    val t = Tables(spark, sf)
    val emb = t.embeddings
    val df = graft.operators.SimilaritySearch.pqTopK(
      emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding",
      k = 5, m = 8, ksub = 16, shortlist = 20)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("element_at"),
      s"candidate scoring must be table lookups, not per-row dots:\n${p.take(2500)}")
    assert(p.contains("BroadcastHashJoin"),
      s"the shortlist re-rank must broadcast the bounded shortlist:\n${p.take(2500)}")
    // candidate SCORING must never fall back to a per-(query, candidate)
    // vector op: cosine_sim may appear only in the bounded re-rank (above
    // the shortlist broadcast), never under the ADC cross join. The
    // vector_dot calls that DO sit corpus-side are the inline ENCODE (one
    // per corpus row, not per candidate pair) — at production scale that
    // pass is a persisted codes index, see pqTopK scaladoc.
    val adcSide = p.linesIterator.dropWhile(!_.contains("BroadcastNestedLoopJoin"))
      .mkString("\n")
    assert(!adcSide.contains("cosine_sim"),
      s"ADC candidate scoring recomputes cosine per pair:\n${adcSide.take(1500)}")
  }

  test("t14 classifier scoring: broadcast LLR lookup, map-side combined doc aggregate") {
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables(spark, sf).documents
    val m = graft.operators.QualityClassifier.trainNaiveBayes(
      docs, "text", col("source").isin("src0", "src1", "src2", "src3", "src4"))
    val scored = graft.operators.QualityClassifier.scoreLlr(docs, "text", "doc_id", m)
    scored.collect() // finalize under AQE
    val p = scored.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the minCount-bounded LLR table must broadcast, never shuffle the token stream:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"), s"no token-keyed shuffle join:\n${p.take(2000)}")
    assert(p.contains("partial_"),
      s"doc aggregate must map-side combine before the one exchange:\n${p.take(2000)}")
  }

  test("t15 phrase detection: both unigram joins broadcast the bounded count table") {
    val docs = graft.sources.Tables(spark, sf).documents
    val det = graft.operators.Phrases.detect(docs, "text", threshold = 1)
    det.collect()
    val p = det.queryExecution.executedPlan.toString
    // pair table joins the vocab-sized unigram counts twice — both must be
    // broadcast hash joins; the only shuffles are the two count aggregates
    assert(p.contains("BroadcastHashJoin"), s"unigram joins must broadcast:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"),
      s"no shuffle join between bounded count tables:\n${p.take(2000)}")
  }

  test("c14 holdout split: one group aggregate, assignment carries no extra shuffle") {
    import org.apache.spark.sql.functions.{col, md5}
    val docs = graft.sources.Tables(spark, sf).documents
      .withColumn("fp", md5(graft.functions.TextFunctions
        .normalizeText(col("text")).cast("binary")))
    val split = graft.operators.Corpus.groupHoldoutSplit(docs, "doc_id", "fp")
    split.collect()
    val p = split.queryExecution.executedPlan.toString
    // the group-min aggregate must combine map-side; the hash-bucket and
    // split derivation are pure projections (no window, no extra exchange)
    assert(p.contains("partial_min"),
      s"group representative must map-side combine:\n${p.take(2000)}")
    assert(!p.contains("Window"), s"assignment must not window:\n${p.take(2000)}")
  }

  test("whole-stage codegen covers the relational core queries") {
    Seq("q01_pricing_summary", "q06_forecast_revenue", "w03_running_revenue").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      df.collect() // execute THIS plan so AQE finalizes it (count() builds its own)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("*("), s"$q has no codegen span:\n${p.take(1500)}")
    }
  }

  test("v04 exact profile: no Expand, per-column arms with pruned scans") {
    // r17 shape: ExactDistinct runs one two-level aggregate per column —
    // no Expand (rows x |cols|+1) multi-distinct rewrite, and each union
    // arm's FileScan prunes to exactly its one profiled column (the
    // per-arm scans together read the same bytes one k-column scan would)
    val p = plan("v04_profile")
    assert(!p.contains("Expand"), p.take(2000))
    val reads = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p)
      .map(_.group(1)).toSeq
    assert(reads.nonEmpty && reads.forall(r => r.count(_ == ':') == 1),
      s"every profile arm must scan exactly one column: $reads")
  }

  test("v05 histogram broadcasts the one-row stats frame") {
    val p = plan("v05_histogram")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(2000))
  }

  test("c15 curriculum plans no Window operator (no single-task ntile)") {
    val p = plan("c15_curriculum")
    assert(!p.contains("Window"), p.take(2000))
    // and the pruning contract: only (doc_id, n_chars) enter the shuffle
    assert(!p.contains("text#"), "text column rides the curriculum plan")
  }

  test("e19 transitions: user-keyed window, partial-aggregated matrix") {
    val p = plan("e19_markov_transitions")
    // the lag window partitions on user_id — never a global (empty) order
    assert(p.contains("Window") && p.contains("user_id"), p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("t16 lexical diversity: both aggregates partial, scan pruned to id+text") {
    val p = plan("t16_lexical_diversity")
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(2000))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"scan reads unneeded columns: $readSchema")
  }

  test("b03 vocab: driver-bounded top-K (TakeOrderedAndProject) broadcast back") {
    val p = plan("b03_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject(limit=256"), p.take(2000))
    assert(p.contains("BroadcastExchange"), p.take(2000))
  }

  test("c16 boilerplate: tokenize-once (persisted base feeds both consumers)") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val exec = SparkEntry.queries("c16_boilerplate")(spark, sf)
      .queryExecution.executedPlan
    // exactly one parquet scan of documents materializes the persisted
    // base. Traverse the plan OBJECT (not toString, whose InMemoryRelation
    // printouts embed their cached build plans): an InMemoryTableScanExec
    // leaf ends the walk — the scan inside its cached relation is the one
    // allowed materialization, and both consumers must read the cache.
    def countScans(p: SparkPlan): Int = p match {
      case _: InMemoryTableScanExec => 0
      case a: AdaptiveSparkPlanExec => countScans(a.executedPlan)
      case _: FileSourceScanExec => 1
      case other => other.children.map(countScans).sum
    }
    def hasCacheScan(p: SparkPlan): Boolean = p match {
      case _: InMemoryTableScanExec => true
      case a: AdaptiveSparkPlanExec => hasCacheScan(a.executedPlan)
      case other => other.children.exists(hasCacheScan)
    }
    assert(hasCacheScan(exec), exec.toString.take(2000))
    assert(countScans(exec) <= 1, exec.toString.take(3000))
  }

  test("j09 bloom prune: map-only probe (no join) feeds the pruned-count arm") {
    val p = plan("j09_bloom_semi_prune")
    // the probe is a Filter with the bloom expression directly over the
    // orders scan — BloomFilterMightContain prints under its prettyName
    // `might_contain`, and it never sits above a join
    val probeLine = p.linesIterator
      .find(_.contains("might_contain")).getOrElse("")
    assert(probeLine.contains("Filter"), p.take(3000))
  }

  test("t18 PSL domains: rules broadcast, no nested-loop anywhere") {
    val p = plan("t18_registrable_psl")
    // the tiny rule table must broadcast; suffix matching is equi-join
    // shaped — a nested-loop/cartesian would be quadratic in hosts
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(3000))
  }

  test("c17 LSH mining: candidates join on band buckets, never cartesian") {
    val p = plan("c17_contrastive_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(3000))
  }

  test("t17 url normalize is a single map-only codegen stage (no exchange)") {
    val p = plan("t17_url_normalize")
    assert(!p.contains("Exchange"), p.take(2000))
    // codegen'd spans print as `*(n)` operator prefixes (the literal
    // string WholeStageCodegen never appears in toString). The normalize
    // projection must sit INSIDE a span: with the parts-struct extraction
    // every Project line is codegen'd — no bare (non-starred) Project.
    val projectLines = p.linesIterator.filter(_.contains("Project")).toSeq
    assert(projectLines.nonEmpty && projectLines.forall(_.contains("*(")),
      s"non-codegen'd Project in:\n${p.take(3000)}")
  }
}
