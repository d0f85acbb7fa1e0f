package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the engine.
  *
  * The reference declares its runtime as an AWS Glue Spark job
  * (`Hoth/FHIR/cloudformations/lambda-stack.yml:17`, `Command.Name: glueetl`)
  * and leaves all tuning to Spark; we pin the settings that matter for a
  * deterministic, scale-ready engine:
  *
  *   - UTC session time zone (oracle comparability),
  *   - AQE on (runtime re-planning: partition coalescing, skew-join splitting
  *     — the 100 TB story depends on it),
  *   - `spark.sql.shuffle.partitions` sized to the local core count rather
  *     than the 200 default (on a real cluster this is set to ~2-3x total
  *     cores; AQE coalesces down from there).
  */
object Sessions {
  def local(appName: String = "graft", cores: Int = 32): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // r16, guide §2.2: size post-shuffle partitions by BYTES, not by
      // core count. The default parallelismFirst=true keeps one reduce
      // partition per core however tiny the shuffle — on this workload's
      // many small exchanges that is 32 micro-tasks (scheduling overhead)
      // where the advisory size wants 1-2. Bytes-derived coalescing is
      // the scale-adaptive setting: a 100 TB shuffle still gets its
      // thousands of advisory-sized partitions, a KB-sized one stops
      // paying 32 task dispatches. (Spark docs recommend exactly this
      // when scheduling overhead matters; partition count stays bounded
      // below by no constant, so no local[32]-only tuning is involved.)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
      .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
      // Parquet TIMESTAMP(NANOS) (events.ts) is unreadable by Spark 4.1
      // without this; Tables.events converts the raw nanos to micros.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the default 100-entry codegen cache thrashes on workloads with
      // ~100+ distinct plans (each signature-stage class recompiles on
      // every revisit — ~1.5-3.5 s each; see SCALE.md §9)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // build-time extension injection: the SQL DML resolution rule
      // (GenTableDml) has no post-hoc registration path; register()
      // below finds everything else already there and adds nothing
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // engine-native functions (cosine_sim, …) available in SQL + Column API
    graft.plans.GraftExtensions.register(spark)
    spark
  }

  /** Cluster session builder — the production twin of `local` for the
    * north-star deployment (Spark on EMR/K8s reading and writing S3).
    * Master/executor sizing comes from spark-submit; this pins the settings
    * the engine's operators assume:
    *
    *  - shuffle partitions ~2.5x total cores (AQE coalesces down);
    *  - S3A: magic committer (no rename commit on object storage),
    *    directory marker retention (avoids delete storms), and a bounded
    *    connection pool sized to task parallelism;
    *  - RocksDB state store (transformWithState requirement; bounded heap
    *    for large streaming state);
    *  - dynamic partition overwrite as the default write protocol.
    *
    * All settings are public Spark/Hadoop configuration — reviewed against
    * the Spark 4.1 cloud-integration and structured-streaming docs.
    */
  def clusterConf(totalCores: Int): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> (totalCores * 5 / 2).toString,
    // runtime bloom-filter join filters: a selective dim predicate prunes
    // the fact scan before the join shuffle (SPARK-32268; injection shape
    // pinned in PlanSpec). Explicit because the engine's fact-fact joins
    // assume it at 100 TB.
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    // bytes-derived post-shuffle sizing (guide §2.2/§9): partitions in
    // the 100 MB-1 GB band beat one-per-core micro-partitions both here
    // and at cluster scale; advisory 256m per the guide's starting conf
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "256m",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.sources.partitionOverwriteMode" -> "dynamic",
    "spark.sql.files.maxPartitionBytes" -> (128L * 1024 * 1024).toString,
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.hadoop.fs.s3a.committer.name" -> "magic",
    "spark.hadoop.fs.s3a.committer.magic.enabled" -> "true",
    "spark.hadoop.fs.s3a.directory.marker.retention" -> "keep",
    "spark.hadoop.fs.s3a.connection.maximum" -> (totalCores * 2).toString,
    "spark.sql.parquet.int96RebaseModeInRead" -> "CORRECTED",
    "spark.sql.parquet.datetimeRebaseModeInRead" -> "CORRECTED"
  )

  /** Applies `clusterConf` to a builder (master left to spark-submit). */
  def cluster(appName: String, totalCores: Int): SparkSession = {
    val builder = SparkSession.builder().appName(appName)
    clusterConf(totalCores).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    graft.plans.GraftExtensions.register(spark)
    spark
  }
}
