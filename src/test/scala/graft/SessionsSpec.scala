package graft

class SessionsSpec extends SparkSpec {

  test("clusterConf pins the settings the operators assume") {
    val conf = Sessions.clusterConf(totalCores = 400)
    assert(conf("spark.sql.shuffle.partitions") === "1000")
    assert(conf("spark.sql.extensions") === "graft.plans.GraftExtensions")
    assert(conf("spark.sql.streaming.stateStore.providerClass").contains("RocksDB"))
    assert(conf("spark.hadoop.fs.s3a.committer.name") === "magic")
    assert(conf("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(conf("spark.sql.sources.partitionOverwriteMode") === "dynamic")
  }

  test("the test JVM runs generated code only, with no interpreted fallback") {
    // set in build.sbt's Test / javaOptions: a codegen compile failure
    // must fail the suite instead of passing on the interpreted path
    assert(spark.conf.get("spark.sql.codegen.fallback") === "false")
    assert(spark.conf.get("spark.sql.codegen.factoryMode") === "CODEGEN_ONLY")
  }

  test("register() twice keeps GenTableMetadataAggregate in the optimizer once") {
    import graft.plans.{GenTableMetadataAggregate, GraftExtensions}
    // Sessions.local builds with the config path; register() on top of it
    // must see the injected rule and not append a second copy
    assert(spark.conf.get("spark.sql.extensions") === "graft.plans.GraftExtensions")
    GraftExtensions.register(spark)
    GraftExtensions.register(spark)
    // the two lists the optimizer draws extension rules from: the
    // injected rules and the session's experimental extra optimizations
    val rules = spark.sessionState.optimizer.extendedOperatorOptimizationRules ++
      spark.experimental.extraOptimizations
    assert(rules.count(_ == GenTableMetadataAggregate) === 1, rules.mkString(", "))
  }

  test("register() on a session that holds the functions replaces none of them") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val registry = spark.sessionState.functionRegistry
    val id = FunctionIdentifier("cosine_sim")
    // a replacement registers a fresh ExpressionInfo (and logs a WARN)
    def entry = (registry.lookupFunction(id), registry.lookupFunctionBuilder(id))
    val (info, builder) = entry
    assert(info.isDefined && builder.isDefined)
    graft.plans.GraftExtensions.register(spark)
    val (infoAfter, builderAfter) = entry
    assert(infoAfter.exists(_ eq info.get), "register() replaced cosine_sim")
    assert(builderAfter.exists(_ eq builder.get), "register() replaced cosine_sim's builder")
  }

  test("GraftExtensions class applies cleanly to SparkSessionExtensions") {
    // the spark.sql.extensions entry point must be instantiable + applicable
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.plans.GraftExtensions().apply(ext)
  }
}
