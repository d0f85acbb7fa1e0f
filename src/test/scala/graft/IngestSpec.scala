package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Ingest

class IngestSpec extends SparkSpec {

  private val bundleSchema = StructType(Seq(
    StructField("resourceType", StringType),
    StructField("id", StringType),
    StructField("subject", StructType(Seq(StructField("reference", StringType)))),
    StructField("entry", ArrayType(StructType(Seq(
      StructField("resource", StructType(Seq(
        StructField("resourceType", StringType),
        StructField("id", StringType),
        StructField("valueQuantity", StructType(Seq(
          StructField("value", DoubleType),
          StructField("unit", StringType)))))))
    )))),
    StructField("extension", ArrayType(StructType(Seq(
      StructField("url", StringType),
      StructField("valueString", StringType)))))
  ))

  private def fixturePath = getClass.getResource("/fhir_bundles.jsonl").getPath

  test("permissive JSON read quarantines the malformed line, keeps the rest") {
    val raw = Ingest.readJson(spark, fixturePath, bundleSchema)
    val q = Ingest.quarantine(raw)
    assert(q.clean.count() === 4)
    assert(q.bad.count() === 1)
    assert(q.bad.select(Ingest.CorruptCol).head.getString(0).contains("not json"))
    q.release() // storage freed; clean remains queryable via its own columns
    assert(q.clean.select("id").na.drop().count() === 4)
  }

  test("nested access + explode flattens FHIR-style bundles to observations") {
    val clean = Ingest.quarantine(Ingest.readJson(spark, fixturePath, bundleSchema)).clean
    val obs = clean
      .select(col("id").as("bundle_id"),
        col("subject.reference").as("patient"),
        explode(col("entry")).as("e"))
      .select(col("bundle_id"), col("patient"),
        col("e.resource.id").as("obs_id"),
        col("e.resource.valueQuantity.value").as("value"),
        col("e.resource.valueQuantity.unit").as("unit"))
    val rows = obs.collect().map(r => (r.getString(2), r.getDouble(3), r.getString(4))).toSet
    assert(rows === Set(
      ("o1", 120.5, "mmHg"), ("o2", 80.0, "mmHg"), ("o3", 98.6, "F"), ("o4", 7.1, "pH")))
    // inline_outer keeps bundles with empty entry arrays
    val withEmpty = clean.select(col("id"), explode_outer(col("entry")).as("e"))
    assert(withEmpty.filter(col("id") === "b3").count() === 1)
  }

  test("extension key-value extraction via map_from_entries") {
    val clean = Ingest.quarantine(Ingest.readJson(spark, fixturePath, bundleSchema)).clean
    val risks = clean
      .withColumn("ext", map_from_entries(
        transform(col("extension"), e => struct(e.getField("url"), e.getField("valueString")))))
      .select(col("id"), element_at(col("ext"), "http://example.org/risk").as("risk"))
      .collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(risks("b1") === Some("low"))
    assert(risks("b2") === None)
    assert(risks("b3") === Some("high"))
  }

  test("csv round trip with explicit schema") {
    val tmp = tempDir("graft_csv")
    val df = graft.sources.Tables(spark, sf).nation
    Ingest.writeCsv(df, s"$tmp/nation")
    val back = Ingest.readCsv(spark, s"$tmp/nation", Some(df.schema))
    assert(back.count() === df.count())
    assert(back.schema === df.schema)
  }

  test("partitioned write + dynamic overwrite replaces only touched partitions") {
    val tmp = tempDir("graft_part")
    val t = graft.sources.Tables(spark, sf)
    val orders = t.orders.withColumn("yr", year(col("o_orderdate")))
    Ingest.writePartitioned(orders, s"$tmp/orders", Seq("yr"))
    val full = spark.read.parquet(s"$tmp/orders").count()
    assert(full === orders.count())
    // overwrite one partition with a single sentinel row
    val one = orders.filter(col("yr") === 1997).limit(1)
    Ingest.writePartitioned(one, s"$tmp/orders", Seq("yr"))
    val after = spark.read.parquet(s"$tmp/orders")
    assert(after.filter(col("yr") === 1997).count() === 1)
    val others = orders.filter(col("yr") =!= 1997).count()
    assert(after.filter(col("yr") =!= 1997).count() === others)
    // partition pruning: scanning one partition reads one partition directory
    val pruned = after.filter(col("yr") === 1998)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("yr"), scan)
  }

  test("xml round trip on FHIR-shaped observations") {
    val tmp = tempDir("graft_xml")
    import spark.implicits._
    val obs = Seq(
      ("o1", "mmHg", 120.5), ("o2", "mmHg", 80.0), ("o3", "F", 98.6)
    ).toDF("id", "unit", "value")
    Ingest.writeXml(obs, s"$tmp/obs", rowTag = "Observation")
    val back = Ingest.readXml(spark, s"$tmp/obs", rowTag = "Observation")
    assert(back.count() === 3)
    val got = back.select("id", "unit", "value").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    assert(got === Set(("o1", "mmHg", 120.5), ("o2", "mmHg", 80.0), ("o3", "F", 98.6)))
  }

  test("schema evolution: additive column reads as null for old files; backfill migrates") {
    import spark.implicits._
    val dir = tempDir("graft_evolve_")
    Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .write.parquet(s"$dir/gen=1")
    Seq((3L, "c", 9.5)).toDF("id", "s", "score")
      .write.parquet(s"$dir/gen=2")
    val merged = Ingest.readEvolved(spark, dir)
    assert(merged.columns.toSet === Set("id", "s", "score", "gen"))
    val byId = merged.collect()
      .map(r => r.getAs[Long]("id") -> Option(r.getAs[Any]("score"))).toMap
    assert(byId(1L).isEmpty && byId(2L).isEmpty && byId(3L) === Some(9.5))
    // explicit migration: old generation gains the column with a backfill
    val target = spark.read.parquet(s"$dir/gen=2").schema
    val migrated = Ingest.backfillColumn(
      spark.read.parquet(s"$dir/gen=1"), target, "score",
      org.apache.spark.sql.functions.lit(0.0))
    assert(migrated.schema.fieldNames.toSeq === target.fieldNames.toSeq)
    assert(migrated.unionByName(spark.read.parquet(s"$dir/gen=2")).count() === 3)
    // non-additive (already present / unknown) migrations fail loudly
    intercept[IllegalArgumentException] {
      Ingest.backfillColumn(spark.read.parquet(s"$dir/gen=2"), target, "score",
        org.apache.spark.sql.functions.lit(0.0))
    }
  }

  test("compact rewrites a fragmented directory into target-sized files") {
    import spark.implicits._
    val dir = tempDir("graft_compact_")
    // 40 tiny files of 5 rows each
    (1L to 200L).map(i => (i, i % 7)).toDF("id", "m")
      .repartition(40).write.parquet(s"$dir/in")
    val (before, after) = Ingest.compact(spark, s"$dir/in", s"$dir/out",
      targetRecordsPerFile = 100L)
    assert(before === 40L)
    assert(after === 2L, s"200 rows at 100/file must compact to 2, got $after")
    // content preserved exactly
    val a = spark.read.parquet(s"$dir/in").collect().map(_.toSeq).toSet
    val b = spark.read.parquet(s"$dir/out").collect().map(_.toSeq).toSet
    assert(a === b)
  }
}
