package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Ingestion & egress beyond parquet (SURVEY.md §2.1 S2–S6).
  *
  * Posture follows the survey's FHIR analysis (§1.3): explicit schema with
  * PERMISSIVE parse and a `_corrupt_record` column — open-ended nested
  * documents must never kill a 100 TB batch over one malformed row.
  *
  * Writes: partitioned parquet with dynamic partition overwrite — the
  * idempotent-reprocessing primitive (re-running a day's job replaces that
  * day's partitions only, the reference's promote-and-rerun CI/CD concept
  * applied to data).
  */
object Ingest {

  val CorruptCol = "_corrupt_record"

  /** S2: schema'd JSON/JSONL scan, malformed rows captured not fatal. */
  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema.add(CorruptCol, "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .json(path)

  /** S3: CSV with header; explicit schema preferred, inference opt-in. */
  def readCsv(spark: SparkSession, path: String, schema: Option[StructType] = None): DataFrame = {
    val base = spark.read.option("header", "true")
    schema match {
      case Some(s) => base.schema(s).csv(path)
      case None    => base.option("inferSchema", "true").csv(path)
    }
  }

  /** S5: partitioned parquet sink with dynamic partition overwrite. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** S6: CSV egress. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** S2-adjacent: XML (native in Spark 4) — FHIR's other wire format.
    * Same permissive posture as JSON.
    */
  def readXml(spark: SparkSession, path: String, rowTag: String,
      schema: Option[StructType] = None): DataFrame = {
    val base = spark.read.format("xml")
      .option("rowTag", rowTag)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
    schema match {
      case Some(s) => base.schema(s.add(CorruptCol, "string")).load(path)
      case None    => base.load(path)
    }
  }

  def writeXml(df: DataFrame, path: String, rowTag: String): Unit =
    df.write.mode(SaveMode.Overwrite).format("xml")
      .option("rowTag", rowTag).save(path)

  /** Schema evolution read (SURVEY §1.3 mode (c)): union the footer
    * schemas of every generation under a path — a column added in a later
    * generation reads as null for earlier files, the standard additive
    * lake evolution. `mergeSchema` is per-read (not the session default)
    * because footer merging costs one extra metadata pass per file —
    * opt in where generations genuinely differ. Type CHANGES of an
    * existing column are not evolution and fail loudly at merge time
    * (Parquet refuses incompatible footer types) — the desired behavior:
    * silent coercion corrupts history.
    */
  def readEvolved(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Migration helper for the non-additive case: materialize an evolved
    * column onto an OLD generation with an explicit backfill expression,
    * producing the new schema exactly (column order included) so both
    * generations union cleanly and downstream code sees one shape.
    */
  def backfillColumn(old: DataFrame, target: StructType,
      name: String, backfill: org.apache.spark.sql.Column): DataFrame = {
    require(target.fieldNames.contains(name), s"$name not in target schema")
    require(!old.columns.contains(name), s"$name already present")
    val widened = old.withColumn(name,
      backfill.cast(target(name).dataType))
    widened.select(target.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** Small-file compaction — THE recurring lake maintenance operation:
    * streaming sinks and per-trigger micro-batches leave thousands of
    * KB-sized files whose open/footer cost dominates later scans. Rewrite
    * a directory into ~`targetRecordsPerFile`-row files: one count, one
    * round-robin repartition to the implied file count (plus
    * `maxRecordsPerFile` as the hard cap for skewed in-partition row
    * sizes), then an atomic swap via overwrite of a sibling dir. Returns
    * (filesBefore, filesAfter). Partitioned layouts compact per-partition
    * with the same write by keeping `partitionCols` non-empty.
    */
  def compact(spark: SparkSession, dir: String, outDir: String,
      targetRecordsPerFile: Long,
      partitionCols: Seq[String] = Nil): (Long, Long) = {
    require(targetRecordsPerFile > 0, "targetRecordsPerFile must be positive")
    def parquetFiles(d: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1L else 0L
      walk(new java.io.File(d.stripPrefix("file:")))
    }
    val before = parquetFiles(dir)
    val df = spark.read.parquet(dir)
    val n = df.count()
    val files = math.max(1L, (n + targetRecordsPerFile - 1) / targetRecordsPerFile)
    val writer = df.repartition(files.toInt)
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", targetRecordsPerFile)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
     else writer).parquet(outDir)
    (before, parquetFiles(outDir))
  }

  /** Splits a permissively-parsed frame into (clean, quarantine, release).
    * Caches the parsed frame first: Spark disallows referencing only the
    * internal corrupt-record column on a raw file scan
    * (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), and both
    * halves re-read the input otherwise. Call `release()` once both halves
    * are consumed — long-lived sessions leak storage otherwise.
    */
  final case class Quarantined(clean: DataFrame, bad: DataFrame, release: () => Unit)

  def quarantine(df: DataFrame): Quarantined = {
    val parsed = df.cache()
    Quarantined(
      parsed.filter(col(CorruptCol).isNull).drop(CorruptCol),
      parsed.filter(col(CorruptCol).isNotNull),
      () => { parsed.unpersist(); () })
  }
}
