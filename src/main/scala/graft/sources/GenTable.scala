package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.UUID
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, LocalFileSystem, Options, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Generational table commits — the minimal ACID protocol for the lake
  * maintenance paths (streaming upsert, compaction) that previously relied
  * on dynamic partition overwrite, where a crash mid-overwrite leaves a
  * partially-rewritten partition with no rollback. The reference declares
  * an S3 data lake consumed by a scheduled ETL job
  * (`Hoth/FHIR/cloudformations/lambda-stack.yml:16-18,42-55`); the modern
  * convention there is an ACID table format. This is that contract's core
  * — atomic visibility via a single manifest swap — without adopting
  * Delta/Iceberg wholesale (no table-format runtime ships in
  * /opt/spark/jars).
  *
  * Layout:
  * {{{
  *   table/_commit                          <- the ONLY mutable object
  *   table/_commits/ct_<id>                 <- immutable commit archive
  *   table/<pcol>=<v>/gen=<n>/part-....parquet  <- immutable once written
  * }}}
  *
  * Protocol (single writer, any number of readers):
  *  1. STAGE: write the new rows of each touched partition under that
  *     partition's NEXT generation directory (append-only paths no
  *     manifest references yet — invisible to every reader).
  *  2. PUBLISH: replace the manifest with ONE atomic operation per the
  *     target store's strongest primitive (see [[SwapMode]]). Readers
  *     resolve concrete `pcol=v/gen=n` paths from whichever manifest
  *     version they read — they see the table entirely before or entirely
  *     after a commit, never a torn mix.
  *
  * All metadata I/O goes through the Hadoop `FileSystem` API resolved from
  * the table path's scheme (the active session's hadoopConfiguration), so
  * the same table code runs on `file:`, HDFS, and s3a/abfs/gs — the data
  * files already did (Spark's parquet reader/writer is scheme-agnostic).
  * The atomic swap is scheme-dispatched:
  *  - local `file:` — temp write + java.nio ATOMIC_MOVE (POSIX rename);
  *  - HDFS-like stores — temp write + rename-with-overwrite
  *    (`FileContext.rename(OVERWRITE)`, atomic on HDFS);
  *  - object stores (s3a, gs, abfs, ...) — a SINGLE-OBJECT PUT: S3-class
  *    stores replace an object atomically on PUT (strong read-after-write
  *    since 2020), while a "rename" there is a non-atomic copy+delete —
  *    so the manifest is simply overwritten in place, no temp file.
  *
  * Crash analysis: a crash during STAGE leaves orphan files in an
  * uncommitted generation directory; the manifest is untouched, readers
  * are unaffected, and the next attempt deletes the orphan directory
  * before re-staging (generation numbers are allocated from the committed
  * manifest, so a retry targets the same directory). A crash between
  * STAGE and PUBLISH is the same case. PUBLISH itself is a single atomic
  * manifest replace — it either happened or it didn't. The time-travel
  * archive is written strictly AFTER the swap (an archive must never
  * exist for a state that was not committed — readers and CDC consumers
  * derive the head from the manifest, so a crash between swap and archive
  * exposes nothing); a missing head archive is backfilled from the
  * manifest by the next publish. Temp manifests a crash strands are swept
  * by [[vacuum]].
  *
  * Scale: staging cost is bounded by the partitions a batch touches
  * (the upsert contract), never table size. The manifest has one line
  * grammar (see [[renderBody]]): one [[Cell]] per partition (its
  * generation, bands, bytes, rows and files); heads add `#tgen`, `#meta`
  * and — past [[shardCellThreshold]] cells — `#shard` lines naming
  * immutable delta shards, which add `#drop` tombstones. Old generations
  * stay on disk until [[vacuum]], giving readers snapshot isolation for
  * the retention window.
  *
  * Schema evolution: the table schema rides the manifest
  * (`#meta=table_schema`). A batch may ADD columns — the committed schema
  * is the running union, untouched old generations read through it with
  * the missing columns null, and no footer-merge pass is ever needed
  * (at 100 TB, `mergeSchema` is a driver-side scan of every committed
  * file's footer; carrying the schema in the one manifest object makes
  * evolved reads free). Type changes are rejected. Time travel reads an
  * archived commit with the schema AS OF that commit.
  *
  * Design boundary — SINGLE WRITER, deliberately: two concurrent writers
  * from the same head would allocate the same next generation and APPEND
  * into the same `pcol=v/gen=n` directories during STAGE, so the winner's
  * commit could reference the loser's files — a torn state no
  * publish-time compare-and-swap can repair, because the damage lands
  * before either publish runs. Directory-granular manifests cannot close
  * that hole: safe multi-writer needs file-granular commits (the
  * manifest lists files, staged under unique names, as Delta's
  * transaction log does) or an external lease/lock service (the
  * DynamoDB-style coordinator S3 deployments use), both of which replace
  * this protocol rather than extend it. Serialize writers externally
  * (one maintenance scheduler per table — the reference's Step Functions
  * shape); readers need no coordination at any count. [[publish]] FAILS
  * LOUD when it can detect the violation: the committed head must be the
  * staged commit's predecessor, so the second of two interleaved writers
  * throws instead of committing a mixed-generation manifest.
  */
object GenTable {

  /** One or more partition columns. A bare String or Seq[String] converts
    * implicitly, so `upsertBatch(..., "bucket")` and
    * `upsertBatch(..., Seq("day", "bucket"))` both read naturally —
    * `(day, bucket)` is the canonical 100 TB layout: a time column for
    * retention and range pruning × a hash bucket for upsert locality.
    */
  final case class PartitionCols(cols: Seq[String]) {
    require(cols.nonEmpty, "need at least one partition column")
    require(cols.distinct == cols, s"duplicate partition columns: $cols")
  }
  object PartitionCols {
    import scala.language.implicitConversions
    implicit def fromString(c: String): PartitionCols = PartitionCols(Seq(c))
    implicit def fromSeq(cs: Seq[String]): PartitionCols = PartitionCols(cs)
  }

  /** One partition's committed state — its manifest CELL: the generation
    * directory readers open, the skip tier's encoded min/max band per
    * tracked column (empty when none is provable), and the bytes, exact
    * rows and data files read back from that generation's files (None in
    * manifests that predate their tracking).
    */
  final case class Cell(gen: Long,
      stats: Map[String, (Long, Long)] = Map.empty,
      bytes: Option[Long] = None, rows: Option[Long] = None,
      files: Option[Long] = None)

  /** A committed table state: one [[Cell]] per partition KEY. A key is
    * the partition's value tuple in canonical form — each component's
    * string rendering URL-encoded, components joined with ','
    * ([[partKey]]); for a single-column table this is exactly the
    * directory-name value, so the manifest format is unchanged from the
    * single-column era. `minGen` floors [[tableGen]] so commit ids stay
    * strictly increasing even when a commit removes the highest-generation
    * partitions entirely (a [[deleteWhere]] that empties them) — without
    * it the next commit id could collide with an archived one.
    */
  final case class Commit(partitionCols: Seq[String],
      cells: Map[String, Cell] = Map.empty, minGen: Long = 0L,
      meta: Map[String, String] = Map.empty) {
    /** Per-field views of [[cells]]: `stats` holds only partitions with a
      * band, `sizes`/`rows`/`files` only partitions that recorded one.
      */
    lazy val gens: Map[String, Long] = cells.map { case (k, c) => k -> c.gen }
    lazy val stats: Map[String, Map[String, (Long, Long)]] =
      cells.collect { case (k, c) if c.stats.nonEmpty => k -> c.stats }
    lazy val sizes: Map[String, Long] =
      cells.flatMap { case (k, c) => c.bytes.map(k -> _) }
    lazy val rows: Map[String, Long] =
      cells.flatMap { case (k, c) => c.rows.map(k -> _) }
    lazy val files: Map[String, Long] =
      cells.flatMap { case (k, c) => c.files.map(k -> _) }
    /** Display form of the partition columns (the single column's name
      * for single-column tables).
      */
    def partitionCol: String = partitionCols.mkString(",")
    def tableGen: Long =
      if (cells.isEmpty) minGen
      else math.max(minGen, cells.valuesIterator.map(_.gen).max)
    /** Columns any partition tracks min/max for (the sticky stats set). */
    def trackedStatsCols: Set[String] = cells.values.flatMap(_.stats.keys).toSet
    /** Total committed bytes, when every partition recorded its size at
      * commit time (tables written since size tracking) — the Iceberg-style
      * statistic that lets the optimizer cost a scan (broadcast decisions)
      * WITHOUT listing a single file. None forces the reader to list.
      */
    def totalBytes: Option[Long] =
      if (cells.isEmpty) None else total(_.bytes)
    /** Exact committed row count, when every partition recorded one at
      * commit time (`#rows` manifest lines, read from the parquet footers
      * the commit just wrote). Some(0) for an empty committed table —
      * the count is still exact. None (a pre-row-tracking table) forces
      * the reader to scan; [[GenTableMetadataAggregate]]-style rewrites
      * must not fire.
      */
    def totalRows: Option[Long] = total(_.rows)
    /** Committed data-file count, when every partition recorded one
      * (`#files` lines) — the input to a METADATA-ONLY compaction
      * decision ([[compactionAdvice]]): at scale, listing a table to
      * decide whether to compact costs more than the decision saves.
      */
    def totalFiles: Option[Long] = total(_.files)
    private def total(field: Cell => Option[Long]): Option[Long] =
      if (cells.values.forall(field(_).isDefined))
        Some(cells.values.map(field(_).get).sum)
      else None
    /** This commit with the `replaced` partitions swapped for what `s`
      * landed: a landed partition takes the staged cell, read back from
      * its files; a replaced partition that landed nothing leaves the
      * manifest. The commit id is the staged generation even when nothing
      * landed (a rewrite that empties every partition it touched), so ids
      * stay strictly increasing.
      */
    private[sources] def fold(replaced: Iterable[String], s: Staged,
        extraMeta: Map[String, String] = Map.empty): Commit = copy(
      cells = cells -- replaced ++ s.cells,
      minGen = math.max(minGen, s.gen),
      meta = meta ++ s.meta ++ extraMeta)
  }

  /** What one [[stageGen]] landed at generation `gen`: one cell per
    * landed partition, read back from the written files; `meta` carries
    * the written schema and the bloom column set with its sizing.
    */
  private[sources] final case class Staged(gen: Long,
      cells: Map[String, Cell], meta: Map[String, String])

  /** Reserved meta key carrying the committed schema (see object doc). */
  private val SchemaMetaKey = "table_schema"

  /** Reserved meta keys for the sticky Bloom-filter column set and its
    * sizing (see [[readEquals]]).
    */
  private val BloomColsKey = "bloom_cols"
  private val BloomItemsKey = "bloom_items"

  /** Reserved meta keys for commit lineage ([[history]]): which operation
    * produced each commit, and when. Stamped by every public writer; meta
    * carries forward, so each commit overwrites the previous stamp.
    */
  private val OpMetaKey = "commit_op"
  private val TsMetaKey = "commit_ts"

  /** Reserved meta keys carrying the table's WRITE CONTRACT — the merge
    * key, order columns, and skip-column declarations its writers used —
    * so later doorways need no re-declaration: a zero-option
    * `df.write.format("gentable").mode("append")`, SQL `INSERT INTO`
    * (routed to the same atomic upsert), and catalog CTAS all read the
    * contract from the ONE manifest object. Stamped by [[upsertBatch]] on
    * every commit (latest declaration wins) and by `CREATE TABLE`
    * TBLPROPERTIES; meta carries forward through every other writer.
    */
  private[sources] val WriteKeyColKey = "write_key_col"
  private[sources] val WriteOrderColsKey = "write_order_cols"
  private[sources] val WriteStatsColsKey = "write_stats_cols"
  private[sources] val WriteBloomColsKey = "write_bloom_cols"

  /** A committed table's recorded write contract (see the meta keys
    * above). `keyCol`/`orderCols` empty = the table has never declared an
    * append contract (CDC-only or replace-only lifecycles) — doorways
    * that need one must then fail loud, never guess a merge key.
    */
  final case class WriteDefaults(keyCol: Option[String],
      orderCols: Seq[String], statsCols: Seq[String], bloomCols: Seq[String]) {
    /** The append contract, when complete enough to drive an upsert. */
    def appendContract: Option[(String, Seq[String])] =
      keyCol.filter(_ => orderCols.nonEmpty).map(_ -> orderCols)
  }

  def writeDefaultsOf(c: Commit): WriteDefaults = writeDefaultsOfMeta(c.meta)

  private[sources] def writeDefaultsMeta(keyCol: String,
      orderCols: Seq[String], statsCols: Seq[String],
      bloomCols: Seq[String]): Map[String, String] =
    Map(WriteKeyColKey -> keyCol,
      WriteOrderColsKey -> orderCols.mkString(",")) ++
      (if (statsCols.isEmpty) Map.empty
       else Map(WriteStatsColsKey -> statsCols.mkString(","))) ++
      (if (bloomCols.isEmpty) Map.empty
       else Map(WriteBloomColsKey -> bloomCols.mkString(",")))

  private[sources] def opMeta(op: String): Map[String, String] =
    Map(OpMetaKey -> op, TsMetaKey -> java.time.Instant.now().toString)

  /** The commit lineage as a DataFrame — `DESCRIBE HISTORY` for the lake:
    * one row per commit still in [[commits]] (retention-bounded), with the
    * operation that produced it, its wall-clock stamp, and the manifest's
    * own statistics (partitions / exact rows / bytes — no data IO; rows
    * and bytes are null for commits predating their tracking). The audit
    * surface a governance review reads first: what changed this table,
    * when, and how big it was at each step.
    */
  /** Fixed shape of [[history]] — shared with the `gt.ns.t.history`
    * metadata table, whose DSv2 schema must be declarable without
    * computing the frame.
    */
  private[graft] val HistorySchema: StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("commit_id", LongType, nullable = false),
      StructField("op", StringType, nullable = true),
      StructField("committed_at", StringType, nullable = true),
      StructField("n_partitions", IntegerType, nullable = false),
      StructField("n_rows", LongType, nullable = true),
      StructField("bytes", LongType, nullable = true),
      StructField("n_files", LongType, nullable = true)))
  }

  def history(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.Row
    val rows = commits(dir).flatMap(id => commitAt(dir, id).map { c =>
      Row(id, c.meta.get(OpMetaKey).orNull, c.meta.get(TsMetaKey).orNull,
        c.gens.size, c.totalRows.map(Long.box).orNull,
        c.totalBytes.map(Long.box).orNull,
        c.totalFiles.map(Long.box).orNull)
    })
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), HistorySchema)
  }

  // ---------------------------------------------------------------- I/O

  private def hadoopConf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration).getOrElse(new Configuration())

  /** FileSystem + fully-qualified root for `dir`. Local paths go through
    * RawLocalFileSystem: the checksummed LocalFileSystem writes `.crc`
    * sidecars that a rename-based manifest swap would orphan, and the
    * manifest carries its own integrity (require-validated parse).
    */
  private[sources] def fsRoot(dir: String): (FileSystem, HPath) = {
    val p = new HPath(dir)
    val f = p.getFileSystem(hadoopConf) match {
      case l: LocalFileSystem => l.getRawFileSystem
      case o => o
    }
    (f, f.makeQualified(p))
  }

  private def listDir(f: FileSystem, p: HPath): Seq[HPath] =
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.map(_.getPath)

  private def readRaw(f: FileSystem, p: HPath): Array[Byte] = {
    val in = f.open(p)
    try {
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  private def readString(f: FileSystem, p: HPath): String =
    new String(readRaw(f, p), StandardCharsets.UTF_8)

  /** Commit ARCHIVES are gzip-compressed (measured ~13x on real
    * manifests — ProbeManifest/SCALE.md §27: a 10^6-cell table's
    * O(commits x partitions) archive storage is the manifest plane's
    * dominant scale cost, ~93 GiB per 1000 commits plain vs ~7 gzipped).
    * The HEAD manifest stays plain text: it is the atomic-swap object
    * every read parses, and its cost is one parse, not a history.
    * Readers detect by magic bytes, so pre-compression archives parse
    * unchanged.
    */
  private def gzip(bytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos, 8192)
    try gz.write(bytes) finally gz.close()
    bos.toByteArray
  }

  private def readStringMaybeGzip(f: FileSystem, p: HPath): String = {
    val raw = readRaw(f, p)
    val bytes =
      if (raw.length >= 2 && raw(0) == 0x1f.toByte && raw(1) == 0x8b.toByte) {
        val in = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(raw), 8192)
        try {
          val out = new ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          var n = in.read(buf)
          while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
          out.toByteArray
        } finally in.close()
      } else raw
    new String(bytes, StandardCharsets.UTF_8)
  }

  private def writeBytes(f: FileSystem, p: HPath, bytes: Array[Byte]): Unit = {
    val out = f.create(p, true)
    try out.write(bytes) finally out.close()
  }

  /** How [[publish]] makes the new manifest current (see object doc). */
  private[graft] sealed trait SwapMode
  private[graft] case object NioAtomicMove extends SwapMode
  private[graft] case object HadoopRename extends SwapMode
  private[graft] case object SingleObjectPut extends SwapMode

  /** Test hook: force a swap arm regardless of scheme, so GenTableSpec
    * exercises the HDFS-rename and object-store-PUT paths on `file:`
    * URIs (no HDFS/S3 endpoint exists in the test environment).
    */
  @volatile private[graft] var swapModeOverride: Option[SwapMode] = None

  /** Test hook: run once between [[upsertBatch]]'s stage and publish —
    * the window the OCC retry exists for — then self-clear.
    */
  @volatile private[graft] var interleaveHook: Option[() => Unit] = None

  /** Test hook: run once between [[upsertBatch]]'s base-commit read and
    * its stage — the window where a fully-published concurrent writer
    * makes the stale-orphan delete dangerous ([[requireUncommitted]]'s
    * scenario) — then self-clear.
    */
  @volatile private[graft] var preStageHook: Option[() => Unit] = None

  private val ObjectStoreSchemes =
    Set("s3", "s3a", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs", "oss", "cos")

  private def swapModeFor(p: HPath): SwapMode = swapModeOverride.getOrElse {
    Option(p.toUri.getScheme).getOrElse("file") match {
      case "file" => NioAtomicMove
      case s if ObjectStoreSchemes(s) => SingleObjectPut
      case _ => HadoopRename
    }
  }

  /** Atomically replace `dst` with `bytes`, per the store's strongest
    * primitive (the swap-mode dispatch in the object doc).
    */
  private def swapIn(f: FileSystem, root: HPath, dst: HPath,
      bytes: Array[Byte]): Unit =
    swapModeFor(dst) match {
      case SingleObjectPut =>
        writeBytes(f, dst, bytes)
      case NioAtomicMove =>
        val tmp = new HPath(root, s"_commit.tmp.${UUID.randomUUID()}")
        writeBytes(f, tmp, bytes)
        java.nio.file.Files.move(
          java.nio.file.Paths.get(tmp.toUri.getPath),
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      case HadoopRename =>
        val tmp = new HPath(root, s"_commit.tmp.${UUID.randomUUID()}")
        writeBytes(f, tmp, bytes)
        FileContext.getFileContext(dst.toUri, hadoopConf)
          .rename(tmp, dst, Options.Rename.OVERWRITE)
    }

  private def enc(v: String): String =
    java.net.URLEncoder.encode(v, StandardCharsets.UTF_8)

  private def dec(v: String): String =
    java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)

  // ------------------------------------------------------ partition keys

  /** Canonical key for one partition value tuple: each component
    * URL-encoded, joined with ',' (enc never emits ',' — %2C — so the
    * split is unambiguous). A single-column key is byte-identical to the
    * pre-composite manifest key, so old manifests parse unchanged.
    */
  private[sources] def partKey(vals: Seq[String]): String =
    vals.map(enc).mkString(",")

  /** The raw value components of a [[partKey]]. */
  private[sources] def partVals(key: String): Seq[String] =
    key.split(",", -1).toSeq.map(dec)

  /** The find-scan and the rewrite evaluate DML predicates in SEPARATE
    * jobs — a non-deterministic predicate would match different rows in
    * each, updating/deleting a set unrelated to the one it counted (and
    * missing rows in partitions the first evaluation skipped entirely).
    */
  private def requireDeterministic(predicate: Column, op: String): Unit =
    require(!GraftSqlShim.expr(predicate)
        .exists(!_.deterministic),
      s"$op predicates must be deterministic (the find-scan and the " +
        s"rewrite evaluate them in separate jobs); materialize random " +
        s"sampling into a column first")

  /** The partition's directory path relative to the table root:
    * `c1=v1/c2=v2` (Hive layout, one level per partition column).
    */
  private[sources] def partRelDir(pcols: Seq[String], key: String): String = {
    val vals = partVals(key)
    require(vals.length == pcols.length,
      s"partition key '$key' has ${vals.length} components for " +
        s"${pcols.length} partition columns $pcols")
    pcols.zip(vals).map { case (c, v) => s"$c=$v" }.mkString("/")
  }

  /** Generation directory for (partition key, gen) as a filesystem path. */
  private def genDir(root: HPath, pcols: Seq[String], key: String,
      g: Long): HPath =
    new HPath(new HPath(root, partRelDir(pcols, key)), s"gen=$g")

  /** Generation directory as a reader path string. */
  private def genPath(dir: String, pcols: Seq[String], key: String,
      g: Long): String =
    s"$dir/${partRelDir(pcols, key)}/gen=$g"

  /** Distinct partition keys present in `rows` (bounded by
    * partitions-per-batch), NULL components refused before any file
    * lands — a NULL would render a __HIVE_DEFAULT_PARTITION__ directory
    * the manifest could never address.
    */
  private def touchedKeys(rows: DataFrame, pcols: Seq[String]): Seq[String] = {
    rows.select(pcols.map(c => col(c).cast("string")): _*).distinct()
      .collect().toSeq.map { r =>
        val vals = pcols.indices.map(r.getString)
        require(!vals.contains(null),
          s"partition column(s) ${pcols.mkString(",")} contain NULLs — " +
            s"GenTable partition values must be non-null (filter or " +
            s"default them first)")
        partKey(vals)
      }
  }

  // ------------------------------------------------------ commit codec

  /** Reads the committed state; None for a table that has never published. */
  def readCommit(dir: String): Option[Commit] = {
    val (f, root) = fsRoot(dir)
    val p = new HPath(root, "_commit")
    if (!f.exists(p)) None
    else Some(resolveManifest(f, root, readString(f, p)))
  }

  // --------------------------------------------------- manifest shards

  /** SCALE.md §27 measured the monolithic manifest's boundary: at 10^6
    * cells the one-object plane costs 4–9 s of driver metadata per plan
    * and ~27 s per commit — O(cells) where the work is O(churn). Past
    * [[shardCellThreshold]] cells the head manifest goes SHARDED (the
    * Iceberg manifest-list shape, adapted to the one-object swap
    * protocol):
    *
    *  - the head `_commit` STAYS the single atomic-swap object, but
    *    carries only the header, the table meta, and `#shard=` lines
    *    referencing IMMUTABLE delta shards under `_manifests/` —
    *    KB-sized however many cells the table has;
    *  - each publish writes ONE new gzipped shard holding just the
    *    cells it changed (the full cell of every touched key, plus
    *    `#drop=` tombstones), then swaps the head — commit IO follows
    *    the churn, never the table;
    *  - the committed state is the in-order FOLD of the shard chain
    *    (later shards override per key, drops remove); when the chain
    *    reaches [[shardMaxChain]] the next publish folds it into one
    *    base shard — amortized O(cells) every `shardMaxChain` commits;
    *  - shards are immutable and uniquely named, so two JVM-wide caches
    *    make the plane O(KB) per plan after first touch: parsed shards
    *    by file name, and FOLDED commits by (root, id, chain);
    *  - archives (`_commits/ct_N`) store the sharded head body — history
    *    retention pins the shards it references ([[vacuum]] sweeps
    *    `_manifests/` against head + retained archives, under the same
    *    no-concurrent-stage contract as the generation sweep: a shard
    *    between its write and its head swap is mid-publish, which the
    *    single-maintenance-scheduler contract excludes).
    *
    * A table below the threshold never shards (the monolithic format is
    * byte-identical to every previous round); once sharded, a table
    * stays sharded. A crash between shard write and head swap leaves
    * the previous state committed and one unreferenced shard file —
    * vacuum's class, reported by fsck.
    */
  private val ManifestsDirName = "_manifests"

  /** Cell count at which a publishing table switches to the sharded
    * head (default 100k — the measured knee where monolithic costs
    * leave the sub-second regime).
    */
  @volatile private[graft] var shardCellThresholdOverride: Option[Int] = None
  private def shardCellThreshold: Int =
    shardCellThresholdOverride.getOrElse(100000)

  /** Delta shards folded per read before the chain compacts. */
  @volatile private[graft] var shardMaxChainOverride: Option[Int] = None
  private def shardMaxChain: Int = shardMaxChainOverride.getOrElse(24)

  /** One `#shard=` reference in a sharded head: immutable file name
    * under `_manifests/`, with its cell/tombstone counts (operator
    * visibility; the fold needs only the name order).
    */
  private[sources] final case class ShardRef(name: String, cells: Long,
      drops: Long)

  /** One shard's payload: the full cell of every key the shard touches,
    * plus the keys it removes.
    */
  private[sources] final case class ShardData(cells: Map[String, Cell],
      drops: Set[String])

  /** Parsed shards by absolute file path — shard files are immutable
    * (uniquely named per commit, never rewritten), so entries can never
    * go stale; bounded by wholesale clear (correctness-neutral).
    */
  private val shardCache =
    new java.util.concurrent.ConcurrentHashMap[String, ShardData]()

  /** Folded sharded states by (root, commit id, shard chain) — every
    * component immutable, so a hit is exact. Bounded by wholesale clear:
    * a folded 10^6-cell state is driver-memory significant, so keep few.
    */
  private val foldedCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Seq[String]), Commit]()

  /** The ONE line grammar of heads, archives and shards. A cell is
    * `<key>=<gen>` plus `#stat=<key>|<col>|<min>|<max>` per band and
    * `#size=<key>|<bytes>`, `#rows=<key>|<n>`, `#files=<key>|<n>`. Heads
    * open with `pcol=<cols>` and `#tgen=<commit id>` and carry
    * `#meta=<k>|<v>` lines (between the bands and the sizes) or, when
    * sharded, `#shard=<name>|<cells>|<drops>` lines instead of cells;
    * shards end with `#drop=<key>` tombstones. Each kind is sorted by
    * key. A partition key never starts with '#' nor holds '=' or '|'
    * (URL encoding writes `%23`, `%3D`, `%7C`), so a line's kind is its
    * prefix: unknown `#` lines are ignored (forward compatibility), and
    * cell lines whose key has no generation line are dropped.
    */
  private def renderBody(head: Seq[String], cells: Map[String, Cell],
      meta: Map[String, String], tail: Seq[String]): Array[Byte] = {
    val cs = cells.toSeq.sortBy(_._1)
    def per(kind: String, field: Cell => Option[Long]): Seq[String] =
      cs.flatMap { case (k, c) => field(c).map(v => s"#$kind=$k|$v") }
    (head ++ cs.map { case (k, c) => s"$k=${c.gen}" } ++
      cs.flatMap { case (k, c) => c.stats.toSeq.sortBy(_._1).map {
        case (sc, (mn, mx)) => s"#stat=$k|${enc(sc)}|$mn|$mx" } } ++
      meta.toSeq.sortBy(_._1).map { case (k, v) => s"#meta=${enc(k)}|${enc(v)}" } ++
      per("size", _.bytes) ++ per("rows", _.rows) ++ per("files", _.files) ++
      tail).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
  }

  /** A head body: monolithic with an empty `chain`, else sharded (the
    * cells live in the chain's shards).
    */
  private[sources] def renderHead(c: Commit,
      chain: Seq[ShardRef] = Nil): Array[Byte] =
    renderBody(Seq(s"pcol=${c.partitionCols.map(enc).mkString(",")}",
        s"#tgen=${c.tableGen}") ++
        chain.map(s => s"#shard=${enc(s.name)}|${s.cells}|${s.drops}"),
      if (chain.isEmpty) c.cells else Map.empty, c.meta, Nil)

  private[sources] def renderShard(d: ShardData): Array[Byte] =
    renderBody(Nil, d.cells, Map.empty, d.drops.toSeq.sorted.map("#drop=" + _))

  /** Parse any body of the grammar: the state it spells (partition
    * columns empty for a shard; `#tgen` as `minGen`), its shard chain and
    * its tombstones.
    */
  private def parseBody(body: String): (Commit, Seq[ShardRef], Set[String]) = {
    var pcols = Seq.empty[String]
    var tgen = 0L
    val gens = Map.newBuilder[String, Long]
    val stats = Seq.newBuilder[(String, (String, (Long, Long)))]
    val sizes, rows, files = Map.newBuilder[String, Long]
    val meta = Map.newBuilder[String, String]
    val shards = Seq.newBuilder[ShardRef]
    val drops = Set.newBuilder[String]
    body.split('\n').iterator.filter(_.nonEmpty).foreach { line =>
      val eq = line.indexOf('=')
      def args(n: Int): Array[String] = {
        val p = line.substring(eq + 1).split('|')
        require(p.length == n, s"malformed manifest line: $line")
        p
      }
      if (line.startsWith("pcol="))
        pcols = line.stripPrefix("pcol=").split(",", -1).toSeq.map(dec)
      else if (!line.startsWith("#")) {
        require(eq > 0, s"malformed manifest line: $line")
        gens += line.substring(0, eq) -> line.substring(eq + 1).toLong
      } else if (eq > 0) line.substring(1, eq) match {
        case "tgen" => tgen = args(1)(0).toLong
        case "stat" => val p = args(4)
          stats += p(0) -> (dec(p(1)) -> ((p(2).toLong, p(3).toLong)))
        case "size" => val p = args(2); sizes += p(0) -> p(1).toLong
        case "rows" => val p = args(2); rows += p(0) -> p(1).toLong
        case "files" => val p = args(2); files += p(0) -> p(1).toLong
        case "meta" => val p = args(2); meta += dec(p(0)) -> dec(p(1))
        case "shard" => val p = args(3)
          shards += ShardRef(dec(p(0)), p(1).toLong, p(2).toLong)
        case "drop" => drops += line.substring(eq + 1)
        case _ => // an unknown annotation
      }
    }
    val bands = stats.result().groupMap(_._1)(_._2).map { case (k, b) => k -> b.toMap }
    val (sz, rw, fl) = (sizes.result(), rows.result(), files.result())
    val cells = gens.result().map { case (k, g) =>
      k -> Cell(g, bands.getOrElse(k, Map.empty), sz.get(k), rw.get(k), fl.get(k))
    }
    (Commit(pcols, cells, tgen, meta.result()), shards.result(), drops.result())
  }

  /** Parse one head or archive body WITHOUT resolving shards: a
    * monolithic body returns its full state and an empty chain; a sharded
    * head returns the header/meta-only state (no cells — `#tgen` still
    * yields the commit id) plus the chain for [[resolveManifest]] to
    * fold. Callers that need cells must resolve; the light parse is for
    * the publish OCC check and the vacuum reference sweep.
    */
  private[sources] def parseManifest(body: String): (Commit, Seq[ShardRef]) = {
    val (c, chain, _) = parseBody(body)
    require(c.partitionCols.nonEmpty, s"malformed manifest: ${body.take(80)}")
    (c, chain)
  }

  private[sources] def parseShard(body: String): ShardData = {
    val (c, _, drops) = parseBody(body)
    ShardData(c.cells, drops)
  }

  private def loadShard(f: FileSystem, root: HPath, name: String): ShardData = {
    val p = new HPath(new HPath(root, ManifestsDirName), name)
    val key = p.toString
    val cached = shardCache.get(key)
    if (cached != null) return cached
    val d = parseShard(readStringMaybeGzip(f, p))
    if (shardCache.size >= 64) shardCache.clear()
    shardCache.put(key, d)
    d
  }

  /** The committed state behind a (possibly sharded) manifest body:
    * monolithic bodies return as parsed; sharded heads fold their chain
    * (cached — the chain is immutable per commit id): a later shard's
    * cell replaces the earlier one whole, and drops remove.
    */
  private def resolveManifest(f: FileSystem, root: HPath,
      body: String): Commit = {
    val (head, shards) = parseManifest(body)
    if (shards.isEmpty) return head
    val cacheKey = (root.toString, head.tableGen, shards.map(_.name))
    val hit = foldedCache.get(cacheKey)
    if (hit != null) return hit
    val folded = head.copy(cells = shards.foldLeft(Map.empty[String, Cell]) {
      (cells, ref) =>
        val d = loadShard(f, root, ref.name)
        cells -- d.drops ++ d.cells
    })
    if (foldedCache.size >= 8) foldedCache.clear()
    foldedCache.put(cacheKey, folded)
    folded
  }

  /** The delta shard from `prev` to `next`: every key whose cell changed
    * carries its full next-state cell; keys that vanished become
    * tombstones.
    */
  private def diffShard(prev: Commit, next: Commit): ShardData =
    ShardData(next.cells.filter { case (k, c) => !prev.cells.get(k).contains(c) },
      prev.cells.keySet -- next.cells.keySet)

  // --------------------------------------------------------- publish

  /** PUBLISH: atomically replace the manifest ([[swapIn]]), then archive
    * the commit under `_commits/ct_<tableGen>` for time travel
    * ([[readAt]]) and CDC ([[changesBetween]]). Order matters for
    * exactly-once CDC: the SWAP is the commit point, and the archive
    * lands only after it — an archive can never name a state that was
    * not committed, so a CDC consumer that checkpoints a head id is
    * guaranteed the content behind that id is final (the
    * archive-before-swap order would let a crash expose id N against
    * content a retry later replaces). A crash between swap and archive
    * leaves the head unarchived; the next publish backfills it from the
    * manifest it replaces, so every committed state is archived before
    * being superseded. tableGen strictly increases through
    * [[upsertBatch]]/[[compact]], so it doubles as the commit id.
    *
    * FAILS LOUD on the detectable concurrent-writer violation: the
    * committed head must be exactly the staged commit's predecessor
    * (every staging path allocates `tableGen = head + 1`).
    */
  def publish(dir: String, commit: Commit): Unit = {
    val (f, root) = fsRoot(dir)
    f.mkdirs(root)
    val commitP = new HPath(root, "_commit")
    val curBody = if (f.exists(commitP)) Some(readString(f, commitP)) else None
    val curParsed = curBody.map(parseManifest)
    val curGen = curParsed.map(_._1.tableGen).getOrElse(0L)
    require(curGen == commit.tableGen - 1,
      s"concurrent writer detected on $dir: staged commit " +
        s"${commit.tableGen} expects committed head ${commit.tableGen - 1} " +
        s"but found $curGen — the protocol is single-writer (serialize " +
        s"maintenance jobs per table); re-stage from the current head")
    val archiveDir = new HPath(root, "_commits")
    f.mkdirs(archiveDir)
    // backfill a head archive a previous crash (between swap and archive
    // write) left missing — BEFORE this swap supersedes that state.
    // Archives go through the same atomic-swap primitive as the manifest:
    // a plain create+write would let a CONCURRENT READER (commitAt during
    // a live publish — the streamed-view maintenance path) open a
    // half-written ct_N and fail the parse; atomically placed, an archive
    // is either absent (reader falls back to the manifest) or complete.
    curBody.foreach { body =>
      if (curGen > 0) {
        val prevArch = new HPath(archiveDir, f"ct_$curGen%020d")
        if (!f.exists(prevArch))
          swapIn(f, root, prevArch, gzip(body.getBytes(StandardCharsets.UTF_8)))
      }
    }
    // pick the head shape: monolithic below the cell threshold (the
    // format every previous round shipped, byte-identical), SHARDED at or
    // past it — and sticky once sharded (see the shard section doc). The
    // shard file lands BEFORE the head swap: a crash in between leaves
    // the previous state committed and one unreferenced file in
    // `_manifests/` (vacuum's class).
    val curShards = curParsed.map(_._2).getOrElse(Nil)
    val bytes =
      if (curShards.isEmpty && commit.cells.size < shardCellThreshold)
        renderHead(commit)
      else {
        val prev = curBody.map(resolveManifest(f, root, _)).getOrElse(
          Commit(commit.partitionCols))
        val mDir = new HPath(root, ManifestsDirName)
        f.mkdirs(mDir)
        def writeShard(d: ShardData): ShardRef = {
          val name = f"ms_${commit.tableGen}%020d_" +
            s"${UUID.randomUUID().toString.take(8)}.gz"
          writeBytes(f, new HPath(mDir, name), gzip(renderShard(d)))
          ShardRef(name, d.cells.size, d.drops.size)
        }
        val delta = diffShard(prev, commit)
        val chain: Seq[ShardRef] =
          if (delta.cells.isEmpty && delta.drops.isEmpty && curShards.nonEmpty)
            curShards // meta-only commit: the chain carries forward as-is
          else if (curShards.isEmpty || curShards.size >= shardMaxChain)
            // first sharded commit, or the chain is full: fold everything
            // into ONE base shard (amortized O(cells) every maxChain
            // commits; every other commit is O(churn)). The first sharded
            // commit may be CELL-IDENTICAL to its monolithic predecessor (a
            // meta-only marker publish, or a crash-retried restore, on a
            // table at/past the threshold): its delta is empty, but an empty
            // chain would read as an empty table (and a CDC diff would emit
            // mass deletes), so it too gets the full base shard.
            Seq(writeShard(ShardData(commit.cells, Set.empty)))
          else curShards :+ writeShard(delta)
        renderHead(commit, chain)
      }
    swapIn(f, root, commitP, bytes) // the commit point
    swapIn(f, root, new HPath(archiveDir, f"ct_${commit.tableGen}%020d"),
      gzip(bytes))
  }

  /** Committed commit ids, oldest first: the archives plus the manifest
    * head (which may not be archived yet if the last publish crashed
    * between swap and archive — the manifest is authoritative).
    */
  def commits(dir: String): Seq[Long] = {
    val (f, root) = fsRoot(dir)
    val archived = listDir(f, new HPath(root, "_commits"))
      .map(_.getName).filter(_.startsWith("ct_"))
      .map(_.stripPrefix("ct_").toLong)
    val head = readCommit(dir).map(_.tableGen).filter(_ > 0L)
    (archived ++ head).distinct.sorted
  }

  /** The state as of archived commit `id`; falls back to the manifest
    * when `id` is the (possibly not-yet-archived) head.
    */
  private[sources] def commitAt(dir: String, id: Long): Option[Commit] = {
    val (f, root) = fsRoot(dir)
    val p = new HPath(new HPath(root, "_commits"), f"ct_$id%020d")
    // a sharded archive resolves through the same fold as the head —
    // retention keeps the shards a retained archive references
    // ([[vacuum]]'s manifest sweep), so an in-window time travel always
    // resolves; out of window, the archive file itself is already gone
    if (f.exists(p)) Some(resolveManifest(f, root, readStringMaybeGzip(f, p)))
    else readCommit(dir).filter(_.tableGen == id)
  }

  /** Table-level statistics from the ONE manifest object — zero data or
    * directory IO. `bytes`/`rowCount` are None for tables whose manifests
    * predate size/row tracking (readers must then list/scan); for tables
    * written since, `rowCount` is EXACT (parquet-footer truth recorded at
    * each commit), which is what makes `count(*)` a metadata operation at
    * any table size ([[graft.plans.GenTableMetadataAggregate]]).
    */
  final case class TableStats(commitId: Long, partitions: Int,
      bytes: Option[Long], rowCount: Option[Long],
      partitionRows: Map[String, Long], fileCount: Option[Long] = None)

  /** [[TableStats]] of the committed head; None if never published. */
  def tableStats(dir: String): Option[TableStats] =
    readCommit(dir).map { c =>
      TableStats(c.tableGen, c.gens.size, c.totalBytes, c.totalRows,
        c.rows.map { case (k, n) => partVals(k).mkString(",") -> n },
        c.totalFiles)
    }

  /** Metadata-only compaction decision. At scale, LISTING a table to
    * decide whether to compact costs more than the decision saves — the
    * manifest already knows the committed file count and byte size, so
    * the decision is one object read. Advises compaction when the
    * average committed file is under half the target AND the table has
    * more files than partitions (a one-file-per-partition table can't
    * be improved by this compactor, however small the files). None when
    * the manifest predates file/size tracking (decide by listing, or
    * just re-commit once).
    */
  final case class CompactionAdvice(files: Long, partitions: Int,
      avgFileBytes: Long, advise: Boolean)

  def compactionAdvice(dir: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Option[CompactionAdvice] =
    readCommit(dir).filter(_.gens.nonEmpty).flatMap { c =>
      for (files <- c.totalFiles; bytes <- c.totalBytes) yield {
        val avg = if (files == 0) 0L else bytes / files
        CompactionAdvice(files, c.gens.size, avg,
          files > c.gens.size && avg < targetFileBytes / 2)
      }
    }

  /** The scheduled maintenance job, as one call: compact if (and only
    * if) the manifest advises it, then vacuum to the retention window —
    * the OPTIMIZE-then-VACUUM shape every lake deployment ends up
    * cron-ing, with the compact decision made from ONE manifest read.
    * `targetRecordsPerFile` sizes the rewrite like [[compact]];
    * `targetFileBytes` calibrates the advice to the store's economics.
    * Returns the advice that was acted on (None = pre-tracking manifest:
    * nothing compacts, vacuum still runs).
    */
  /** What one [[maintain]] pass did: the compaction advice it acted on
    * (None = pre-tracking manifest), the generations vacuum removed, and
    * the metadata-vs-disk audit AFTER the sweep ([[fsck]]) — anything
    * still unaccounted is the leak class vacuum can never touch.
    */
  final case class MaintenanceReport(advice: Option[CompactionAdvice],
      removedGenerations: Long, orphans: FsckReport)

  def maintain(spark: SparkSession, dir: String,
      targetRecordsPerFile: Long,
      targetFileBytes: Long = 128L * 1024 * 1024,
      keepCommits: Int = 1,
      clusterBy: Seq[String] = Nil): MaintenanceReport = {
    val advice = compactionAdvice(dir, targetFileBytes)
    if (advice.exists(_.advise))
      compact(spark, dir, targetRecordsPerFile, clusterBy)
    val removed = vacuum(dir, keepCommits)
    MaintenanceReport(advice, removed, fsck(dir, keepCommits))
  }

  /** Register the committed view as a temp view — the SQL doorway:
    * `SELECT ...` over `name` plans through the manifest-driven index
    * (Catalyst pruning, manifest `sizeInBytes`, and metadata-only
    * aggregates all apply — `SELECT count(*) FROM name` never scans).
    * Pinned to the commit at call time, like every read here; re-register
    * to see later commits.
    *
    * BEHAVIOR CHANGE (round 15): REQUIRES the session to carry the
    * [[graft.plans.GenTableDml]] resolution rule (`spark.sql.extensions=
    * graft.plans.GraftExtensions`) and throws otherwise — previously a
    * read-only user could register without it. The guard is deliberate
    * and has no escape hatch: on a rule-less session, `INSERT INTO
    * <name>` falls through to Spark's v1 conversion and SILENTLY writes
    * orphan parquet into the table root (the round-13 finding), and a
    * "read-only" registration is exactly as exposed — the view cannot
    * know its callers. Rule-less sessions have two safe spellings:
    * register `readIndexed(spark, dir)` yourself (accepting that INSERT
    * trap consciously), or address tables by CATALOG NAME
    * (`spark.sql.catalog.gt=...GenTableCatalog`), which needs no
    * registration and guards every DML route.
    */
  def createOrReplaceView(spark: SparkSession, dir: String,
      name: String): Unit = {
    // This view is the SQL DML doorway, and the INSERT protection
    // ([[graft.plans.GenTableDml]], a RESOLUTION rule) exists only on
    // sessions built with spark.sql.extensions=graft.plans.GraftExtensions
    // — the live-session register() path has no analyzer hook to add it
    // after the fact. Registering the doorway WITHOUT the rule would arm
    // the exact trap it closes: `INSERT INTO <name>` would plan Spark's
    // raw parquet write into the table root, an orphan no manifest read
    // ever sees. Refuse the registration instead of arming it; a
    // read-only view needs no help (register readIndexed's frame
    // yourself).
    require(spark.sessionState.analyzer.extendedResolutionRules
        .contains(graft.plans.GenTableDml),
      s"createOrReplaceView('$name') requires the GenTableDml resolution " +
        s"rule — build the session with spark.sql.extensions=" +
        s"graft.plans.GraftExtensions. Without it, SQL INSERT INTO the " +
        s"view would write orphan files into the table root (silent " +
        s"data loss). For a read-only view, register " +
        s"GenTable.readIndexed(spark, dir) as a temp view directly.")
    readIndexed(spark, dir).getOrElse(throw new IllegalArgumentException(
      s"no committed GenTable under $dir")).createOrReplaceTempView(name)
  }

  /** ROLLBACK as a forward commit: publish a new commit whose content is
    * exactly the archived commit `commitId` — the Delta `RESTORE` shape.
    * ZERO data IO: generations are immutable, so the restored manifest
    * simply references the old directories again; only the manifest swap
    * happens. History is preserved (the rolled-back commits stay archived
    * and time-travelable until [[vacuum]] retention drops them), and CDC
    * consumers see the restore as one ordinary diff — a consumer that
    * already processed the bad commits converges back without replaying
    * history. The restored commit carries the AS-OF schema and meta
    * (including any sink replay marker — the table IS that state again;
    * single-writer rule: never restore under a live streaming sink).
    * Fails loud (no commit) if the target's generations were vacuumed.
    * Returns the new head commit id.
    */
  def restore(dir: String, commitId: Long): Long = {
    val (f, root) = fsRoot(dir)
    val head = readCommit(dir).getOrElse(throw new IllegalStateException(
      s"no committed GenTable under $dir"))
    val target = commitAt(dir, commitId).getOrElse(
      throw new IllegalArgumentException(
        s"no archived commit $commitId under $dir (vacuumed?)"))
    if (commitId == head.tableGen) return head.tableGen // already there
    // every referenced generation must still exist — vacuum outside the
    // retention window makes old snapshots unrestorable, loudly
    target.gens.foreach { case (k, g) =>
      val d = genDir(root, target.partitionCols, k, g)
      require(f.exists(d),
        s"commit $commitId is not restorable: $d " +
          s"was vacuumed — raise vacuum's keepCommits retention")
    }
    // minGen forces the NEW head id while gens reference old generations
    val restored = target.copy(minGen = head.tableGen + 1,
      meta = target.meta ++ opMeta("restore"))
    publish(dir, restored)
    restored.tableGen
  }

  // ----------------------------------------------------------- reads

  private def pathsOf(dir: String, c: Commit,
      keep: String => Boolean = _ => true): Seq[String] =
    c.gens.toSeq.filter(kg => keep(kg._1)).sortBy(_._1).map { case (k, g) =>
      genPath(dir, c.partitionCols, k, g)
    }

  /** The committed rows of `c`'s partitions that `keep` names — the base
    * every merge and rewrite re-reads. None when none of them is
    * committed.
    */
  private def readPartitions(spark: SparkSession, dir: String, c: Commit,
      keep: String => Boolean): Option[DataFrame] = {
    val paths = pathsOf(dir, c, keep)
    if (paths.isEmpty) None else Some(readPaths(spark, dir, c, paths))
  }

  private[graft] def schemaOf(c: Commit): Option[StructType] =
    c.meta.get(SchemaMetaKey).map(DataType.fromJson(_).asInstanceOf[StructType])

  /** Read committed generation paths with the commit's recorded schema
    * (evolved tables: old generations' missing columns come back null;
    * the partition column types from the schema, not inference). Tables
    * predating schema tracking fall back to inference.
    */
  private def readPaths(spark: SparkSession, dir: String, c: Commit,
      paths: Seq[String]): DataFrame = {
    val r0 = spark.read.option("basePath", dir)
    schemaOf(c).fold(r0)(s => r0.schema(s)).parquet(paths: _*).drop("gen")
  }

  /** Time travel: the table as of an archived commit id (from
    * [[commits]]), read with the schema AS OF that commit. Generations
    * are immutable, so the snapshot is exact — readable until
    * [[vacuum]]'s retention drops it.
    */
  def readAt(spark: SparkSession, dir: String, commitId: Long): Option[DataFrame] =
    commitAt(dir, commitId).filter(_.gens.nonEmpty)
      .map(c => readPaths(spark, dir, c, pathsOf(dir, c)))

  /** The newest retained commit whose `commit_ts` stamp is at or before
    * `ts` — timestamp-based time travel (the Delta `timestampAsOf`
    * shape), resolved purely from the lineage stamps every writer
    * records. Commits predating stamping are skipped conservatively
    * (their wall-clock time is unknowable); None when no stamped commit
    * is old enough. Single-writer stamps are monotone by construction.
    */
  def commitIdAsOf(dir: String, ts: java.time.Instant): Option[Long] = {
    def stampAtOrBefore(id: Long): Option[Boolean] =
      commitAt(dir, id).flatMap(_.meta.get(TsMetaKey)).map { s =>
        try !java.time.Instant.parse(s).isAfter(ts)
        catch { case _: java.time.format.DateTimeParseException => false }
      }
    val ids = commits(dir).toIndexedSeq
    // single-writer stamps are monotone and stamping, once on, stays on —
    // so over the retained ids the predicate "unstamped OR stamp<=ts" is
    // prefix-true, and the answer is a binary search (O(log #commits)
    // archive reads, not one per commit — long-history tables at scale)
    // followed by a walk left past any unstamped prefix commits
    var lo = -1
    var hi = ids.length // ids(<=lo) satisfies the prefix predicate
    while (hi - lo > 1) {
      val mid = (lo + hi) >>> 1
      if (stampAtOrBefore(ids(mid)).getOrElse(true)) lo = mid else hi = mid
    }
    Iterator.range(lo, -1, -1).map(i => ids(i) -> stampAtOrBefore(ids(i)))
      .collectFirst { case (id, Some(true)) => id }
  }

  /** [[readAt]] addressed by wall-clock instant instead of commit id. */
  def readAsOfTimestamp(spark: SparkSession, dir: String,
      ts: java.time.Instant): Option[DataFrame] =
    commitIdAsOf(dir, ts).flatMap(readAt(spark, dir, _))

  /** The committed view: concrete `pcol=v/gen=n` leaf paths resolved from
    * the manifest, read with `basePath` so the partition column is
    * recovered; the internal `gen` column is dropped. None when the table
    * has never published (or has no partitions).
    */
  def read(spark: SparkSession, dir: String): Option[DataFrame] =
    readCommit(dir).filter(_.gens.nonEmpty)
      .map(c => readPaths(spark, dir, c, pathsOf(dir, c)))

  /** The committed view behind a manifest-driven [[GenTableFileIndex]] —
    * the CATALYST-INTEGRATED read: a plain `.filter(...)` on the returned
    * frame reaches the index as pushed partition/data filters at planning
    * time, where the manifest's min/max bands and the Bloom sidecars prune
    * whole partitions — the skipping [[readRange]] / [[readEquals]] expose
    * as explicit APIs, triggered instead by ordinary Catalyst predicate
    * pushdown (the Delta/Iceberg integration shape). Same rows, types,
    * and column order (partition column last, like every partitioned read)
    * as [[read]]; the scan stays a vectorized whole-stage-codegen parquet
    * scan because the relation is a standard `HadoopFsRelation` — only the
    * file LISTING is ours. Pinned to the commit at call time (snapshot
    * isolation for the frame's lifetime, like every other read here).
    * `spark.read.format("gentable").load(dir)` is the DataSource shape of
    * the same relation (partition column last, Spark's convention).
    */
  def readIndexed(spark: SparkSession, dir: String): Option[DataFrame] =
    readCommit(dir).flatMap(indexedFrame(spark, dir, _))

  /** A commit is indexable when it has data OR a recorded schema (a
    * meta-only commit — `CREATE TABLE` before the first insert, an empty
    * replace — reads as a schema-correct EMPTY frame, which is what SQL
    * over a freshly-created table must see; pre-schema-tracking empty
    * commits have nothing to type a frame with).
    */
  /** The manifest-indexed frame of an ALREADY-PARSED commit — lets a
    * holder of a pinned [[Commit]] (the catalog's time-travel table)
    * scan without re-reading the archive.
    */
  private[sources] def frameOf(spark: SparkSession, dir: String,
      c: Commit): DataFrame =
    indexedFrame(spark, dir, c, timeTravel = true).getOrElse(
      throw new IllegalStateException(
        s"commit ${c.tableGen} under $dir has no data and no recorded " +
          s"schema (pre-schema-tracking empty commit)"))

  private def indexedFrame(spark: SparkSession, dir: String,
      c: Commit, timeTravel: Boolean = false): Option[DataFrame] = {
    if (c.gens.isEmpty && schemaOf(c).isEmpty) None
    else {
      val schema = schemaOf(c).getOrElse(
        readPaths(spark, dir, c, pathsOf(dir, c)).schema)
      Some(GenTableFileIndex.frame(spark, dir, c, schema, timeTravel))
    }
  }

  /** Test/diagnostic hook: the manifest-driven index pinned to the
    * current commit ([[readIndexed]]'s listing, callable directly).
    */
  private[graft] def indexFor(spark: SparkSession,
      dir: String): GenTableFileIndex = {
    val (c, s) = indexedRelationParts(spark, dir)
    new GenTableFileIndex(spark, dir, c, s)
  }

  /** [[readIndexed]]'s commit resolution for the DataSource provider.
    * Meta-only commits with a recorded schema resolve (empty relation);
    * see [[indexedFrame]].
    */
  private[sources] def indexedRelationParts(spark: SparkSession,
      dir: String): (Commit, StructType) = {
    val c = readCommit(dir)
      .filter(c => c.gens.nonEmpty || schemaOf(c).isDefined).getOrElse(
        throw new IllegalArgumentException(
          s"no committed GenTable under $dir"))
    (c, schemaOf(c).getOrElse(readPaths(spark, dir, c, pathsOf(dir, c)).schema))
  }

  // ----------------------------------------------------------- stage

  /** Running-union schema evolution: `next` may ADD columns; a column
    * present in both must keep its type (nullability-insensitive).
    */
  private def mergeSchemas(prev: StructType, next: StructType): StructType = {
    val prevNames = prev.fieldNames.toSet
    prev.fields.foreach { pf =>
      next.fields.find(_.name == pf.name).foreach { nf =>
        // catalogString comparison: type equality modulo nullability
        require(pf.dataType.catalogString == nf.dataType.catalogString,
          s"schema evolution supports ADDED columns only: '${pf.name}' " +
            s"would change ${pf.dataType.simpleString} -> " +
            nf.dataType.simpleString)
      }
    }
    StructType(prev.fields ++ next.fields.filterNot(f => prevNames(f.name)))
  }

  /** STAGE: write `rows` (which must carry `partitionCol`) under the next
    * generation of each touched partition. Deletes orphan directories a
    * crashed previous attempt may have left at the same generation before
    * writing. Returns the Commit that [[publish]] would make current —
    * the caller (or a crash-injection test) decides when to publish. The
    * returned commit's meta carries the evolved (union) table schema.
    *
    * Partition values must be path-safe (their `cast("string")` form must
    * equal Spark's partition directory rendering — true for the intended
    * keys: integer hash buckets, dates, plain tokens). Values needing
    * Spark's path escaping would diverge between the manifest and the
    * directory layout.
    */
  def stage(rows: DataFrame, dir: String, partitionCol: PartitionCols,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      bloomExpectedItems: Long = 50000L): Commit = {
    val prev = readCommit(dir).getOrElse(Commit(partitionCol.cols))
    val st = stagePinned(rows, dir, partitionCol, prev, statsCols, bloomCols,
      bloomExpectedItems)
    prev.fold(st.cells.keys, st)
  }

  /** Guard for every stale-orphan delete: removing a `gen=N` directory is
    * only safe while that generation is UNCOMMITTED (a crashed previous
    * attempt's leftovers). If a concurrent writer read the same base and
    * fully published before this writer stages, the LIVE manifest already
    * references (key, N) — deleting it would wipe committed data and
    * readers of the interleaved head would silently see wrong rows long
    * before [[publish]]'s own head check could fail. Re-reading the
    * manifest here turns that same-partition interleave into a loud
    * refusal BEFORE any committed file is touched (same "concurrent
    * writer" error class as publish, so [[upsertBatch]]'s OCC retry still
    * classifies the conflict — a same-partition overlap then keeps the
    * fail-loud contract instead of retrying).
    */
  private def requireUncommitted(dir: String, keys: Seq[String],
      gen: Long): Unit = {
    readCommit(dir).foreach { live =>
      val clash = keys.filter(k => live.gens.get(k).contains(gen))
      require(clash.isEmpty,
        s"concurrent writer detected on $dir: generation $gen of " +
          s"partition(s) ${clash.take(3).mkString(", ")} is already " +
          s"committed — refusing to overwrite published data; re-stage " +
          s"from the current head (writers to the same partition must be " +
          s"serialized)")
    }
  }

  /** [[stage]] against a CALLER-PINNED base commit. The transactional
    * writers ([[upsertBatch]], [[replaceAll]], [[applyCdcBatch]]) derive
    * their merge from a base they read once; staging must allocate the
    * next generation from that SAME base — a fresh head read here would
    * let a commit that landed between the caller's read and this stage
    * slip under the publish guard (the staged rewrite, derived from the
    * stale base, would silently drop the interleaved commit's changes
    * from every partition it rewrites). Pinned, any such interleave
    * makes [[publish]] fail loud instead — the OCC retry's hook. The
    * staged schema is the running union of `prev`'s and `rows`'.
    */
  private def stagePinned(rows: DataFrame, dir: String,
      partitionCol: PartitionCols, prev: Commit,
      statsCols: Seq[String], bloomCols: Seq[String],
      bloomExpectedItems: Long,
      // when the caller already knows the frame's partition set (upsertBatch
      // derives it from the batch), passing it skips one distinct+collect
      // job; the stage checks it against what landed
      touchedOpt: Option[Seq[String]] = None): Staged = {
    val pcols = partitionCol.cols
    require(prev.partitionCols == pcols,
      s"table is partitioned by ${prev.partitionCol}, not " +
        pcols.mkString(","))
    pcols.foreach(c => require(rows.columns.contains(c),
      s"rows must carry partition column '$c'"))
    // legacy tables (no recorded schema) derive it from the committed
    // files once; from then on it rides the manifest
    val prevSchema: Option[StructType] = schemaOf(prev).orElse {
      if (prev.gens.isEmpty) None
      else Some(readPaths(rows.sparkSession, dir, prev,
        pathsOf(dir, prev)).schema)
    }
    val merged = prevSchema.fold(rows.schema)(p => mergeSchemas(p, rows.schema))
    // NULL partition values are refused inside touchedKeys — fail loud
    // before any file lands
    val touched = touchedOpt.getOrElse(touchedKeys(rows, pcols)).toSet
    val st = stageGen(rows, dir, pcols, prev, touched, exact = true,
      statsCols, bloomCols, bloomExpectedItems)
    st.copy(meta = st.meta + (SchemaMetaKey -> merged.json))
  }

  /** The ONE staging path behind every data commit ([[stagePinned]],
    * [[compact]], [[repartitionTable]], [[commitRewrite]]). In order:
    *  1. guard and sweep orphan `gen=N` directories of the `declared`
    *     partitions ([[requireUncommitted]]), N = `base.tableGen + 1`;
    *  2. write `rows` under generation N, spread one task per declared
    *     directory (always shuffled when compacting: `compactTo` caps
    *     each file at that many rows), sorted by `clusterBy` within each
    *     task;
    *  3. in that same write job, observe the partitions that landed
    *     (`collect_set`: a retried or speculated task re-adds the same
    *     keys) and check them against `declared`: equal when `exact`,
    *     else a subset (a rewrite may empty partitions);
    *  4. read the landed files' footers ([[genMeta]]): bytes, rows,
    *     files, and the bands of footer-provable tracked columns;
    *  5. build the bloom sidecars and every other tracked band
    *     (timestamp, float/double, wide decimal, partition columns) in ONE
    *     aggregate over the just-written generation directories.
    * Every manifest field thus describes what landed, and nothing reads
    * `rows` after the write: no caller freezes its frame for the stage's
    * sake, and a frame that re-derives differently on a retried task
    * still commits a manifest equal to its files. Tracked columns are
    * `base`'s sticky sets plus `statsCols`/`bloomCols` — once a column is
    * tracked anywhere, every rewrite of a touched partition re-derives it
    * — restricted to the columns `rows` carries.
    */
  private def stageGen(rows: DataFrame, dir: String, pcols: Seq[String],
      base: Commit, declared: Set[String], exact: Boolean,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      bloomExpectedItems: Long = 50000L,
      compactTo: Option[Long] = None,
      clusterBy: Seq[String] = Nil): Staged = {
    val (f, root) = fsRoot(dir)
    val schema = rows.schema
    val track = (statsCols ++ base.trackedStatsCols).distinct
      .filter(rows.columns.contains)
    val bloomTrack = (bloomCols ++ bloomTrackOf(base)).distinct
      .filter(rows.columns.contains)
    // validate skip-column encodability BEFORE any file lands: a refused
    // write must leave no orphan generation behind
    track.foreach(rangeEncoded(schema, _))
    bloomTrack.foreach(keyEncoded(schema, _))
    val gen = base.tableGen + 1
    requireUncommitted(dir, declared.toSeq, gen)
    declared.foreach { k =>
      val orphan = genDir(root, pcols, k, gen)
      if (f.exists(orphan)) f.delete(orphan, true)
    }
    val landed = if (declared.isEmpty) Set.empty[String] else {
      // The dynamic-partition write otherwise funnels through however many
      // partitions the frame happens to have — often ONE after AQE's
      // bytes-derived coalescing, and a single task then writes every dir
      // serially (profiled: a 31-day upsert spent 1.1 s in one task
      // opening 31 parquet writers). One hash slot per declared dir: each
      // dir's rows land in one task (one file per dir per batch), and
      // write parallelism follows the batch's dir count at any scale.
      // A compaction always shuffles, so each dir's rows meet in one task
      // whatever files they were read from.
      val withGen = rows.withColumn("gen", lit(gen))
      val laid =
        if (declared.size > 1 || clusterBy.nonEmpty || compactTo.isDefined)
          withGen.repartition(declared.size, pcols.map(col): _*)
        else withGen
      val obs = org.apache.spark.sql.Observation()
      val out = laid.observe(obs, collect_set(struct(
          pcols.map(p => col(p).cast("string").as(p)): _*)).as("_parts"))
      // gen joins the cluster sort, so the writer's required ordering
      // (partition columns, gen) already holds and it does not re-sort
      val w = (if (clusterBy.isEmpty) out else out.sortWithinPartitions(
        (pcols ++ Seq("gen") ++ clusterBy).map(col): _*)).write
      compactTo.fold(w)(w.option("maxRecordsPerFile", _))
        .mode(SaveMode.Append).partitionBy(pcols :+ "gen": _*).parquet(dir)
      val parts = obs.get("_parts")
        .asInstanceOf[scala.collection.Seq[org.apache.spark.sql.Row]]
      require(parts.forall(r => pcols.indices.forall(!r.isNullAt(_))),
        s"stage under $dir wrote rows with NULL partition value(s) — " +
          s"GenTable partition values must be non-null; nothing was " +
          s"published (the staged generation is orphaned and will be swept)")
      parts.map(r => partKey(pcols.indices.map(r.getString))).toSet
    }
    val empty = if (exact) declared -- landed else Set.empty[String]
    val undeclared = landed -- declared
    require(empty.isEmpty && undeclared.isEmpty,
      s"stage under $dir landed no rows in declared partition(s) " +
        s"[${empty.take(3).mkString(", ")}] and rows in undeclared " +
        s"partition(s) [${undeclared.take(3).mkString(", ")}] — a key's " +
        s"rows moved to a different partition (the stable-partition-per-" +
        s"key contract); nothing was published")
    val footerTrack = track.filter(footerProvable(schema, pcols, _))
    val metas = landed.map(k => k -> genMeta(f, root, pcols, k, gen,
      footerTrack.map(c => c -> schema(c).dataType))).toMap
    val aggTrack = track.filterNot(footerTrack.contains)
    val items = base.meta.get(BloomItemsKey).map(_.toLong)
      .getOrElse(bloomExpectedItems)
    val aggBands: Map[String, Map[String, (Long, Long)]] =
      if (landed.isEmpty || (aggTrack.isEmpty && bloomTrack.isEmpty)) Map.empty
      else {
        // Bloom sidecars insert values as longs via [[keyEncoded]], sized
        // for `items` distinct values at 1% fpp (~60 KB per sidecar at the
        // 50k default); an over-filled filter only skips less (no false
        // negatives at any fill). Bands encode via [[rangeEncoded]].
        graft.plans.GraftExtensions.register(rows.sparkSession)
        val numBits = math.max(64L, math.ceil(
          -items * math.log(0.01) / (math.log(2) * math.log(2))).toLong)
        val aggs = aggTrack.flatMap(c => Seq(
          min(rangeEncoded(schema, c)).as(s"_mn_$c"),
          max(rangeEncoded(schema, c)).as(s"_mx_$c"))) ++
          bloomTrack.map(c => call_function("bloom_agg", keyEncoded(schema, c),
            lit(items), lit(numBits)).as(s"_bf_$c"))
        if (bloomTrack.nonEmpty) f.mkdirs(new HPath(root, "_filters"))
        rows.sparkSession.read.option("basePath", dir).schema(schema)
          .parquet(landed.toSeq.sorted.map(genPath(dir, pcols, _, gen)): _*)
          .groupBy(pcols.map(c => col(c).cast("string")): _*)
          .agg(aggs.head, aggs.tail: _*)
          .collect().map { r => // bounded: partitions per batch
            val k = partKey(pcols.indices.map(r.getString))
            bloomTrack.foreach { c =>
              val bytes = r.getAs[Array[Byte]](s"_bf_$c")
              // an all-null group aggregates to null: no sidecar, read
              // conservatively
              if (bytes != null)
                writeBytes(f, bloomPath(root, k, c, gen), bytes)
            }
            // an all-null group gets no band (read conservatively)
            k -> aggTrack.flatMap { c =>
              val mn = r.getAs[Any](s"_mn_$c")
              val mx = r.getAs[Any](s"_mx_$c")
              if (mn == null || mx == null) None
              else Some(c -> (mn.asInstanceOf[Long], mx.asInstanceOf[Long]))
            }.toMap
          }.toMap
      }
    Staged(gen, metas.map { case (k, m) =>
        k -> m.copy(stats = m.stats ++ aggBands.getOrElse(k, Map.empty)) },
      Map(SchemaMetaKey -> schema.json) ++ (if (bloomTrack.isEmpty) Map.empty
        else Map(BloomColsKey -> bloomTrack.mkString(","),
          BloomItemsKey -> items.toString)))
  }

  /** The [[Cell]] of one generation directory: bytes, exact row count and
    * data files of what landed there — recorded in the manifest at commit time (bounded by
    * partitions-per-batch, and the listing covers only directories this
    * writer just wrote). Bytes let readers cost a full-table scan from
    * the ONE manifest object instead of listing every partition
    * ([[Commit.totalBytes]] / [[GenTableFileIndex]]); row counts come
    * from the parquet FOOTERS of the just-written files (one small
    * ranged read each — the count of what actually landed, not of the
    * input frame), and make `count(*)` / per-partition counts a
    * manifest lookup ([[Commit.totalRows]],
    * [[graft.plans.GenTableMetadataAggregate]]) instead of a table scan.
    *
    * When `track` is non-empty (every column pre-vetted by
    * [[footerProvable]]), the SAME parsed footers also yield the skip
    * tier's encoded min/max bands at zero extra Spark jobs; [[stageGen]]
    * aggregates only the columns the footers cannot prove. A column
    * whose footer evidence is not airtight in some file (missing chunk,
    * missing statistics with non-null rows, an unexpected physical type)
    * gets NO band — the conservative direction:
    * readers open the partition instead of trusting a band we cannot
    * prove, and the metadata-only aggregate falls back to the scan.
    */
  private def genMeta(f: FileSystem, root: HPath, pcols: Seq[String],
      k: String, g: Long, track: Seq[(String, DataType)] = Nil): Cell = {
    val d = genDir(root, pcols, k, g)
    if (!f.exists(d)) Cell(g, Map.empty, Some(0L), Some(0L), Some(0L))
    else {
      val files = f.listStatus(d).filter { s =>
        // data files only — same visibility rule as the scan (a local
        // committer can leave .crc sidecars the parquet reader never opens)
        val n = s.getPath.getName
        s.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      val conf = hadoopConf
      // footer opens are independent small ranged reads; a lifecycle of
      // many commits pays this per touched partition, so read them in
      // parallel (driver-side, bounded by files-per-batch)
      val perFile = new java.util.concurrent.ConcurrentLinkedQueue[
        (Long, Map[String, (Boolean, Option[(Long, Long)])])]()
      java.util.Arrays.stream(files).parallel().forEach { s =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(s, conf))
        try {
          val footer = reader.getFooter
          perFile.add((reader.getRecordCount,
            track.map { case (c, dt) => c -> fileBand(footer, c, dt) }.toMap))
        } finally reader.close()
      }
      import scala.jdk.CollectionConverters._
      val metas = perFile.asScala.toSeq
      val rowCount = metas.map(_._1).sum
      val stats = track.flatMap { case (c, _) =>
        val states = metas.map(_._2(c))
        if (states.exists(_._1)) None // poisoned in some file: no band
        else states.flatMap(_._2).reduceOption { (a, b) =>
          (math.min(a._1, b._1), math.max(a._2, b._2))
        }.map(c -> _)
      }.toMap
      Cell(g, stats, Some(files.map(_.getLen).sum), Some(rowCount),
        Some(files.length.toLong))
    }
  }

  /** One file's contribution to a tracked column's encoded band:
    * `(poisoned, band)` merged over the file's row groups. Poisoned means
    * the footer cannot PROVE the band (the column chunk is absent, its
    * statistics are missing while non-null rows exist, or the physical
    * type is not one [[footerEncoded]] recognizes) — the whole column
    * then records no band for this partition. All-null chunks contribute
    * nothing, exactly like the aggregate tier's null-ignoring min/max.
    */
  private def fileBand(footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      name: String, dt: DataType): (Boolean, Option[(Long, Long)]) = {
    import scala.jdk.CollectionConverters._
    var poisoned = false
    var band: Option[(Long, Long)] = None
    footer.getBlocks.asScala.foreach { b =>
      if (!poisoned) {
        b.getColumns.asScala.find(_.getPath.toDotString == name) match {
          case None => poisoned = true
          case Some(cc) =>
            val st = cc.getStatistics
            if (st == null || st.isEmpty) {
              if (cc.getValueCount > 0) poisoned = true
            } else if (!st.hasNonNullValue) {
              () // all-null chunk: no contribution
            } else footerEncoded(dt, st) match {
              case Some((mn, mx)) => band = Some(band.fold((mn, mx)) { p =>
                (math.min(p._1, mn), math.max(p._2, mx)) })
              case None => poisoned = true
            }
        }
      }
    }
    (poisoned, band)
  }

  /** Chunk statistics → the skip tier's encoded `(min, max)`, PROVABLY
    * equal to aggregating [[rangeEncoded]] per row then min/max-ing:
    * every encoding here is monotone non-decreasing over the column's
    * value domain (identity for integrals, identity epoch days for
    * dates, truncation-toward-zero for in-long-range decimals), and for
    * a monotone f, `min f(x) == f(min x)` — so the footer's exact value
    * bounds encode to exactly the aggregate's band. Types that break the
    * proof never reach here ([[footerProvable]] routes them to the
    * aggregate): timestamps land as INT96 (no usable statistics under
    * Spark's default `outputTimestampType`), float/double stats are NaN-
    * contaminated UNDETECTABLY (parquet-java's `<` comparisons skip a
    * NaN that arrives after a real seed, while the aggregate tier
    * encodes NaN as 0L — a footer band can therefore be NARROWER than
    * the encoded domain, which is the wrong-results direction), and
    * out-of-long-range decimals overflow the truncation (wrap-around is
    * not monotone). An unexpected physical type returns None → poison.
    */
  private def footerEncoded(dt: DataType,
      st: org.apache.parquet.column.statistics.Statistics[_])
      : Option[(Long, Long)] = {
    import org.apache.parquet.column.statistics._
    import org.apache.spark.sql.types._
    (dt, st) match {
      case (ByteType | ShortType | IntegerType | DateType, s: IntStatistics) =>
        Some((s.getMin.toLong, s.getMax.toLong))
      case (LongType, s: LongStatistics) => Some((s.getMin, s.getMax))
      case (d: DecimalType, s: IntStatistics) if d.precision - d.scale <= 18 =>
        Some((decTruncToLong(s.getMin.toLong, d.scale),
          decTruncToLong(s.getMax.toLong, d.scale)))
      case (d: DecimalType, s: LongStatistics) if d.precision - d.scale <= 18 =>
        Some((decTruncToLong(s.getMin, d.scale),
          decTruncToLong(s.getMax, d.scale)))
      case _ => None
    }
  }

  /** Unscaled decimal → `cast(decimal as long)`'s truncation toward
    * zero — the same arithmetic Spark's `Decimal.toLong` performs
    * (`unscaled / 10^scale` in long division, equivalently
    * `toBigInteger.longValue` — both round toward zero; exact while
    * `precision - scale <= 18` keeps the result inside a long).
    */
  private def decTruncToLong(unscaled: Long, scale: Int): Long =
    java.math.BigDecimal.valueOf(unscaled, scale).toBigInteger.longValue()

  /** True iff tracked column `c`'s encoded band is provably derivable
    * from the parquet footers the commit already opens for row counts —
    * the per-column gate between the footer pass (zero extra Spark jobs)
    * and [[stageGen]]'s aggregate over the written files. See
    * [[footerEncoded]] for why each type is in or out; partition columns
    * are out because `partitionBy` moves them into directory names (no
    * column chunk to read).
    */
  private def footerProvable(schema: StructType, pcols: Seq[String],
      c: String): Boolean = {
    import org.apache.spark.sql.types._
    !pcols.contains(c) && (schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType | DateType => true
      case d: DecimalType => d.precision - d.scale <= 18
      case _ => false
    })
  }

  // ------------------------------------------------- skip-tier encoding

  /** The skip tier's LONG ENCODING of a column, shared by the stats
    * writer, the Bloom writer, and [[GenTableFileIndex]]'s literal
    * conversion so all three agree exactly:
    *  - integrals as themselves; timestamps as epoch seconds (the ANSI
    *    cast — monotone floor, exact for band checks);
    *  - dates as epoch DAYS via an explicit `unix_date` — ANSI mode
    *    (Spark 4's default) rejects a direct date→long cast, which made
    *    a date statsCol an AnalysisException at write time before this;
    *  - strings ([[keyEncoded]] only — point lookups, never range bands:
    *    hash order is not lexicographic order) as `xxhash64`, nulls kept
    *    null so an all-null group still aggregates to no sidecar.
    * Anything else fails LOUD at declaration time: a silently
    * null-encoded column would bloom nothing, skip nothing, and read as
    * if tracked.
    */
  private def rangeEncoded(schema: StructType, c: String): Column = {
    import org.apache.spark.sql.types._
    schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType | TimestampType |
          FloatType | DoubleType | _: DecimalType =>
        col(c).cast("long") // fractional: truncation, monotone enough for bands
      case DateType => unix_date(col(c)).cast("long")
      case other => throw new IllegalArgumentException(
        s"statsCol '$c' has type ${other.simpleString}: min/max bands " +
          s"support numeric/date/timestamp columns (string point lookups " +
          s"belong in bloomCols)")
    }
  }

  private def keyEncoded(schema: StructType, c: String): Column = {
    import org.apache.spark.sql.types._
    schema(c).dataType match {
      case StringType => when(col(c).isNull, lit(null).cast("long"))
        .otherwise(xxhash64(col(c)))
      case ByteType | ShortType | IntegerType | LongType | TimestampType |
          DateType | FloatType | DoubleType | _: DecimalType =>
        rangeEncoded(schema, c)
      case other => throw new IllegalArgumentException(
        s"bloomCol '$c' has type ${other.simpleString}: Bloom sidecars " +
          s"support numeric/date/timestamp/string columns")
    }
  }

  /** Driver-side twin of `xxhash64(stringCol)` (seed 42), so a point
    * lookup can hash its probe keys to the values the sidecars indexed.
    */
  private[sources] def xxhash64String(s: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType)), 42L)
      .eval(null).asInstanceOf[Long]

  private[sources] def bloomTrackOf(c: Commit): Seq[String] =
    c.meta.get(BloomColsKey)
      .map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil)

  // the partition KEY is already in encoded form — for single-column
  // tables the sidecar name is byte-identical to the pre-composite era's
  private def bloomPath(root: HPath, k: String, c: String, g: Long): HPath =
    new HPath(new HPath(root, "_filters"), s"$k~${enc(c)}~$g.bloom")

  /** Might ANY of `keys` be present in partition `v`'s sidecar for
    * `column` at generation `g`? Missing sidecar reads conservatively
    * (true).
    */
  private[sources] def bloomSurvives(f: FileSystem, root: HPath, v: String,
      column: String, g: Long, keys: Seq[Long]): Boolean = {
    val p = bloomPath(root, v, column, g)
    if (!f.exists(p)) true // no sidecar: conservative
    else {
      val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(readRaw(f, p)))
      keys.exists(bf.mightContainLong)
    }
  }

  /** One skip-tier probe on a column, in the writer's long encoding: a
    * closed range, or a set of keys.
    */
  private[sources] sealed trait Skip { def column: String }
  private[sources] case class RangeSkip(column: String, lo: Long, hi: Long)
      extends Skip
  private[sources] case class KeySkip(column: String, keys: Seq[Long])
      extends Skip

  /** The ONE skip decision behind both read doorways (the explicit
    * [[readRanges]] / [[readEquals]] and the Catalyst-integrated
    * [[GenTableFileIndex]]):
    * may partition `v` of `c`, at generation `g`, hold a row `s` matches?
    * A partition without a band for the column is kept; a key probe on a
    * bloom-tracked column (`blooms`) must also pass the sidecar.
    */
  private[sources] def survives(f: FileSystem, root: HPath, c: Commit,
      blooms: Set[String], v: String, g: Long, s: Skip): Boolean = {
    val band = c.stats.get(v).flatMap(_.get(s.column))
    s match {
      case RangeSkip(_, lo, hi) =>
        band.forall { case (mn, mx) => mx >= lo && mn <= hi }
      case KeySkip(column, keys) =>
        band.forall { case (mn, mx) => keys.exists(k => k >= mn && k <= mx) } &&
          (!blooms(column) || bloomSurvives(f, root, v, column, g, keys))
    }
  }

  /** Open only the partitions every skip in `skips` lets through, then
    * apply `resid`; everything pruned gives a schema-correct empty frame.
    */
  private def readSkipping(spark: SparkSession, dir: String,
      skips: Seq[Skip], resid: DataFrame => DataFrame): Option[DataFrame] =
    readCommit(dir).filter(_.gens.nonEmpty).map { c =>
      val (f, root) = fsRoot(dir)
      val blooms = bloomTrackOf(c).toSet
      val keep = c.gens.filter { case (v, g) =>
        skips.forall(survives(f, root, c, blooms, v, g, _))
      }.keySet
      resid(readPartitions(spark, dir, c, keep)
        .getOrElse(readPaths(spark, dir, c, pathsOf(dir, c)).limit(0)))
    }

  /** Stats-pruned range read: partitions whose tracked `[min, max]` for
    * `statsCol` cannot intersect `[lo, hi]` are never opened (manifest
    * metadata only — the Iceberg-style skip on a NON-partition column);
    * partitions without stats for the column are read conservatively.
    * The residual filter is always applied, so the result equals
    * `read(...).filter(statsCol.cast("long") between lo and hi)` exactly.
    */
  def readRange(spark: SparkSession, dir: String, statsCol: String,
      lo: Long, hi: Long): Option[DataFrame] =
    readRanges(spark, dir, Map(statsCol -> (lo, hi)))

  /** Conjunctive multi-column form of [[readRange]]: a partition is
    * opened only if EVERY given range can intersect its tracked band
    * (columns without stats in a partition are conservative — they never
    * prune it), and the residual is the AND of all the range predicates,
    * so the result equals filtering the full view by the conjunction.
    * Ranges compose multiplicatively when the tracked columns separate
    * partitions along different axes (e.g. ingest order AND event time).
    */
  def readRanges(spark: SparkSession, dir: String,
      ranges: Map[String, (Long, Long)]): Option[DataFrame] = {
    require(ranges.nonEmpty, "need at least one (column, range)")
    readSkipping(spark, dir,
      ranges.toSeq.map { case (sc, (lo, hi)) => RangeSkip(sc, lo, hi) },
      df => ranges.foldLeft(df) { case (d, (sc, (lo, hi))) =>
        d.filter(rangeEncoded(d.schema, sc).between(lo, hi))
      })
  }

  /** Bloom-pruned point lookup — the skip [[readRange]]'s min/max bands
    * CANNOT express: a high-cardinality key scattered across partitions
    * (a user active on 3 of 300 ingestion days) spans every partition's
    * [min, max], so range stats keep everything, but each partition's
    * Bloom sidecar knows whether the key MIGHT be there. A partition is
    * opened only if it survives the min/max check AND some looked-up key
    * might be in its filter; partitions without a sidecar for the column
    * read conservatively. The residual `IN` filter always applies, so the
    * result equals `read(...).filter(col.cast("long").isin(keys))`
    * exactly — false positives cost extra partition reads, and false
    * negatives are impossible at any filter fill.
    *
    * Planning cost: one ~60 KB sidecar read per min/max-surviving
    * partition — metadata IO proportional to the candidate set, never
    * data IO; the pruned alternative is opening the partition's parquet.
    */
  def readEquals(spark: SparkSession, dir: String, column: String,
      keys: Seq[Long]): Option[DataFrame] = {
    require(keys.nonEmpty, "need at least one key")
    readSkipping(spark, dir, Seq(KeySkip(column, keys)),
      df => df.filter(rangeEncoded(df.schema, column).isin(keys: _*)))
  }

  /** String form of [[readEquals]] — the web-corpus access pattern (URL /
    * doc-hash point lookups). Probe keys hash with the writer's own
    * `xxhash64` encoding ([[keyEncoded]]) before the sidecar check, and
    * the residual is a plain string `IN`, so the result equals
    * `read(...).filter(col(column).isin(keys))` exactly; hash collisions
    * cost a false-positive partition read, never a wrong row.
    */
  def readEqualsStrings(spark: SparkSession, dir: String, column: String,
      keys: Seq[String]): Option[DataFrame] = {
    require(keys.nonEmpty, "need at least one key")
    readSkipping(spark, dir, Seq(KeySkip(column, keys.map(xxhash64String))),
      df => df.filter(col(column).isin(keys: _*)))
  }

  /** Atomic upsert of one batch: merge latest-per-key into the touched
    * partitions and commit. This is the transactional replacement for the
    * read-union-dedup-dynamic-overwrite merge in
    * [[graft.streaming.EventStreams.upsertForeachBatchAvailableNow]]:
    * identical semantics (latest row per `keyCol` by `orderCols` desc;
    * `partitionCol` must be stable per key), but a crash anywhere leaves
    * the committed view byte-identical to the pre-batch state. A batch
    * may ADD columns (schema evolution): existing rows carry null there,
    * and the key/order/partition columns must be present in every batch.
    */
  def upsertBatch(batch: DataFrame, dir: String, keyCol: String,
      orderCols: Seq[String], partitionCol: PartitionCols,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      bloomExpectedItems: Long = 50000L,
      extraMeta: Map[String, String] = Map.empty): Unit = {
    val pcols = partitionCol.cols
    (keyCol +: (pcols ++ orderCols)).foreach(c =>
      require(batch.columns.contains(c),
        s"upsert batch must carry key/order/partition column '$c'"))
    val spark = batch.sparkSession
    // OCC: derive-stage-publish against a pinned base; when a concurrent
    // writer moves the head under us AND its commit is PARTITION-disjoint
    // and KEY-disjoint from this batch, rebase on the new head and retry,
    // bounded. Partition-disjointness is load-bearing, not just an
    // optimization: two writers staging the SAME partition race on its
    // gen=N directory (the loser's orphan-delete can wipe the winner's
    // in-flight files before the winner publishes), so only conflicts
    // whose staged directories never overlapped are provably clean to
    // retry — same-partition writers must be serialized externally
    // (per-partition single-writer), and overlapping conflicts keep the
    // fail-loud contract.
    var prev = readCommit(dir).getOrElse(Commit(pcols))
    var retriesLeft = 3
    var committed = false
    while (!committed) {
      // reject a type change HERE, before the merge union executes — the
      // union would otherwise coerce compatible types (int->bigint) or die
      // mid-job on a runtime cast, both worse than a clean refusal
      schemaOf(prev).foreach(p => mergeSchemas(p, batch.schema))
      val touchedVals = touchedKeys(batch, pcols).toSet
      if (touchedVals.isEmpty) return
      val existing = readPartitions(spark, dir, prev, touchedVals)
      import org.apache.spark.sql.expressions.Window
      val unioned = existing
        .fold(batch)(_.unionByName(batch, allowMissingColumns = true))
      // orderCols is the caller's total-order-per-key contract; if a batch
      // violates it (two rows tie), a whole-row hash breaks the tie
      // DETERMINISTICALLY — the merge is not frozen, so without it a
      // retried task could pick a different winner than its first
      // attempt. Under the contract the hash never decides anything.
      val w = Window.partitionBy(col(keyCol))
        .orderBy(orderCols.map(col(_).desc) :+
          xxhash64(unioned.columns.toSeq.map(col): _*).desc: _*)
      // The merge is computed inside the write job itself (the stage reads
      // nothing back from it): the committed inputs are immutable and
      // `readPaths` pins explicit gen<=N paths while staging appends
      // gen=N+1 files.
      val merged = unioned
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn")
      try {
        // test hook: deterministically publish a concurrent writer in the
        // pre-stage window (the orphan-delete guard's scenario)
        preStageHook.foreach { h => preStageHook = None; h() }
        val staged = stagePinned(merged, dir, partitionCol, prev,
          statsCols, bloomCols, bloomExpectedItems,
          touchedOpt = Some(touchedVals.toSeq))
        // test hook: deterministically interleave another writer between
        // stage and publish (the OCC conflict window)
        interleaveHook.foreach { h => interleaveHook = None; h() }
        publish(dir, prev.fold(touchedVals, staged, opMeta("upsert") ++
          writeDefaultsMeta(keyCol, orderCols, statsCols, bloomCols) ++
          extraMeta))
        committed = true
      } catch {
        case e: IllegalArgumentException
            if e.getMessage != null &&
              e.getMessage.contains("concurrent writer") &&
              retriesLeft > 0 =>
          retriesLeft -= 1
          val newHead = readCommit(dir).getOrElse(throw e)
          // partitions the interleaved commit(s) re-generated: any
          // overlap with ours means the staged gen directories were
          // shared — not provably clean, fail loud
          val theirParts = (prev.gens.keySet ++ newHead.gens.keySet)
            .filter(k => prev.gens.get(k) != newHead.gens.get(k))
          if (theirParts.exists(touchedVals)) throw new IllegalStateException(
            s"concurrent writer on $dir committed to partitions this " +
              s"batch also stages — shared staging directories are not " +
              s"retry-safe; serialize writers per partition (the " +
              s"single-writer-per-partition contract)", e)
          // keys the interleaved commit(s) changed, pruned to their churn
          val theirKeys = changesBetween(spark, dir,
            prev.tableGen, newHead.tableGen, keyCol).select(col(keyCol))
          val overlaps = !batch.select(col(keyCol)).distinct()
            .join(theirKeys, Seq(keyCol), "left_semi").isEmpty
          if (overlaps) throw new IllegalStateException(
            s"concurrent writer on $dir committed changes to keys this " +
              s"batch also writes — not commutative, not retried; " +
              s"serialize writers per key range or re-run the batch " +
              s"against the new head deliberately", e)
          prev = newHead // commutative: rebase and retry
      }
    }
  }

  /** [[upsertBatch]] behind a write-time quality gate (see
    * [[Expectations]]): the batch is checked BEFORE it stages, so a
    * violating row can never become committed state. `onViolation`:
    *  - [[Expectations.Fail]] — any violation aborts with per-expectation
    *    counts; the manifest is untouched.
    *  - [[Expectations.Drop]] — only passing rows merge; with
    *    `quarantineDir`, dropped rows append there as plain parquet with
    *    a `_violated` reason array and `_target_commit` (the commit id
    *    they were excluded from). The table commit stays exactly-once;
    *    the quarantine feed is at-least-once (diagnostic, dedupable on
    *    (`_target_commit`, key)).
    * A batch whose rows ALL violate still quarantines but publishes
    * nothing (no empty commit). Returns the batch's [[Expectations.Report]].
    */
  def upsertBatchExpect(batch: DataFrame, dir: String, keyCol: String,
      orderCols: Seq[String], partitionCol: PartitionCols,
      expectations: Seq[(String, org.apache.spark.sql.Column)],
      onViolation: Expectations.OnViolation = Expectations.Drop,
      quarantineDir: Option[String] = None,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      extraMeta: Map[String, String] = Map.empty): Expectations.Report = {
    require(expectations.nonEmpty, "upsertBatchExpect needs expectations; " +
      "use upsertBatch for ungated writes")
    // freeze once: the report aggregate, the quarantine write, and the
    // merge all read the same materialized batch (no lineage recompute)
    val frozen = batch.localCheckpoint(true)
    try {
      val rep = Expectations.report(frozen, expectations)
      if (rep.dropped > 0 && onViolation == Expectations.Fail)
        throw new IllegalStateException(
          s"expectation violations in batch for $dir (nothing committed): " +
            rep.violations.toSeq.sortBy(_._1)
              .map { case (n, k) => s"$n=$k" }.mkString(", "))
      if (rep.dropped > 0) quarantineDir.foreach { qd =>
        val target = readCommit(dir).map(_.tableGen).getOrElse(0L) + 1
        Expectations.violating(frozen, expectations)
          .withColumn("_target_commit", lit(target))
          .write.mode(SaveMode.Append).parquet(qd)
      }
      // Warn observes without enforcing: everything commits, the report
      // (and quarantine copies) carry the violations
      val warn = onViolation == Expectations.Warn
      val toCommit =
        if (warn) frozen else Expectations.passing(frozen, expectations)
      if (rep.passed > 0 || (warn && rep.input > 0))
        upsertBatch(toCommit, dir, keyCol,
          orderCols, partitionCol, statsCols, bloomCols,
          extraMeta = extraMeta)
      rep
    } finally frozen.unpersist()
  }

  /** Atomic whole-table replace: ONE commit after which the content is
    * exactly `rows` — partitions absent from `rows` leave the manifest
    * (deletion by omission), and the commit's `meta` rides the same
    * atomic swap as the data. This is the storage shape incremental
    * materialized views need ([[graft.operators.RollupStore.maintainView]]):
    * the refreshed view and its consumed-source marker become visible
    * together or not at all, which is what makes re-running a crashed
    * refresh safe. `rows` may read this table's own committed files (a
    * refresh does) — it is frozen before staging. Intended for
    * view-sized tables; a replace stages every partition of `rows`.
    */
  def replaceAll(rows: DataFrame, dir: String, partitionCol: PartitionCols,
      meta: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Unit = {
    require(!meta.contains(SchemaMetaKey),
      s"'$SchemaMetaKey' is reserved (the schema is derived from rows)")
    val staged = stageReplace(rows, dir, partitionCol, statsCols, bloomCols)
    publish(dir, staged.copy(meta = meta ++ opMeta("replace") ++ staged.meta))
  }

  /** [[replaceAll]]'s STAGE half, publish left to the caller — the
    * two-phase shape atomic `CREATE TABLE ... AS SELECT` needs
    * ([[GenTableCatalog]]'s staged tables): the data lands invisible, and
    * `commitStagedChanges` is the one manifest swap (or
    * `abortStagedChanges` deletes the staged generations and no manifest
    * ever exists). The returned commit's content is exactly `rows`
    * (replace semantics: partitions absent from `rows` drop; the schema
    * is `rows`' own); its meta carries the schema and bloom sizing only —
    * callers add lineage/defaults before publishing.
    */
  private[sources] def stageReplace(rows: DataFrame, dir: String,
      partitionCol: PartitionCols, statsCols: Seq[String],
      bloomCols: Seq[String]): Commit = {
    val frozen = rows.localCheckpoint(true)
    try {
      val prevC = readCommit(dir)
        .getOrElse(Commit(partitionCol.cols))
      val staged = stagePinned(frozen, dir, partitionCol, prevC,
        statsCols, bloomCols, 50000L,
        touchedOpt = Some(touchedKeys(frozen, partitionCol.cols)))
      // an empty replace still commits (meta-only, e.g. an empty view's
      // marker) under the staged generation's fresh commit id. Replace
      // semantics: the schema is exactly `rows`' (no union with history —
      // every surviving partition was rewritten from `rows`).
      Commit(partitionCol.cols).fold(Nil, staged,
        Map(SchemaMetaKey -> frozen.schema.json))
    } finally frozen.unpersist()
  }

  /** PARTITION-SCOPED atomic replace — the canonical backfill shape
    * ("atomically replace day=2024-01-13 with this frame"), the
    * most-used lake write after append. Delta spells it
    * `.option("replaceWhere", ...)`; here it is a first-class engine
    * call, and the SQL doorways map onto it: `INSERT OVERWRITE ...
    * PARTITION (day='2024-01-13')` through [[graft.plans.GenTableDml]],
    * and on catalog names both that statement and Spark's own
    * `INSERT INTO t REPLACE WHERE <predicate>` through the
    * `SupportsOverwrite` write builder.
    *
    * Contract (all refusals BEFORE anything stages — a refused replace
    * leaves the table bit-untouched with no file on disk):
    *  - `predicate` must be decidable purely on the table's PARTITION
    *    COLUMNS. A row-level predicate cannot bound a partition swap;
    *    spell that as DELETE + INSERT (two commits, deliberately
    *    visible) or a whole-table [[replaceAll]].
    *  - every row of `rows` must SATISFY the predicate: rows outside
    *    the named region would otherwise leak into partitions the
    *    statement never claimed to touch.
    * Semantics: matching committed partitions become exactly `rows`'
    * content — a matching partition absent from `rows` is DROPPED, and
    * `rows` may create NEW partitions inside the region. Partitions
    * outside the region are untouched: their committed generation
    * directories carry forward byte-identical in the ONE manifest swap
    * (zero data IO outside the region — cost follows the region, never
    * table size). A crash anywhere leaves the pre-replace state
    * committed. NULL-evaluating rows count as outside the region and a
    * NULL-evaluating partition stays (SQL three-valued semantics,
    * conservative both ways).
    *
    * The table's write contract and sticky skip columns carry forward
    * ([[stagePinned]] meta semantics); explicit `statsCols`/`bloomCols`
    * add to them; `extraMeta` lands in the same swap (consumer markers
    * stay exactly-once). Returns the number of partitions whose content
    * changed (replaced, dropped, or created); 0 = nothing matched and
    * nothing staged — no commit at all.
    */
  def replaceWhere(rows: DataFrame, dir: String, predicate: Column,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      extraMeta: Map[String, String] = Map.empty): Long = {
    val spark = rows.sparkSession
    requireDeterministic(predicate, "replaceWhere")
    val c = readCommit(dir).getOrElse(throw new IllegalStateException(
      s"replaceWhere target $dir has no committed GenTable (the " +
        s"predicate addresses committed partitions; bootstrap with " +
        s"replaceAll or a format write first)"))
    val pcols = c.partitionCols
    val pred = coalesce(predicate, lit(false))
    val schema = schemaOf(c).getOrElse(
      if (c.gens.isEmpty) throw new IllegalStateException(
        s"replaceWhere target $dir predates schema tracking; " +
          s"write through df.write.format(\"gentable\") once to record one")
      else readPaths(spark, dir, c, pathsOf(dir, c)).schema)
    val pFields = pcols.map(p => schema.fields.find(_.name == p).getOrElse(
      throw new IllegalStateException(
        s"partition column '$p' missing from the recorded schema")))
    // evaluate the predicate against PARTITION TUPLES ONLY (each tuple
    // typed through the recorded schema, like the manifest index does);
    // a reference to any other column fails Spark's own resolution,
    // translated here into the actionable refusal
    def typedTuples(raw: Seq[(String, Seq[String])]): DataFrame = {
      import scala.jdk.CollectionConverters._
      val strSchema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("_pk",
          org.apache.spark.sql.types.StringType) +:
          pcols.map(org.apache.spark.sql.types.StructField(_,
            org.apache.spark.sql.types.StringType)))
      val rws: Seq[org.apache.spark.sql.Row] =
        raw.map { case (k, vs) => org.apache.spark.sql.Row.fromSeq(k +: vs) }
      spark.createDataFrame(rws.asJava, strSchema)
        .select(col("_pk") +: pcols.zip(pFields).map { case (p, f) =>
          col(p).cast(f.dataType).as(p) }: _*)
    }
    def matchedOf(df: DataFrame): Set[String] =
      try df.filter(pred).select("_pk").collect()
        .map(_.getString(0)).toSet
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"replaceWhere predicates must reference partition columns " +
              s"only (${pcols.mkString(", ")}) — a row-level predicate " +
              s"cannot bound a partition swap; use DELETE + INSERT or " +
              s"replaceAll: ${e.getMessage}", e)
      }
    // committed partitions the region names (the drop-unless-restaged set)
    val committedMatch = matchedOf(
      typedTuples(c.gens.keys.toSeq.sorted.map(k => k -> partVals(k))))
    val frozen = rows.localCheckpoint(true)
    try {
      // the batch's own partitions — ALL must sit inside the region
      val batchKeys = touchedKeys(frozen, pcols)
      val batchMatch = matchedOf(
        typedTuples(batchKeys.map(k => k -> partVals(k))))
      val outside = batchKeys.filterNot(batchMatch)
      require(outside.isEmpty,
        s"replaceWhere: ${outside.size} written partition(s) do not " +
          s"satisfy the predicate (e.g. ${outside.take(3).mkString(", ")})" +
          s" — rows outside the named region must not leak into " +
          s"partitions the statement never claimed; filter the frame or " +
          s"widen the predicate")
      if (committedMatch.isEmpty && batchKeys.isEmpty) return 0L
      val d = writeDefaultsOf(c)
      val staged = stagePinned(frozen, dir, PartitionCols(pcols), c,
        (statsCols ++ d.statsCols).distinct,
        (bloomCols ++ d.bloomCols).distinct, 50000L,
        touchedOpt = Some(batchKeys))
      // region partitions drop unless restaged; everything else carries
      publish(dir, c.fold(committedMatch ++ batchKeys, staged,
        opMeta("replace_where") ++ extraMeta))
      (committedMatch ++ batchKeys).size.toLong
    } finally frozen.unpersist()
  }

  /** Abandon a [[stageReplace]] that will never publish (a failed CTAS's
    * `abortStagedChanges`): delete the staged generation directories —
    * guarded like every orphan delete, so an interleaved writer that
    * somehow committed the same (key, gen) fails loud instead of losing
    * data — and, when this stage CREATED the table directory
    * (`removeDir`), the directory itself: no manifest, no files, no
    * trace.
    */
  private[sources] def dropStaged(dir: String, staged: Commit,
      removeDir: Boolean): Unit = {
    val (f, root) = fsRoot(dir)
    if (!f.exists(root)) return
    if (removeDir && !f.exists(new HPath(root, "_commit"))) {
      f.delete(root, true)
      return
    }
    // ONE manifest read guards the whole batch (per-key re-reads would
    // be O(partitions) full parses on a large aborted stage)
    staged.gens.groupBy(_._2).foreach { case (g, kvs) =>
      requireUncommitted(dir, kvs.keys.toSeq, g)
    }
    staged.gens.foreach { case (k, g) =>
      val d = genDir(root, staged.partitionCols, k, g)
      if (f.exists(d)) f.delete(d, true)
    }
  }

  /** SQL `CREATE TABLE` support ([[GenTableCatalog]]): publish a
    * META-ONLY first commit carrying the declared schema, partitioning,
    * and write contract — no data files. The recorded schema then gates
    * the first insert exactly like any evolved write ([[mergeSchemas]]),
    * and the table reads as a schema-correct empty frame until one lands.
    */
  private[sources] def createEmpty(dir: String, partitionCol: PartitionCols,
      schema: StructType, extraMeta: Map[String, String]): Unit = {
    require(readCommit(dir).isEmpty,
      s"GenTable already committed at $dir")
    partitionCol.cols.foreach(p => require(schema.fieldNames.contains(p),
      s"partition column '$p' is not in the declared schema " +
        schema.fieldNames.mkString("(", ", ", ")")))
    publish(dir, Commit(partitionCol.cols, minGen = 1L,
      meta = Map(SchemaMetaKey -> schema.json) ++ extraMeta ++
        opMeta("create")))
  }

  /** SQL `REPLACE TABLE` (no AS SELECT) on an EXISTING table: one commit
    * after which the table is EMPTY with the newly-declared schema,
    * partitioning, and contract — deletion by omission of every
    * partition, old content time-travelable until vacuum.
    */
  private[sources] def replaceDeclared(dir: String,
      partitionCol: PartitionCols, schema: StructType,
      extraMeta: Map[String, String]): Unit = {
    val prev = readCommit(dir).getOrElse(
      return createEmpty(dir, partitionCol, schema, extraMeta))
    partitionCol.cols.foreach(p => require(schema.fieldNames.contains(p),
      s"partition column '$p' is not in the declared schema " +
        schema.fieldNames.mkString("(", ", ", ")")))
    publish(dir, Commit(partitionCol.cols,
      minGen = prev.tableGen + 1,
      meta = Map(SchemaMetaKey -> schema.json) ++ extraMeta ++
        opMeta("replace")))
  }

  /** SQL `ALTER TABLE ... ADD COLUMNS` (and the programmatic spelling):
    * ADDITIVE, NULLABLE-ONLY schema evolution as a META-ONLY commit —
    * the recorded schema gains the new fields at the end, no data file
    * moves, and every committed generation (which lacks the columns on
    * disk) reads them back null through the recorded-schema read path.
    * This is exactly the state a write-side evolved batch would leave,
    * minus the batch: the SQL-first "evolve, then backfill" workflow no
    * longer needs to fabricate a write.
    *
    * Refused loud: a column that already exists (case-insensitively —
    * Spark resolution is case-insensitive by default, so a `V`/`v` pair
    * would be unreachable), a NOT NULL column (committed rows cannot
    * satisfy it), and a table predating schema tracking (there is no
    * recorded schema to extend; one ordinary write records it).
    * Returns the new commit id.
    */
  def addColumns(dir: String, newCols: Seq[StructField]): Long = {
    require(newCols.nonEmpty, "ADD COLUMNS needs at least one column")
    val c = readCommit(dir).getOrElse(throw new IllegalStateException(
      s"no committed GenTable under $dir"))
    val prev = schemaOf(c).getOrElse(throw new IllegalStateException(
      s"table $dir predates schema tracking — run one ordinary write " +
        s"(which records the schema) before ALTER TABLE ADD COLUMNS"))
    val taken = prev.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    newCols.foreach { fld =>
      require(!taken.contains(fld.name.toLowerCase(java.util.Locale.ROOT)),
        s"column '${fld.name}' already exists")
      require(fld.nullable,
        s"ADD COLUMNS is nullable-only: existing rows cannot satisfy " +
          s"NOT NULL '${fld.name}' (add nullable, backfill, then enforce " +
          s"via expectations)")
    }
    require(newCols.map(_.name.toLowerCase(java.util.Locale.ROOT))
      .distinct.size == newCols.size, "duplicate column names in ADD COLUMNS")
    val next = StructType(prev.fields ++ newCols)
    val evolved = c.copy(minGen = c.tableGen + 1,
      meta = c.meta + (SchemaMetaKey -> next.json) ++ opMeta("add_columns"))
    publish(dir, evolved)
    evolved.tableGen
  }

  /** The write-contract subset of a commit's meta — what every content
    * overwrite must CARRY FORWARD (replacing rows must not amnesia the
    * table's declared merge/skip columns). One definition, used by SQL
    * INSERT OVERWRITE, the format writer's overwrite mode, and CTAS.
    */
  private[graft] def writeContractMeta(c: Commit): Map[String, String] =
    c.meta.view.filterKeys(k => k == WriteKeyColKey ||
      k == WriteOrderColsKey || k == WriteStatsColsKey ||
      k == WriteBloomColsKey).toMap

  /** [[writeDefaultsOf]] over a raw meta map (the staged-CTAS path holds
    * TBLPROPERTIES-derived meta before any commit exists).
    */
  private[sources] def writeDefaultsOfMeta(
      meta: Map[String, String]): WriteDefaults = {
    def csv(k: String): Seq[String] =
      meta.get(k).map(_.split(',').toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(Nil)
    WriteDefaults(meta.get(WriteKeyColKey).filter(_.nonEmpty),
      csv(WriteOrderColsKey), csv(WriteStatsColsKey), csv(WriteBloomColsKey))
  }

  /** The routing every name/statement write doorway shares (SQL
    * `INSERT INTO`/`INSERT OVERWRITE` via [[graft.plans.GenTableDml]],
    * catalog `INSERT` through the DSv2 V1 bridge): `data` must already be
    * aligned to the table's schema; append routes to the table's OWN
    * append contract ([[writeDefaultsOf]] — the same atomic
    * latest-per-key [[upsertBatch]] every other writer runs, so SQL
    * INSERT cannot silently duplicate keys the contract would merge), and
    * overwrite is a whole-table [[replaceAll]]. A table with no recorded
    * contract REFUSES appends loudly — guessing a merge key would be the
    * silent-narrowing this surface bans.
    */
  private[graft] def insertInto(data: DataFrame, dir: String,
      overwrite: Boolean): Unit = {
    val c = readCommit(dir).getOrElse(throw new IllegalStateException(
      s"INSERT target $dir has no committed GenTable"))
    val d = writeDefaultsOf(c)
    val pcol = PartitionCols(c.partitionCols)
    // the write contract survives an overwrite: INSERT OVERWRITE replaces
    // CONTENT, not the table's declared merge/skip columns
    val carry = writeContractMeta(c)
    if (overwrite)
      replaceAll(data, dir, pcol, meta = carry,
        statsCols = d.statsCols, bloomCols = d.bloomCols)
    else d.appendContract match {
      case Some((k, o)) =>
        upsertBatch(data, dir, k, o, pcol,
          statsCols = d.statsCols, bloomCols = d.bloomCols)
      case None => throw new org.apache.spark.sql.AnalysisException(
        errorClass = "USER_RAISED_EXCEPTION",
        messageParameters = Map("errorMessage" ->
          (s"INSERT INTO needs the table's append contract and $dir " +
            s"records none: write once with df.write.format(\"gentable\")" +
            s".option(\"keyCol\", ...).option(\"orderCols\", ...)" +
            s".mode(\"append\"), or CREATE TABLE ... TBLPROPERTIES(" +
            s"'keyCol'='...', 'orderCols'='...') — INSERT then routes " +
            s"to the same atomic upsert")))
    }
  }

  /** Atomic compaction: rewrite every committed partition's rows into
    * files of at most `targetRecordsPerFile` rows at the next generation
    * (`ceil(rows / target)` files per partition), then one manifest
    * swap. Readers see the old file set or the new one, never a
    * mix — the transactional replacement for compact-by-overwrite.
    * Returns (filesBefore, filesAfter) over committed generations.
    *
    * `clusterBy` (optional) sorts rows by the given columns within each
    * rewritten partition, so consecutive output files — and their parquet
    * row groups — cover disjoint value bands. A later range scan on a
    * clustered column then prunes row groups via the pushed filter's
    * footer min/max check, the file-level complement of the manifest's
    * partition-level [[readRange]] skip (OPTIMIZE-style clustering; for
    * multi-dimensional locality pass one interleaved key, e.g.
    * `functions.ZOrder`, instead of several columns). Every rewrite
    * shuffles by the table partition columns, so one task writes each
    * partition's run; a skewed partition bounds its task by its own row
    * count — same bound as the upsert path.
    */
  def compact(spark: SparkSession, dir: String, targetRecordsPerFile: Long,
      clusterBy: Seq[String] = Nil): (Long, Long) = {
    require(targetRecordsPerFile > 0, "targetRecordsPerFile must be positive")
    val c = readCommit(dir).getOrElse(
      throw new IllegalStateException(s"no committed generation under $dir"))
    // the file count comes from the manifest's #files lines; a listing
    // serves only manifests that predate them
    val before = c.totalFiles.getOrElse {
      val (fsys, root) = fsRoot(dir)
      c.gens.map { case (k, g) =>
        listDir(fsys, genDir(root, c.partitionCols, k, g))
          .count(_.getName.endsWith(".parquet")).toLong
      }.sum
    }
    // contents are unchanged by compaction; every manifest field (bands
    // and bloom sidecars included) is re-read from the rewritten files
    val staged = stageGen(read(spark, dir).get, dir, c.partitionCols, c,
      c.gens.keySet, exact = true, compactTo = Some(targetRecordsPerFile),
      clusterBy = clusterBy)
    publish(dir, c.fold(c.gens.keys, staged, opMeta("compact")))
    (before, staged.cells.values.flatMap(_.files).sum)
  }

  /** PARTITION EVOLUTION: atomically re-key the table onto a different
    * partition column (an existing data column) — the operation a lake
    * needs when the original layout stops matching the workload (bucket
    * count outgrown, day-partitioning wanted bucket-partitioning). One
    * rewrite of the committed rows under `newPartitionCol=v/gen=N+1`
    * directories, ONE manifest swap: readers see the old layout or the
    * new one, never a mix, and a crash anywhere leaves the old layout
    * committed. The old partition column becomes an ordinary data column
    * in the new files (and the new one stops being); history keeps its
    * own layout — time travel and restore read each commit with the
    * partition column AS OF that commit, CDC across the boundary falls
    * back to a full keyed diff ([[changesBetween]]), and [[vacuum]]
    * retires old-layout directories by each retained commit's own
    * column. Tracked stats re-derive under the new partitioning; Bloom
    * sidecars regenerate. Subsequent writers must pass the NEW column.
    * Cost: one full-table rewrite — the same price as [[compact]], and
    * the two compose (`clusterBy` applies within the new partitions).
    * Returns the new head commit id.
    */
  def repartitionTable(spark: SparkSession, dir: String,
      newPartitionCol: PartitionCols, clusterBy: Seq[String] = Nil): Long = {
    val pcols = newPartitionCol.cols
    val c = readCommit(dir).getOrElse(
      throw new IllegalStateException(s"no committed GenTable under $dir"))
    require(c.gens.nonEmpty, s"nothing committed under $dir")
    require(pcols != c.partitionCols,
      s"table is already partitioned by ${pcols.mkString(",")}")
    val df = read(spark, dir).get
    pcols.foreach(p => require(df.columns.contains(p),
      s"new partition column '$p' is not a column of $dir"))
    // frozen: the new partition set must be known before the write
    val frozen = df.localCheckpoint(true)
    try {
      val staged = stageGen(frozen, dir, pcols, c,
        touchedKeys(frozen, pcols).toSet, exact = true, clusterBy = clusterBy)
      publish(dir, Commit(pcols, meta = c.meta)
        .fold(Nil, staged, opMeta("repartition")))
      staged.gen
    } finally frozen.unpersist()
  }

  /** Atomic predicate delete — the takedown / right-to-be-forgotten path
    * a training-data lake needs as a first-class operation. Finding the
    * matches costs one scan of the committed view (arbitrary predicates
    * can't be pruned without column stats, which are orthogonal to this
    * protocol), but the REWRITE is bounded by the partitions that
    * actually contain matches: only those are re-read and re-staged at
    * the next generation; a partition left empty by the delete is
    * dropped from the manifest. One atomic publish — a crash anywhere
    * leaves every deleted row still committed. Rows delete when the
    * predicate is TRUE; NULL predicate rows survive (SQL DELETE
    * semantics). Returns the number of rows deleted (0 = no commit was
    * made).
    */
  def deleteWhere(spark: SparkSession, dir: String, predicate: org.apache.spark.sql.Column): Long = {
    requireDeterministic(predicate, "DELETE")
    val c = readCommit(dir).getOrElse(return 0L)
    if (c.gens.isEmpty) return 0L
    val full = read(spark, dir).get
    val nCols = c.partitionCols.length
    // touched partitions + per-partition match counts in one bounded collect
    val touchedRows = full.filter(predicate)
      .groupBy(c.partitionCols.map(p => col(p).cast("string")): _*)
      .agg(count(lit(1)).as("_n")).collect()
    if (touchedRows.isEmpty) return 0L
    val deleted = touchedRows.map(_.getLong(nCols)).sum
    val touchedVals = touchedRows
      .map(r => partKey((0 until nCols).map(r.getString))).toSet
    val survivors = readPartitions(spark, dir, c, touchedVals).get
      .filter(!coalesce(predicate, lit(false)))
    commitRewrite(dir, c, touchedVals, survivors, opMeta("delete"))
    deleted
  }

  /** Atomic SQL `UPDATE ... SET ... WHERE`: matched rows get every
    * assignment applied, all right-hand sides evaluated against the OLD
    * row (SQL semantics — `SET a = b, b = a` swaps); NULL-predicate rows
    * stay untouched. Find-scan + rewrite bounded exactly like
    * [[deleteWhere]] (only partitions containing matches re-stage).
    * Assignments must not touch a partition column — an update that
    * moves rows between partitions is a delete+insert (or a
    * [[repartitionTable]]), and silently splitting one SQL statement
    * into both would hide the cost. Returns rows updated (0 = no
    * commit).
    */
  def updateWhere(spark: SparkSession, dir: String,
      predicate: Column, set: Seq[(String, Column)]): Long = {
    require(set.nonEmpty, "UPDATE needs at least one assignment")
    // SQL requires one assignment per column — silently keeping the last
    // of two would hide a statement bug
    require(set.map(_._1).distinct.length == set.length,
      s"duplicate UPDATE assignment target(s): " +
        set.map(_._1).diff(set.map(_._1).distinct).distinct.mkString(", "))
    requireDeterministic(predicate, "UPDATE")
    val c = readCommit(dir).getOrElse(return 0L)
    if (c.gens.isEmpty) return 0L
    set.foreach { case (n, _) =>
      require(!c.partitionCols.contains(n),
        s"UPDATE must not assign partition column '$n' (rows would move " +
          s"between partitions; delete+insert or repartitionTable instead)")
    }
    val full = read(spark, dir).get
    set.foreach { case (n, _) => require(full.columns.contains(n),
      s"unknown column '$n' in UPDATE assignment") }
    val nCols = c.partitionCols.length
    val touchedRows = full.filter(predicate)
      .groupBy(c.partitionCols.map(p => col(p).cast("string")): _*)
      .agg(count(lit(1)).as("_n")).collect()
    if (touchedRows.isEmpty) return 0L
    val updated = touchedRows.map(_.getLong(nCols)).sum
    val touchedVals = touchedRows
      .map(r => partKey((0 until nCols).map(r.getString))).toSet
    val part = readPartitions(spark, dir, c, touchedVals).get
    val hit = coalesce(predicate, lit(false))
    val assigned = set.toMap
    // ONE select so every RHS reads the pre-update row. Each RHS is CAST
    // to the column's DECLARED type (SQL store-assignment): without it, a
    // widening expression (`SET cnt = cnt / 2` on a bigint column yields
    // double) would silently re-record the whole TABLE's schema while
    // untouched partitions keep old-typed files — the exact type drift
    // [[mergeSchemas]]' "ADDED columns only" rule refuses everywhere else.
    val rewritten = part.select(part.columns.toSeq.map { n =>
      assigned.get(n).fold(col(n)) { v =>
        when(hit, v.cast(part.schema(n).dataType)).otherwise(col(n)).as(n)
      }
    }: _*)
    commitRewrite(dir, c, touchedVals, rewritten, opMeta("update"))
    updated
  }

  /** Atomic delete by key list — the shape real takedown requests
    * arrive in (a bounded list of user/doc ids). Unlike [[deleteWhere]]
    * there is NO full-table find-scan: the stable key→partition
    * contract (`partitionExpr`, the same mapping the writer used)
    * derives the touched partitions directly from the keys, so both the
    * scan and the rewrite are bounded by the partitions the keys map
    * to — at 100 TB a thousand-user takedown reads a handful of
    * buckets, never the table. `keys` is collected to the driver and
    * filters as a literal `IN` set (takedown lists are small by nature).
    * NULL keys, keys mapping to absent partitions and keys absent from
    * their partition delete nothing.
    * Returns rows deleted (0 = no commit).
    */
  def deleteKeys(keys: DataFrame, dir: String, keyCol: String,
      partitionExpr: org.apache.spark.sql.Column): Long =
    deleteKeys(keys, dir, keyCol, Seq(partitionExpr))

  /** Composite-layout form of [[deleteKeys]]: one expression per
    * partition column, in the table's partition-column order (the same
    * key→partition-tuple mapping the writer used).
    */
  def deleteKeys(keys: DataFrame, dir: String, keyCol: String,
      partitionExprs: Seq[org.apache.spark.sql.Column]): Long = {
    val spark = keys.sparkSession
    val c = readCommit(dir).getOrElse(return 0L)
    if (c.gens.isEmpty) return 0L
    require(partitionExprs.length == c.partitionCols.length,
      s"table is partitioned by ${c.partitionCols.length} column(s) " +
        s"(${c.partitionCol}); got ${partitionExprs.length} partition " +
        s"expression(s)")
    // ONE job collects the distinct keys WITH their mapped partition
    // tuples (takedown lists are small by contract). The keys then filter
    // as a LITERAL `IN` set, so the rewrite re-derives identical
    // survivors on a retried task no matter what lineage produced `keys`,
    // and the return value counts exactly the rows the rewrite removes.
    val keyRows = keys.select(col(keyCol)).distinct()
      .select(col(keyCol) +:
        partitionExprs.zipWithIndex.map { case (e, i) =>
          e.cast("string").as(s"_p$i") }: _*)
      .collect()
    val touchedVals = keyRows
      .flatMap { r => // a null-mapped key can't name a committed partition
        val vals = partitionExprs.indices.map(i => r.getString(i + 1))
        if (vals.contains(null)) None else Some(partKey(vals))
      }.toSet
      .filter(c.gens.contains) // bounded: partitions the key list maps to
    if (touchedVals.isEmpty) return 0L
    // a NULL key matches nothing, as in an equi-join
    val hit = col(keyCol).isin(keyRows.map(_.get(0)).filter(_ != null): _*)
    val part = readPartitions(spark, dir, c, touchedVals).get
    val deleted = part.filter(hit).count()
    if (deleted == 0L) return 0L
    commitRewrite(dir, c, touchedVals,
      part.filter(!coalesce(hit, lit(false))), opMeta("delete_keys"))
    deleted
  }

  /** Transactionally apply ONE CDC batch in [[changesBetween]]'s
    * single-image shape (`keyCol, _change, <data columns>`): post-images
    * (insert/update) REPLACE the key's row whatever the data columns say
    * (arrival order is authority — a takedown can move a key's latest
    * EARLIER in event time, which an order-column merge would lose), and
    * delete pre-images drop the key. ONE commit for the whole batch —
    * upserts, deletes, and `extraMeta` land in a single manifest swap, so
    * a consumer marker in `extraMeta` (the streaming sink's batch id)
    * makes the apply exactly-once under crash-replay: the batch either
    * fully applied with its marker or not at all. Touched partitions =
    * every partition a change names; cost follows the churn. Same
    * stable-partition-per-key contract as [[upsertBatch]].
    */
  def applyCdcBatch(diff0: DataFrame, dir: String, keyCol: String,
      partitionCol: PartitionCols, changeCol: String = "_change",
      extraMeta: Map[String, String] = Map.empty): Unit = {
    val spark = diff0.sparkSession
    val pcols = partitionCol.cols
    // r16: pin the batch ONCE — `diff0` is typically the CDC source's
    // manifest-diff subtree (two snapshot reads + a full-outer compare),
    // and without pinning every consumer below (the empty probe, the
    // touched-partition collect, the merge union, the delete-key set)
    // re-ran it. Churn-sized by definition of a CDC batch.
    val diff = diff0.localCheckpoint(true)
    try {
    val ups = diff.filter(col(changeCol) =!= "delete").drop(changeCol)
    val dels = diff.filter(col(changeCol) === "delete")
    val head = readCommit(dir)
    head.filter(_.gens.nonEmpty) match {
      case None =>
        // first batch bootstraps the table (no committed rows — possibly
        // a meta-only commit): only inserts can exist. Pinned to the head
        // read above, so an interleaved bootstrap fails loud at publish
        // instead of being built on silently.
        if (ups.isEmpty) return
        val base = head.getOrElse(Commit(pcols))
        val staged = stagePinned(ups, dir, partitionCol, base, Nil, Nil, 50000L)
        publish(dir, base.fold(Nil, staged, opMeta("cdc_apply") ++ extraMeta))
      case Some(c) =>
        require(c.partitionCols == pcols,
          s"table is partitioned by ${c.partitionCol}, not " +
            pcols.mkString(","))
        val touchedVals = diff
          .select(pcols.map(p => col(p).cast("string")): _*).distinct()
          .collect() // bounded: churn per batch
          .flatMap { r =>
            val vals = pcols.indices.map(r.getString)
            if (vals.contains(null)) None else Some(partKey(vals))
          }.toSet
        if (touchedVals.isEmpty) return
        val existing = readPartitions(spark, dir, c, touchedVals)
        // post-image beats the stored row by PRIORITY, not data order
        import org.apache.spark.sql.expressions.Window
        val tagged = existing
          .map(_.withColumn("_pri", lit(0))
            .unionByName(ups.withColumn("_pri", lit(1)),
              allowMissingColumns = true))
          .getOrElse(ups.withColumn("_pri", lit(1)))
        // a keyed table has at most one row per (key, _pri) so priority is
        // total — but a dup-key target (seeded outside the keyed paths)
        // would tie at _pri=0, and the rewrite computes this merge inside
        // the write job, so a retried task must re-derive the SAME winner:
        // the whole-row hash makes the order total, like upsertBatch's
        // tiebreaker
        val w = Window.partitionBy(col(keyCol)).orderBy(col("_pri").desc,
          xxhash64(tagged.columns.toSeq.map(col): _*).desc)
        val merged = tagged
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn", "_pri")
        val delKeys = dels.select(col(keyCol)).distinct()
        val survivors = merged.join(broadcast(delKeys), Seq(keyCol), "left_anti")
        commitRewrite(dir, c, touchedVals, survivors,
          opMeta("cdc_apply") ++ extraMeta)
    }
    } finally diff.unpersist()
  }

  /** What a [[merge]] did, by MERGE arm: matched-and-updated,
    * matched-and-deleted, not-matched-and-inserted source rows.
    */
  final case class MergeStats(updated: Long, deleted: Long, inserted: Long) {
    def total: Long = updated + deleted + inserted
  }

  /** SQL `MERGE INTO` for the lake tier, in ONE atomic commit:
    * {{{
    * MERGE INTO target USING source ON target.key = source.key
    *   WHEN MATCHED AND <deleteWhen> THEN DELETE
    *   WHEN MATCHED AND <updateWhen> THEN UPDATE SET *
    *   WHEN NOT MATCHED AND <insertWhen> THEN INSERT *
    * }}}
    * Arm conditions are predicates over the SOURCE row's columns
    * (`None` disables the arm; the defaults are the plain upsert-merge:
    * update every match, insert every miss). Clause order is SQL's:
    * a matched row tests DELETE first, then UPDATE, else stays. Updates
    * REPLACE the target row whole (`UPDATE SET *`) by default; with
    * `updateSet` non-empty (SQL `UPDATE SET t.col = <expr>`), the
    * matched row keeps its existing columns and each assigned column is
    * recomputed — right-hand sides may reference the EXISTING row's
    * columns by their plain names and the SOURCE row's columns as
    * `_s_<name>` (the engine joins the two on the key before
    * evaluating; the SQL doorway writes `t.col`/`s.col` and
    * [[graft.plans.GenTableDml]] maps them). Each RHS casts to the
    * column's DECLARED type (store assignment, the [[updateWhere]]
    * rule); assigning the key or a partition column is refused. The
    * source may add columns (schema evolution — untouched rows read
    * null there; with `updateSet` only the INSERT arm can add them).
    *
    * Contracts, shared with [[upsertBatch]]/[[applyCdcBatch]]:
    *  - the source carries the table's partition column with each key's
    *    STABLE value (key→partition is the table's bucketing contract;
    *    IO is bounded by the partitions the source names, never the
    *    table);
    *  - at most one source row per key (the SQL MERGE cardinality rule —
    *    violated, it fails loud before anything stages);
    *  - `extraMeta` lands in the same manifest swap as the data, so a
    *    consumer marker makes the merge exactly-once under replay.
    * A merge where every arm matches nothing commits nothing. Returns
    * per-arm row counts.
    */
  def merge(source: DataFrame, dir: String, keyCol: String,
      updateWhen: Option[Column] = Some(lit(true)),
      deleteWhen: Option[Column] = None,
      insertWhen: Option[Column] = Some(lit(true)),
      extraMeta: Map[String, String] = Map.empty,
      updateSet: Seq[(String, Column)] = Nil): MergeStats = {
    val spark = source.sparkSession
    val c = readCommit(dir).getOrElse(throw new IllegalStateException(
      s"MERGE target $dir has no committed GenTable " +
        s"(seed it with upsertBatch/replaceAll or a batch save first)"))
    require(c.gens.nonEmpty, s"MERGE target $dir is empty")
    (keyCol +: c.partitionCols).foreach(cn =>
      require(source.columns.contains(cn),
        s"MERGE source must carry key/partition column '$cn'"))
    // `_matched` is merge's internal matched-ness flag: a source column
    // of that name would be silently replaced by withColumn and then
    // dropped from whole-row updates — refuse it loud instead. (`_s_*`
    // names on the updateSet path already fail loud as an ambiguous
    // reference in the 1:1 join.)
    require(!source.columns.contains("_matched"),
      "MERGE source must not carry a column named '_matched' (reserved " +
        "by the merge implementation); rename it before merging")
    schemaOf(c).foreach(p => mergeSchemas(p, source.schema))
    if (updateSet.nonEmpty) {
      require(updateWhen.isDefined,
        "MERGE updateSet needs an UPDATE arm (updateWhen)")
      require(updateSet.map(_._1).distinct.length == updateSet.length,
        s"duplicate MERGE UPDATE assignment target(s): " +
          updateSet.map(_._1).diff(updateSet.map(_._1).distinct)
            .distinct.mkString(", "))
      updateSet.foreach { case (n, _) =>
        require(n != keyCol,
          s"MERGE UPDATE must not assign the merge key '$n' (re-keying a " +
            s"matched row is a delete+insert; spell it as such)")
        require(!c.partitionCols.contains(n),
          s"MERGE UPDATE must not assign partition column '$n' (rows " +
            s"would move between partitions; delete+insert instead)")
      }
    }
    // NULL-condition rows take no action, like SQL WHEN ... AND <cond>
    val delCond = deleteWhen.map(coalesce(_, lit(false))).getOrElse(lit(false))
    val updCond = updateWhen.map(coalesce(_, lit(false)))
      .getOrElse(lit(false)) && !delCond
    val insCond = insertWhen.map(coalesce(_, lit(false))).getOrElse(lit(false))
    val frozenSrc = source.localCheckpoint(true)
    try {
      // r17: ONE aggregate over the pinned source carries the cardinality
      // gate AND the touched-partition set (collect_set bounded by
      // partitions per batch) — was two jobs (agg + distinct collect)
      val pc = c.partitionCols
      val card = frozenSrc
        .agg(count(lit(1)).as("n"), count_distinct(col(keyCol)).as("k"),
          count(when(col(keyCol).isNull, 1)).as("nulls"),
          count(when(pc.map(col(_).isNull).reduce(_ || _), 1)).as("pnulls"),
          collect_set(struct(
            pc.map(p => col(p).cast("string").as(p)): _*)).as("parts"))
        .collect()(0)
      require(card.getLong(2) == 0L,
        s"MERGE source has NULL '$keyCol' keys")
      require(card.getLong(0) == card.getLong(1),
        s"MERGE source has ${card.getLong(0) - card.getLong(1)} duplicate " +
          s"'$keyCol' keys (SQL MERGE forbids multiple source matches per " +
          s"target row); pre-aggregate the source")
      require(card.getLong(3) == 0L,
        s"partition column(s) ${pc.mkString(",")} contain NULLs — " +
          s"GenTable partition values must be non-null (filter or " +
          s"default them first)")
      val touchedVals = card.getSeq[org.apache.spark.sql.Row](4)
        .map(r => partKey(pc.indices.map(r.getString))).toSet
      val existing = readPartitions(spark, dir, c, touchedVals)
      // one keyed probe decides matched-ness for every arm at once
      val flagged = (existing match {
        case Some(ex) => frozenSrc.join(
          ex.select(col(keyCol)).distinct().withColumn("_matched", lit(true)),
          Seq(keyCol), "left")
          .withColumn("_matched", coalesce(col("_matched"), lit(false)))
        case None => frozenSrc.withColumn("_matched", lit(false))
      }).localCheckpoint(true)
      try {
        val armRow = flagged.agg(
          sum(when(col("_matched") && updCond, 1L).otherwise(0L)),
          sum(when(col("_matched") && delCond, 1L).otherwise(0L)),
          sum(when(!col("_matched") && insCond, 1L).otherwise(0L))).collect()(0)
        def arm(i: Int): Long = if (armRow.isNullAt(i)) 0L else armRow.getLong(i)
        val stats = MergeStats(arm(0), arm(1), arm(2))
        if (stats.total == 0L) return stats // all-arms-miss: no empty commit
        val replacedKeys = flagged
          .filter(col("_matched") && (updCond || delCond)).select(col(keyCol))
        // replacedKeys is bounded by the SOURCE batch (cardinality-checked
        // above: one row per key), which is usually broadcast-sized — but
        // a backfill MERGE (source ≈ table) must not be force-broadcast
        // into a driver OOM. Gate the hint on the already-computed source
        // row count; past the bound, AQE picks the join and still
        // broadcasts when the runtime size allows, degrading to a shuffle
        // join instead of failing.
        val antiKeys = if (card.getLong(0) <= 4000000L)
          broadcast(replacedKeys) else replacedKeys
        val srcUpdates =
          flagged.filter(col("_matched") && updCond).drop("_matched")
        // partial SET: the updated row is the EXISTING row with each
        // assigned column recomputed from (existing ⋈ source-on-key) —
        // source columns visible to the RHS as `_s_<name>` (one row per
        // key on both sides, so the join is 1:1). Whole-row replace
        // otherwise (UPDATE SET *): the source row IS the update.
        val updates = (updateSet, existing) match {
          case (Nil, _) => srcUpdates
          case (set, Some(ex)) =>
            set.foreach { case (n, _) =>
              require(ex.columns.contains(n),
                s"unknown column '$n' in MERGE UPDATE assignment") }
            val assigned = set.toMap
            val srcR = srcUpdates.select(srcUpdates.columns.toSeq.map(cn =>
              col(cn).as(s"_s_$cn")): _*)
            ex.join(srcR, col(keyCol) === col(s"_s_$keyCol"), "inner")
              .select(ex.columns.toSeq.map { n =>
                assigned.get(n)
                  .fold(col(n))(v => v.cast(ex.schema(n).dataType).as(n))
              }: _*)
          case (_, None) => // no committed rows in touched partitions:
            srcUpdates.limit(0) // nothing can match — empty, typed
        }
        val inserts = flagged.filter(!col("_matched") && insCond).drop("_matched")
        val changes = updates.unionByName(inserts,
          allowMissingColumns = updateSet.nonEmpty)
        val result0 = existing match {
          case Some(ex) => ex
            .join(antiKeys, Seq(keyCol), "left_anti")
            .unionByName(changes, allowMissingColumns = true)
          case None =>
            // every touched partition is NEW: the rewrite commits the
            // result frame's schema, so align a narrower source to the
            // table's recorded schema (missing columns null) — otherwise
            // this commit would silently drop columns from ALL reads
            schemaOf(c).fold(changes) { ts =>
              val union = mergeSchemas(ts, changes.schema)
              changes.select(union.fields.toSeq.map { f =>
                if (changes.columns.contains(f.name)) col(f.name)
                else lit(null).cast(f.dataType).as(f.name)
              }: _*)
            }
        }
        // arm conditions and SET right-hand sides are usually
        // deterministic (the SQL doorway's always are); an exotic
        // nondeterministic one would re-evaluate inside the write job, so
        // pin the frame in that case — a retried task must commit the
        // same rows the MergeStats counted.
        val allDeterministic =
          (updateWhen.toSeq ++ deleteWhen ++ insertWhen ++
            updateSet.map(_._2)).forall(cnd =>
            !GraftSqlShim.expr(cnd)
              .exists(!_.deterministic))
        val result =
          if (allDeterministic) result0 else result0.localCheckpoint(true)
        try {
          commitRewrite(dir, c, touchedVals, result,
            opMeta("merge") ++ extraMeta)
        } finally if (!allDeterministic) result.unpersist()
        stats
      } finally flagged.unpersist()
    } finally frozenSrc.unpersist()
  }

  /** Shared rewrite tail: stage the survivors of the touched partitions
    * at the next generation (partitions the rewrite emptied land nothing
    * and leave the manifest) and publish once.
    */
  private def commitRewrite(dir: String, c: Commit, touchedVals: Set[String],
      survivors: DataFrame, extraMeta: Map[String, String]): Unit =
    publish(dir, c.fold(touchedVals, stageGen(survivors, dir,
      c.partitionCols, c, touchedVals, exact = false), extraMeta))

  /** Change-data-capture between two archived commits (ids from
    * [[commits]]; `fromId = 0` = the empty table). Immutable generations
    * make the diff both exact and PRUNED: a partition whose committed
    * generation is identical in both commits is never read — IO follows
    * the churn between the snapshots, not table size. Rows are matched
    * on `keyCol` (the upsert key — unique per committed state) and
    * compared null-safely across all other columns; unchanged rows are
    * absent from the output. Returns the table's columns plus `_change`
    * (`insert` / `update` / `delete`), carrying the post-image for
    * insert/update and the pre-image for delete.
    */
  def changesBetween(spark: SparkSession, dir: String, fromId: Long,
      toId: Long, keyCol: String): DataFrame = {
    val diff = changeImages(spark, dir, fromId, toId, keyCol)
    if (diff.columns.isEmpty) return diff
    val dataCols = diff.schema("_post").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
    diff.withColumn("_img", coalesce(col("_post"), col("_pre")))
      .select(col(keyCol) +: col("_change") +:
        dataCols.toSeq.map(f => col(s"_img.$f").as(f)): _*)
  }

  /** Incremental CDC consumption: the pre/post-image changes between the
    * consumer's last-seen commit id (0 = never consumed) and the current
    * head, plus the head id to checkpoint for the next poll. The head is
    * the COMMITTED MANIFEST's id (never the archive listing — see
    * [[publish]]'s ordering contract), so a checkpointed id always names
    * final content. `None` when nothing new committed. Feeding each
    * poll's frame to [[graft.operators.RollupStore.applyCdcDeltas]]
    * maintains a downstream view that equals a from-scratch recompute
    * after every poll, whatever the poll-to-commit interleaving — the
    * lake-to-view pipeline loop (spec-pinned). Retention contract: the
    * consumer must poll within `keepCommits` of [[vacuum]], or its
    * `lastSeenId` snapshot is gone and the diff fails fast rather than
    * silently dropping changes.
    */
  def changesSince(spark: SparkSession, dir: String, lastSeenId: Long,
      keyCol: String): Option[(Long, DataFrame)] = {
    val head = readCommit(dir).map(_.tableGen).filter(_ > 0L)
      .getOrElse(return None)
    if (head <= lastSeenId) None
    else Some((head, changesWithImages(spark, dir, lastSeenId, head, keyCol)))
  }

  /** AvailableNow CDC feed: drains the commit history through
    * `onBatch(head, changes)` one poll at a time until the head stops
    * moving — the micro-batch driver a streaming CDC source reduces to
    * when offsets are commit ids. Each poll's diff covers EVERY commit
    * since the last consumed id (so a slow consumer coalesces, it never
    * falls behind the protocol), and `startAfter` is the consumer's
    * durable checkpoint from a previous run (0 = from the beginning).
    * Exactly-once is the CONSUMER's half of the contract: `onBatch` must
    * persist its effects and the head id transactionally (the
    * [[graft.operators.RollupStore.maintainView]] pattern — marker and
    * data in one commit); this driver then never replays a consumed diff
    * and never skips one, at any writer interleaving. Returns the last
    * consumed head (== `startAfter` when nothing new committed).
    */
  def followChanges(spark: SparkSession, dir: String, keyCol: String,
      startAfter: Long)(onBatch: (Long, DataFrame) => Unit): Long = {
    var seen = startAfter
    var more = true
    while (more) {
      changesSince(spark, dir, seen, keyCol) match {
        case Some((head, ch)) => onBatch(head, ch); seen = head
        case None => more = false
      }
    }
    seen
  }

  /** [[changesBetween]] with BOTH row images: `_pre` (the `fromId` row,
    * null for inserts) and `_post` (the `toId` row, null for deletes) as
    * structs of the non-key columns. This is the shape incremental view
    * maintenance needs — an update's effect on a downstream aggregate is
    * `-f(pre) + f(post)`, which the single-image form cannot express
    * (see [[graft.operators.RollupStore.applyCdcDeltas]]). Same pruning:
    * only partitions whose generation moved are read. Across a schema
    * evolution boundary both images read through the `toId` schema
    * (pre-evolution rows show null in added columns).
    */
  def changesWithImages(spark: SparkSession, dir: String, fromId: Long,
      toId: Long, keyCol: String): DataFrame =
    changeImages(spark, dir, fromId, toId, keyCol)

  private def changeImages(spark: SparkSession, dir: String, fromId: Long,
      toId: Long, keyCol: String): DataFrame = {
    def resolve(id: Long): Commit = {
      if (id == 0L) return Commit(Nil)
      commitAt(dir, id).getOrElse(
        throw new IllegalArgumentException(
          s"no archived commit $id under $dir (vacuumed?)"))
    }
    val cFrom = resolve(fromId)
    val cTo = resolve(toId)
    // both sides read through the TO-side schema so the packed _pre/_post
    // structs are the same type across an evolution boundary (a partition
    // evolution keeps the column SET — the old partition column becomes a
    // data column — so one schema types both layouts; each side's column
    // resolves from its own files or its own directory names)
    val align: Option[StructType] = schemaOf(cTo).orElse(schemaOf(cFrom))
    def reader = {
      val r0 = spark.read.option("basePath", dir)
      align.fold(r0)(s => r0.schema(s))
    }
    // only partitions whose generation moved participate in the diff —
    // except across a partition-evolution boundary, where the two value
    // spaces are different columns' (incomparable: a coincidentally equal
    // (value, gen) pair must not read as "unchanged") and the rewrite
    // moved every row anyway: full keyed diff
    val sameLayout = cFrom.gens.isEmpty || cTo.gens.isEmpty ||
      cFrom.partitionCols == cTo.partitionCols
    def changedOf(c: Commit): Seq[String] =
      if (!sameLayout) c.gens.keySet.toSeq.sorted
      else (cFrom.gens.keySet ++ cTo.gens.keySet)
        .filter(v => cFrom.gens.get(v) != cTo.gens.get(v)).toSeq.sorted
    def side(c: Commit): Option[DataFrame] = {
      val paths = changedOf(c).flatMap(k => c.gens.get(k).map(g =>
        genPath(dir, c.partitionCols, k, g)))
      if (paths.isEmpty) None
      else Some(reader.parquet(paths: _*).drop("gen"))
    }
    // a no-churn diff (e.g. across a meta-only replace) still returns the
    // schema-correct (keyCol, _pre, _post, _change) frame: the template
    // falls back to any committed generation, then to the manifest schema
    val template = side(cTo).orElse(side(cFrom)).orElse {
      def any(c: Commit): Option[String] =
        c.gens.toSeq.sortBy(_._1).headOption.map { case (k, g) =>
          genPath(dir, c.partitionCols, k, g)
        }
      any(cTo).orElse(any(cFrom))
        .map(p => reader.parquet(p).drop("gen").limit(0))
    }.orElse {
      align.map(s => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s))
    }.getOrElse(return spark.emptyDataFrame) // pre-schema-tracking AND empty
    val dataCols = template.columns.filterNot(_ == keyCol)
    def packed(df: Option[DataFrame], as: String): DataFrame = df match {
      case Some(d) => d.select(col(keyCol),
        struct(dataCols.map(col): _*).as(as))
      case None => template.select(col(keyCol),
        struct(dataCols.map(col): _*).as(as)).limit(0)
    }
    packed(side(cFrom), "_pre").join(packed(side(cTo), "_post"),
        Seq(keyCol), "full_outer")
      .filter(!(col("_pre") <=> col("_post")))
      .withColumn("_change",
        when(col("_pre").isNull, lit("insert"))
          .when(col("_post").isNull, lit("delete"))
          .otherwise(lit("update")))
  }

  /** Deletes every generation directory the RETAINED commits do not
    * reference — superseded generations AND orphans from crashed stages —
    * plus commit archives older than the retention window, plus stale
    * `_commit.tmp.*` manifests a crashed publish stranded. Retention:
    * the current manifest and the newest `keepCommits` archived commits
    * stay readable ([[readAt]]); everything older goes. Single-writer
    * assumption: never run concurrently with a stage, and a reader that
    * resolved paths from a retained commit must finish before a LATER
    * vacuum drops that commit. Returns the number of generation
    * directories removed.
    */
  /** Per (partition column list, key), the generations any RETAINED
    * commit pins (the current manifest plus the newest `keepCommits`
    * archives) — keyed by COLUMNS too, because partition evolution
    * ([[repartitionTable]]) leaves directories of several layouts and
    * each retained commit pins only its own. Shared by [[vacuum]] (what
    * to keep) and [[fsck]] (what counts as accounted), so the two agree
    * exactly.
    */
  /** The generation number of a `gen=N` directory name, when it IS one:
    * all digits AND parseable as a Long. An all-digit name too long for a
    * Long (foreign junk no writer ever creates) must classify as foreign
    * — not abort a whole vacuum/fsck sweep with NumberFormatException.
    */
  private def genNumberOf(name: String): Option[Long] = {
    val s = name.stripPrefix("gen=")
    if (name.startsWith("gen=") && s.nonEmpty && s.forall(_.isDigit))
      scala.util.Try(s.toLong).toOption
    else None
  }

  private def pinnedGens(dir: String, c: Commit,
      keepCommits: Int): (Seq[Long], Map[(Seq[String], String), Set[Long]]) = {
    val retainedIds = commits(dir).takeRight(keepCommits)
    val retained = retainedIds.flatMap(commitAt(dir, _)) :+ c
    (retainedIds, retained
      .flatMap(cm => cm.gens.toSeq.map { case (k, g) =>
        (cm.partitionCols, k) -> g
      }).groupBy(_._1)
      .map { case (k, gs) => k -> gs.map(_._2).toSet })
  }

  def vacuum(dir: String, keepCommits: Int = 1): Long = {
    require(keepCommits >= 1, "keepCommits must be >= 1")
    val c = readCommit(dir).getOrElse(return 0L)
    val (f, root) = fsRoot(dir)
    if (!f.exists(root)) return 0L
    val (retainedIds, keep) = pinnedGens(dir, c, keepCommits)
    var removed = 0L
    // recursive descent: composite layouts nest one `col=value` level per
    // partition column before the `gen=N` leaves; each directory level
    // accumulates the (columns, value tuple) the keep map is keyed by
    def sweep(p: HPath, cols: Seq[String], vals: Seq[String]): Unit = {
      listDir(f, p).foreach { child =>
        val n = child.getName
        if (f.getFileStatus(child).isDirectory) {
          if (n.startsWith("gen=")) {
            // `gen=<non-numeric-or-overflowing>` is FOREIGN (no writer
            // ever creates one): leave it untouched — neither the
            // generation sweep nor the empty-dir cleanup may classify
            // junk (fsck reports it instead)
            genNumberOf(n).foreach { g =>
              val pinned = keep.getOrElse((cols, partKey(vals)), Set.empty)
              if (!pinned.contains(g)) {
                f.delete(child, true)
                removed += 1
              }
            }
          } else if (n.contains('=')) {
            val Array(pc, v) = n.split("=", 2)
            sweep(child, cols :+ pc, vals :+ v)
            // a directory emptied of every generation (a retired layout
            // after partition evolution) goes with them
            if (listDir(f, child).isEmpty) f.delete(child, false)
          }
        }
      }
    }
    listDir(f, root).filter { p =>
      val n = p.getName
      f.getFileStatus(p).isDirectory && !n.startsWith("_") && n.contains('=')
    }.foreach { pdir =>
      val Array(pc, v) = pdir.getName.split("=", 2)
      sweep(pdir, Seq(pc), Seq(v))
      if (listDir(f, pdir).isEmpty) f.delete(pdir, false)
    }
    // drop archives outside the retention window
    val archiveDir = new HPath(root, "_commits")
    val keepNames = retainedIds.map(id => f"ct_$id%020d").toSet
    listDir(f, archiveDir).filter(p =>
      p.getName.startsWith("ct_") && !keepNames.contains(p.getName))
      .foreach(p => f.delete(p, false))
    // sweep temp manifests stranded by a crash between write and swap
    listDir(f, root).filter(_.getName.startsWith("_commit.tmp."))
      .foreach(p => f.delete(p, false))
    // sweep manifest SHARDS nothing references anymore: the referenced
    // set is the head chain plus every retained archive's chain (both
    // light parses — no fold). Superseded chains (compaction), dropped
    // history, and crashed-publish orphans all land here. Runs under the
    // same no-concurrent-stage contract as the generation sweep: a shard
    // written but not yet head-swapped belongs to a live publish, which
    // the single-maintenance-scheduler contract excludes.
    val mDir = new HPath(root, ManifestsDirName)
    if (f.exists(mDir)) {
      val headRefs = {
        val p = new HPath(root, "_commit")
        if (f.exists(p)) parseManifest(readString(f, p))._2 else Nil
      }
      val archRefs = listDir(f, archiveDir)
        .filter(_.getName.startsWith("ct_"))
        .flatMap(p => parseManifest(readStringMaybeGzip(f, p))._2)
      val referenced = (headRefs ++ archRefs).map(_.name).toSet
      listDir(f, mDir).filterNot(p => referenced.contains(p.getName))
        .foreach(p => f.delete(p, false))
    }
    // drop bloom sidecars for unpinned generations (same retention rule
    // as the generation directories they describe). Sidecar names carry
    // (key, column, gen) without the partition columns; merge the pins
    // across layouts — a key string shared by two layouts keeps more,
    // never less (conservative)
    val keepByK: Map[String, Set[Long]] = keep.toSeq
      .map { case ((_, k), gs) => k -> gs }
      .groupBy(_._1).map { case (k, gs) => k -> gs.flatMap(_._2).toSet }
    listDir(f, new HPath(root, "_filters")).foreach { p =>
      p.getName.stripSuffix(".bloom").split('~') match {
        case Array(ek, _, g) if g.forall(_.isDigit) =>
          val pinned = keepByK.getOrElse(ek, Set.empty)
          if (!pinned.contains(g.toLong)) f.delete(p, false)
        case _ => ()
      }
    }
    removed
  }

  /** What [[fsck]] found on disk that the manifest does not account for:
    *  - `unreferencedFiles` — data files OUTSIDE any `gen=N` directory
    *    (under a partition directory, or loose at the table root). These
    *    are the leak class: invisible to every manifest-driven read AND
    *    to [[vacuum]] (which only sweeps `gen=` directories), so without
    *    this audit they live forever. Sources: a raw
    *    `df.write.parquet(dir)` aimed at the table path, a pre-fix SQL
    *    `INSERT INTO` through the path-view doorway, manual copies.
    *  - `staleGenDirs` — `gen=N` directories no retained commit pins
    *    (superseded generations and crashed stages): [[vacuum]]'s normal
    *    sweep class, listed here so a report BETWEEN vacuums is complete.
    *  - `staleManifestShards` — manifest shard FILES under `_manifests/`
    *    no retained commit's chain references (superseded chains after a
    *    fold, crashed-publish leftovers): also vacuum's class, reported
    *    separately because they are files of the metadata plane, not
    *    data-plane generation directories.
    */
  final case class FsckReport(unreferencedFiles: Seq[String],
      staleGenDirs: Seq[String],
      staleManifestShards: Seq[String] = Nil) {
    def clean: Boolean = unreferencedFiles.isEmpty &&
      staleGenDirs.isEmpty && staleManifestShards.isEmpty
  }

  /** Metadata-vs-disk audit: walk the table tree and report everything no
    * retained commit references (same retention window as [[vacuum]]).
    * Report-only — removal stays an explicit operator decision, because
    * an unreferenced file may be MID-STAGE from a live writer (the audit
    * runs under the same no-concurrent-stage contract as vacuum).
    * Hidden/metadata names (`_`/`.` prefixes) are never reported. Cost:
    * one recursive listing — the price of a full-table vacuum, not of a
    * data scan.
    */
  def fsck(dir: String, keepCommits: Int = 1): FsckReport = {
    require(keepCommits >= 1, "keepCommits must be >= 1")
    val c = readCommit(dir).getOrElse(return FsckReport(Nil, Nil))
    val (f, root) = fsRoot(dir)
    if (!f.exists(root)) return FsckReport(Nil, Nil)
    val (retainedIds, keep) = pinnedGens(dir, c, keepCommits)
    val loose = Seq.newBuilder[String]
    val stale = Seq.newBuilder[String]
    def sweep(p: HPath, cols: Seq[String], vals: Seq[String]): Unit =
      listDir(f, p).foreach { child =>
        val n = child.getName
        if (n.startsWith("_") || n.startsWith(".")) ()
        else if (!f.getFileStatus(child).isDirectory)
          loose += child.toString // a data file outside any gen= dir
        else if (n.startsWith("gen=") && genNumberOf(n).isDefined) {
          val pinned = keep.getOrElse((cols, partKey(vals)), Set.empty)
          if (!pinned.contains(genNumberOf(n).get))
            stale += child.toString
        } else if (n.startsWith("gen=")) {
          // a non-numeric (or Long-overflowing) gen= name no writer ever
          // creates: foreign junk
          loose += child.toString
        } else if (n.contains('=')) {
          val Array(pc, v) = n.split("=", 2)
          sweep(child, cols :+ pc, vals :+ v)
        } else loose += child.toString // a foreign directory tree
      }
    listDir(f, root).foreach { p =>
      val n = p.getName
      if (n.startsWith("_") || n.startsWith(".")) ()
      else if (!f.getFileStatus(p).isDirectory) loose += p.toString
      else if (n.contains('=')) {
        val Array(pc, v) = n.split("=", 2)
        sweep(p, Seq(pc), Seq(v))
      } else loose += p.toString
    }
    // manifest SHARDS no retained commit references (superseded chains
    // after compaction, crashed-publish leftovers): vacuum's sweep
    // class, reported in their own field so a between-vacuums report
    // stays complete. Same retention window as the sweep: the head
    // chain plus the chains of the archives vacuum would keep.
    val staleShards = Seq.newBuilder[String]
    val mDir = new HPath(root, ManifestsDirName)
    if (f.exists(mDir)) {
      val headP = new HPath(root, "_commit")
      val headRefs =
        if (f.exists(headP)) parseManifest(readString(f, headP))._2 else Nil
      val archRefs = retainedIds.flatMap { id =>
        val p = new HPath(new HPath(root, "_commits"), f"ct_$id%020d")
        if (f.exists(p)) parseManifest(readStringMaybeGzip(f, p))._2 else Nil
      }
      val referenced = (headRefs ++ archRefs).map(_.name).toSet
      listDir(f, mDir).filterNot(p => referenced.contains(p.getName))
        .foreach(p => staleShards += p.toString)
    }
    FsckReport(loose.result().sorted, stale.result().sorted,
      staleShards.result().sorted)
  }

  /** [[fsck]] with an explicit REPAIR: every `unreferencedFiles` entry
    * (the leak class no manifest read sees and [[vacuum]] never sweeps)
    * MOVES into `_quarantine/<utc-stamp>/<path relative to the table
    * root>` — tree preserved, NOTHING deleted, underscore-prefixed so
    * quarantined bytes stay invisible to readers and to later audits.
    * Restoring a false positive is one rename back.
    *
    * `staleGenDirs` stay in place: superseded generations are
    * [[vacuum]]'s retention class, not a leak. Report-only [[fsck]]
    * remains the default because an unreferenced file may be MID-STAGE
    * from a live writer — quarantine runs under the same
    * no-concurrent-stage contract as vacuum (one maintenance scheduler
    * per table), where that ambiguity cannot arise. Returns the report
    * of what was moved.
    */
  def fsckQuarantine(dir: String, keepCommits: Int = 1): FsckReport = {
    val report = fsck(dir, keepCommits)
    if (report.unreferencedFiles.isEmpty)
      return report.copy(unreferencedFiles = Nil)
    val (f, root) = fsRoot(dir)
    val stamp = java.time.format.DateTimeFormatter
      .ofPattern("yyyyMMdd'T'HHmmss").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.now())
    val qBase = new HPath(new HPath(root, "_quarantine"), stamp)
    report.unreferencedFiles.foreach { p =>
      val src = new HPath(p)
      val rel = root.toUri.relativize(src.toUri).getPath
      val dst = new HPath(qBase, rel)
      f.mkdirs(dst.getParent)
      require(f.rename(src, dst),
        s"fsckQuarantine: could not move $src to $dst (moved nothing " +
          s"else is lost — re-run after resolving)")
    }
    report
  }
}
