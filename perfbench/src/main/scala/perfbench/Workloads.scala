package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.runner.PipelineRunner
import graft.runner.PipelineRunner.{EngineConfig, Stage}
import graft.sources.GenTable

/** Where a call runs: untraced (plain wall clock) or inside a tracer span. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long) {
  var tracer: Option[Tracer] = None

  /** Times `f` from the client's side; under tracing the call also gets a
    * span (the listener drain happens after the clock stops).
    */
  def timed[A](name: String)(f: => A): (A, Double, Long) = {
    def clock: (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    tracer match {
      case None => val (r, s) = clock; (r, s, 0L)
      case Some(t) => val ((r, s), id) = t.call(name)(clock); (r, s, id)
    }
  }

  def path(name: String): String = s"$work/$name"
}

/** A benchmark workload: seeded set-up, one closed-loop client issuing
  * calls, and output checks made outside the timer.
  */
trait Workload {
  /** Builds the workload's inputs; run several times, the last one kept. */
  def seedInputs(rep: Int): Unit
  /** One-off set-up after seeding (warm-up, table history); returns the
    * seconds that count as set-up (check material it records is not).
    */
  def prepare(): Double
  /** Issues call `i` of the workload's seeded sequence. */
  def call(i: Int): Call
  /** Calls in one cycle of the sequence. A timed loop ends on a cycle
    * boundary, so every run measures the same mix; a traced run measures
    * whole cycles.
    */
  def cycle: Int
  /** Output checks; each failed check fails an op. */
  def check(rec: Record): Unit
}

object Workloads {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "pipelines" => new Pipelines(ctx)
    case "lake" => new LakeWork(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Seeded slots per bucket of a lake table: 65,536 seeded rows. */
  val LakeSlots: Long = 1L << 12

  type Fp = (Long, java.math.BigDecimal)

  /** A lake frame with the partition column's type fixed. */
  def lakeFrame(df: DataFrame): DataFrame = df.withColumn("bucket", col("bucket").cast("int"))

  def lakeFp(df: DataFrame): Fp = Gen.fingerprint(lakeFrame(df), Gen.LakeCols)

  def dirBytes(dir: String): Long = files(dir).map(_._2).sum

  /** (path, bytes) of every regular file under `dir`. */
  def files(dir: String): Seq[(String, Long)] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.size(p)).toList
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(p => Files.delete(p))
      finally s.close()
    }
  }

  /** Runs a pipeline through the public runner. Under tracing each stage
    * opens its own span, so the runner's sink write and count re-read are
    * attributed to the stage that caused them.
    */
  def runPipeline(ctx: Ctx, layer: String, kind: String, cfg: EngineConfig,
      stages: Seq[Stage], inputRows: Long): (Seq[PipelineRunner.StageResult], Call) = {
    val opened = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
    val wrapped: Seq[Stage] = ctx.tracer match {
      case None => stages
      case Some(t) => stages.map { case (name, fn) =>
        name -> { (s: SparkSession, c: EngineConfig) => opened += t.begin(); fn(s, c) }
      }
    }
    val (results, wall, span) = ctx.timed(s"$layer.$kind")(
      PipelineRunner.run(ctx.spark, cfg, wrapped))
    ctx.tracer.foreach { t =>
      opened.zip(results).foreach { case ((id, start), r) =>
        t.addSpan(Span(id, s"$layer.${r.stage}", start, start + r.millis, span, t.runId,
          Map("rows" -> r.rows.toDouble)))
      }
    }
    (results, Call(kind, wall, inputRows))
  }
}

import Workloads._

/** The two PipelineRunner jobs in one closed loop: the cycle is
  * corpus_prep then orders_job, each run into a fresh output directory.
  * Both are measured as they come: a warm-up corpus run would cost ~25 s
  * a run, which the run budget does not have. The corpus run goes first,
  * so the long job pays the process's first-job code generation and the
  * short one, whose wall it would swamp, runs warm.
  */
final class Pipelines(ctx: Ctx) extends Workload {
  private val orders = new OrdersJob(ctx)
  private val corpus = new CorpusPrep(ctx)

  def seedInputs(rep: Int): Unit = { orders.seedInputs(rep); corpus.seedInputs(rep) }
  def prepare(): Double = 0.0
  def cycle: Int = 2
  def call(i: Int): Call = if (i % 2 == 0) corpus.call(i) else orders.call(i)
  def check(rec: Record): Unit = { orders.check(rec); corpus.check(rec) }
}

/** The reference's namesake job, run back to back, each run into a fresh
  * output directory.
  */
final class OrdersJob(ctx: Ctx) {
  val nOrders = 150000L
  val nCustomers = 15000L
  private val input = ctx.path("orders_input")
  private var runs = Vector.empty[(String, Seq[PipelineRunner.StageResult])]

  def seedInputs(rep: Int): Unit = {
    deleteTree(input)
    Gen.orders(ctx.spark, ctx.seed, nOrders, nCustomers).coalesce(1)
      .write.parquet(s"$input/orders.parquet")
    Gen.customers(ctx.spark, ctx.seed, nCustomers).coalesce(1)
      .write.parquet(s"$input/customer.parquet")
  }

  def call(i: Int): Call = {
    val out = ctx.path(s"orders_run$i")
    val (results, c) = runPipeline(ctx, "runner", "orders_job",
      EngineConfig("bench", input, out), PipelineRunner.ordersJobStages,
      nOrders + nCustomers)
    runs :+= (out -> results)
    c
  }

  def check(rec: Record): Unit = {
    import ctx.spark.implicits._
    val o = ctx.spark.read.parquet(s"$input/orders.parquet")
      .filter(col("o_orderdate") >= lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")))
    val c = ctx.spark.read.parquet(s"$input/customer.parquet")
    val expect = o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy("c_mktsegment").agg(sum("o_totalprice"), count(lit(1)))
      .as[(String, Double, Long)].collect().sortBy(_._1).toSeq
    runs.foreach { case (out, results) =>
      rec.check(s"every orders stage ok in ${Paths.get(out).getFileName}",
        results.forall(_.status == "ok"), results.filter(_.status != "ok").mkString("; "))
      val got = ctx.spark.read.parquet(s"$out/segment_revenue")
        .select("c_mktsegment", "revenue", "n_orders")
        .as[(String, Double, Long)].collect().sortBy(_._1).toSeq
      val ok = got.map(g => (g._1, g._3)) == expect.map(e => (e._1, e._3)) &&
        got.zip(expect).forall { case (g, e) => math.abs(g._2 - e._2) < 0.005 }
      rec.check(s"segment_revenue ${Paths.get(out).getFileName}", ok,
        s"got $got expected $expect")
      deleteTree(out)
    }
  }
}

/** The corpus-preparation pipeline (19 stages) over seeded documents. */
final class CorpusPrep(ctx: Ctx) {
  val nDocs = 600L
  private val input = ctx.path("corpus_input")
  private var runs = Vector.empty[(String, Seq[PipelineRunner.StageResult])]

  def seedInputs(rep: Int): Unit = {
    deleteTree(input)
    Gen.documents(ctx.spark, ctx.seed, nDocs).coalesce(1)
      .write.parquet(s"$input/documents.parquet")
  }

  def call(i: Int): Call = {
    val out = ctx.path(s"corpus_run$i")
    val (results, c) = runPipeline(ctx, "operators", "corpus_prep",
      EngineConfig("bench", input, out), PipelineRunner.corpusPrepStages(), nDocs)
    runs :+= (out -> results)
    c
  }

  def check(rec: Record): Unit = {
    val (firstOut, first) = runs.head
    val n = first.map(r => r.stage -> r.rows).toMap
    first.foreach(r => rec.extra(s"rows.${r.stage}") = r.rows.toDouble)
    rec.check("every corpus stage ok", runs.forall(_._2.forall(_.status == "ok")),
      runs.flatMap(_._2).filter(_.status != "ok").mkString("; "))
    runs.tail.foreach { case (out, rs) =>
      rec.check(s"stage counts repeat in ${Paths.get(out).getFileName}",
        rs.map(r => r.stage -> r.rows) == first.map(r => r.stage -> r.rows),
        s"${rs.map(_.rows)} vs ${first.map(_.rows)}")
    }
    rec.check("ingest keeps every document", n("ingest_documents") == nDocs,
      s"${n("ingest_documents")} of $nDocs")
    // plain-Spark recount of the exact-dedup stage from its own input
    val distinctText = ctx.spark.read.parquet(s"$firstOut/annotate_quality")
      .select(countDistinct(col("text"))).head().getLong(0)
    rec.check("exact_dedup = distinct texts", n("exact_dedup") == distinctText,
      s"${n("exact_dedup")} vs $distinctText")
    val chain = Seq("ingest_documents", "pii_scrub", "annotate_quality", "exact_dedup",
      "near_dedup", "quality_gate", "classifier_annotate", "lm_gate")
    rec.check("filters never add rows",
      chain.sliding(2).forall { case Seq(a, b) => n(b) <= n(a) },
      chain.map(n).mkString(" >= "))
    val perDoc = Seq("bpe_tokenize", "phrase_corpus", "split_assign",
      "curriculum_order", "fingerprint_store")
    rec.check("per-document stages keep lm_gate's rows",
      perDoc.forall(s => n(s) == n("lm_gate")), perDoc.map(s => s"$s=${n(s)}").mkString(","))
    rec.check("non-empty corpus", n("lm_gate") > 0 && n("corpus_stats") > 0,
      s"lm_gate=${n("lm_gate")}")
    Expected.corpusCounts(ctx.seed).foreach { want =>
      rec.check("stage counts equal the recorded ones",
        want == first.map(r => r.stage -> r.rows), s"${first.map(_.rows)} vs ${want.map(_._2)}")
    }
    runs.foreach { case (out, _) => deleteTree(out) }
  }
}

/** Layer of a lake call kind, for span names. */
object LakeLayer {
  def apply(kind: String): String = kind match {
    case "replicate" => "streaming"
    case "agg_read" => "plans"
    case _ => "sources"
  }
}

/** One lake table, written and read by one client. Set-up seeds a
  * 16-bucket table, commits the history of [[Lake.History]] and warms
  * the read paths. A cycle then reads for
  * [[LakeWork.ReadRounds]] rounds of [[LakeWork.Reads]] (range reads with
  * a selective band inside one bucket and a wide one over four buckets,
  * point reads of present and of never-written keys, a count/min/max
  * aggregate over `readIndexed` of the whole table and of four buckets,
  * time travel to earlier commits) and then runs the commits of
  * [[Lake.Cycle]]: upserts, merges, deletes, compaction, vacuum and a
  * replica catch-up (the first one copies the whole table).
  *
  * Each read is checked right after it, outside its timer, against
  * `read().filter(<same predicate>)`: the rows of `read()` are collected
  * to the client at the start of each read phase, and the same predicate
  * selects from them there. Time travel is checked against the head's
  * fingerprint recorded when that commit was the head. The final checks
  * compare the table with the model's replay of every commit, and the
  * replica with the source.
  */
final class LakeWork(ctx: Ctx) extends Workload {
  import LakeWork._
  private val spark = ctx.spark
  private var lake: Lake = _
  private var ran = Vector.empty[LakeOp]
  private var heads = Map.empty[Long, Fp]
  private var live: Array[LiveRow] = _
  private var stale = true
  private var mismatches = Vector.empty[String]
  private var reads = 0
  private val nReads = ReadRounds * Reads.size

  private def headGen: Long = GenTable.readCommit(lake.dir).get.tableGen

  private def recordHead(): Unit = heads += headGen -> lakeFp(GenTable.read(spark, lake.dir).get)

  /** The current head's fingerprint and live rows, for the read checks. */
  private def refresh(): Unit = {
    recordHead()
    live = lakeFrame(GenTable.read(spark, lake.dir).get)
      .select(col("lk"), col("l_orderkey"), col("bucket"), xxhash64(Gen.LakeCols.map(col): _*))
      .collect().map(r => LiveRow(r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    stale = false
  }

  def seedInputs(rep: Int): Unit = {
    if (lake != null) deleteTree(lake.dir)
    lake = new Lake(spark, ctx.seed, LakeSlots, ctx.path(s"table$rep"),
      ctx.path(s"replica$rep"), ctx.path(s"ckpt$rep"), Lake.History)
    lake.create()
  }

  /** Runs the history and [[LakeWork.WarmUpRounds]] rounds of warm-up reads (their own seeded
    * parameters, checked like the timed ones); returns their seconds.
    * Recording each head's fingerprint and collecting the live rows for
    * the checks do not count.
    */
  def prepare(): Double = {
    recordHead()
    val s = Lake.History.indices.map { i =>
      val op = lake.op(i)
      val t0 = System.nanoTime()
      lake.run(op)
      val took = (System.nanoTime() - t0) / 1e9
      ran :+= op
      recordHead()
      took
    }.sum
    refresh()
    s + (WarmUp until WarmUp + WarmUpRounds * Reads.size).map(read(_).wall).sum
  }

  def cycle: Int = nReads + Lake.Cycle.size

  def call(i: Int): Call = {
    val j = i % cycle
    if (j < nReads) {
      if (stale) refresh()
      read(i)
    } else {
      stale = true
      commit(lake.op(Lake.History.size + i / cycle * Lake.Cycle.size + j - nReads))
    }
  }

  private def commit(op: LakeOp): Call = {
    val kind = op.kind match {
      case "delete_keys" | "delete_where" => "delete"
      case k => k
    }
    val layer = LakeLayer(kind)
    val before = if (ctx.tracer.isDefined) files(lake.dir).toMap else Map.empty[String, Long]
    val (rows, wall, span) = ctx.timed(s"$layer.$kind")(lake.run(op))
    ran :+= op
    ctx.tracer.foreach { t =>
      val added = files(lake.dir).filter { case (p, _) =>
        p.endsWith(".parquet") && !before.contains(p)
      }
      t.annotate(span, Map(
        "files_added" -> added.size.toDouble,
        "bytes_rewritten" -> added.map(_._2).sum.toDouble,
        "manifest_bytes" -> Files.size(Paths.get(lake.dir, "_commit")).toDouble))
    }
    Call(kind, wall, rows)
  }

  /** Fingerprint of the live rows `keep` selects, as [[lakeFp]] computes
    * it over the same rows.
    */
  private def liveFp(keep: LiveRow => Boolean): Fp = {
    val sel = live.filter(keep)
    (sel.length.toLong, sel.foldLeft(java.math.BigDecimal.ZERO)((a, r) =>
      a.add(java.math.BigDecimal.valueOf(r.hash))))
  }

  /** A read: (kind, frame builder, action, reference computed without
    * the read path under test).
    */
  private def readOf(i: Int): (String, () => DataFrame, DataFrame => Fp, () => Fp) = {
    val (kind, variant) = Reads(i % Reads.size)
    val r = new scala.util.Random(ctx.seed * 7919L + 100003L * i)
    val bucket = r.nextInt(Gen.Buckets)
    kind match {
      case "range_read" =>
        // selective: 100 orders of one bucket; wide: four buckets' bands
        val (b, width) = if (variant == 0) (bucket, 100L) else (r.nextInt(Gen.Buckets - 3),
          3 * Gen.OrderBand)
        val lo = b * Gen.OrderBand + (r.nextLong() & Long.MaxValue) % (lake.seedOrders - 100)
        (kind, () => GenTable.readRange(spark, lake.dir, "l_orderkey", lo, lo + width).get,
          lakeFp, () => liveFp(row => row.orderkey >= lo && row.orderkey <= lo + width))
      case "point_read" =>
        // present keys come from the seeded range; absent ones were never written
        val keys = Seq.fill(8)(if (variant == 0) (r.nextLong() & Long.MaxValue) % lake.seedRows
          else (1L << 40) + (r.nextLong() & 0xffffffL))
        (kind, () => GenTable.readEquals(spark, lake.dir, "lk", keys).get, lakeFp,
          () => liveFp(row => keys.contains(row.lk)))
      case "agg_read" =>
        val buckets = r.shuffle((0 until Gen.Buckets).toList).take(4)
        val inScope = (b: Int) => variant == 0 || buckets.contains(b)
        // (count, min + max * 10^20): one comparable value for the three
        def aggFp(n: Long, lo: Long, hi: Long): Fp = (n, java.math.BigDecimal.valueOf(lo)
          .add(java.math.BigDecimal.valueOf(hi).movePointRight(20)))
        val plan = () => {
          val df = GenTable.readIndexed(spark, lake.dir).get
          val scoped = if (variant == 0) df else df.filter(col("bucket").isin(buckets: _*))
          scoped.agg(count(lit(1)), min("l_orderkey"), max("l_orderkey"))
        }
        val action = (df: DataFrame) => {
          val row = df.head()
          aggFp(row.getLong(0), row.getLong(1), row.getLong(2))
        }
        (kind, plan, action, () => {
          val keys = live.filter(row => inScope(row.bucket)).map(_.orderkey)
          aggFp(keys.length.toLong, keys.min, keys.max)
        })
      case "snapshot_read" =>
        // variant 0: the oldest recorded commit vacuum still retains;
        // 1: a later one before the head
        val head = headGen
        val past = heads.keys.toSeq.sorted.filter(g => g < head && g > head - Lake.VacuumKeep)
        val id = if (variant == 0) past.head else past(1 + r.nextInt(past.size - 1))
        (kind, () => GenTable.readAt(spark, lake.dir, id).get, lakeFp, () => heads(id))
    }
  }

  private def read(i: Int): Call = {
    val (kind, plan, action, reference) = readOf(i)
    var planS = 0.0
    val ((df, got), wall, span) = ctx.timed(s"${LakeLayer(kind)}.$kind") {
      val t0 = System.nanoTime()
      val df = plan()
      planS = (System.nanoTime() - t0) / 1e9
      (df, action(df))
    }
    val want = reference()
    if (got != want) mismatches :+= s"$kind #$i: got $got want $want"
    reads += 1
    ctx.tracer.foreach { t =>
      t.annotate(span, Map(
        "plan_s" -> planS,
        "files_read" -> df.inputFiles.length.toDouble,
        "table_files" -> GenTable.tableStats(lake.dir).flatMap(_.fileCount).getOrElse(0L).toDouble,
        "rows_returned" -> got._1.toDouble))
    }
    // rows: the rows the read returned (an aggregate returns one)
    Call(kind, wall, if (kind == "agg_read") 1L else got._1, Reads(i % Reads.size)._2)
  }

  def check(rec: Record): Unit = {
    rec.check(s"$reads reads equal read().filter at their version", mismatches.isEmpty,
      mismatches.mkString("; "))
    val table = GenTable.read(spark, lake.dir).get
    if (rec.trace) rec.extra("stored_bytes_per_live_byte") = {
      val plain = ctx.path("plain")
      table.write.parquet(plain)
      val live = dirBytes(plain)
      deleteTree(plain)
      dirBytes(lake.dir).toDouble / live
    }
    // seconds of each check, for the report
    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      rec.extra(s"check.$name.s") = (System.nanoTime() - t0) / 1e9
      r
    }
    val got = timed("table")(lakeFp(table))
    val want = timed("replay")(lake.replay(ran))
    rec.check("table equals the replay", got == want, s"table $got, replay $want")
    // the timed loop ends on a cycle boundary, after the cycle's catch-up
    val rep = timed("replica")(lakeFp(GenTable.read(spark, lake.replica).get))
    rec.check("replica equals the source", rep == got, s"replica $rep, source $got")
    val fileCount = GenTable.tableStats(lake.dir).flatMap(_.fileCount)
    rec.check("every referenced file is present",
      fileCount.contains(table.inputFiles.length.toLong), s"manifest $fileCount")
    val fsck = timed("fsck") {
      GenTable.vacuum(lake.dir, 1)
      GenTable.fsck(lake.dir)
    }
    rec.check("fsck clean after vacuum", fsck.clean, fsck.toString)
  }
}

/** The columns of a live row that read predicates test, and the row's
  * hash as [[Gen.fingerprint]] computes it.
  */
final case class LiveRow(lk: Long, orderkey: Long, bucket: Int, hash: Long)

object LakeWork {
  /** One round: every read type in both variants. */
  val Reads: IndexedSeq[(String, Int)] = IndexedSeq(("range_read", 0), ("point_read", 0),
    ("agg_read", 0), ("snapshot_read", 0), ("range_read", 1), ("point_read", 1),
    ("agg_read", 1), ("snapshot_read", 1))

  /** Read rounds a cycle: 4 timed reads of each variant of each type. */
  val ReadRounds = 4

  /** Index of the first warm-up read: apart from every timed index. */
  val WarmUp: Int = 1 << 24
  /** The JIT is still speeding the reads up well into a run; warm-up
    * rounds steady the medians of the timed ones.
    */
  val WarmUpRounds = 2
}
