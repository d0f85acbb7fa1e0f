package graft.operators

import org.apache.spark.sql.{DataFrame, GraftSqlShim}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join (SURVEY.md §2.3 J7): for each left row, attach the most recent
  * right row whose time is <= the left row's time, per key.
  *
  * The reference declares event-driven enrichment (trigger Lambda,
  * `Hoth/FHIR/cloudformations/lambda-stack.yml:23-35`) but no operator; Spark
  * has no built-in as-of join, so we compose one from public primitives:
  * tag both sides, union, and carry the last non-null right value forward
  * with a window — a single shuffle + sort on (keys, time), the same cost
  * class as a sort-merge join.
  *
  * Scale notes (100 TB): one Exchange on `keys`, then a partition-local sort;
  * no broadcast needed on either side. Skewed keys concentrate in single
  * partitions (windows cannot be skew-split by AQE) — for known-hot keys,
  * pre-split by salting the key and as-of joining within salt buckets, then
  * resolving across bucket boundaries with a second pass over bucket maxima.
  *
  * Tie semantics: right rows sort BEFORE left rows at equal timestamps, so an
  * exactly-simultaneous right row is visible to the left row (inclusive <=).
  * Right rows whose value column is itself null are skipped by
  * `last(ignoreNulls)` — document values as non-null or pre-coalesce them.
  * When several right rows share the same (key, time), the winner is decided
  * by a content hash of the carried value columns (backward keeps the
  * max-hash row, forward the min-hash row) — an arbitrary but DETERMINISTIC
  * choice, stable across runs and partitionings.
  */
object AsOfJoin {

  /** Most recent right row at or before the left time (per key).
    * @param toleranceSeconds when set, a match further than this many
    *        seconds in the past is nulled out (the match window is
    *        `[t - tolerance, t]`); comparison is on fractional epoch
    *        seconds, exact to the timestamp's microsecond precision.
    */
  def backward(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightVals: Seq[(String, String)], // (right column, output alias)
      toleranceSeconds: Option[Double] = None
  ): DataFrame =
    asof(left, right, keys, leftTime, rightTime, rightVals, toleranceSeconds,
      forwardDir = false)

  /** Earliest right row at or after the left time (per key) — the mirror
    * of [[backward]]: right rows sort AFTER left rows at equal timestamps
    * so an exactly-simultaneous right row is still visible (inclusive >=),
    * and values are carried from the FOLLOWING frame. Match window with
    * tolerance is `[t, t + tolerance]`.
    */
  def forward(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightVals: Seq[(String, String)],
      toleranceSeconds: Option[Double] = None
  ): DataFrame =
    asof(left, right, keys, leftTime, rightTime, rightVals, toleranceSeconds,
      forwardDir = true)

  /** Skew-resilient [[backward]]: a hot key whose rows exceed one
    * executor's sort budget is split by salting the LEFT side into
    * `salts` sub-partitions and replicating the (smaller) RIGHT side into
    * each — every left row still sees every right row for its key, so the
    * result is exactly `backward`'s, but each window sorts ~1/salts of
    * the left rows. Cost: the right side is duplicated `salts` times —
    * use when the left dominates a key (the common skew: millions of
    * events as-of-joined against thousands of reference rows).
    * Deterministic: the salt is a hash of the left row's time+key, not a
    * random number.
    */
  def backwardSalted(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightVals: Seq[(String, String)],
      salts: Int,
      toleranceSeconds: Option[Double] = None
  ): DataFrame = {
    require(salts > 0, "salts must be positive")
    require(!left.columns.contains("_salt") && !right.columns.contains("_salt"),
      "backwardSalted reserves the column name _salt; rename it on the input")
    val saltedLeft = left.withColumn("_salt",
      pmod(hash(col(leftTime) +: keys.map(col): _*), lit(salts)))
    val saltedRight = right.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    asof(saltedLeft, saltedRight, keys :+ "_salt", leftTime, rightTime,
      rightVals, toleranceSeconds, forwardDir = false)
      .drop("_salt")
  }

  /** Skew-resilient [[backwardMerge]] — [[backwardSalted]]'s construction
    * over the custom exec: the merge demands exact co-partitioning on the
    * keys (`ClusteredDistribution`), so a hot key serializes one
    * partition's two-pointer sweep and AQE cannot split a custom exec the
    * way it splits a SortMergeJoin. Salting the left into `salts`
    * sub-streams and replicating the right bounds the per-partition sweep
    * at ~1/salts of the hot key's left rows; the deterministic hash salt
    * and the identical tie rules keep the result exactly
    * [[backwardMerge]]'s (driver-gated under e05's oracle as e18).
    */
  def backwardMergeSalted(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightVals: Seq[(String, String)],
      salts: Int,
      toleranceSeconds: Option[Double] = None
  ): DataFrame = {
    require(salts > 0, "salts must be positive")
    require(!left.columns.contains("_salt") && !right.columns.contains("_salt"),
      "backwardMergeSalted reserves the column name _salt; rename it on the input")
    val saltedLeft = left.withColumn("_salt",
      pmod(hash(col(leftTime) +: keys.map(col): _*), lit(salts)))
    val saltedRight = right.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    mergePlanned(saltedLeft, saltedRight, keys :+ "_salt", leftTime, rightTime,
      rightVals, toleranceSeconds, forwardDir = false)
      .drop("_salt")
  }

  /** [[backward]] planned through the custom whole-operator Catalyst
    * extension ([[graft.plans.AsOfJoinPlan]] → `AsOfMergeJoinExec`):
    * co-partition + per-side sort + single-pass two-pointer merge, instead
    * of the composed union + carry-forward window. Equal to [[backward]]
    * on every gated input (driver-gated under e05's oracle as e15;
    * tie/tolerance/null-time equivalence spec-pinned); on degenerate
    * inputs it follows pandas `merge_asof` instead of window quirks — the
    * matched right row carries WHOLE (no per-column ignoreNulls
    * stitching) and a null left time never matches — see the operator
    * scaladoc in `plans/AsOfMergeJoin.scala` for the full contract, which
    * also covers the integer-micros tolerance boundary. Strategy
    * registration is delegated to
    * `GraftExtensions.registerAsOfStrategy` (synchronized, idempotent).
    *
    * PICK THIS PATH when carrying several right columns: measured at 10M
    * events (ProbeAsOf, SCALE.md §18), it is within 1.14× of [[backward]]
    * on one carried column and 1.6×/5.6× FASTER at 4/16 columns — the
    * composed window pays one null-padded union exchange plus a carry
    * window per column, and past ~64 carried columns fails to plan
    * outright (driver OOM in constraint propagation).
    */
  def backwardMerge(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightVals: Seq[(String, String)],
      toleranceSeconds: Option[Double] = None
  ): DataFrame =
    mergePlanned(left, right, keys, leftTime, rightTime, rightVals,
      toleranceSeconds, forwardDir = false)

  /** [[forward]] through the custom plan — the mirror of [[backwardMerge]]:
    * earliest right at or after the left time, match window
    * `[t, t + tolerance]`, equal-(key,time) ties resolve to the MIN-hash
    * row (the composed first()-over-following-frame winner). Forward
    * needs NO candidate state: strictly-past rights are useless for every
    * later left row (consumed), and the match is the un-consumed head.
    * Same deliberate degenerate-input divergences as backwardMerge.
    */
  def forwardMerge(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightVals: Seq[(String, String)],
      toleranceSeconds: Option[Double] = None
  ): DataFrame =
    mergePlanned(left, right, keys, leftTime, rightTime, rightVals,
      toleranceSeconds, forwardDir = true)

  private def mergePlanned(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightVals: Seq[(String, String)],
      toleranceSeconds: Option[Double],
      forwardDir: Boolean
  ): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    val spark = left.sparkSession
    graft.plans.GraftExtensions.registerAsOfStrategy(spark)
    // normalize the time columns through TimestampType at the DataFrame
    // level (NTZ-robust, same as the composed path's epochSec) so the
    // physical sweep always compares epoch micros. The temp names are
    // collision-proofed against the input schemas: a fixed name would
    // silently REPLACE (and then drop) a caller column that happens to
    // share it.
    def fresh(base: String, taken: Array[String]): String =
      Iterator.from(0).map(i => if (i == 0) base else s"${base}_$i")
        .find(n => !taken.contains(n)).get
    val ltName = fresh("_asof_lt", left.columns)
    val rtName = fresh("_asof_rt", right.columns)
    val l2 = left.withColumn(ltName, col(leftTime).cast("timestamp"))
    val r2 = right.withColumn(rtName, col(rightTime).cast("timestamp"))
    def ex(c: org.apache.spark.sql.Column) =
      GraftSqlShim.expr(c)
    val valExprs = rightVals.map { case (src, _) => ex(r2.col(src)) }
    // output attributes carried explicitly (never as Aliases — the
    // analyzer's CleanupAliases would strip them from a custom node)
    val valAttrs = rightVals.zip(valExprs).map { case ((_, alias), e) =>
      AttributeReference(alias, e.dataType, nullable = true)()
    }
    val node = graft.plans.AsOfJoinPlan(
      l2.queryExecution.analyzed, r2.queryExecution.analyzed,
      keys.map(k => ex(l2.col(k))), keys.map(k => ex(r2.col(k))),
      ex(l2.col(ltName)), ex(r2.col(rtName)),
      valExprs, valAttrs, toleranceSeconds.map(t => (t * 1e6).toLong),
      forwardDir,
      // tie hash takes the RAW right-time column — composed-`_tb` parity
      // even when the time column isn't TimestampType yet
      tieTime = Some(ex(r2.col(rightTime))))
    GraftSqlShim.ofRows(spark, node).drop(ltName)
  }

  private def asof(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      rightVals: Seq[(String, String)],
      toleranceSeconds: Option[Double],
      forwardDir: Boolean
  ): DataFrame = {
    val leftCols = left.columns.toSeq
    // direction decides tie order: the right row must land on the side of
    // the frame the carry reads from (backward: before the left row at
    // ties; forward: after it)
    val (leftSide, rightSide) = if (forwardDir) (0, 1) else (1, 0)
    // the matched right TIME is always carried too — it drives tolerance
    val carriedVals = rightVals :+ (rightTime -> "_rt_matched")
    // the union/window composition owns these working names; a caller
    // column sharing one would be silently replaced — fail loudly instead
    // (the merge-planned path generates collision-proof names; here the
    // names participate in unionByName resolution, so they must be fixed)
    val reserved = Seq("_t", "_side", "_tb") ++
      carriedVals.map { case (_, alias) => s"_rv_$alias" }
    val clash = (left.columns ++ right.columns).toSeq.intersect(reserved)
    require(clash.isEmpty,
      s"as-of join reserves working column names ${clash.mkString(", ")}; " +
        "rename them on the input")
    val sideL = left
      .withColumn("_t", col(leftTime))
      .withColumn("_side", lit(leftSide))
      .select(
        Seq(col("_t"), col("_side"), lit(0L).as("_tb")) ++
          keys.map(col) ++
          leftCols.filterNot(keys.contains).map(col) ++
          carriedVals.map { case (_, alias) => lit(null).as(s"_rv_$alias") }: _*
      )
    // content-hash tiebreak: several right rows at the same (key, time) would
    // otherwise resolve by partition-internal sort order, which can flap
    // across runs; hashing the carried values pins one winner deterministically
    val sideR = right
      .withColumn("_t", col(rightTime))
      .withColumn("_side", lit(rightSide))
      .select(
        Seq(col("_t"), col("_side"),
          xxhash64(carriedVals.map { case (src, _) => col(src) }: _*).as("_tb")) ++
          keys.map(col) ++
          leftCols.filterNot(keys.contains).map(c => lit(null).as(c)) ++
          carriedVals.map { case (src, alias) => col(src).as(s"_rv_$alias") }: _*
      )
    val unioned = sideL.unionByName(sideR)
    val base = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("_t").asc, col("_side").asc, col("_tb").asc)
    val w =
      if (forwardDir) base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      else base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def carry(c: org.apache.spark.sql.Column) =
      if (forwardDir) first(c, ignoreNulls = true).over(w)
      else last(c, ignoreNulls = true).over(w)
    val carried = carriedVals.foldLeft(unioned) { case (df, (_, alias)) =>
      df.withColumn(alias, carry(col(s"_rv_$alias")))
    }
    // fractional epoch seconds, exact to microsecond precision, robust to
    // the timestamp flavor of the input: TIMESTAMP_NTZ has no direct
    // numeric cast, so normalize through session-zone TimestampType first
    // (a no-op for TimestampType; epoch-seconds round trip for numeric
    // time columns)
    def epochSec(c: org.apache.spark.sql.Column) =
      c.cast("timestamp").cast("double")
    val withinTolerance = toleranceSeconds match {
      case None => lit(true)
      case Some(tol) =>
        val gap =
          if (forwardDir) epochSec(col("_rt_matched")) - epochSec(col("_t"))
          else epochSec(col("_t")) - epochSec(col("_rt_matched"))
        col("_rt_matched").isNotNull && gap <= tol
    }
    carried
      .filter(col("_side") === leftSide)
      .select(leftCols.map(col) ++ rightVals.map { case (_, a) =>
        when(withinTolerance, col(a)).otherwise(lit(null)).as(a)
      }: _*)
  }
}
