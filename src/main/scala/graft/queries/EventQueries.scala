package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, MapType, StringType}
import graft.sources.Tables
import graft.operators.{AsOfJoin, Sessionize}

/** Event-stream analytics run in batch (SURVEY.md §2.9's operators on the
  * `events` fixture; the same transforms re-run unchanged under
  * `readStream` — see graft.streaming and its MemoryStream tests).
  * Also covers the JSON function family (F6) over `events.props`.
  */
object EventQueries extends QueryPack {

  override def queries: Map[String, Query] = Map(
    // -- T1 batch analog: tumbling 1-hour windows per event type.
    "e01_hourly_windows" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.events
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        // value sums pinned to the decimal(28,10) grid on both sides (Exact)
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,10)")).cast("double").as("total_value"))
        .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("total_value"))
    },

    // -- T6 batch analog: gap-based sessionization (30-minute inactivity).
    "e02_sessions" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      Sessionize.byGap(t.events, "user_id", "ts", gapSeconds = 1800L)
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(28,10)")).cast("double").as("session_value"),
          min(col("ts")).as("session_start")
        )
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("session_value"), col("session_start"))
    },

    // -- F6: JSON extraction from the props column.
    "e03_props_json" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.events
        .withColumn("k", get_json_object(col("props"), "$.k").cast(IntegerType))
        .groupBy(col("event_type"))
        .agg(avg(col("k")).as("avg_k"), max(col("k")).as("max_k"), count(lit(1)).as("n"))
    },

    // -- F6/F5: from_json into a typed map, then the map-function surface
    //    (map_concat, map_entries, transform_values, element_at, size).
    //    Map iteration order is engine-specific, so the output is
    //    CANONICALIZED to a sorted entries string — which makes the whole
    //    query oracle-checkable despite maps having no cross-engine order.
    "e04_props_map" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.events
        .withColumn("m", from_json(col("props"), MapType(StringType, StringType)))
        // drop a pre-existing 'etype' key before the concat: Spark's default
        // mapKeyDedupPolicy=EXCEPTION would otherwise THROW on the collision
        // (the oracle models drop-then-append, i.e. injected-key-wins)
        .withColumn("m2",
          map_concat(map_filter(col("m"), (k, _) => k =!= "etype"),
            map(lit("etype"), col("event_type"))))
        .withColumn("m3",
          transform_values(col("m2"), (k, v) => concat(k, lit(":"), v)))
        .select(
          col("event_id"),
          size(col("m3")).as("n_props"),
          element_at(col("m"), "k").cast(IntegerType).as("k"),
          concat_ws(",", sort_array(transform(map_entries(col("m3")),
            e => concat(e.getField("key"), lit("="), e.getField("value"))))).as("props_canon")
        )
    },

    // -- J7 as-of join: for each purchase, the user's most recent click at
    //    or before the purchase time. Oracle = correlated MAX subquery.
    "e05_asof_purchase_click" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val purchases = t.events.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val clicks = t.events.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"))
      AsOfJoin.backward(
        purchases, clicks,
        keys = Seq("user_id"),
        leftTime = "ts", rightTime = "click_ts",
        rightVals = Seq(("click_ts", "last_click_ts"))
      )
    },

    // -- J7 as-of join, FORWARD direction with tolerance: for each click,
    //    the user's next purchase within 1 hour (null beyond tolerance).
    //    Oracle = correlated bounded-MIN subquery.
    "e07_asof_forward" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val clicks = t.events.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = t.events.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("purchase_ts"))
      AsOfJoin.forward(
        clicks, purchases,
        keys = Seq("user_id"),
        leftTime = "ts", rightTime = "purchase_ts",
        rightVals = Seq(("purchase_ts", "next_purchase_ts")),
        toleranceSeconds = Some(3600.0)
      )
    },

    // -- J7 as-of join, SKEW-RESILIENT salted path: identical semantics to
    //    e05 (most recent click at or before each purchase) but routed
    //    through AsOfJoin.backwardSalted — left side split into 8 salt
    //    buckets, right side replicated into each. Driver-gated under the
    //    SAME correlated-MAX oracle as e05, which proves the skew path
    //    bit-matches the plain path cross-engine (not just spec-tier
    //    self-equivalence). At 100 TB this is the arm a hot user_id hits.
    "e13_asof_salted" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val purchases = t.events.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val clicks = t.events.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"))
      AsOfJoin.backwardSalted(
        purchases, clicks,
        keys = Seq("user_id"),
        leftTime = "ts", rightTime = "click_ts",
        rightVals = Seq(("click_ts", "last_click_ts")),
        salts = 8
      )
    },

    // -- J7 as-of join, MULTI-VALUE carry: three columns of the matched
    //    click — time, value, event_id. The composed operator carries each
    //    column with its own last(ignoreNulls); no click has a null value,
    //    event_id or ts, so all three come from the one matched click. The
    //    oracle re-derives that click whole with a correlated LATERAL top-1
    //    (tie-free: (user_id, ts) is unique among clicks at every fixture
    //    scale).
    "e17_asof_merge_multi" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val purchases = t.events.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val clicks = t.events.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("value").as("cv"), col("event_id").as("ce"))
      AsOfJoin.backward(
        purchases, clicks,
        keys = Seq("user_id"),
        leftTime = "ts", rightTime = "click_ts",
        rightVals = Seq(("click_ts", "last_click_ts"),
          ("cv", "click_value"), ("ce", "click_event_id"))
      )
    },

    // -- F2 on the stream: daily activity with day-of-week (0=Sunday).
    "e06_daily_activity" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.events
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users")
        )
        .withColumn("dow", (dayofweek(col("day")) - 1).cast("long"))
    },

    // -- Funnel analysis: view → click → purchase, each step within 24h of
    //    the previous. Per user, the earliest qualifying timestamp per
    //    stage (min-aggregates over stage-filtered events joined on user),
    //    rolled up to per-stage user counts. One shuffle per stage frame,
    //    all joined on the high-cardinality user_id — no window over a
    //    low-cardinality key, no per-user sort.
    "e08_funnel" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val horizon = 24 * 3600L
      def stage(tpe: String) = t.events.filter(col("event_type") === tpe)
        .select(col("user_id"), col("ts"))
      val v = stage("view").groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val c = stage("click").join(v, "user_id")
        .filter(col("ts") >= col("t_view") &&
          unix_timestamp(col("ts")) - unix_timestamp(col("t_view")) <= horizon)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
      val p = stage("purchase").join(c, "user_id")
        .filter(col("ts") >= col("t_click") &&
          unix_timestamp(col("ts")) - unix_timestamp(col("t_click")) <= horizon)
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
      v.agg(count(lit(1)).as("n_viewed"))
        .crossJoin(c.agg(count(lit(1)).as("n_clicked")))
        .crossJoin(p.agg(count(lit(1)).as("n_purchased")))
    },

    // -- Time-series resample + forward fill: each user's event values
    //    aggregated to a dense daily grid (sequence-explode between the
    //    user's first and last day), empty days forward-filled from the
    //    last observed day. The window is per-user ordered by day —
    //    high-cardinality partition key, bounded rows per user.
    "e10_daily_fill" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val ev = t.events.filter(col("user_id") < 50)
        .withColumn("day", date_trunc("day", col("ts")))
      val daily = ev.groupBy(col("user_id"), col("day"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(28,10)")).cast("double").as("day_value"))
      val grid = ev.groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("day").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      grid.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          last(col("day_value"), ignoreNulls = true).over(w).as("filled_value"))
    },

    // -- SCD2 dimension-history derivation: per user, collapse the event
    //    stream to its event_type CHANGE POINTS and emit validity
    //    intervals [valid_from, valid_to) with an is_current marker — the
    //    classic type-2 slowly-changing-dimension build from a change
    //    log. Both windows partition by user_id (high-cardinality,
    //    bounded rows per key — embarrassingly parallel at 100 TB); the
    //    second window runs over the already-collapsed change rows, so
    //    its input is a fraction of the event volume. (ts, event_id) is
    //    a total order per user → fully deterministic, hash-oracled.
    "e14_scd2_history" -> { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val t = Tables(spark, dir)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val changes = t.events
        .withColumn("_prev", lag(col("event_type"), 1).over(w))
        .filter(col("_prev").isNull || col("_prev") =!= col("event_type"))
        .select(col("user_id"), col("event_type"),
          col("ts").as("valid_from"), col("event_id"))
      val w2 = Window.partitionBy(col("user_id"))
        .orderBy(col("valid_from").asc, col("event_id").asc)
      changes
        .withColumn("valid_to", lead(col("valid_from"), 1).over(w2))
        .select(col("user_id"), col("event_type"), col("valid_from"),
          col("valid_to"), col("valid_to").isNull.as("is_current"))
    },

    // -- First-order Markov transition matrix over each user's timeline:
    //    counts and probabilities of event_type → next event_type. One
    //    user-keyed window pass (lag over the (ts, event_id) per-user
    //    total order) feeding a bounded groupBy — both shuffles map-side
    //    combined, and the output is ≤|types|² rows at any corpus size,
    //    so the row-total window that normalizes probabilities runs on a
    //    bounded frame. Probabilities are exact integer micro-units
    //    (n·10⁶ DIV row total) so the gate compares BIGINTs, never
    //    engine-ordered double division.
    "e19_markov_transitions" -> { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val t = Tables(spark, dir)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val trans = t.events
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type"))
        .agg(count(lit(1)).as("n_transitions"))
      trans
        .withColumn("_total",
          sum(col("n_transitions")).over(Window.partitionBy(col("prev_type"))))
        .select(col("prev_type"), col("event_type").as("next_type"),
          col("n_transitions"),
          expr("n_transitions * 1000000 div _total").cast("long")
            .as("prob_micro"))
    },

    // -- S9/T9 streaming upsert, pinned END-TO-END: replays a
    //    deterministic slice of the events fixture as date-ranged
    //    AvailableNow micro-batches through the real foreachBatch merge
    //    sink (EventStreams.upsertForeachBatchAvailableNow) and returns
    //    the merged table read back from disk. The oracle recomputes
    //    latest-event-per-user in SQL — so the STREAMING code path's
    //    result, not a batch twin, is what gets verified cross-engine.
    //    (ts, event_id) is a total order per user, so the merged table is
    //    identical no matter how the input splits into micro-batches.
    "e11_streaming_upsert" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      TempWork.scoped("graft_e11_") { tmp =>
      val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      // 1-in-7 users keeps the replay cheap at bench scale; the oracle
      // filters identically. The table partitions by a KEY bucket (the
      // sink's stable-per-key contract): each user lives in exactly one
      // partition, so a later batch updating that user rewrites it —
      // a date partition would strand stale rows when a user's latest
      // event moves to a new date.
      val slice = t.events.filter(col("user_id") % 7 === 0)
        .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
      // range-split on ts so the replay is 3 time-ordered micro-batches —
      // later batches genuinely overwrite earlier merge results
      slice.repartitionByRange(3, col("ts")).write.parquet(inDir)
      graft.streaming.EventStreams.upsertForeachBatchAvailableNow(
        spark.readStream.schema(slice.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir),
        outDir, ckpt, keyCol = "user_id",
        orderCols = Seq("ts", "event_id"), partitionCol = "bucket")
      spark.read.parquet(outDir).select(
        col("user_id"), col("event_id"), col("ts"), col("event_type"),
        col("value"), col("props"),
        // partition-value inference is config-dependent; pin the type
        col("bucket").cast("int").as("bucket"))
      }
    },

    // -- Streaming near-dup detection (L2 × T6, the d09 shape under
    //    Structured Streaming): two micro-batches — one seeds the persisted
    //    signature store, the other probes it on LSH band keys. The
    //    registered contract is the VERIFIED-EXACT subset: hash-exact
    //    candidates (est_jaccard == 1.0) re-checked for normalized-text
    //    equality — the standard LSH candidate→verify step, because at the
    //    fixture's planted J≈0.988 neighbors ("… dup" suffix) all 128
    //    MinHashes collide with P≈0.988^128≈0.2, so hash-exactness alone
    //    is not a deterministic text-identity predicate (measured: 2 such
    //    collisions at sf0.01). DuckDB recomputes text equality from
    //    scratch; 25 planted byte-identical mirrors keep the detection set
    //    non-trivial (the r16 bench trim halved the 500-doc window; the
    //    candidate->verify algebra is volume-independent). least/greatest normalization makes the output
    //    invariant to file→batch ordering. The approximate (est < 1)
    //    detections stay accuracy-gated via d09; the streaming replay
    //    mechanics (store growth, replay idempotence, restart no-op) are
    //    spec-pinned in StreamingSpec.
    "e12_streaming_neardup" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      TempWork.scoped("graft_e12_") { tmp =>
      val inDir = s"$tmp/in"; val store = s"$tmp/store"
      val out = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val history = t.documents.filter(col("doc_id") < 125)
        .select(col("doc_id"), col("text"))
      val batch = t.documents
        .filter(col("doc_id") < 125 && pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + lit(100000L)).as("doc_id"), col("text"))
        .unionByName(
          t.documents.filter(col("doc_id") >= 125 && col("doc_id") < 250)
            .select(col("doc_id"), col("text")))
      history.coalesce(1).write.parquet(inDir)
      batch.coalesce(1).write.mode("append").parquet(inDir)
      graft.streaming.DedupStreams.nearDupDetectAvailableNow(
        spark.readStream.schema(history.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir),
        "text", "doc_id", store, out, ckpt, minEstJaccard = 0.7)
      val nt = history.unionByName(batch).select(col("doc_id").as("nid"),
        graft.functions.TextFunctions.normalizeText(col("text")).as("nt"))
      spark.read.parquet(out)
        .filter(col("est_jaccard") === 1.0)
        .join(nt.select(col("nid").as("new_id"), col("nt").as("nt_new")), Seq("new_id"))
        .join(nt.select(col("nid").as("seen_id"), col("nt").as("nt_seen")), Seq("seen_id"))
        .filter(col("nt_new") === col("nt_seen"))
        .select(
          least(col("new_id"), col("seen_id")).as("id_a"),
          greatest(col("new_id"), col("seen_id")).as("id_b"),
          col("est_jaccard"))
      }
    },

    // -- Cohort retention: users grouped by first-seen day, activity
    //    counted per day offset — the (cohort, offset) → distinct-users
    //    matrix. Two shuffles (first-seen aggregate, matrix aggregate),
    //    both keyed on user_id / composite keys that grow with the data.
    "e09_cohort_retention" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val firstSeen = t.events.groupBy(col("user_id"))
        .agg(date_trunc("day", min(col("ts"))).as("cohort_day"))
      t.events
        .join(firstSeen, "user_id")
        .withColumn("day_offset",
          datediff(date_trunc("day", col("ts")), col("cohort_day")).cast("long"))
        .groupBy(col("cohort_day"), col("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .filter(col("day_offset") <= 7)
    },

    // -- Robust daily-volume anomaly gate (Hampel identifier): days whose
    //    event count sits > 3·MAD from the median — the pipeline-health
    //    monitor that catches ingest gaps and replays, robust to the
    //    anomalies themselves (median/MAD, not mean/stddev). The fixture
    //    has two real anomalous days at this threshold. Integer-valued
    //    counts make the interpolated median/MAD exact IEEE halves on
    //    both engines.
    "e20_daily_anomaly" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val daily = t.events
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"))
      graft.operators.Validate.robustAnomalies(daily, "n_events")
    },

    // -- S9 ATOMIC streaming upsert (e11's contract through the GenTable
    //    commit protocol): the same deterministic replay — date-ranged
    //    AvailableNow micro-batches, latest-event-per-user merge — but
    //    each batch commits via stage-new-generations + one atomic
    //    manifest swap instead of dynamic partition overwrite, and the
    //    returned frame is the COMMITTED view (GenTable.read resolves
    //    pcol=v/gen=n paths from the manifest). A 1-in-5 user slice
    //    (disjoint protocol from e11's 1-in-7) keeps the replay cheap;
    //    crash-points of the protocol are spec-pinned in GenTableSpec.
    "e21_atomic_upsert" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      TempWork.scoped("graft_e21_") { tmp =>
      val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val ckpt = s"$tmp/ckpt"
      val slice = t.events.filter(col("user_id") % 5 === 0)
        .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
      slice.repartitionByRange(3, col("ts")).write.parquet(inDir)
      graft.streaming.EventStreams.upsertForeachBatchAvailableNowAtomic(
        spark.readStream.schema(slice.schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir),
        outDir, ckpt, keyCol = "user_id",
        orderCols = Seq("ts", "event_id"), partitionCol = "bucket")
      graft.sources.GenTable.read(spark, outDir).get.select(
        col("user_id"), col("event_id"), col("ts"), col("event_type"),
        col("value"), col("props"),
        col("bucket").cast("int").as("bucket"))
      }
    },

    // -- Change-data-capture over the GenTable commit history: three
    //    commits (early-window upsert with a held-out late-user cohort,
    //    the remaining events, a takedown delete of click-latest rows),
    //    then `changesBetween(1, 3)` — keyed full-outer diff of the two
    //    archived snapshots, read PRUNED to partitions whose generation
    //    moved. All three change classes are data-populated (inserts =
    //    the held-out cohort, deletes = users whose latest event is the
    //    deleted type, updates = everyone whose latest row moved).
    //    The oracle rebuilds both snapshots with window SQL and diffs
    //    them null-safely — ids, images, and classes all hash-checked.
    "e22_gentable_cdc" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      TempWork.scoped("graft_e22_") { tmp =>
      val slice = t.events.filter(col("user_id") % 5 === 1)
        .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
      val early = slice.filter(col("ts") < lit("2024-01-08").cast("timestamp") &&
        col("user_id") % 20 =!= 1)
      graft.sources.GenTable.upsertBatch(early, tmp, "user_id",
        Seq("ts", "event_id"), "bucket")                        // commit 1
      // r16: the late batch is early's complement — `exceptAll` paid a
      // full two-sided all-columns shuffle for what the negated filter
      // computes exactly (ts/user_id are non-null, so the predicate never
      // evaluates NULL and the multisets are equal; oracle re-verified)
      graft.sources.GenTable.upsertBatch(
        slice.filter(col("ts") >= lit("2024-01-08").cast("timestamp") ||
          col("user_id") % 20 === 1), tmp, "user_id",
        Seq("ts", "event_id"), "bucket")                        // commit 2
      graft.sources.GenTable.deleteWhere(spark, tmp,
        col("event_type") === "click")                          // commit 3
      graft.sources.GenTable.changesBetween(spark, tmp, 1L, 3L, "user_id")
        .select(col("user_id"), col("_change"), col("event_id"), col("ts"),
          col("event_type"), col("value"), col("props"),
          col("bucket").cast("int").as("bucket"))
      }
    },

    // -- Manifest column-stats skip (the Iceberg-style metadata read):
    //    the events slice lands in a GenTable partitioned by DAY with
    //    min/max tracked on event_id — a column the fixture assigns in
    //    arrival order, so each day covers a near-disjoint id band (the
    //    ingestion-time correlation real lakes exploit for file skipping
    //    on non-partition columns). readRange resolves the id window
    //    [100, 700] to the few days whose tracked band intersects it —
    //    partitions outside are never opened (inputFiles-pinned in
    //    GenTableSpec) — then applies the residual filter, so the result
    //    equals a plain range filter, which is what the oracle replays.
    "e23_stats_skip_read" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      TempWork.scoped("graft_e23_") { tmp =>
      val slice = t.events.filter(col("user_id") % 5 === 2)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      graft.sources.GenTable.upsertBatch(slice, tmp, "event_id",
        Seq("ts"), "day", statsCols = Seq("event_id"))
      graft.sources.GenTable.readRange(spark, tmp, "event_id", 100L, 700L).get
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"), col("props"), col("day").cast("string").as("day"))
      }
    },

    // -- Incremental view maintenance from CDC (the retraction algebra):
    //    a per-event-type count/sum view over the latest-per-user table
    //    is refreshed from the pre/post images of the commit-1 → commit-2
    //    diff — every pre-image retracts, every post-image adds, so
    //    users whose latest row MOVED between types decrement one group
    //    and increment the other, on the exact decimal grid. The oracle
    //    recomputes the view from scratch at snapshot 2: refresh ==
    //    recompute, bit-for-bit, while the refresh itself reads only the
    //    churn (changed partitions + store-sized merge), never history.
    "e24_cdc_view_refresh" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      TempWork.scoped("graft_e24_") { tmp =>
      val slice = t.events.filter(col("user_id") % 5 === 4)
        .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
      val early = slice.filter(col("ts") < lit("2024-01-11").cast("timestamp"))
      graft.sources.GenTable.upsertBatch(early, tmp, "user_id",
        Seq("ts", "event_id"), "bucket")                        // commit 1
      // r16: early's complement via negated filter, not exceptAll (see e22)
      graft.sources.GenTable.upsertBatch(
        slice.filter(col("ts") >= lit("2024-01-11").cast("timestamp")),
        tmp, "user_id",
        Seq("ts", "event_id"), "bucket")                        // commit 2
      val view1 = graft.sources.GenTable.readAt(spark, tmp, 1L).get
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("value").cast("decimal(28,10)"))
            .cast("decimal(38,10)").as("value_sum_dec"))
      val changes = graft.sources.GenTable.changesWithImages(
        spark, tmp, 1L, 2L, "user_id")
      graft.operators.RollupStore
        .applyCdcDeltas(view1, changes, "event_type", "value")
        .select(col("event_type"), col("n_rows"),
          col("value_sum_dec").cast("double").as("total_value"))
      }
    },

    // -- Conjunctive manifest skip (e23's multi-column form): the table
    //    tracks BOTH event_id (ingestion order — near-disjoint per day)
    //    and user_id (spans the full space every day). The user_id range
    //    alone prunes nothing; ANDed with the event_id band the read
    //    opens only the id-band days and pushes both residuals, so the
    //    result equals the two-predicate filter the oracle replays.
    "e25_multi_range_read" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      TempWork.scoped("graft_e25_") { tmp =>
      val slice = t.events.filter(col("user_id") % 5 === 3)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      graft.sources.GenTable.upsertBatch(slice, tmp, "event_id",
        Seq("ts"), "day", statsCols = Seq("event_id", "user_id"))
      graft.sources.GenTable.readRanges(spark, tmp,
        Map("event_id" -> (100L, 800L), "user_id" -> (0L, 400L))).get
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"), col("props"), col("day").cast("string").as("day"))
      }
    },

    // -- Exactly-once materialized view (the full lake-to-serving loop):
    //    a per-event-type count/sum view maintained over a GenTable by
    //    polling — bootstrap full-compute at commit 1, then ONE
    //    incremental refresh covering BOTH an upsert (updates + inserts)
    //    and a takedown delete that retracts the 'error' group to zero.
    //    The refreshed view and its consumed-commit marker commit in one
    //    manifest swap (crash-safe exactly-once, spec-pinned); the
    //    oracle recomputes the view from scratch at the final snapshot,
    //    so refresh == recompute is hash-checked end-to-end.
    "e26_materialized_view" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      TempWork.scoped("graft_e26_") { tmp =>
      val tableDir = s"$tmp/table"; val viewDir = s"$tmp/view"
      val slice = t.events.filter(col("user_id") % 7 === 3)
        .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
      val early = slice.filter(col("ts") < lit("2024-01-16").cast("timestamp"))
      graft.sources.GenTable.upsertBatch(early, tableDir, "user_id",
        Seq("ts", "event_id"), "bucket")                        // commit 1
      graft.operators.RollupStore.maintainView(spark, tableDir, viewDir,
        "user_id", "event_type", "value")                       // bootstrap
      graft.sources.GenTable.upsertBatch( // r16: see e22 — complement by filter
        slice.filter(col("ts") >= lit("2024-01-16").cast("timestamp")), tableDir,
        "user_id", Seq("ts", "event_id"), "bucket")             // commit 2
      graft.sources.GenTable.deleteWhere(spark, tableDir,
        col("event_type") === "error")                          // commit 3
      graft.operators.RollupStore.maintainView(spark, tableDir, viewDir,
        "user_id", "event_type", "value")                       // incremental
      graft.operators.RollupStore.readView(spark, viewDir).get
        .select(col("event_type"), col("n_rows"),
          col("value_sum_dec").cast("double").as("total_value"))
      }
    },

    // -- Non-retractable materialized view (min/max): deleting a group's
    //    MAX row defeats delta math — you learn nothing about the new
    //    max — so this view refreshes by PARTIAL RECOMPUTE: the commit
    //    diff names the changed groups, only those groups' rows are
    //    re-aggregated from the pinned snapshot (broadcast semi-join),
    //    untouched groups splice over unread. The takedown here deletes
    //    every row with value > 50, dropping several groups' maxima at
    //    once. Same exactly-once manifest discipline as e26; the oracle
    //    recomputes min/max/count from scratch at the final snapshot.
    "e27_minmax_view_refresh" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      TempWork.scoped("graft_e27_") { tmp =>
      val tableDir = s"$tmp/table"; val viewDir = s"$tmp/view"
      val slice = t.events.filter(col("user_id") % 7 === 5)
        .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
      val early = slice.filter(col("ts") < lit("2024-01-16").cast("timestamp"))
      def viewOf(df: DataFrame): DataFrame = df.groupBy(col("event_type"))
        .agg(min(col("value")).as("v_min"), max(col("value")).as("v_max"),
          count(lit(1)).as("n_rows"))
      graft.sources.GenTable.upsertBatch(early, tableDir, "user_id",
        Seq("ts", "event_id"), "bucket")                        // commit 1
      graft.operators.RollupStore.maintainViewByGroups(spark, tableDir,
        viewDir, "user_id", "event_type", viewOf)               // bootstrap
      graft.sources.GenTable.upsertBatch( // r16: see e22 — complement by filter
        slice.filter(col("ts") >= lit("2024-01-16").cast("timestamp")), tableDir,
        "user_id", Seq("ts", "event_id"), "bucket")             // commit 2
      graft.sources.GenTable.deleteWhere(spark, tableDir,
        col("value") > 50)                                      // commit 3
      graft.operators.RollupStore.maintainViewByGroups(spark, tableDir,
        viewDir, "user_id", "event_type", viewOf)               // incremental
      graft.operators.RollupStore.readView(spark, viewDir).get
        .select(col("event_type"), col("v_min"), col("v_max"), col("n_rows"))
      }
    },

    // -- Schema evolution ON the lake tier (x08's additive-column
    //    contract through the GenTable protocol): commit 1 lands the
    //    early slice; commit 2's batch ADDS value_eur. The committed
    //    schema is the running union carried in the MANIFEST — untouched
    //    old generations read through it with the column null and no
    //    mergeSchema footer scan is ever issued (at 100 TB that scan
    //    reads every committed file's footer on the driver) — so the
    //    final view surfaces value_eur exactly where a late row won the
    //    latest-per-user merge. The oracle re-derives that frame from
    //    window SQL: the winner's ts decides whether the column is null.
    "e28_evolved_lake" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      TempWork.scoped("graft_e28_") { tmp =>
        val slice = t.events.filter(col("user_id") % 9 === 2)
          .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
        val cut = lit("2024-01-16").cast("timestamp")
        graft.sources.GenTable.upsertBatch(slice.filter(col("ts") < cut),
          tmp, "user_id", Seq("ts", "event_id"), "bucket")      // commit 1
        graft.sources.GenTable.upsertBatch(
          slice.filter(col("ts") >= cut)
            .withColumn("value_eur", col("value") * 0.9),
          tmp, "user_id", Seq("ts", "event_id"), "bucket")      // commit 2
        graft.sources.GenTable.read(spark, tmp).get.select(
          col("user_id"), col("event_id"), col("ts"), col("event_type"),
          col("value"), col("value_eur"),
          col("bucket").cast("int").as("bucket"))
      }
    },

    // -- Mixed-algebra materialized view (e26 + e27 in ONE viewDir and
    //    ONE exactly-once refresh): count/sum maintain by signed CDC
    //    deltas, min/max by partial recompute of the diff-named groups —
    //    both halves off the same commit diff, spliced and committed with
    //    the consumed marker in a single manifest swap. The takedown
    //    deletes every value > 150 row, dropping several groups' maxima
    //    at once (the non-retractable case) while the count/sum half
    //    retracts the same rows by delta math. The oracle recomputes all
    //    five aggregates from scratch at the final snapshot.
    "e29_mixed_view" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      TempWork.scoped("graft_e29_") { tmp =>
        val tableDir = s"$tmp/table"; val viewDir = s"$tmp/view"
        val slice = t.events.filter(col("user_id") % 9 === 4)
          .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
        val early = slice.filter(col("ts") < lit("2024-01-16").cast("timestamp"))
        graft.sources.GenTable.upsertBatch(early, tableDir, "user_id",
          Seq("ts", "event_id"), "bucket")                      // commit 1
        graft.operators.RollupStore.maintainViewMixed(spark, tableDir,
          viewDir, "user_id", "event_type", "value")            // bootstrap
        graft.sources.GenTable.upsertBatch( // r16: see e22 — complement by filter
        slice.filter(col("ts") >= lit("2024-01-16").cast("timestamp")), tableDir,
          "user_id", Seq("ts", "event_id"), "bucket")           // commit 2
        graft.sources.GenTable.deleteWhere(spark, tableDir,
          col("value") > 150)                                   // commit 3
        graft.operators.RollupStore.maintainViewMixed(spark, tableDir,
          viewDir, "user_id", "event_type", "value")            // incremental
        graft.operators.RollupStore.readView(spark, viewDir).get
          .select(col("event_type"), col("n_rows"),
            col("value_sum_dec").cast("double").as("total_value"),
            col("v_min"), col("v_max"))
      }
    },

    // -- Bloom-pruned point lookup (e23's metadata skip for the shape
    //    min/max bands CANNOT express): the table partitions by day and
    //    users occur on scattered days, so every day's user_id band
    //    spans the whole space and range stats keep everything — but the
    //    per-(day, column) Bloom sidecars written at stage time know
    //    which days might hold each user, and `readEquals` opens only
    //    those (false positives cost extra reads; false negatives are
    //    impossible, so the result equals the plain IN-filter the oracle
    //    runs). Per-day skipping is inputFiles-pinned in GenTableSpec.
    "e30_bloom_lookup" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      TempWork.scoped("graft_e30_") { tmp =>
        val ev = t.events
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        graft.sources.GenTable.upsertBatch(ev, tmp, "event_id", Seq("ts"),
          "day", statsCols = Seq("user_id"), bloomCols = Seq("user_id"))
        graft.sources.GenTable
          .readEquals(spark, tmp, "user_id", Seq(1L, 4L, 8L)).get
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"), col("props"),
            col("day").cast("string").as("day"))
      }
    },

    // -- Catalyst-integrated metadata skip: the SAME pruning e23 (stats
    //    bands) and e30 (bloom sidecars) reach through explicit APIs,
    //    triggered here by a plain `.filter` on `readIndexed`'s frame —
    //    the manifest-driven FileIndex receives the pushed partition/data
    //    filters at planning time and skips partitions the day predicate,
    //    the event_id band, or the user_id blooms rule out. Extraction is
    //    conservative and Spark re-applies every predicate, so the result
    //    equals the plain conjunctive filter the oracle runs (pruning
    //    itself is metrics-pinned in GenTableIndexSpec).
    "e31_indexed_scan" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      TempWork.scoped("graft_e31_") { tmp =>
        val ev = t.events
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        graft.sources.GenTable.upsertBatch(ev, tmp, "event_id", Seq("ts"),
          "day", statsCols = Seq("event_id"), bloomCols = Seq("user_id"))
        graft.sources.GenTable.readIndexed(spark, tmp).get
          .filter(col("day") >= "2024-01-10" &&
            col("event_id") >= 500L &&
            col("user_id").isin(3L, 7L, 11L, 42L, 57L, 101L))
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"), col("props"),
            col("day").cast("string").as("day"))
      }
    },

    // -- CDC replication through the STREAMING source: a replica GenTable
    //    is maintained purely from `readStream.format("gentable-cdc")`
    //    micro-batches (offsets = commit ids, batches = keyed commit
    //    diffs). Drain 1 replicates the early-window snapshot; commits 2
    //    (the rest) and 3 (click takedown) land while the stream is DOWN,
    //    then drain 2 resumes from the engine's offset log and coalesces
    //    both into one diff — post-images upsert ordered by batch sequence
    //    (NOT event time: a takedown can move a user's latest EARLIER),
    //    delete pre-images drop by key. The replica must equal the final
    //    source snapshot, which the oracle rebuilds with window SQL.
    "e32_cdc_replica" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      TempWork.scoped("graft_e32_") { tmp =>
        val src = s"$tmp/src"; val rep = s"$tmp/replica"
        val ckpt = s"$tmp/ckpt"
        val slice = t.events.filter(col("user_id") % 9 === 7)
          .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
        val cut = lit("2024-01-16").cast("timestamp")
        def drain(): Unit = {
          val q = spark.readStream.format("gentable-cdc")
            .option("keyCol", "user_id").load(src)
            .writeStream.option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .foreachBatch { (diff0: DataFrame, batchId: Long) =>
              // r16: pin the CDC diff once per batch — the empty probes,
              // the upsert, and the delete each re-ran the manifest-diff
              // subtree otherwise (same result, 4x the scans)
              val diff = diff0.localCheckpoint(true)
              try {
                // r17: ONE aggregate over the pinned diff replaces the two
                // executeTake empty-probes (each was its own Spark job)
                val arms = diff.agg(
                  count(when(col("_change") =!= "delete", 1)).as("nu"),
                  count(when(col("_change") === "delete", 1)).as("nd")).head()
                if (arms.getLong(0) > 0)
                  graft.sources.GenTable.upsertBatch(
                    diff.filter(col("_change") =!= "delete")
                      .drop("_change").withColumn("_seq", lit(batchId)),
                    rep, "user_id", Seq("_seq"), "bucket")
                if (arms.getLong(1) > 0)
                  graft.sources.GenTable.deleteKeys(
                    diff.filter(col("_change") === "delete").select("user_id"),
                    rep, "user_id", pmod(col("user_id"), lit(4)).cast("int"))
              } finally diff.unpersist()
              ()
            }.start()
          q.awaitTermination()
        }
        graft.sources.GenTable.upsertBatch(slice.filter(col("ts") < cut),
          src, "user_id", Seq("ts", "event_id"), "bucket")      // commit 1
        drain()                                  // replicates the snapshot
        graft.sources.GenTable.upsertBatch(slice.filter(col("ts") >= cut),
          src, "user_id", Seq("ts", "event_id"), "bucket")      // commit 2
        graft.sources.GenTable.deleteWhere(spark, src,
          col("event_type") === "click")                        // commit 3
        drain()                                  // resumes, coalesces 2+3
        graft.sources.GenTable.read(spark, rep).get.select(
          col("user_id"), col("event_id"), col("ts"), col("event_type"),
          col("value"), col("props"),
          col("bucket").cast("int").as("bucket"))
      }
    },

    // -- The same replication as ONE declarative pipeline — ZERO user
    //    code between the formats: `readStream.format("gentable-cdc")`
    //    (offsets = commit ids) into `writeStream.format("gentable")`
    //    in cdc mode (each batch applied transactionally by
    //    GenTable.applyCdcBatch: post-images replace, delete pre-images
    //    drop, and the sink's batch marker rides the same manifest swap,
    //    so engine replays after the mid-pipeline restart are no-ops).
    //    The replica must equal the final source snapshot.
    "e33_pipeline_replica" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      TempWork.scoped("graft_e33_") { tmp =>
        val src = s"$tmp/src"; val rep = s"$tmp/replica"
        val ckpt = s"$tmp/ckpt"
        val slice = t.events.filter(col("user_id") % 9 === 8)
          .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
        val cut = lit("2024-01-16").cast("timestamp")
        def replicate(): Unit = {
          val q = spark.readStream.format("gentable-cdc")
            .option("keyCol", "user_id").load(src)
            .writeStream.format("gentable")
            .option("mode", "cdc").option("keyCol", "user_id")
            .option("partitionCol", "bucket")
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start(rep)
          q.awaitTermination()
        }
        graft.sources.GenTable.upsertBatch(slice.filter(col("ts") < cut),
          src, "user_id", Seq("ts", "event_id"), "bucket")      // commit 1
        replicate()
        graft.sources.GenTable.upsertBatch(slice.filter(col("ts") >= cut),
          src, "user_id", Seq("ts", "event_id"), "bucket")      // commit 2
        graft.sources.GenTable.deleteWhere(spark, src,
          col("event_type") === "view")                         // commit 3
        replicate()
        graft.sources.GenTable.read(spark, rep).get.select(
          col("user_id"), col("event_id"), col("ts"), col("event_type"),
          col("value"), col("props"),
          col("bucket").cast("int").as("bucket"))
      }
    },

    // -- Time travel through the DataSource: `versionAsOf` resolves the
    //    archived commit-1 manifest (immutable generations make the
    //    snapshot exact, with the schema AS OF that commit) while the
    //    table has since advanced to commit 2 — the oracle rebuilds the
    //    early-window latest-per-user frame the superseded commit held.
    "e34_time_travel" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      TempWork.scoped("graft_e34_") { tmp =>
        val slice = t.events.filter(col("user_id") % 9 === 5)
          .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
        val cut = lit("2024-01-16").cast("timestamp")
        graft.sources.GenTable.upsertBatch(slice.filter(col("ts") < cut),
          tmp, "user_id", Seq("ts", "event_id"), "bucket")      // commit 1
        graft.sources.GenTable.upsertBatch(slice.filter(col("ts") >= cut),
          tmp, "user_id", Seq("ts", "event_id"), "bucket")      // commit 2
        spark.read.format("gentable").option("versionAsOf", "1").load(tmp)
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), col("value"), col("props"),
            col("bucket").cast("int").as("bucket"))
      }
    },

    // -- Metadata-only aggregates: per-bucket count/min/max over a
    //    three-commit lifecycle (upserts + takedown delete) answered by
    //    the GenTableMetadataAggregate rule from the manifest's `#rows`
    //    and `#stat` lines — the optimized plan is a LocalRelation, no
    //    scan runs (plan-pinned in GenTableStatsAggSpec). The oracle
    //    recomputes the same aggregates FROM THE DATA, so the manifest's
    //    footer-derived counts and rewrite-maintained bands are checked
    //    against ground truth through every commit shape.
    "e35_metadata_agg" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      TempWork.scoped("graft_e35_") { tmp =>
        val slice = t.events.filter(col("user_id") % 5 === 3)
          .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
        val cut = lit("2024-01-12").cast("timestamp")
        graft.sources.GenTable.upsertBatch(slice.filter(col("ts") < cut),
          tmp, "user_id", Seq("ts", "event_id"), "bucket",
          statsCols = Seq("event_id"))                          // commit 1
        graft.sources.GenTable.upsertBatch(slice.filter(col("ts") >= cut),
          tmp, "user_id", Seq("ts", "event_id"), "bucket")      // commit 2
        graft.sources.GenTable.deleteWhere(spark, tmp,
          col("event_type") === "click")                        // commit 3
        graft.sources.GenTable.readIndexed(spark, tmp).get
          .groupBy(col("bucket").cast("int").as("bucket"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("event_id")).as("min_event_id"),
            max(col("event_id")).as("max_event_id"))
      }
    },

    // -- RESTORE (rollback as a forward commit): after an upsert and a
    //    takedown delete advance the table to commit 3, restore(1)
    //    republishes the commit-1 manifest as commit 4 with ZERO data
    //    IO (the original generation directories are referenced again —
    //    inputFiles-pinned in GenTableRestoreSpec). The committed view
    //    must be byte-equal to the superseded snapshot, which the oracle
    //    rebuilds from first principles.
    "e36_restore" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      TempWork.scoped("graft_e36_") { tmp =>
        val slice = t.events.filter(col("user_id") % 7 === 3)
          .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
        val cut = lit("2024-01-14").cast("timestamp")
        graft.sources.GenTable.upsertBatch(slice.filter(col("ts") < cut),
          tmp, "user_id", Seq("ts", "event_id"), "bucket")      // commit 1
        graft.sources.GenTable.upsertBatch(slice.filter(col("ts") >= cut),
          tmp, "user_id", Seq("ts", "event_id"), "bucket")      // commit 2
        graft.sources.GenTable.deleteWhere(spark, tmp,
          col("event_type") === "view")                         // commit 3
        graft.sources.GenTable.restore(tmp, 1L)                 // commit 4
        graft.sources.GenTable.read(spark, tmp).get
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), col("value"), col("props"),
            col("bucket").cast("int").as("bucket"))
      }
    },

    // -- Commit-time expectations (write-path quality gates): two
    //    upsert batches pass through a two-gate check (drop mode) before
    //    staging — rows failing either gate never become committed
    //    state. The gates are row-local, so batch-sequential enforcement
    //    equals filtering the whole slice first, which is exactly what
    //    the oracle does: latest-per-user over the PASSING rows only.
    //    FAIL/quarantine arms are spec-pinned in ExpectationsSpec.
    "e37_expectations" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      TempWork.scoped("graft_e37_") { tmp =>
        val slice = t.events.filter(col("user_id") % 7 === 5)
          .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
        val gates = Seq(
          "event_id_not_mod10" -> (pmod(col("event_id"), lit(10)) =!= 0),
          "not_click" -> (col("event_type") =!= "click"))
        val cut = lit("2024-01-14").cast("timestamp")
        graft.sources.GenTable.upsertBatchExpect(
          slice.filter(col("ts") < cut), tmp, "user_id",
          Seq("ts", "event_id"), "bucket", gates)               // commit 1
        graft.sources.GenTable.upsertBatchExpect(
          slice.filter(col("ts") >= cut), tmp, "user_id",
          Seq("ts", "event_id"), "bucket", gates)               // commit 2
        graft.sources.GenTable.read(spark, tmp).get
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), col("value"), col("props"),
            col("bucket").cast("int").as("bucket"))
      }
    },

    // -- Commit lineage (DESCRIBE HISTORY for the lake): every commit
    //    carries the operation that produced it and the manifest's own
    //    partition/row statistics — the governance audit of what changed
    //    a table, with zero data IO. The oracle recomputes each
    //    snapshot's partition and row counts from first principles, and
    //    the op sequence (upsert, upsert, delete, restore) is the
    //    lifecycle's contract. The wall-clock stamp is projected out
    //    (nondeterministic by nature); its presence is spec-pinned.
    "e38_history" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      TempWork.scoped("graft_e38_") { tmp =>
        val slice = t.events.filter(col("user_id") % 9 === 7)
          .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
        val cut = lit("2024-01-14").cast("timestamp")
        graft.sources.GenTable.upsertBatch(slice.filter(col("ts") < cut),
          tmp, "user_id", Seq("ts", "event_id"), "bucket")      // commit 1
        graft.sources.GenTable.upsertBatch(slice.filter(col("ts") >= cut),
          tmp, "user_id", Seq("ts", "event_id"), "bucket")      // commit 2
        graft.sources.GenTable.deleteWhere(spark, tmp,
          col("event_type") === "purchase")                     // commit 3
        graft.sources.GenTable.restore(tmp, 2L)                 // commit 4
        graft.sources.GenTable.history(spark, tmp)
          .select(col("commit_id"), col("op"), col("n_partitions"),
            col("n_rows"))
      }
    },

    // -- Partition evolution end-to-end: the lake starts DAY-partitioned
    //    (commit 1, event_id-keyed — the append shape day layouts fit),
    //    is atomically re-keyed onto user buckets when the layout stops
    //    matching the workload (commit 2: repartitionTable — one rewrite,
    //    one swap, old layout retired to history), then takes a takedown
    //    delete under the NEW layout (commit 3, pruned by bucket). The
    //    final committed view must be exactly the slice minus the deleted
    //    class, whatever layout each era used — which is what the oracle
    //    computes with no layout knowledge at all.
    "e39_partition_evolution" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      TempWork.scoped("graft_e39_") { tmp =>
        // two-week window: enough day partitions (14) to make the
        // re-layout meaningful without the gate paying for a 90-day
        // day-partitioned first commit
        val slice = t.events.filter(col("user_id") % 9 === 2 &&
            col("ts") >= lit("2024-01-04").cast("timestamp") &&
            col("ts") < lit("2024-01-18").cast("timestamp"))
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
          .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
        graft.sources.GenTable.upsertBatch(slice, tmp, "event_id",
          Seq("ts"), "day", statsCols = Seq("event_id"))        // commit 1
        graft.sources.GenTable.repartitionTable(spark, tmp, "bucket") // 2
        graft.sources.GenTable.deleteWhere(spark, tmp,
          col("event_type") === "click")                        // commit 3
        graft.sources.GenTable.read(spark, tmp).get
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), col("value"), col("props"),
            col("day").cast("string").as("day"),
            col("bucket").cast("int").as("bucket"))
      }
    },

    // -- The standard batch write doorway: the ENTIRE write path goes
    //    through `df.write.format("gentable")` — no bespoke API call —
    //    and the read back through `spark.read.format("gentable")`.
    //    Two append saves upsert (latest-per-user across both), so the
    //    final table is the window-SQL dedup the oracle computes; the
    //    doorway must add nothing and lose nothing vs the Scala API.
    "e40_batch_write" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      TempWork.scoped("graft_e40_") { tmp =>
        val slice = t.events.filter(col("user_id") % 9 === 4)
          .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
        val cut = lit("2024-01-14").cast("timestamp")
        def save(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("gentable")
            .option("keyCol", "user_id")
            .option("orderCols", "ts,event_id")
            .option("partitionCol", "bucket")
            .mode("append").save(tmp)
        save(slice.filter(col("ts") < cut))   // commit 1 (creates)
        save(slice.filter(col("ts") >= cut))  // commit 2 (upserts)
        spark.read.format("gentable").load(tmp)
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), col("value"), col("props"),
            col("bucket").cast("int").as("bucket"))
      }
    },

    // -- SQL MERGE on the lake: base = each pre-cut user's latest event;
    //    source = each post-cut user's latest PURCHASE. One merge commit:
    //    matched users with a small purchase UPDATE to it, matched users
    //    whose purchase exceeds the threshold DELETE (takedown arm wins
    //    over update — SQL clause order), post-cut-only users INSERT
    //    regardless of value (the delete arm never gates inserts). The
    //    oracle recomputes the arm algebra from first principles.
    "e41_merge" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      TempWork.scoped("graft_e41_") { tmp =>
        val slice = t.events.filter(col("user_id") % 9 === 5)
          .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
        val cut = lit("2024-01-14").cast("timestamp")
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        def latest(df: org.apache.spark.sql.DataFrame) =
          df.withColumn("_rn", row_number().over(w))
            .filter(col("_rn") === 1).drop("_rn")
        graft.sources.GenTable.upsertBatch(latest(slice.filter(col("ts") < cut)),
          tmp, "user_id", Seq("ts", "event_id"), "bucket")
        val src = latest(slice.filter(col("ts") >= cut &&
          col("event_type") === "purchase"))
        graft.sources.GenTable.merge(src, tmp, "user_id",
          deleteWhen = Some(col("value") > 450.0))
        graft.sources.GenTable.read(spark, tmp).get
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), col("value"), col("props"),
            col("bucket").cast("int").as("bucket"))
      }
    },

    // -- String-keyed point lookup: a doc-key string (source + id) is
    //    bloom-tracked, so the xxhash64 sidecars — not min/max bands,
    //    which cannot exist for strings — decide which lang partitions a
    //    plain `.isin` over the Catalyst-indexed read must open (pruning
    //    itself is metrics-pinned in GenTableIndexSpec/GenTableWriteSpec).
    //    The result must equal the oracle's plain IN filter.
    "e42_string_lookup" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      TempWork.scoped("graft_e42_") { tmp =>
        val docs = t.documents
          .withColumn("doc_key", concat(lit("doc-"), col("doc_id")))
        docs.write.format("gentable")
          .option("keyCol", "doc_id").option("orderCols", "doc_id")
          .option("partitionCol", "lang").option("bloomCols", "doc_key")
          .mode("append").save(tmp)
        val keys = Seq("doc-3", "doc-17", "doc-41", "doc-999983")
        graft.sources.GenTable.readIndexed(spark, tmp).get
          .filter(col("doc_key").isin(keys: _*))
          .select(col("doc_id"), col("doc_key"), col("text"), col("lang"),
            col("source"), col("n_chars"))
      }
    },

    // -- Composite partition keys — the canonical 100 TB layout
    //    `(day, bucket)`: a week of events lands day×bucket-partitioned
    //    (retention pruning × upsert locality), a retention job drops the
    //    oldest days (whole-partition deletes, pruned by the day
    //    component), and a takedown deletes one user's rows (pruned by
    //    the bucket component). The committed result must equal the plain
    //    filter algebra the oracle computes — layout is a storage
    //    concern; per-column Catalyst pruning is metrics-pinned in
    //    GenTableCompositeSpec.
    "e43_composite_partitions" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      TempWork.scoped("graft_e43_") { tmp =>
        val slice = t.events.filter(col("user_id") % 9 === 8 &&
            col("ts") >= lit("2024-01-08").cast("timestamp") &&
            col("ts") < lit("2024-01-15").cast("timestamp"))
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
          .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
        graft.sources.GenTable.upsertBatch(slice, tmp, "event_id",
          Seq("ts"), Seq("day", "bucket"),
          statsCols = Seq("event_id"))                        // commit 1
        graft.sources.GenTable.deleteWhere(spark, tmp,
          col("day") < "2024-01-10")                          // commit 2
        graft.sources.GenTable.deleteWhere(spark, tmp,
          col("user_id") === 17L && col("bucket") === 1)      // commit 3
        graft.sources.GenTable.read(spark, tmp).get
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), col("value"), col("props"),
            col("day").cast("string").as("day"),
            col("bucket").cast("int").as("bucket"))
      }
    },

    // -- SQL DML end-to-end: every mutation in this lifecycle is a SQL
    //    STATEMENT over a registered lake view (the GenTableDml
    //    resolution rule routes DELETE/UPDATE/MERGE to the transactional
    //    writers — each one atomic commit): a quality DELETE, a
    //    recalibration UPDATE (RHS reads the OLD row), and a three-arm MERGE
    //    whose source negates big purchases (delete arm), triples the
    //    rest (update arm), and id-shifts even users' rows out of
    //    matching (insert arm). The oracle recomputes the statement
    //    algebra from first principles.
    "e44_sql_dml" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      TempWork.scoped("graft_e44_") { tmp =>
        val slice = t.events.filter(col("user_id") % 9 === 3)
          .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
        graft.sources.GenTable.upsertBatch(slice, tmp, "event_id",
          Seq("ts"), "bucket")                                // commit 1
        graft.sources.GenTable.createOrReplaceView(spark, tmp, "e44_lake")
        spark.sql(
          "DELETE FROM e44_lake WHERE event_type = 'view' AND value < 50")
        spark.sql("UPDATE e44_lake SET value = value * 2 " +
          "WHERE event_type = 'click'")
        slice.filter(col("event_type") === "purchase")
          .withColumn("event_id", when(col("user_id") % 2 === 0,
            col("event_id") + 1000000000L).otherwise(col("event_id")))
          .withColumn("value", when(col("value") > 400.0, -col("value"))
            .otherwise(col("value") * 3))
          .createOrReplaceTempView("e44_src")
        spark.sql(
          """MERGE INTO e44_lake t USING e44_src s ON t.event_id = s.event_id
            |WHEN MATCHED AND s.value < 0 THEN DELETE
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        graft.sources.GenTable.read(spark, tmp).get
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), col("value"), col("props"),
            col("bucket").cast("int").as("bucket"))
      }
    },

    // -- Name-based SQL catalog end-to-end: the documents lake lives
    //    under a GenTableCatalog base, and every statement addresses it
    //    as `gt45.corpus.docs` — no view registration, no path in the
    //    SQL. Quality DELETE, recalibration UPDATE, then an aggregate
    //    SELECT through the same catalog name (reads bridge back to the
    //    manifest-indexed relation). The base dir is FIXED per JVM
    //    (catalog instances cache their options at first load); the
    //    table itself is replaced at the start and deleted at the end
    //    of every run, so repeated passes stay deterministic and /tmp
    //    stays clean.
    "e45_catalog_sql" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val base = "/tmp/graft_e45_catbase"
      spark.conf.set("spark.sql.catalog.gt45",
        "graft.sources.GenTableCatalog")
      spark.conf.set("spark.sql.catalog.gt45.base", base)
      val table = s"$base/corpus/docs"
      try {
        graft.sources.GenTable.replaceAll(t.documents, table, "lang")
        spark.sql("DELETE FROM gt45.corpus.docs WHERE n_chars < 200")
        spark.sql("UPDATE gt45.corpus.docs SET n_chars = n_chars + 1 " +
          "WHERE lang = 'en'")
        spark.sql("SELECT lang, count(*) AS n_docs, " +
          "sum(n_chars) AS total_chars FROM gt45.corpus.docs GROUP BY lang")
          .localCheckpoint(true)
      } finally {
        val p = java.nio.file.Paths.get(table)
        if (java.nio.file.Files.exists(p)) {
          val s = java.nio.file.Files.walk(p)
          try s.sorted(java.util.Comparator.reverseOrder())
            .forEach(x => java.nio.file.Files.delete(x))
          finally s.close()
        }
      }
    },

    // -- SQL INSERT end-to-end (the round-13 verdict's top item): the
    //    table's first write RECORDS its append contract in the manifest
    //    (keyCol/orderCols/partitionCol), the second batch appends with
    //    ZERO options (the contract drives it), and then two INSERT
    //    statements over the registered view route to the same atomic
    //    upsert — one inserting new keys, one REPLACING existing keys
    //    (INSERT INTO is the SQL spelling of the contract's
    //    latest-per-key merge, never a silent duplicate). The oracle
    //    recomputes the replace/insert algebra from first principles.
    "e46_sql_insert" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      TempWork.scoped("graft_e46_") { tmp =>
        val slice = t.events.filter(col("user_id") % 9 === 6)
          .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
        val cut = lit("2024-01-14").cast("timestamp")
        slice.filter(col("ts") < cut).write.format("gentable")
          .option("keyCol", "event_id").option("orderCols", "ts,event_id")
          .option("partitionCol", "bucket").mode("append").save(tmp) // 1
        slice.filter(col("ts") >= cut).write.format("gentable")
          .mode("append").save(tmp) // commit 2: contract from the manifest
        graft.sources.GenTable.createOrReplaceView(spark, tmp, "e46_lake")
        slice.createOrReplaceTempView("e46_src")
        // new keys: shifted ids, later ts (insert arm of the contract).
        // Explicit column lists — the fixture's physical order is
        // (event_id, ts, user_id, ...), so by-name is the readable form
        // (and exercises the statement's column-mapping arm)
        spark.sql(
          """INSERT INTO e46_lake
            |  (user_id, event_id, ts, event_type, value, props, bucket)
            |SELECT user_id, event_id + 2000000000, ts + INTERVAL 90 DAYS,
            |  'backfill', value, props, bucket
            |FROM e46_src WHERE event_type = 'purchase'""".stripMargin)
        // existing keys: newer ts wins — the upsert REPLACES the rows
        spark.sql(
          """INSERT INTO e46_lake
            |  (user_id, event_id, ts, event_type, value, props, bucket)
            |SELECT user_id, event_id, ts + INTERVAL 90 DAYS,
            |  'adjusted', value * 2, props, bucket
            |FROM e46_src WHERE event_type = 'click'""".stripMargin)
        graft.sources.GenTable.read(spark, tmp).get
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), col("value"), col("props"),
            col("bucket").cast("int").as("bucket"))
      }
    },

    // -- Catalog DDL + time travel end-to-end: the table is BORN in SQL
    //    (atomic CTAS with its TBLPROPERTIES write contract), grows by
    //    SQL INSERT through that contract, shrinks by SQL DELETE, and
    //    the final answer joins the CURRENT per-lang stats against
    //    `VERSION AS OF 1` (the CTAS snapshot) — time travel as an
    //    ordinary relation in one query. Base dir fixed per JVM (catalog
    //    options cache at first load), table replaced/deleted per run.
    "e47_catalog_timetravel" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val base = "/tmp/graft_e47_catbase"
      spark.conf.set("spark.sql.catalog.gt47",
        "graft.sources.GenTableCatalog")
      spark.conf.set("spark.sql.catalog.gt47.base", base)
      val table = s"$base/corpus/docs"
      try {
        t.documents.select(col("doc_id"), col("text"), col("lang"),
            col("source"), col("n_chars"))
          .createOrReplaceTempView("e47_src")
        spark.sql(
          """CREATE TABLE gt47.corpus.docs
            |TBLPROPERTIES('keyCol'='doc_id', 'orderCols'='n_chars',
            |  'partitionCol'='lang')
            |AS SELECT * FROM e47_src""".stripMargin)         // commit 1
        spark.sql(
          """INSERT INTO gt47.corpus.docs
            |SELECT doc_id + 100000000, text, lang, source, n_chars + 7
            |FROM e47_src WHERE source = 'web'""".stripMargin) // commit 2
        spark.sql(
          "DELETE FROM gt47.corpus.docs WHERE n_chars < 200")  // commit 3
        // additive schema evolution as SQL: ADD COLUMNS is a META-ONLY
        // commit — no data file moves, every pre-alter row reads the new
        // column null — then a backfill INSERT populates it for one
        // source slice (the "evolve, then backfill" workflow)
        spark.sql(
          "ALTER TABLE gt47.corpus.docs ADD COLUMNS (quality DOUBLE)"
        )                                                      // commit 4
        spark.sql(
          """INSERT INTO gt47.corpus.docs
            |  (doc_id, text, lang, source, n_chars, quality)
            |SELECT doc_id + 200000000, text, lang, source, n_chars + 11,
            |  CAST(n_chars + 500 AS DOUBLE)
            |FROM e47_src WHERE source = 'src3'""".stripMargin) // commit 5
        spark.sql(
          """SELECT v1.lang, v1.n_docs_v1, cur.n_docs, cur.total_chars,
            |  cur.n_scored, cur.avg_quality
            |FROM (SELECT lang, count(*) AS n_docs_v1
            |      FROM gt47.corpus.docs VERSION AS OF 1 GROUP BY lang) v1
            |LEFT JOIN (SELECT lang, count(*) AS n_docs,
            |        CAST(sum(n_chars) AS BIGINT) AS total_chars,
            |        count(quality) AS n_scored,
            |        avg(quality) AS avg_quality
            |      FROM gt47.corpus.docs GROUP BY lang) cur
            |  ON v1.lang = cur.lang""".stripMargin)
          .localCheckpoint(true)
      } finally {
        val p = java.nio.file.Paths.get(table)
        if (java.nio.file.Files.exists(p)) {
          val s = java.nio.file.Files.walk(p)
          try s.sorted(java.util.Comparator.reverseOrder())
            .forEach(x => java.nio.file.Files.delete(x))
          finally s.close()
        }
      }
    },

    // -- Partition-scoped atomic replace (replaceWhere): the canonical
    //    backfill, through BOTH doorways. A day-keyed events lake takes
    //    (1) a SQL restatement of one day — `INSERT OVERWRITE ...
    //    PARTITION (day='2024-01-10')` over the registered view — and
    //    (2) a format-write backfill of a two-day RANGE via
    //    .option("replaceWhere", "day >= '2024-01-13'"). Untouched days'
    //    committed files carry forward byte-identical (spec-pinned in
    //    GenTableReplaceWhereSpec); the oracle recomputes the final
    //    region algebra from first principles.
    "e48_replace_where" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      TempWork.scoped("graft_e48_") { tmp =>
        val slice = t.events.filter(col("user_id") % 9 === 1)
          .filter(col("ts") >= lit("2024-01-08").cast("timestamp") &&
            col("ts") < lit("2024-01-15").cast("timestamp"))
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        graft.sources.GenTable.upsertBatch(slice, tmp, "event_id",
          Seq("ts"), "day")                                   // commit 1
        graft.sources.GenTable.createOrReplaceView(spark, tmp, "e48_lake")
        slice.createOrReplaceTempView("e48_src")
        // restate one day in place (values re-scored, type re-labelled);
        // the spec'd day column is NOT in the select list (SQL semantics)
        spark.sql(
          """INSERT OVERWRITE e48_lake PARTITION (day = '2024-01-10')
            |SELECT event_id, ts, user_id, 'restated', value * 10, props
            |FROM e48_src
            |WHERE date_format(ts, 'yyyy-MM-dd') = '2024-01-10'"""
            .stripMargin)                                     // commit 2
        // backfill a two-day range through the format option
        slice.filter(col("day") >= "2024-01-13")
          .withColumn("value", col("value") + 0.5)
          .withColumn("event_type", lit("backfill"))
          .write.format("gentable")
          .option("replaceWhere", "day >= '2024-01-13'")
          .mode("overwrite").save(tmp)                        // commit 3
        graft.sources.GenTable.read(spark, tmp).get
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), col("value"), col("props"),
            col("day").cast("string").as("day"))
      }
    },

    // -- Partial-column MERGE UPDATE (SQL `UPDATE SET t.col = <expr>`):
    //    the matched row KEEPS its columns and recomputes only the
    //    assigned ones — the RHS reads both the existing row (t.value)
    //    and the source row (s.value) through the engine's keyed join.
    //    Source: every purchase, ids shifted for odd users so those
    //    take the INSERT arm; matched purchases with small values take
    //    the DELETE arm first (clause order). The oracle recomputes the
    //    three-arm algebra with an explicit join.
    "e49_merge_partial" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      TempWork.scoped("graft_e49_") { tmp =>
        val slice = t.events.filter(col("user_id") % 9 === 4)
          .withColumn("bucket", pmod(col("user_id"), lit(4)).cast("int"))
        graft.sources.GenTable.upsertBatch(slice, tmp, "event_id",
          Seq("ts"), "bucket")                                // commit 1
        graft.sources.GenTable.createOrReplaceView(spark, tmp, "e49_lake")
        slice.filter(col("event_type") === "purchase")
          .withColumn("event_id", when(col("user_id") % 2 === 1,
            col("event_id") + 1000000000L).otherwise(col("event_id")))
          .createOrReplaceTempView("e49_src")
        spark.sql(
          """MERGE INTO e49_lake t USING e49_src s ON t.event_id = s.event_id
            |WHEN MATCHED AND s.value < 20 THEN DELETE
            |WHEN MATCHED THEN UPDATE
            |  SET t.value = t.value + s.value, t.event_type = 'adjusted'
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)   // commit 2
        graft.sources.GenTable.read(spark, tmp).get
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type"), col("value"), col("props"),
            col("bucket").cast("int").as("bucket"))
      }
    }
  )

  override def oracles: Map[String, String] = Map(
    "e01_hourly_windows" ->
      """SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin,
    "e02_sessions" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |    lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)) AS prev_ts
        |  FROM events),
        |flagged AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |      OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(prev_ts)) AS BIGINT) > 1800
        |    THEN 1 ELSE 0 END AS new_session
        |  FROM e),
        |numbered AS (
        |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_seq
        |  FROM flagged)
        |SELECT user_id, user_id || '-' || session_seq AS session_id,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS session_value,
        |  min(ts) AS session_start
        |FROM numbered
        |GROUP BY user_id, session_id""".stripMargin,
    "e03_props_json" ->
      """SELECT event_type,
        |  avg(TRY_CAST(json_extract_string(props, '$.k') AS INT)) AS avg_k,
        |  max(TRY_CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    // derived from the JSON itself (json_keys), not the fixture's single-key
    // shape: any key set, a null/malformed props (→ NULL entries, like
    // Spark's null map through map_concat), and the etype-key collision
    // (map_concat last-wins) all mirror the Spark semantics
    "e04_props_map" ->
      """WITH base AS (
        |  SELECT event_id, event_type, props,
        |    CASE WHEN props IS NULL OR NOT json_valid(props) THEN NULL
        |         ELSE json_keys(props) END AS jk
        |  FROM events),
        |ent AS (
        |  SELECT event_id, props,
        |    CASE WHEN jk IS NULL THEN NULL
        |         ELSE list_sort(
        |           list_transform(list_filter(jk, kk -> kk != 'etype'),
        |             kk -> kk || '=' || kk || ':' || json_extract_string(props, kk))
        |           || ['etype=etype:' || event_type]) END AS entries
        |  FROM base)
        |SELECT event_id,
        |  CAST(len(entries) AS INT) AS n_props,
        |  TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k,
        |  CASE WHEN entries IS NULL THEN '' ELSE array_to_string(entries, ',') END
        |    AS props_canon
        |FROM ent""".stripMargin,
    "e05_asof_purchase_click" ->
      """SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts, p.value,
        |  (SELECT max(CAST(c.ts AS TIMESTAMP)) FROM events c
        |   WHERE c.user_id = p.user_id AND c.event_type = 'click'
        |     AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)) AS last_click_ts
        |FROM events p WHERE p.event_type = 'purchase'""".stripMargin,
    // the multi-value carry: the matched click re-derived whole-row by a
    // correlated LATERAL top-1 (ORDER BY ts DESC LIMIT 1 — tie-free on
    // this fixture, see the query comment)
    "e17_asof_merge_multi" ->
      """SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts, p.value,
        |  c.last_click_ts, c.click_value, c.click_event_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN LATERAL (
        |  SELECT CAST(c.ts AS TIMESTAMP) AS last_click_ts,
        |    c.value AS click_value, c.event_id AS click_event_id
        |  FROM events c
        |  WHERE c.user_id = p.user_id AND c.event_type = 'click'
        |    AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
        |  ORDER BY CAST(c.ts AS TIMESTAMP) DESC LIMIT 1) c ON TRUE""".stripMargin,
    // identical oracle to e05: the salted operator must be indistinguishable
    "e13_asof_salted" ->
      """SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts, p.value,
        |  (SELECT max(CAST(c.ts AS TIMESTAMP)) FROM events c
        |   WHERE c.user_id = p.user_id AND c.event_type = 'click'
        |     AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)) AS last_click_ts
        |FROM events p WHERE p.event_type = 'purchase'""".stripMargin,
    "e07_asof_forward" ->
      """SELECT c.event_id, c.user_id, CAST(c.ts AS TIMESTAMP) AS ts,
        |  (SELECT min(CAST(p.ts AS TIMESTAMP)) FROM events p
        |   WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
        |     AND epoch(CAST(p.ts AS TIMESTAMP)) >= epoch(CAST(c.ts AS TIMESTAMP))
        |     AND epoch(CAST(p.ts AS TIMESTAMP)) - epoch(CAST(c.ts AS TIMESTAMP)) <= 3600.0
        |  ) AS next_purchase_ts
        |FROM events c WHERE c.event_type = 'click'""".stripMargin,
    "e08_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t_view
        |  FROM events WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_click
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click'
        |    AND CAST(e.ts AS TIMESTAMP) >= v.t_view
        |    AND CAST(floor(epoch(CAST(e.ts AS TIMESTAMP))) AS BIGINT)
        |      - CAST(floor(epoch(v.t_view)) AS BIGINT) <= 86400
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_purchase
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase'
        |    AND CAST(e.ts AS TIMESTAMP) >= c.t_click
        |    AND CAST(floor(epoch(CAST(e.ts AS TIMESTAMP))) AS BIGINT)
        |      - CAST(floor(epoch(c.t_click)) AS BIGINT) <= 86400
        |  GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM v) AS n_viewed,
        |  (SELECT count(*) FROM c) AS n_clicked,
        |  (SELECT count(*) FROM p) AS n_purchased""".stripMargin,
    "e14_scd2_history" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |chg AS (
        |  SELECT user_id, event_type, ts AS valid_from, event_id
        |  FROM e WHERE prev IS NULL OR prev <> event_type),
        |scd AS (
        |  SELECT user_id, event_type, valid_from,
        |    lead(valid_from) OVER (PARTITION BY user_id
        |      ORDER BY valid_from, event_id) AS valid_to
        |  FROM chg)
        |SELECT user_id, event_type, valid_from, valid_to,
        |  valid_to IS NULL AS is_current
        |FROM scd""".stripMargin,
    // e19: the raw ts value orders identically whether the fixture stores
    // timestamps or nanos-as-long, so no cast is needed in the lag order.
    "e19_markov_transitions" ->
      """WITH s AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |c AS (
        |  SELECT prev_type, event_type AS next_type,
        |    CAST(count(*) AS BIGINT) AS n_transitions
        |  FROM s WHERE prev_type IS NOT NULL
        |  GROUP BY prev_type, event_type)
        |SELECT prev_type, next_type, n_transitions,
        |  CAST(n_transitions * 1000000
        |    // sum(n_transitions) OVER (PARTITION BY prev_type)
        |    AS BIGINT) AS prob_micro
        |FROM c""".stripMargin,
    "e10_daily_fill" ->
      """WITH ev AS (
        |  SELECT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, value
        |  FROM events WHERE user_id < 50),
        |daily AS (
        |  SELECT user_id, day, count(*) AS n_events,
        |    CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS day_value
        |  FROM ev GROUP BY user_id, day),
        |grid AS (
        |  SELECT user_id, unnest(generate_series(min(day), max(day),
        |    INTERVAL 1 DAY)) AS day
        |  FROM ev GROUP BY user_id)
        |SELECT g.user_id, g.day,
        |  coalesce(d.n_events, 0) AS n_events,
        |  last_value(d.day_value IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
        |FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day""".stripMargin,
    "e09_cohort_retention" ->
      """WITH fs AS (
        |  SELECT user_id, date_trunc('day', min(CAST(ts AS TIMESTAMP))) AS cohort_day
        |  FROM events GROUP BY user_id)
        |SELECT fs.cohort_day, CAST(date_diff('day', fs.cohort_day,
        |    date_trunc('day', CAST(e.ts AS TIMESTAMP))) AS BIGINT) AS day_offset,
        |  count(DISTINCT e.user_id) AS n_active
        |FROM events e JOIN fs ON e.user_id = fs.user_id
        |GROUP BY 1, 2
        |HAVING day_offset <= 7""".stripMargin,
    "e06_daily_activity" ->
      """SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        |  count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(dayofweek(date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT) AS dow
        |FROM events
        |GROUP BY 1""".stripMargin,
    // Latest event per user over the same 1-in-7 slice: what the
    // streaming foreachBatch merge must converge to regardless of how
    // the input split into micro-batches.
    "e11_streaming_upsert" ->
      """SELECT user_id, event_id, ts, event_type, value, props,
        |  CAST(user_id % 4 AS INT) AS bucket
        |FROM (
        |  SELECT *, row_number() OVER (
        |      PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |  FROM events WHERE user_id % 7 = 0)
        |WHERE rn = 1""".stripMargin,
    // e12: hash-exact candidates verified by normalized-text equality on
    // the engine side — DuckDB re-derives the exact pair set from text
    // equality across the history/batch split (the verify step makes both
    // sides compute the same deterministic predicate; see the query doc
    // for why signature identity alone is probabilistic at J≈0.99).
    "e12_streaming_neardup" ->
      """WITH n AS (SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(lower(text),
        |      '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS nt
        |  FROM documents),
        |h AS (SELECT doc_id, nt FROM n WHERE doc_id < 125),
        |b AS (SELECT doc_id + 100000 AS doc_id, nt FROM n
        |    WHERE doc_id < 125 AND doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id, nt FROM n WHERE doc_id >= 125 AND doc_id < 250)
        |SELECT least(h.doc_id, b.doc_id) AS id_a,
        |  greatest(h.doc_id, b.doc_id) AS id_b,
        |  1.0 AS est_jaccard
        |FROM h JOIN b ON h.nt = b.nt""".stripMargin,
    // e20: median/MAD re-derived with DuckDB's interpolating median —
    // exact IEEE halves over integer counts, so med, mad, and the flag
    // all hash-match.
    "e20_daily_anomaly" ->
      """WITH d AS (
        |  SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1),
        |s AS (SELECT CAST(median(n_events) AS DOUBLE) AS med FROM d),
        |s2 AS (SELECT CAST(median(abs(n_events - (SELECT med FROM s)))
        |         AS DOUBLE) AS mad FROM d)
        |SELECT day, n_events, (SELECT med FROM s) AS med,
        |  (SELECT mad FROM s2) AS mad,
        |  abs(n_events - (SELECT med FROM s)) > (SELECT mad FROM s2) * 3
        |    AS is_anomaly
        |FROM d""".stripMargin,
    // e21: latest event per user over the 1-in-5 slice — what the ATOMIC
    // generational upsert's committed view must equal regardless of how
    // the replay split into micro-batches.
    "e21_atomic_upsert" ->
      """SELECT user_id, event_id, ts, event_type, value, props,
        |  CAST(user_id % 4 AS INT) AS bucket
        |FROM (
        |  SELECT *, row_number() OVER (
        |      PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |  FROM events WHERE user_id % 5 = 0)
        |WHERE rn = 1""".stripMargin,
    // e22: the CDC diff re-derived from first principles — snapshot 1
    // (early window, late-user cohort held out, latest-per-user) vs
    // snapshot 3 (full slice latest-per-user minus click-latest rows),
    // full-outer joined on the key, null-safe column compare, post-image
    // for insert/update and pre-image for delete.
    "e22_gentable_cdc" ->
      """WITH slice AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |    value, props, CAST(user_id % 4 AS INT) AS bucket
        |  FROM events WHERE user_id % 5 = 1),
        |s1 AS (
        |  SELECT user_id, event_id, ts, event_type, value, props, bucket FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM slice
        |    WHERE ts < TIMESTAMP '2024-01-08' AND user_id % 20 != 1)
        |  WHERE rn = 1),
        |s2 AS (
        |  SELECT user_id, event_id, ts, event_type, value, props, bucket FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM slice)
        |  WHERE rn = 1),
        |s3 AS (SELECT * FROM s2 WHERE event_type IS DISTINCT FROM 'click')
        |SELECT coalesce(n.user_id, o.user_id) AS user_id,
        |  CASE WHEN o.user_id IS NULL THEN 'insert'
        |       WHEN n.user_id IS NULL THEN 'delete'
        |       ELSE 'update' END AS _change,
        |  CASE WHEN n.user_id IS NULL THEN o.event_id ELSE n.event_id END AS event_id,
        |  CASE WHEN n.user_id IS NULL THEN o.ts ELSE n.ts END AS ts,
        |  CASE WHEN n.user_id IS NULL THEN o.event_type ELSE n.event_type END AS event_type,
        |  CASE WHEN n.user_id IS NULL THEN o.value ELSE n.value END AS value,
        |  CASE WHEN n.user_id IS NULL THEN o.props ELSE n.props END AS props,
        |  CASE WHEN n.user_id IS NULL THEN o.bucket ELSE n.bucket END AS bucket
        |FROM s1 o FULL OUTER JOIN s3 n ON o.user_id = n.user_id
        |WHERE o.user_id IS NULL OR n.user_id IS NULL OR NOT (
        |  o.event_id IS NOT DISTINCT FROM n.event_id AND
        |  o.ts IS NOT DISTINCT FROM n.ts AND
        |  o.event_type IS NOT DISTINCT FROM n.event_type AND
        |  o.value IS NOT DISTINCT FROM n.value AND
        |  o.props IS NOT DISTINCT FROM n.props AND
        |  o.bucket IS NOT DISTINCT FROM n.bucket)""".stripMargin,
    // e23: the stats-pruned range read must equal a plain range filter
    // over the slice — the skip is a pure read-path optimization.
    "e23_stats_skip_read" ->
      """SELECT event_id, ts, user_id, event_type, value, props,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day
        |FROM events
        |WHERE user_id % 5 = 2 AND event_id BETWEEN 100 AND 700""".stripMargin,
    // e24: refresh == recompute — the CDC-refreshed view must equal the
    // view recomputed from scratch over snapshot 2 (the full slice's
    // latest-per-user rows), on the same decimal grid.
    "e24_cdc_view_refresh" ->
      """WITH s2 AS (
        |  SELECT event_type, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |    FROM events WHERE user_id % 5 = 4)
        |  WHERE rn = 1)
        |SELECT event_type, count(*) AS n_rows,
        |  CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS total_value
        |FROM s2 GROUP BY 1""".stripMargin,
    // e25: the conjunctive stats read must equal the two-predicate filter.
    "e25_multi_range_read" ->
      """SELECT event_id, ts, user_id, event_type, value, props,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day
        |FROM events
        |WHERE user_id % 5 = 3 AND event_id BETWEEN 100 AND 800
        |  AND user_id BETWEEN 0 AND 400""".stripMargin,
    // e26: the maintained view must equal the from-scratch view at the
    // final snapshot (full slice latest-per-user minus 'error' rows).
    "e26_materialized_view" ->
      """WITH s AS (
        |  SELECT event_type, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |    FROM events WHERE user_id % 7 = 3)
        |  WHERE rn = 1 AND event_type IS DISTINCT FROM 'error')
        |SELECT event_type, count(*) AS n_rows,
        |  CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS total_value
        |FROM s GROUP BY 1""".stripMargin,
    // e27: the partially-recomputed min/max view must equal the view
    // recomputed from scratch at the final snapshot (latest-per-user
    // rows surviving the value>50 takedown; NULL values survive — SQL
    // DELETE semantics).
    "e27_minmax_view_refresh" ->
      """WITH s AS (
        |  SELECT event_type, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |    FROM events WHERE user_id % 7 = 5)
        |  WHERE rn = 1 AND NOT coalesce(value > 50, FALSE))
        |SELECT event_type, min(value) AS v_min, max(value) AS v_max,
        |  count(*) AS n_rows
        |FROM s GROUP BY 1""".stripMargin,
    // e28: the evolved lake view from first principles — the
    // latest-per-user winner's ts decides whether the post-evolution
    // column carries the derived value or null (old-generation rows and
    // re-staged early rows both surface null; IEEE double * 0.9 is
    // bit-identical across engines).
    "e28_evolved_lake" ->
      """SELECT user_id, event_id, ts, event_type, value,
        |  CASE WHEN CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-16'
        |    THEN value * 0.9 END AS value_eur,
        |  CAST(user_id % 4 AS INT) AS bucket
        |FROM (
        |  SELECT *, row_number() OVER (
        |      PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |  FROM events WHERE user_id % 9 = 2)
        |WHERE rn = 1""".stripMargin,
    // e29: the mixed view must equal all five aggregates recomputed from
    // scratch at the final snapshot (latest-per-user rows surviving the
    // value>150 takedown; NULL values survive — SQL DELETE semantics).
    "e29_mixed_view" ->
      """WITH s AS (
        |  SELECT event_type, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |    FROM events WHERE user_id % 9 = 4)
        |  WHERE rn = 1 AND NOT coalesce(value > 150, FALSE))
        |SELECT event_type, count(*) AS n_rows,
        |  CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS total_value,
        |  min(value) AS v_min, max(value) AS v_max
        |FROM s GROUP BY 1""".stripMargin,
    // e30: bloom pruning is pure metadata — the result must equal the
    // plain IN-filter over the raw events.
    "e30_bloom_lookup" ->
      """SELECT event_id, ts, user_id, event_type, value, props,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day
        |FROM events
        |WHERE user_id IN (1, 4, 8)""".stripMargin,
    // e31: the FileIndex-pruned scan is a pure read-path optimization —
    // the result must equal the plain conjunctive filter.
    "e31_indexed_scan" ->
      """SELECT event_id, ts, user_id, event_type, value, props,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day
        |FROM events
        |WHERE strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') >= '2024-01-10'
        |  AND event_id >= 500
        |  AND user_id IN (3, 7, 11, 42, 57, 101)""".stripMargin,
    // e32: the streamed CDC replica must equal the final source snapshot —
    // latest-per-user over the slice, minus users whose latest is a click
    // (the takedown), exactly e22's s3 frame on the 1-in-9(=7) slice.
    "e32_cdc_replica" ->
      """WITH slice AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |    value, props, CAST(user_id % 4 AS INT) AS bucket
        |  FROM events WHERE user_id % 9 = 7),
        |s2 AS (
        |  SELECT user_id, event_id, ts, event_type, value, props, bucket FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM slice)
        |  WHERE rn = 1)
        |SELECT user_id, event_id, ts, event_type, value, props, bucket
        |FROM s2 WHERE event_type IS DISTINCT FROM 'click'""".stripMargin,
    // e33: the declarative-pipeline replica must equal the final source
    // snapshot — e32's frame on the 1-in-9(=8) slice with the 'view'
    // takedown.
    "e33_pipeline_replica" ->
      """WITH slice AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |    value, props, CAST(user_id % 4 AS INT) AS bucket
        |  FROM events WHERE user_id % 9 = 8),
        |s2 AS (
        |  SELECT user_id, event_id, ts, event_type, value, props, bucket FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM slice)
        |  WHERE rn = 1)
        |SELECT user_id, event_id, ts, event_type, value, props, bucket
        |FROM s2 WHERE event_type IS DISTINCT FROM 'view'""".stripMargin,
    // e34: versionAsOf must surface exactly the superseded commit-1 state
    // — the early-window latest-per-user merge, whatever landed later.
    "e34_time_travel" ->
      """SELECT user_id, event_id, ts, event_type, value, props, bucket FROM (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |    value, props, CAST(user_id % 4 AS INT) AS bucket,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE user_id % 9 = 5 AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-16')
        |WHERE rn = 1""".stripMargin,
    // e35: ground truth for the manifest-answered aggregates — the
    // lifecycle's committed state (latest-per-user, click-latest rows
    // deleted) recomputed FROM DATA, then the same per-bucket
    // count/min/max the metadata rewrite serves from `#rows`/`#stat`.
    "e35_metadata_agg" ->
      """WITH slice AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |    CAST(user_id % 4 AS INT) AS bucket
        |  FROM events WHERE user_id % 5 = 3),
        |latest AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM slice)
        |  WHERE rn = 1),
        |kept AS (SELECT * FROM latest WHERE event_type IS DISTINCT FROM 'click')
        |SELECT bucket, count(*) AS n_rows, min(event_id) AS min_event_id,
        |  max(event_id) AS max_event_id
        |FROM kept GROUP BY bucket""".stripMargin,
    // e36: restore(1) must make the committed view the commit-1 snapshot
    // again — the early-window latest-per-user merge, with the later
    // upsert and the takedown delete rolled back.
    "e36_restore" ->
      """SELECT user_id, event_id, ts, event_type, value, props, bucket FROM (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |    value, props, CAST(user_id % 4 AS INT) AS bucket,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |  FROM events
        |  WHERE user_id % 7 = 3 AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-14')
        |WHERE rn = 1""".stripMargin,
    // e37: the gates are row-local, so batch-sequential enforcement ==
    // filtering the slice first — latest-per-user over PASSING rows only
    // (event_id not divisible by 10, event_type not 'click').
    "e37_expectations" ->
      """WITH passing AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |    value, props, CAST(user_id % 4 AS INT) AS bucket
        |  FROM events
        |  WHERE user_id % 7 = 5 AND event_id % 10 != 0
        |    AND event_type IS DISTINCT FROM 'click')
        |SELECT user_id, event_id, ts, event_type, value, props, bucket FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM passing)
        |WHERE rn = 1""".stripMargin,
    // e38: the lineage's statistics recomputed from data — snapshot 1 is
    // the early-window latest-per-user merge, snapshot 2 the full slice,
    // snapshot 3 drops purchase-latest rows, snapshot 4 restores 2. The
    // op names are the lifecycle's contract.
    "e38_history" ->
      """WITH slice AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |    CAST(user_id % 4 AS INT) AS bucket
        |  FROM events WHERE user_id % 9 = 7),
        |s1 AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM slice WHERE ts < TIMESTAMP '2024-01-14')
        |  WHERE rn = 1),
        |s2 AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM slice)
        |  WHERE rn = 1),
        |s3 AS (SELECT * FROM s2 WHERE event_type IS DISTINCT FROM 'purchase')
        |SELECT CAST(1 AS BIGINT) AS commit_id, 'upsert' AS op,
        |  CAST(count(DISTINCT bucket) AS INT) AS n_partitions,
        |  count(*) AS n_rows FROM s1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'upsert',
        |  CAST(count(DISTINCT bucket) AS INT), count(*) FROM s2
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'delete',
        |  CAST(count(DISTINCT bucket) AS INT), count(*) FROM s3
        |UNION ALL
        |SELECT CAST(4 AS BIGINT), 'restore',
        |  CAST(count(DISTINCT bucket) AS INT), count(*) FROM s2""".stripMargin,
    // e39: layout is a storage concern — the committed content after
    // day-era ingest, re-partitioning, and a bucket-era takedown is just
    // the slice minus the deleted class.
    "e39_partition_evolution" ->
      """SELECT user_id, event_id, ts, event_type, value, props,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  CAST(user_id % 4 AS INT) AS bucket
        |FROM events
        |WHERE user_id % 9 = 2
        |  AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-04'
        |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-18'
        |  AND event_type IS DISTINCT FROM 'click'""".stripMargin,
    // e40: two appends through the format doorway = latest-per-user over
    // the whole slice, exactly the upsert algebra.
    "e40_batch_write" ->
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |  value, props, CAST(user_id % 4 AS INT) AS bucket
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |  FROM events WHERE user_id % 9 = 4)
        |WHERE rn = 1""".stripMargin,
    // e41: MERGE arm algebra from first principles — base(pre-cut latest)
    // vs src(post-cut latest purchase): matched & big-value deletes,
    // matched & small-value updates to the src row, unmatched src rows
    // insert whatever their value, untouched base rows survive.
    "e41_merge" ->
      """WITH slice AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |    value, props, CAST(user_id % 4 AS INT) AS bucket
        |  FROM events WHERE user_id % 9 = 5),
        |base AS (
        |  SELECT user_id, event_id, ts, event_type, value, props, bucket
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM slice WHERE ts < TIMESTAMP '2024-01-14') WHERE rn = 1),
        |src AS (
        |  SELECT user_id, event_id, ts, event_type, value, props, bucket
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM slice WHERE ts >= TIMESTAMP '2024-01-14'
        |      AND event_type = 'purchase') WHERE rn = 1)
        |SELECT b.* FROM base b
        |WHERE b.user_id NOT IN (SELECT user_id FROM src)
        |UNION ALL
        |SELECT s.* FROM src s
        |WHERE s.user_id IN (SELECT user_id FROM base) AND s.value <= 450.0
        |UNION ALL
        |SELECT s.* FROM src s
        |WHERE s.user_id NOT IN (SELECT user_id FROM base)""".stripMargin,
    // e42: pruning is a read-path optimization; the answer is the IN.
    "e42_string_lookup" ->
      """SELECT doc_id, 'doc-' || doc_id AS doc_key, text, lang, source,
        |  n_chars
        |FROM documents
        |WHERE 'doc-' || doc_id IN
        |  ('doc-3', 'doc-17', 'doc-41', 'doc-999983')""".stripMargin,
    // e43: the composite layout is a storage concern — the committed
    // content after retention and takedown deletes is the slice minus
    // the dropped days minus the one user.
    "e43_composite_partitions" ->
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |  value, props,
        |  strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  CAST(user_id % 4 AS INT) AS bucket
        |FROM events
        |WHERE user_id % 9 = 8
        |  AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-08'
        |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-15'
        |  AND strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') >= '2024-01-10'
        |  AND NOT (user_id = 17 AND user_id % 4 = 1)""".stripMargin,
    // e44: the statement algebra, recomputed — DELETE filter, UPDATE's
    // old-row RHS, then MERGE's matched/unmatched arm selection
    "e44_sql_dml" ->
      """WITH slice AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |    value, props, CAST(user_id % 4 AS INT) AS bucket
        |  FROM events WHERE user_id % 9 = 3),
        |d1 AS (
        |  SELECT * FROM slice
        |  WHERE NOT (event_type = 'view' AND value < 50)),
        |d2 AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN event_type = 'click' THEN value * 2 ELSE value END
        |      AS value,
        |    props, bucket
        |  FROM d1),
        |src AS (
        |  SELECT user_id,
        |    CASE WHEN user_id % 2 = 0 THEN event_id + 1000000000
        |         ELSE event_id END AS event_id,
        |    ts, event_type,
        |    CASE WHEN value > 400 THEN -value ELSE value * 3 END AS value,
        |    props, bucket
        |  FROM slice WHERE event_type = 'purchase')
        |SELECT d2.user_id, d2.event_id, d2.ts, d2.event_type, d2.value,
        |  d2.props, d2.bucket
        |FROM d2 WHERE d2.event_id NOT IN (SELECT event_id FROM src)
        |UNION ALL
        |SELECT s.user_id, s.event_id, s.ts, s.event_type, s.value,
        |  s.props, s.bucket
        |FROM src s
        |WHERE s.event_id IN (SELECT event_id FROM d2) AND s.value >= 0
        |UNION ALL
        |SELECT s.user_id, s.event_id, s.ts, s.event_type, s.value,
        |  s.props, s.bucket
        |FROM src s
        |WHERE s.event_id NOT IN (SELECT event_id FROM d2)""".stripMargin,
    // e45: catalog names are addressing, not semantics — the statement
    // algebra over documents, recomputed
    "e45_catalog_sql" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN lang = 'en' THEN n_chars + 1
        |                ELSE n_chars END) AS BIGINT) AS total_chars
        |FROM documents
        |WHERE n_chars >= 200
        |GROUP BY lang""".stripMargin,
    // e46: the INSERT algebra — replaced keys take the newer adjusted
    // row (the contract's latest-per-key merge), new keys append, the
    // rest of the slice survives untouched
    "e46_sql_insert" ->
      """WITH slice AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |    value, props, CAST(user_id % 4 AS INT) AS bucket
        |  FROM events WHERE user_id % 9 = 6),
        |ins_new AS (
        |  SELECT user_id, event_id + 2000000000 AS event_id,
        |    ts + INTERVAL 90 DAY AS ts, 'backfill' AS event_type,
        |    value, props, bucket
        |  FROM slice WHERE event_type = 'purchase'),
        |ins_repl AS (
        |  SELECT user_id, event_id, ts + INTERVAL 90 DAY AS ts,
        |    'adjusted' AS event_type, value * 2 AS value, props, bucket
        |  FROM slice WHERE event_type = 'click')
        |SELECT * FROM slice
        |WHERE event_id NOT IN (SELECT event_id FROM ins_repl)
        |UNION ALL SELECT * FROM ins_repl
        |UNION ALL SELECT * FROM ins_new""".stripMargin,
    // e47: version 1 is the CTAS select itself; the head is that plus
    // the INSERT batch minus the DELETE predicate, then an ADD COLUMNS
    // (old rows read null) plus a scored backfill batch — quality values
    // are whole-number doubles, so sum/avg are exact and order-free
    "e47_catalog_timetravel" ->
      """WITH src AS (
        |  SELECT doc_id, text, lang, source, n_chars FROM documents),
        |v1 AS (
        |  SELECT lang, count(*) AS n_docs_v1 FROM src GROUP BY lang),
        |cur0 AS (
        |  SELECT * FROM src
        |  UNION ALL
        |  SELECT doc_id + 100000000, text, lang, source, n_chars + 7
        |  FROM src WHERE source = 'web'),
        |cur1 AS (
        |  SELECT doc_id, lang, n_chars, CAST(NULL AS DOUBLE) AS quality
        |  FROM cur0 WHERE n_chars >= 200
        |  UNION ALL
        |  SELECT doc_id + 200000000, lang, n_chars + 11,
        |    CAST(n_chars + 500 AS DOUBLE)
        |  FROM src WHERE source = 'src3'),
        |cur AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |    count(quality) AS n_scored, avg(quality) AS avg_quality
        |  FROM cur1 GROUP BY lang)
        |SELECT v1.lang, v1.n_docs_v1, cur.n_docs, cur.total_chars,
        |  cur.n_scored, cur.avg_quality
        |FROM v1 LEFT JOIN cur ON v1.lang = cur.lang""".stripMargin,
    // e48: the day-region algebra — days before 2024-01-10 and days
    // 2024-01-11..12 untouched, 2024-01-10 restated (value*10), days >=
    // 2024-01-13 backfilled (value+0.5); event ids are unique, so the
    // upsert seeding is the slice itself
    "e48_replace_where" ->
      """WITH src AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    event_type, value, props,
        |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day
        |  FROM events
        |  WHERE user_id % 9 = 1
        |    AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-08'
        |    AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-15')
        |SELECT user_id, event_id, ts, event_type, value, props, day
        |FROM src WHERE day <> '2024-01-10' AND day < '2024-01-13'
        |UNION ALL
        |SELECT user_id, event_id, ts, 'restated' AS event_type,
        |  value * 10 AS value, props, day
        |FROM src WHERE day = '2024-01-10'
        |UNION ALL
        |SELECT user_id, event_id, ts, 'backfill' AS event_type,
        |  value + 0.5 AS value, props, day
        |FROM src WHERE day >= '2024-01-13'""".stripMargin,
    // e49: matched survivors recompute value/event_type through the
    // join (delete-first for small source values); unmatched source
    // rows (odd users' shifted ids) insert whole
    "e49_merge_partial" ->
      """WITH slice AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |    event_type, value, props, CAST(user_id % 4 AS INT) AS bucket
        |  FROM events WHERE user_id % 9 = 4),
        |src AS (
        |  SELECT user_id,
        |    CASE WHEN user_id % 2 = 1 THEN event_id + 1000000000
        |         ELSE event_id END AS event_id,
        |    ts, event_type, value, props, bucket
        |  FROM slice WHERE event_type = 'purchase')
        |SELECT t.user_id, t.event_id, t.ts,
        |  CASE WHEN s.event_id IS NOT NULL THEN 'adjusted'
        |       ELSE t.event_type END AS event_type,
        |  CASE WHEN s.event_id IS NOT NULL THEN t.value + s.value
        |       ELSE t.value END AS value,
        |  t.props, t.bucket
        |FROM slice t LEFT JOIN src s ON t.event_id = s.event_id
        |WHERE s.event_id IS NULL OR s.value >= 20
        |UNION ALL
        |SELECT user_id, event_id, ts, event_type, value, props, bucket
        |FROM src
        |WHERE event_id NOT IN (SELECT event_id FROM slice)""".stripMargin
  )
}
