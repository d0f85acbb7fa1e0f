package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.operators.{AsOfJoin, Sessionize}

class OperatorSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("AsOfJoin.backward attaches latest right value at or before left time") {
    import spark.implicits._
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "a"),
      (1L, ts("2024-01-01 12:00:00"), "b"),
      (2L, ts("2024-01-01 09:00:00"), "c")
    ).toDF("k", "t", "payload")
    val right = Seq(
      (1L, ts("2024-01-01 09:30:00"), 10.0),
      (1L, ts("2024-01-01 11:00:00"), 20.0),
      (1L, ts("2024-01-01 12:00:00"), 30.0), // simultaneous with left 'b' → visible
      (2L, ts("2024-01-01 09:30:00"), 40.0)  // after left 'c' → invisible
    ).toDF("k", "rt", "rv")

    val out = AsOfJoin.backward(left, right, Seq("k"), "t", "rt", Seq(("rv", "last_rv")))
      .collect().map(r => (r.getAs[String]("payload"), Option(r.getAs[Any]("last_rv")))).toMap

    assert(out("a") === Some(10.0))
    assert(out("b") === Some(30.0)) // inclusive tie
    assert(out("c") === None)       // nothing at or before
  }

  test("AsOfJoin.forward attaches earliest right value at or after left time, with tolerance") {
    import spark.implicits._
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00"), "a"),
      (1L, ts("2024-01-01 12:00:00"), "b"), // tie with a right row → visible
      (1L, ts("2024-01-01 13:00:00"), "c"), // next right is 2h away → beyond tolerance
      (2L, ts("2024-01-01 09:00:00"), "d")  // no right at or after
    ).toDF("k", "t", "payload")
    val right = Seq(
      (1L, ts("2024-01-01 10:30:00"), 10.0),
      (1L, ts("2024-01-01 12:00:00"), 20.0),
      (1L, ts("2024-01-01 15:00:00"), 30.0),
      (2L, ts("2024-01-01 08:00:00"), 40.0) // before left 'd' → invisible
    ).toDF("k", "rt", "rv")

    val out = AsOfJoin.forward(left, right, Seq("k"), "t", "rt",
      Seq(("rv", "next_rv")), toleranceSeconds = Some(3600.0))
      .collect().map(r => (r.getAs[String]("payload"), Option(r.getAs[Any]("next_rv")))).toMap

    assert(out("a") === Some(10.0)) // 30 min ahead, inside tolerance
    assert(out("b") === Some(20.0)) // inclusive tie
    assert(out("c") === None)       // match exists but 2h away → nulled
    assert(out("d") === None)       // nothing at or after

    // without tolerance, 'c' sees the 15:00 row
    val noTol = AsOfJoin.forward(left, right, Seq("k"), "t", "rt", Seq(("rv", "next_rv")))
      .collect().map(r => (r.getAs[String]("payload"), Option(r.getAs[Any]("next_rv")))).toMap
    assert(noTol("c") === Some(30.0))
  }

  test("AsOfJoin.backwardSalted returns exactly backward's rows on a hot key") {
    import spark.implicits._
    // one hot key (0) with many left rows — the skew shape the salting splits
    val left = (0 until 500).map(i =>
      (if (i < 450) 0L else i.toLong % 7, ts("2024-01-01 00:00:00"), i.toLong))
      .zipWithIndex.map { case ((k, t0, pay), i) =>
        (k, new Timestamp(t0.getTime + i * 61000L), pay) }
      .toDF("k", "t", "payload")
    val right = (0 until 60).map(i =>
      (i.toLong % 7, ts("2024-01-01 00:10:00"), i * 1.5))
      .zipWithIndex.map { case ((k, t0, v), i) =>
        (k, new Timestamp(t0.getTime + i * 307000L), v) }
      .toDF("k", "rt", "rv")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        Option(r.getAs[Any]("last_rv")))).toSet
    val plain = canon(AsOfJoin.backward(left, right, Seq("k"), "t", "rt",
      Seq(("rv", "last_rv"))))
    val salted = canon(AsOfJoin.backwardSalted(left, right, Seq("k"), "t", "rt",
      Seq(("rv", "last_rv")), salts = 8))
    assert(salted === plain)
    // and with tolerance applied on both paths
    val plainTol = canon(AsOfJoin.backward(left, right, Seq("k"), "t", "rt",
      Seq(("rv", "last_rv")), toleranceSeconds = Some(900.0)))
    val saltedTol = canon(AsOfJoin.backwardSalted(left, right, Seq("k"), "t", "rt",
      Seq(("rv", "last_rv")), salts = 8, toleranceSeconds = Some(900.0)))
    assert(saltedTol === plainTol)
    assert(plainTol !== plain) // tolerance actually bites on this data
  }

  private def asofCanon(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> Option(r.getAs[String]("v"))).toMap

  test("AsOfJoin.backward edge semantics: ties, null right times, unmatched keys") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, "2024-01-01 10:00:00"),
      (2L, 10L, "2024-01-01 09:00:00"), // before every right row
      (3L, 20L, "2024-01-01 10:00:00"), // key with no right rows
      (4L, 30L, "2024-01-01 10:00:00")
    ).toDF("id", "k", "ts").withColumn("ts", col("ts").cast("timestamp"))
    val right = Seq(
      (10L, "2024-01-01 10:00:00", "a"), // tie at left 1's time
      (10L, "2024-01-01 10:00:00", "b"), // tie — the content hash decides
      (10L, "2024-01-01 09:30:00", "c"),
      (30L, null, "z") // null right time: "-infinity" — matches without
                       // tolerance, never within one
    ).toDF("k", "rts", "v").withColumn("rts", col("rts").cast("timestamp"))
    val out = asofCanon(AsOfJoin.backward(left, right, Seq("k"), "ts", "rts",
      Seq(("v", "v"))))
    assert(out(2L).isEmpty, "left row before all right rows matches nothing")
    assert(out(3L).isEmpty, "unmatched key yields null")
    assert(out(4L) === Some("z"), "null right time acts as -infinity")
    assert(out(1L).nonEmpty && Set("a", "b").contains(out(1L).get))
    val tol = asofCanon(AsOfJoin.backward(left, right, Seq("k"), "ts", "rts",
      Seq(("v", "v")), toleranceSeconds = Some(1e9)))
    assert(tol(4L).isEmpty, "null-time match is outside every tolerance")
    assert(tol(1L) === out(1L))
  }

  test("AsOfJoin.forward edge semantics: inclusive >=, shared next right, none after") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, "2024-01-01 10:00:00"), // tie with a right row at the same time
      (2L, 10L, "2024-01-01 09:00:00"), // shares left 1's next right
      (3L, 10L, "2024-01-01 23:00:00")  // after every right: no match
    ).toDF("id", "k", "ts").withColumn("ts", col("ts").cast("timestamp"))
    val right = Seq(
      (10L, "2024-01-01 10:00:00", "a"),
      (10L, "2024-01-01 10:00:00", "b"), // tie — min-hash winner
      (10L, "2024-01-01 12:00:00", "late")
    ).toDF("k", "rts", "v").withColumn("rts", col("rts").cast("timestamp"))
    val out = asofCanon(AsOfJoin.forward(left, right, Seq("k"), "ts", "rts",
      Seq(("v", "v"))))
    assert(out(1L).nonEmpty && Set("a", "b").contains(out(1L).get),
      "simultaneous right row is visible (inclusive >=)")
    assert(out(2L) === out(1L), "an earlier left matches the same next right")
    assert(out(3L).isEmpty, "left after all rights matches nothing")
  }

  test("AsOfJoin.backward on degenerate inputs: per-column carry, nulls-first times") {
    import spark.implicits._
    val left = Seq((1L, 10L, Some("2024-01-01 12:00:00")),
      (2L, 20L, None))
      .toDF("id", "k", "ts").withColumn("ts", col("ts").cast("timestamp"))
    val right = Seq(
      (10L, Some("2024-01-01 10:00:00"), Some("x")),
      (10L, Some("2024-01-01 11:00:00"), None), // later match, null value
      (20L, None, Some("z")) // null right time for the null-left-time key
    ).toDF("k", "rts", "v").withColumn("rts", col("rts").cast("timestamp"))
    val out = asofCanon(AsOfJoin.backward(left, right, Seq("k"), "ts", "rts",
      Seq(("v", "v"))))
    // last(ignoreNulls) skips the null value of the later match
    assert(out(1L) === Some("x"), "the carry stitches past a null value")
    // null times sort first, so a null left time sees a null right time
    assert(out(2L) === Some("z"), "nulls-first frame matches null to null")
  }

  test("AsOfJoin.backward over string + multi-column keys, including NULL keys") {
    import spark.implicits._
    val left = Seq(
      (1L, Some("alice"), 1L, "2024-01-01 10:00:00"),
      (2L, Some("alice"), 2L, "2024-01-01 10:00:00"), // same k1, other k2
      (3L, Some("bob"), 1L, "2024-01-01 12:00:00"),
      (4L, None, 1L, "2024-01-01 12:00:00"), // NULL string key
      (5L, Some("carol"), 9L, "2024-01-01 12:00:00")) // unmatched
      .toDF("id", "k1", "k2", "ts").withColumn("ts", col("ts").cast("timestamp"))
    val right = Seq(
      (Some("alice"), 1L, "2024-01-01 09:00:00", "a1"),
      (Some("alice"), 1L, "2024-01-01 09:30:00", "a2"), // later: wins for id 1
      (Some("alice"), 2L, "2024-01-01 09:00:00", "b"),
      (Some("bob"), 1L, "2024-01-01 11:00:00", "c"),
      (None, 1L, "2024-01-01 11:30:00", "n")) // NULL key matches NULL key
      .toDF("k1", "k2", "rts", "v").withColumn("rts", col("rts").cast("timestamp"))
    val m = asofCanon(AsOfJoin.backward(
      left, right, Seq("k1", "k2"), "ts", "rts", Seq(("v", "v"))))
    assert(m(1L) === Some("a2") && m(2L) === Some("b") && m(3L) === Some("c"))
    assert(m(4L) === Some("n"), "null keys must group together")
    assert(m(5L).isEmpty)
  }

  test("AsOfJoin backward and forward are deterministic across partitionings") {
    val t = graft.sources.Tables(spark, sf)
    val purchases = t.events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = t.events.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    def run(parts: Int, forwardDir: Boolean) = {
      val (l, r) = (purchases.repartition(parts),
        clicks.withColumnRenamed("event_id", "click_id")
          .withColumnRenamed("ts", "click_ts").repartition(parts + 3))
      val vals = Seq(("click_id", "click_id"))
      val out =
        if (forwardDir) AsOfJoin.forward(l, r, Seq("user_id"), "ts", "click_ts", vals)
        else AsOfJoin.backward(l, r, Seq("user_id"), "ts", "click_ts", vals)
      out.collect().map(row => row.getLong(0) -> Option(row.getAs[Any]("click_id")))
        .toMap
    }
    for (fwd <- Seq(false, true)) {
      val two = run(2, fwd)
      assert(two.values.exists(_.nonEmpty), s"forward=$fwd matched nothing")
      assert(run(11, fwd) === two, s"forward=$fwd")
    }
  }

  test("Sessionize.byGap splits on gaps strictly greater than the threshold") {
    import spark.implicits._
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-01 10:20:00")), // 20 min gap → same session (gap=30m)
      (1L, ts("2024-01-01 11:00:00")), // 40 min gap → new session
      (2L, ts("2024-01-01 10:00:00"))
    ).toDF("user_id", "t")
    val out = Sessionize.byGap(ev, "user_id", "t", 1800L)
      .select("user_id", "t", "session_seq").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2))).toSet
    assert(out === Set(
      (1L, "2024-01-01 10:00:00.0", 0L),
      (1L, "2024-01-01 10:20:00.0", 0L),
      (1L, "2024-01-01 11:00:00.0", 1L),
      (2L, "2024-01-01 10:00:00.0", 0L)
    ))
  }

  test("sessionize lag+running-sum share one Window operator in the plan") {
    val t = graft.sources.Tables(spark, sf)
    val plan = Sessionize.byGap(t.events, "user_id", "ts", 1800L)
      .queryExecution.executedPlan.toString
    assert(plan.split("\\bWindow\\b").length - 1 <= 2, s"unexpected extra Window ops:\n$plan")
  }

  test("a07 exact counts match a recomputation and HLL bounds hold") {
    val t = graft.sources.Tables(spark, sf01)
    val rows = SparkEntry.queries("a07_approx_distinct")(spark, sf01)
      .collect().map(r => r.getAs[String]("l_returnflag") ->
        ((r.getAs[Long]("exact_parts"),
          r.getAs[Boolean]("parts_within_10pct"),
          r.getAs[Boolean]("orders_within_10pct")))).toMap
    val exact = t.lineitem.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, ex) =>
      val (parts, pOk, oOk) = rows(k)
      assert(parts === ex, s"flag $k: exact_parts=$parts recomputed=$ex")
      assert(pOk && oOk, s"flag $k: HLL estimate outside the in-query 10% bound")
    }
  }

  test("schema_of_json / map_filter / map_values close the F5/F6 surface") {
    val row = spark.range(1).select(
      schema_of_json(lit("""{"k": 42}""")).as("s"),
      map_values(map_filter(
        map(lit("a"), lit(1), lit("b"), lit(2)), (_, v) => v > 1)).as("mv")
    ).head
    assert(row.getString(0).toLowerCase.contains("k"), row.getString(0)) // STRUCT<k: BIGINT>
    assert(row.getSeq[Int](1) === Seq(2))
  }

  test("e04 props map path agrees with e03 get_json_object path per event") {
    val e04 = SparkEntry.queries("e04_props_map")(spark, sf)
    val total = graft.sources.Tables(spark, sf).events.count()
    assert(e04.count() === total) // one canonicalized row per event
    // the map-extracted k must agree with the get_json_object extraction
    val viaJson = graft.sources.Tables(spark, sf).events
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k_json"))
    val mismatches = e04.join(viaJson, "event_id")
      .filter(!(col("k") <=> col("k_json"))).count()
    assert(mismatches === 0L)
  }

  test("count-min sketch: one-sided error, exact on sparse vocab, merges cellwise") {
    import spark.implicits._
    import graft.operators.Sketches
    val a = Seq((1L, "x x y"), (2L, "y z x")).toDF("doc_id", "text")
    val b = Seq((3L, "z z q x")).toDF("doc_id", "text")
    val full = a.unionByName(b)
    def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    // 4 tokens in 8192 buckets: estimates are exact, absent token reads 0
    val est = Sketches.cmsEstimate(
      Sketches.countMinSketch(full, "text"),
      Seq("x", "y", "z", "q", "absent").toDF("tok"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est === Map("x" -> 4L, "y" -> 2L, "z" -> 3L, "q" -> 1L, "absent" -> 0L))
    // merge of per-batch sketches == sketch of the union, cell for cell
    assert(cells(Sketches.mergeCountMin(
        Sketches.countMinSketch(a, "text"), Sketches.countMinSketch(b, "text")))
      === cells(Sketches.countMinSketch(full, "text")))
  }

  test("misra-gries survives pruning pressure and recounts the true top-k") {
    import spark.implicits._
    import graft.operators.Sketches
    // one heavy token among 40 singletons, crammed into ONE partition
    // with k=2 (cap 4) so the prune path fires repeatedly
    val words = (1 to 40).flatMap(i => Seq(s"w$i", "heavy", "heavy"))
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text").coalesce(1)
    val cands = Sketches.mgCandidates(docs, "text", k = 2)
      .collect().map(_.getString(0)).toSet
    assert(cands.contains("heavy"),
      s"freq > N/k must survive batched decrements: $cands")
    assert(cands.size <= 4, s"summary stays within the 2k cap: $cands")
    // end-to-end: MG-gated recount equals the plain exact top-k
    val mg = Sketches.topKTokens(docs, "text", topK = 3, mgK = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(mg.head === (("heavy", 80L)))
  }

  test("RollupStore: merged disjoint batches equal the one-shot build, associatively") {
    import spark.implicits._
    import graft.operators.RollupStore
    val rows = (1L to 300L)
      .map(i => (i, s"t${i % 3}", (i % 7).toDouble + 0.25, i % 40))
      .toDF("event_id", "etype", "value", "user_id")
    val keys = Seq("etype")
    def p(df: org.apache.spark.sql.DataFrame) =
      RollupStore.partials(df, keys, "value", "user_id")
    val (a, b, c) = (rows.filter($"event_id" % 3 === 0),
      rows.filter($"event_id" % 3 === 1), rows.filter($"event_id" % 3 === 2))
    def fin(df: org.apache.spark.sql.DataFrame) =
      RollupStore.finalizeStore(df).orderBy("etype").collect().map(_.toSeq).toSeq
    val whole = fin(p(rows))
    // flat merge, left-nested merge, and permuted order all equal the
    // one-shot build — including the HLL estimate to the bit (register-max
    // union over disjoint inputs lands in the one-shot register state)
    assert(fin(RollupStore.merge(keys, Seq(p(a), p(b), p(c)))) === whole)
    assert(fin(RollupStore.merge(keys,
      Seq(RollupStore.merge(keys, Seq(p(a), p(b))), p(c)))) === whole)
    assert(fin(RollupStore.merge(keys, Seq(p(c), p(a), p(b)))) === whole)
    // merging with an empty batch is the identity
    val none = rows.filter($"event_id" < 0L)
    assert(fin(RollupStore.merge(keys, Seq(p(rows), p(none)))) === whole)
  }

  test("e19 transition matrix: counts conserve and probabilities sum to ~1") {
    val rows = SparkEntry.queries("e19_markov_transitions")(spark, sf).collect()
    assert(rows.nonEmpty)
    // per-user transitions = events - users (each user contributes
    // n_events - 1 lag pairs), so the matrix total must conserve it
    val t = graft.sources.Tables(spark, sf)
    val nEvents = t.events.count()
    val nUsers = t.events.select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n_transitions")).sum === nEvents - nUsers)
    // per-prev probabilities: floor quantization loses < 1 micro-unit per
    // row, so each row-sum lands in (1e6 - n_rows, 1e6]
    rows.groupBy(_.getAs[String]("prev_type")).foreach { case (_, rs) =>
      val s = rs.map(_.getAs[Long]("prob_micro")).sum
      assert(s <= 1000000L && s > 1000000L - rs.length)
    }
  }
}
