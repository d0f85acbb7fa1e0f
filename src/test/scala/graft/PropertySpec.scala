package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.TextFunctions
import graft.operators.Dedup

/** Algebraic-law property tests (SURVEY.md §5.3): relational identities and
  * signature-sketch guarantees over generated inputs, not hand-picked ones.
  * Plain ScalaCheck generators sampled with deterministic seeds (the
  * scalatest-plus bridge is not on the offline classpath).
  */
class PropertySpec extends SparkSpec {

  private lazy val lineitem = graft.sources.Tables(spark, sf).lineitem.cache()

  override def afterAll(): Unit = {
    // drop the cache: a cached full-table relation would otherwise be
    // plan-matched by OTHER suites' queries (PlanSpec asserts scan-level
    // column pruning, which a cache read hides)
    lineitem.unpersist(blocking = true)
    super.afterAll()
  }

  private def forAll[A](gen: Gen[A], n: Int = 8)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      f(gen.pureApply(Gen.Parameters.default, Seed(42L + i)))
    }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(ga, gb))(t => f(t._1, t._2))

  private def whenever(cond: Boolean)(f: => Unit): Unit = if (cond) f

  test("filter commutes with projection") {
    forAll(Gen.choose(0.0, 0.1)) { d =>
      val a = lineitem.filter(col("l_discount") >= d).select("l_orderkey", "l_discount").count()
      val b = lineitem.select("l_orderkey", "l_discount").filter(col("l_discount") >= d).count()
      assert(a === b)
    }
  }

  test("conjunctive filters compose: |A ∧ B| == filter-then-filter") {
    forAll(Gen.choose(1.0, 50.0), Gen.choose(0.0, 0.1)) { (q, d) =>
      val conj = lineitem.filter(col("l_quantity") >= q && col("l_discount") >= d).count()
      val seqd = lineitem.filter(col("l_quantity") >= q).filter(col("l_discount") >= d).count()
      assert(conj === seqd)
    }
  }

  test("union count additivity and distinct idempotence") {
    forAll(Gen.choose(1.0, 50.0)) { q =>
      val a = lineitem.filter(col("l_quantity") < q)
      val b = lineitem.filter(col("l_quantity") >= q)
      assert(a.count() + b.count() === lineitem.count())
      val dist = a.select("l_returnflag").distinct()
      assert(dist.distinct().count() === dist.count())
    }
  }

  test("keyed dedup is idempotent") {
    import spark.implicits._
    forAll(Gen.listOfN(30, Gen.zip(Gen.choose(1L, 10L), Gen.alphaStr)), n = 4) { rows =>
      whenever(rows.nonEmpty) {
        val df = rows.zipWithIndex
          .map { case ((k, s), i) => (i.toLong, k, s) }.toDF("id", "k", "s")
        val once = Dedup.exactByKey(df, Seq("k"), "id")
        val twice = Dedup.exactByKey(once, Seq("k"), "id")
        assert(once.collect().toSet === twice.collect().toSet)
        assert(once.select("k").distinct().count() === once.count())
      }
    }
  }

  test("MinHash signature agreement approximates Jaccard within 0.25 on random docs") {
    import spark.implicits._
    val wordGen = Gen.oneOf("spark", "data", "query", "join", "scan", "sort",
      "hash", "merge", "filter", "group", "row", "batch", "stream", "table")
    val docGen = Gen.listOfN(40, wordGen).map(_.mkString(" "))
    forAll(docGen, docGen) { (d1, d2) =>
      val df = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
        .select(col("doc_id"),
          array_distinct(TextFunctions.shingles(TextFunctions.tokens(col("text")), 2)).as("sh"))
        .select(col("doc_id"), col("sh"),
          TextFunctions.minhashSignature(col("sh"), 256).as("sig"))
      val rows = df.collect().map(r =>
        r.getLong(0) -> (r.getSeq[String](1).toSet, r.getSeq[Long](2))).toMap
      val (s1, g1) = rows(1L); val (s2, g2) = rows(2L)
      whenever(s1.nonEmpty && s2.nonEmpty) {
        val jac = s1.intersect(s2).size.toDouble / s1.union(s2).size
        val est = g1.zip(g2).count { case (a, b) => a == b }.toDouble / g1.size
        assert(math.abs(jac - est) < 0.25, s"jaccard=$jac minhash=$est")
      }
    }
  }

  test("simhash of a permuted token multiset is unchanged (order-free)") {
    import spark.implicits._
    forAll(Gen.listOfN(15, Gen.alphaLowerStr.suchThat(_.nonEmpty))) { words =>
      val shuffled = scala.util.Random.shuffle(words)
      val df = Seq((1L, words.mkString(" ")), (2L, shuffled.mkString(" ")))
        .toDF("doc_id", "text")
      val sigs = Dedup.simhashSignatures(df, "text", "doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(sigs(1L) === sigs(2L))
    }
  }

  test("LM count-store merge is commutative and split-invariant") {
    import spark.implicits._
    import graft.operators.LanguageModel._
    val genDocs = Gen.listOfN(6,
      Gen.listOfN(5, Gen.oneOf("a", "b", "c", "dd", "ee")).map(_.mkString(" ")))
    forAll(Gen.zip(genDocs, Gen.choose(1, 5)), n = 4) { case (texts, cut) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      def cnts(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
        df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val a = tokenCounts(docs.filter($"doc_id" < cut), "text")
      val b = tokenCounts(docs.filter($"doc_id" >= cut), "text")
      val full = cnts(tokenCounts(docs, "text"))
      // any split point merges back to the full counts, in either order
      assert(cnts(mergeTokenCounts(a, b)) === full)
      assert(cnts(mergeTokenCounts(b, a)) === full)
      // and the quantized model from the merge equals the full retrain
      val (lmM, oovM) = unigramLmFromCounts(mergeTokenCounts(a, b))
      val (lmF, oovF) = unigramLm(docs, "text")
      assert(cnts(lmM.withColumnRenamed("lp_micro", "c")) ===
        cnts(lmF.withColumnRenamed("lp_micro", "c")) && oovM === oovF)
    }
  }

  test("as-of: composed window matches a driver-side model over random tie-heavy inputs") {
    import spark.implicits._
    import graft.operators.AsOfJoin
    // TINY key/time domains force heavy collisions: many rows per key,
    // many equal-(key, time) right groups — the regime where the
    // content-hash tie-break actually decides winners. Right values and
    // left times stay non-null (AsOfJoin's documented degenerate cases
    // are pinned in OperatorSpec).
    val genRows = Gen.zip(
      Gen.listOfN(40, Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 5L))),
      Gen.listOfN(25, Gen.zip(Gen.choose(0L, 3L), Gen.choose(0L, 5L),
        Gen.choose(0, 3))),
      Gen.oneOf(None, Some(2.5), Some(0.0)))
    forAll(genRows, n = 6) { case (leftRaw, rightRaw, tol) =>
      val left = leftRaw.zipWithIndex.map { case ((k, t), i) =>
        (i.toLong, k, new java.sql.Timestamp(86400000L + t * 1000)) }
        .toDF("id", "k", "ts")
      val right = rightRaw.map { case (k, t, v) =>
        (k, new java.sql.Timestamp(86400000L + t * 1000), s"v$v") }
        .toDF("k", "rts", "v")
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.select("id", "v").collect()
          .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      // the model: the matched right time is the max (backward) / min
      // (forward) right time of the key on the correct side of t, within
      // tolerance; the value must be one of those at that (key, time)
      val valuesAt = rightRaw.groupBy { case (k, t, _) => (k, t) }
        .map { case (kt, rs) => kt -> rs.map { case (_, _, v) => s"v$v" }.toSet }
      def model(forwardDir: Boolean): Map[Long, Option[Set[String]]] =
        leftRaw.zipWithIndex.map { case ((k, t), i) =>
          val times = rightRaw.collect { case (`k`, rt, _)
            if (if (forwardDir) rt >= t else rt <= t) &&
              tol.forall(math.abs(rt - t) <= _) => rt }
          val matched =
            if (times.isEmpty) None
            else Some(if (forwardDir) times.min else times.max)
          i.toLong -> matched.map(rt => valuesAt((k, rt)))
        }.toMap
      for (forwardDir <- Seq(false, true)) {
        def run(l: org.apache.spark.sql.DataFrame,
            r: org.apache.spark.sql.DataFrame) = canon(
          if (forwardDir) AsOfJoin.forward(l, r, Seq("k"), "ts", "rts",
            Seq(("v", "v")), tol)
          else AsOfJoin.backward(l, r, Seq("k"), "ts", "rts",
            Seq(("v", "v")), tol))
        val got = run(left, right)
        val expect = model(forwardDir)
        val dir = if (forwardDir) "forward" else "backward"
        assert(got.keySet === expect.keySet, s"$dir lost left rows (tol=$tol)")
        expect.foreach { case (id, allowed) =>
          assert(got(id).isEmpty === allowed.isEmpty,
            s"$dir id=$id matched=${got(id)} expected=$allowed (tol=$tol)")
          allowed.foreach(vs => assert(vs.contains(got(id).get),
            s"$dir id=$id took ${got(id)}, not a value at the matched time $vs"))
        }
        // the tie winner is a content hash, not an accident of layout
        assert(run(left.repartition(2), right.repartition(5)) === got,
          s"$dir changed under repartition(2)/(5) (tol=$tol)")
        assert(run(left.repartition(7), right.repartition(3)) === got,
          s"$dir changed under repartition(7)/(3) (tol=$tol)")
      }
    }
  }

  test("curriculumStages rank equals the sorted index at any partition count") {
    import spark.implicits._
    forAll(Gen.zip(
      Gen.listOfN(60, Gen.choose(0L, 20L)), Gen.choose(2, 9)), n = 5) {
      case (lens, parts) =>
        val docs = lens.zipWithIndex.map { case (l, i) => (i.toLong, l) }
          .toDF("id", "len")
        val got = graft.operators.Corpus
          .curriculumStages(docs, "id", "len", nStages = 3, numPartitions = parts)
          .select("id", "rank").collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val expect = lens.zipWithIndex
          .map { case (l, i) => (l, i.toLong) }.sorted.zipWithIndex
          .map { case ((_, id), rank) => id -> rank.toLong }.toMap
        assert(got === expect, s"parts=$parts")
    }
  }

  test("RollupStore merge is invariant to how the rows are batched") {
    import spark.implicits._
    import graft.operators.RollupStore
    forAll(Gen.listOfN(80, Gen.zip(
      Gen.choose(0, 2), Gen.choose(0.0, 9.0), Gen.choose(0L, 15L))), n = 5) { rows =>
      val df = rows.zipWithIndex.map { case ((k, v, u), i) =>
        (i.toLong, s"k$k", math.floor(v * 4) / 4, u) }
        .toDF("id", "key", "value", "user")
      val keys = Seq("key")
      def fin(d: org.apache.spark.sql.DataFrame) =
        RollupStore.finalizeStore(d).orderBy("key").collect().map(_.toSeq).toSeq
      val whole = fin(RollupStore.partials(df, keys, "value", "user"))
      // random 3-way batching by id hash must land on the identical store
      val batches = (0 to 2).map(m =>
        df.filter(pmod(xxhash64(col("id")), lit(3)) === m))
      assert(fin(RollupStore.merge(keys,
        batches.map(b => RollupStore.partials(b, keys, "value", "user")))) === whole)
    }
  }
}
