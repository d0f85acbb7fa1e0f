package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.functions.TextFunctions._

/** Deduplication operators for the LLM-data-pipeline surface
  * (SURVEY.md §2.11 L1/L2): exact, MinHash-LSH, SimHash, n-gram Jaccard.
  *
  * Scale design (100 TB):
  *  - Signature computation (MinHash/SimHash) is map-only — no shuffle.
  *  - Candidate generation shuffles once on (band, bucket): only documents
  *    sharing a band bucket ever meet, so the self-join is an equi join,
  *    never a cross join. Bucket skew (e.g. boilerplate shingles) is split
  *    by AQE's skew-join handling.
  *  - Verification (exact Jaccard / Hamming) runs only on candidate pairs.
  *  - Survivor selection is a window by cluster key, one more shuffle.
  */
object Dedup {

  /** L1 exact dedup: deterministic survivor (min orderCol) per key. */
  def exactByKey(df: DataFrame, keyCols: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(orderCol).asc)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** L1 exact text dedup on the normalized-text fingerprint. */
  def exactByText(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    exactByKey(docs.withColumn("_fp", fingerprint64(col(textCol))), Seq("_fp"), idCol)
      .drop("_fp")

  /** Incremental exact dedup — the continuous-ingestion shape: a new batch
    * deduped against the FULL corpus history without rescanning it. The
    * history is a persisted fingerprint table (one long per ever-seen
    * document — tiny relative to the corpus); the batch survives if its
    * fingerprint is unseen there AND it wins the within-batch dedup.
    *
    * Scale: one left-anti shuffle join of batch-sized frames against the
    * fingerprint store (bucket the store by `fp` to make the probe
    * zero-shuffle), plus the usual within-batch dedup. Append
    * `fingerprints(survivors)` to the store after each batch — history
    * grows by O(new unique docs), never reread as text.
    */
  def incrementalExact(newDocs: DataFrame, seenFps: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val withFp = newDocs.withColumn("_fp", fingerprint64(col(textCol)))
    val unseen = withFp.join(seenFps.select(col("fp").as("_fp")), Seq("_fp"), "left_anti")
    exactByKey(unseen, Seq("_fp"), idCol).drop("_fp")
  }

  /** The fingerprint frame to append to the history store after a batch. */
  def fingerprints(docs: DataFrame, textCol: String): DataFrame =
    docs.select(fingerprint64(col(textCol)).as("fp")).distinct()

  /** L1 canonical selection by POLICY: one survivor per exact-dup family,
    * chosen by minimum (`priority`, `idCol`) — the "prefer the curated
    * source over the crawl copy" rule every multi-source corpus needs,
    * where plain min-id dedup ([[exactByText]]) would keep whichever copy
    * happened to be ingested first. Output: the full surviving row plus
    * `n_copies` (family size — the dedup audit signal).
    *
    * Scale shape: ONE hash aggregate on the text fingerprint with
    * map-side combine (`min_by` over the (priority, id) struct partial-
    * aggregates), versus the window variant's full sort of every family.
    * Deterministic: (priority, id) is unique per row because ids are.
    */
  def canonicalByPolicy(docs: DataFrame, textCol: String, idCol: String,
      priority: org.apache.spark.sql.Column): DataFrame = {
    val cols = docs.columns
    docs
      .withColumn("_fp", fingerprint64(col(textCol)))
      .withColumn("_prio", priority)
      .groupBy(col("_fp"))
      .agg(
        min_by(struct(cols.map(col): _*), struct(col("_prio"), col(idCol))).as("_doc"),
        count(lit(1)).as("n_copies"))
      .select(cols.map(c => col(s"_doc.$c")) :+ col("n_copies"): _*)
  }

  /** Map-only MinHash signature frame (id, sig: array of numHashes longs)
    * — the per-batch artifact an incremental near-dup pipeline PERSISTS:
    * numHashes longs per document, tiny relative to the corpus, and the
    * only thing [[incrementalNearDup]] ever reads for history. Signatures
    * are eagerly materialized (bounded: docs x numHashes x 8B) and the
    * intermediate caches released.
    */
  def minhashSignatures(docs: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 3, numHashes: Int = 128): DataFrame = {
    val p = TextFunctions.MersennePrime31
    val toksDf = docs
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col("id"))
      .select(col("id"), tokens(normalizeText(col("text"))).as("toks"))
      .cache() // barrier: see minhashNearDupPairs on CollapseProject
    val shingled = toksDf
      .select(col("id"), array_distinct(shingles(col("toks"), shingleK)).as("shingles"))
      .filter(size(col("shingles")) > 0)
    val exploded = shingled
      .select(col("id"), explode(col("shingles")).as("s"))
      .withColumn("h", pmod(xxhash64(col("s")), lit(p)))
    val minCols = TextFunctions.hashParams(numHashes).zipWithIndex.map {
      case ((a, b), i) => min(pmod(col("h") * a + b, lit(p))).as(s"_m$i")
    }
    val sigs = exploded.groupBy(col("id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"_m$i")): _*).as("sig"))
      .localCheckpoint(true)
    toksDf.unpersist()
    sigs
  }

  /** (band, bucket) LSH keys of a signature frame: band b's key is the
    * murmur3 hash of its signature slice — only ids enter the join.
    */
  private def bandKeys(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val r = numHashes / bands
    sigs.select(
      col("id"),
      posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => hash(slice(col("sig"), b * r + 1, lit(r))))
      ).as(Seq("band", "bucket")))
  }

  /** L2 incremental near-dup — the continuous-ingestion twin of
    * [[incrementalExact]]: a new batch's signatures probe the persisted
    * signature HISTORY on (band, bucket), so detecting near-dups against
    * the full corpus never rescans corpus text. Similarity is estimated
    * from the signatures themselves (matching-minhash fraction, an
    * unbiased Jaccard estimator with std <= 1/(2*sqrt(numHashes))) —
    * exactly what a store that keeps signatures, not shingles, can verify.
    * Returns (new_id, seen_id, est_jaccard >= minEstJaccard).
    *
    * Scale: both band-key frames are map-only expansions (bands rows per
    * doc); the candidate meeting is an equi join; est-jaccard runs only on
    * candidates. After a batch, append its signatures to the store —
    * history grows by O(new docs) signature rows.
    */
  def incrementalNearDup(newSigs: DataFrame, seenSigs: DataFrame,
      numHashes: Int = 128, bands: Int = 16,
      minEstJaccard: Double = 0.7): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val cand = bandKeys(newSigs, numHashes, bands)
      .select(col("id").as("new_id"), col("band"), col("bucket"))
      .join(bandKeys(seenSigs, numHashes, bands)
        .select(col("id").as("seen_id"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .select("new_id", "seen_id")
      .dropDuplicates("new_id", "seen_id")
    cand
      .join(newSigs.select(col("id").as("new_id"), col("sig").as("sig_n")), Seq("new_id"))
      .join(seenSigs.select(col("id").as("seen_id"), col("sig").as("sig_s")), Seq("seen_id"))
      .withColumn("est_jaccard",
        aggregate(
          zip_with(col("sig_n"), col("sig_s"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / numHashes)
      .filter(col("est_jaccard") >= minEstJaccard)
      .select("new_id", "seen_id", "est_jaccard")
  }

  /** MinHash-LSH candidate pairs with exact-Jaccard verification (L2).
    *
    * @param shingleK   words per shingle
    * @param numHashes  MinHash signature length
    * @param bands      LSH bands (rows per band = numHashes / bands)
    * @param threshold  exact Jaccard threshold for a verified near-dup pair
    * @return (id_a, id_b, jaccard) with id_a < id_b
    */
  def minhashNearDupPairs(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      shingleK: Int = 3,
      numHashes: Int = 128,
      bands: Int = 16,
      threshold: Double = 0.8
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // Repartition first: fixture-style single-file inputs otherwise pin the
    // regex-heavy shingling to one task. The partition count is explicit
    // because AQE would coalesce a small text shuffle back to one partition
    // (it optimizes for shuffle bytes, not downstream compute cost).
    // Cache the materialized TOKEN arrays, then build shingles from the
    // cached attribute: `shingles(tokens(...))` as one expression would let
    // CollapseProject inline the regex+split tokenization into every one of
    // its ~2k references per row (re-tokenizing the document repeatedly —
    // measured up to 20x slower). A cache is the one barrier the optimizer
    // cannot collapse through; shingling a cached array is pure O(n) concat.
    val toksDf = docs
      .select(col(idCol).as("id"), col(textCol).as("text"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col("id"))
      .select(col("id"), tokens(normalizeText(col("text"))).as("toks"))
      .cache()
    val shingled = toksDf
      .select(col("id"), array_distinct(shingles(col("toks"), shingleK)).as("shingles"))
      .filter(size(col("shingles")) > 0)
      .cache() // three consumers: banding chain + both verification joins
    // Signatures via explode + 128 min-aggregates: whole-stage-codegen'd
    // HashAggregate with map-side partial aggregation (the HOF
    // aggregate/zip_with formulation in TextFunctions.minhashSignature is
    // correct but interpreted — measured ~20x slower on long documents).
    // Shuffle volume is numGroups x numHashes x 8B, not the exploded rows.
    val p = TextFunctions.MersennePrime31
    val exploded = shingled
      .select(col("id"), explode(col("shingles")).as("s"))
      .withColumn("h", pmod(xxhash64(col("s")), lit(p)))
    val minCols = TextFunctions.hashParams(numHashes).zipWithIndex.map {
      case ((a, b), i) => min(pmod(col("h") * a + b, lit(p))).as(s"_m$i")
    }
    val sigs = exploded.groupBy(col("id"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"_m$i")): _*).as("sig"))
    // band key = murmur3 hash of the signature slice; (band, bucket) carries
    // ONLY ids — the wide shingle arrays never enter the self-join shuffle.
    val banded = sigs
      .select(
        col("id"),
        posexplode(
          transform(sequence(lit(0), lit(bands - 1)),
            b => hash(slice(col("sig"), b * r + 1, lit(r))))
        ).as(Seq("band", "bucket")))
    val candidates = banded.select(col("id").as("id_a"), col("band"), col("bucket"))
      .join(banded.select(col("id").as("id_b"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    val verified = candidates
      .join(shingled.select(col("id").as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
      .join(shingled.select(col("id").as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("uni",
        (size(col("sh_a")) + size(col("sh_b"))).cast("double") - col("inter"))
      .withColumn("jaccard", when(col("uni") > 0, col("inter") / col("uni")).otherwise(lit(1.0)))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    // pairs are output-sized: materialize them, then release the caches so
    // repeated calls in a long-lived session don't accumulate storage
    val result = verified.localCheckpoint(true)
    shingled.unpersist()
    toksDf.unpersist()
    result
  }

  /** Connected components over near-dup pairs; returns (id, component)
    * where component is the minimum id reachable. Two paths:
    * below 5,000,000 pairs a driver-side union-find (near-dup edge
    * sets are output-sized — pairs, not docs — so this is a bounded,
    * justified collect); above it, the distributed
    * [[largeStarSmallStar]] algorithm (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014), which converges in
    * O(log n) rounds regardless of component diameter — unlike min-label
    * propagation, whose round count is the graph diameter.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // Near-dup edge sets are tiny relative to the corpus (pairs, not docs).
    // Below the threshold a driver-side union-find is strictly better than
    // iterative joins: O(E α(E)) once vs an action + 2 joins per round.
    // Above it, fall through to the distributed large-star/small-star.
    import org.apache.spark.sql.types.LongType
    val localThreshold = 5000000L
    val nPairs = pairs.persist().count()
    // the union-find fast path reads Long ids; other id types (string
    // uuids, ints) take the type-generic distributed path below
    if (nPairs <= localThreshold && pairs.schema("id_a").dataType == LongType) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent.getOrElse(c, c); parent(c) = r; c = n }
        r
      }
      val nodes = scala.collection.mutable.Set.empty[Long]
      pairs.select(col("id_a"), col("id_b")).collect().foreach { row =>
        val (a, b) = (row.getLong(0), row.getLong(1))
        nodes += a; nodes += b
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val labels = nodes.toSeq.map(id => (id, find(id)))
      pairs.unpersist()
      return spark.createDataset(labels).toDF("id", "component")
    }
    val result = largeStarSmallStar(pairs)
    pairs.unpersist()
    result
  }

  /** Large-star/small-star connected components (Kiveris et al. 2014).
    *
    * One round = a large-star step (every node points its LARGER neighbors
    * at its minimum neighbor) followed by a small-star step (every node
    * re-points its smaller-or-equal neighbors, and itself, at the
    * minimum). Each step is one groupBy + one equi join — no diameter-many
    * passes: the edge set contracts to per-component stars rooted at the
    * component minimum in O(log n) rounds.
    *
    * Scale shape per round: two shuffles on node id (the groupBy and the
    * join re-use the same key) over an edge set that only SHRINKS; the
    * convergence check is one count. Returns (id, component) for every
    * node that appears in `pairs`.
    */
  def largeStarSmallStar(pairs: DataFrame): DataFrame = {
    val maxIter = 25
    // canonical undirected edges with the LARGER endpoint first: (hi, lo).
    // Each round ends in an EAGER localCheckpoint: unlike cache, it
    // truncates the logical plan, which otherwise compounds per round
    // (unions + exceptAll over the previous round's tree) until plan
    // construction itself overflows the stack.
    var edges = pairs
      .select(greatest(col("id_a"), col("id_b")).as("hi"),
        least(col("id_a"), col("id_b")).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()
      .localCheckpoint(true)
    // one order-independent set signature per round: (count, xor of row
    // hashes). bit_xor over xxhash64 is overflow-free and partitioning-
    // independent; rows are distinct within a round, so equal SETS imply
    // equal signatures — which makes signature INEQUALITY a sound
    // "still changing" proof, with no false-convergence risk because
    // signature-equal rounds still run the exact exceptAll check below.
    def signature(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = df.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("hi"), col("lo"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var edgeSig = signature(edges)
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // -- large star: for each node u (both orientations), m = min
      //    neighbor (capped by u itself); larger neighbors v > u re-point
      //    to m. Output edges keep hi > lo by construction: v > u >= m.
      val nbrs = edges.select(col("hi").as("u"), col("lo").as("v"))
        .union(edges.select(col("lo").as("u"), col("hi").as("v")))
      val minPerU = nbrs.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val large = nbrs.join(minPerU, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct()
      // -- small star: group by the larger endpoint x; all its neighbors
      //    are < x here, so m = min neighbor; re-point every neighbor and
      //    x itself at m.
      val minPerX = large.groupBy(col("hi")).agg(min(col("lo")).as("m"))
      val small = large.join(minPerX, "hi")
        .select(col("lo").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo"))
        .union(minPerX.select(col("hi"), col("m").as("lo")))
        .distinct()
        .localCheckpoint(true) // materialize + truncate lineage (see above)
      // converged when the round is a no-op (same canonical edge set).
      // Signature inequality PROVES the sets differ (one cheap map-side-
      // combined aggregate over cached blocks), so the two exceptAll
      // passes (each ~the cost of the contraction itself — measured at
      // ~30% of total runtime on the 8M-edge probe) run only on
      // signature-equal rounds — in practice just the final no-op round,
      // where they make convergence PROVABLE rather than probabilistic.
      val outSig = signature(small)
      val changed = outSig != edgeSig ||
        small.exceptAll(edges).limit(1).count() +
          edges.exceptAll(small).limit(1).count() > 0
      edges = small
      edgeSig = outSig
      converged = !changed
      iter += 1
    }
    // star edges are (node, root); roots label themselves
    edges.select(col("hi").as("id"), col("lo").as("component"))
      .union(edges.select(col("lo").as("id"), col("lo").as("component")))
      .groupBy(col("id")).agg(min(col("component")).as("component"))
      .localCheckpoint(true)
  }

  /** Survivor selection given a near-dup pair set (any source: MinHash,
    * SimHash, exact Jaccard, embedding cosine): cluster via connected
    * components, keep the min-id row per cluster. The pair source and the
    * keep policy compose — every *NearDupPairs operator feeds this.
    */
  def dedupByPairs(docs: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    // component frame columns are renamed to reserved names so drop()
    // cannot collide with caller columns named "id"/"component"
    val components = connectedComponents(pairs)
      .select(col("id").as("_cc_id"), col("component").as("_cc_component"))
    docs
      .join(components, docs(idCol) === col("_cc_id"), "left_outer")
      .withColumn("_cluster", coalesce(col("_cc_component"), docs(idCol)))
      .drop("_cc_id", "_cc_component")
      .transform(d => exactByKey(d, Seq("_cluster"), idCol))
      .drop("_cluster")
  }

  /** Full L2 pipeline: keep one survivor (min id) per near-dup cluster. */
  def dedupNearDups(docs: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8, bands: Int = 16): DataFrame =
    dedupByPairs(docs,
      minhashNearDupPairs(docs, textCol, idCol, bands = bands, threshold = threshold),
      idCol)

  /** SimHash signatures (map-only). Near-dup = hamming(sig_a, sig_b) <= k;
    * candidate generation is [[simhashNearDupPairs]]'s combination banding.
    *
    * `minTokens` is the signature-quality floor: a SimHash bit is the sign
    * of a sum of one ±1 vote per token, so a doc with k tokens has bit
    * margins bounded by k — near-empty token sets produce sign-noise
    * signatures that land within small hamming of each other REGARDLESS of
    * content (the 100x probe measured ~20x hamming<=3 false families from
    * exactly this). Docs below the floor get no signature and therefore
    * never reach candidate generation; identical short docs are still
    * caught upstream by exact dedup (L1), which is the right tool for
    * them. Default 0 = no filter (full backward compatibility).
    */
  def simhashSignatures(docs: DataFrame, textCol: String, idCol: String,
      minTokens: Int = 0): DataFrame = {
    // Explode + 64 bit-sum aggregates: codegen'd, partial-aggregating twin
    // of TextFunctions.simhash64 (kept for per-row Column use). A doc whose
    // token list is empty contributes one null-token row via explode_outer;
    // the hash is null-guarded (xxhash64(null) would return the SEED, 42),
    // so its bit sums are all -1 → simhash 0, matching the HOF version.
    val base = docs.select(col(idCol).as("id"), col(textCol).as("text"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col("id"))
      .select(col("id"), tokens(normalizeText(col("text"))).as("toks"))
    val floored =
      if (minTokens > 0) base.filter(size(col("toks")) >= minTokens) else base
    val sums = floored
      .select(col("id"), explode_outer(col("toks")).as("t"))
      .withColumn("h", when(col("t").isNotNull, xxhash64(col("t"))))
      .groupBy(col("id"))
      .agg(
        (0 until 64).map(i =>
          sum(when(getbit(col("h"), lit(i)) === 1, 1L).otherwise(-1L)).as(s"_b$i")).head,
        (1 until 64).map(i =>
          sum(when(getbit(col("h"), lit(i)) === 1, 1L).otherwise(-1L)).as(s"_b$i")): _*)
    sums.select(col("id"),
      (0 until 64).map(i =>
        when(col(s"_b$i") > 0, lit(1L << i)).otherwise(0L)).reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup pairs via combination banding (Manku/Jain/Sarma,
    * WWW 2007 §3): the 64-bit signature splits into `blocks` contiguous
    * blocks; a pair within `maxHamming` has its differing bits in at most
    * `maxHamming` blocks, so SOME combination of `blocks - maxHamming`
    * blocks is untouched (pigeonhole) — candidates meet on a packed
    * combination key with FULL recall, then exact hamming filters. The
    * output pair set is therefore identical for every valid `blocks`.
    *
    * `blocks` trades explode fan-out against key width, and key width is
    * what survives scale: at blocks=4 (the minimal scheme, the previous
    * hard-coded geometry) keys are one 16-bit block — 65k buckets
    * saturate near ~100k docs and in-bucket candidates go quadratic
    * (measured at 500k docs: ~96 s warm). The default blocks=6 emits
    * C(6,3)=20 keys of ~32 bits — bucket space outgrows any realistic
    * corpus, at 5x the (cheap) explode fan-out.
    */
  def simhashNearDupPairs(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, blocks: Int = 6, minTokens: Int = 0): DataFrame = {
    require(blocks > maxHamming && blocks <= 64,
      s"need maxHamming < blocks <= 64, got maxHamming=$maxHamming blocks=$blocks")
    // block widths differ by at most 1 and cover all 64 bits
    val widths = Array.tabulate(blocks)(i => 64 / blocks + (if (i < 64 % blocks) 1 else 0))
    val starts = widths.scanLeft(0)(_ + _)
    def blockVal(i: Int) =
      shiftright(col("simhash"), starts(i)).bitwiseAND(lit((1L << widths(i)) - 1))
    val m = blocks - maxHamming
    val keyExprs = (0 until blocks).combinations(m).map { c =>
      c.foldLeft(lit(0L))((acc, i) => shiftleft(acc, widths(i)) + blockVal(i))
    }.toSeq
    val sigs = simhashSignatures(docs, textCol, idCol, minTokens)
    val keyed = sigs.select(
      col("id"), col("simhash"),
      posexplode(array(keyExprs: _*)).as(Seq("combo_idx", "combo_key")))
    val a = keyed.select(col("id").as("id_a"), col("simhash").as("sh_a"),
      col("combo_idx"), col("combo_key"))
    val b = keyed.select(col("id").as("id_b"), col("simhash").as("sh_b"),
      col("combo_idx"), col("combo_key"))
    a.join(b, Seq("combo_idx", "combo_key"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", hamming64(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Exact n-gram (unigram by default) Jaccard — the verification
    * primitive. All-pairs is quadratic, so the API refuses to cartesian an
    * unbounded frame: callers must either pass `blockCol` (pairs are formed
    * only within equal blocking-key values — an equi join, never a cross
    * join) or stay under `maxUnblockedRows` (the all-pairs escape hatch for
    * candidate sets that are already small, enforced with a cheap
    * `limit(n+1).count`). For pre-computed candidate pairs use
    * [[jaccardVerify]] instead — it never forms pairs at all.
    */
  def jaccardPairs(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 1, minJaccard: Double = 0.0, blockCol: Option[String] = None,
      maxUnblockedRows: Long = 100000L): DataFrame = {
    val blockCols = blockCol.toSeq
    if (blockCol.isEmpty) {
      val n = docs.limit(math.min(maxUnblockedRows + 1, Int.MaxValue.toLong).toInt).count()
      require(n <= maxUnblockedRows,
        s"jaccardPairs without blockCol is all-pairs (O(n^2)); input exceeds " +
          s"$maxUnblockedRows rows — pass blockCol or use jaccardVerify on candidate pairs")
    }
    val toks = docs
      .select((Seq(col(idCol).as("id"), col(textCol).as("text")) ++
        blockCols.map(col)): _*)
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col("id"))
      .withColumn("toks", tokens(normalizeText(col("text"))))
      .select(
        (Seq(col("id"),
          array_distinct(
            if (k == 1) col("toks") else shingles(col("toks"), k)
          ).as("grams")) ++ blockCols.map(col)): _*)
    val a = toks.select((Seq(col("id").as("id_a"), col("grams").as("g_a")) ++
      blockCols.map(col)): _*)
    val b = toks.select((Seq(col("id").as("id_b"), col("grams").as("g_b")) ++
      blockCols.map(col)): _*)
    val paired =
      if (blockCols.nonEmpty) a.join(b, blockCols) // equi join on the block key
      else a.crossJoin(b) // guarded above: provably small
    paired
      .filter(col("id_a") < col("id_b"))
      .withColumn("inter", size(array_intersect(col("g_a"), col("g_b"))).cast("double"))
      .withColumn("uni", (size(col("g_a")) + size(col("g_b"))).cast("double") - col("inter"))
      .withColumn("jaccard", when(col("uni") > 0, col("inter") / col("uni")).otherwise(lit(1.0)))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }

  /** Exact Jaccard over pre-computed candidate pairs (id_a, id_b): the
    * verification stage of any blocked pipeline — joins each side's grams
    * by id, never forms pairs itself, so cost is O(|candidates|).
    */
  def jaccardVerify(candidates: DataFrame, docs: DataFrame, textCol: String,
      idCol: String, k: Int = 1, minJaccard: Double = 0.0): DataFrame = {
    val toks = docs.select(col(idCol).as("id"), col(textCol).as("text"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism, col("id"))
      .withColumn("toks", tokens(normalizeText(col("text"))))
      .select(col("id"),
        array_distinct(
          if (k == 1) col("toks") else shingles(col("toks"), k)).as("grams"))
    candidates.select(col("id_a"), col("id_b"))
      .join(toks.select(col("id").as("id_a"), col("grams").as("g_a")), Seq("id_a"))
      .join(toks.select(col("id").as("id_b"), col("grams").as("g_b")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("g_a"), col("g_b"))).cast("double"))
      .withColumn("uni", (size(col("g_a")) + size(col("g_b"))).cast("double") - col("inter"))
      .withColumn("jaccard", when(col("uni") > 0, col("inter") / col("uni")).otherwise(lit(1.0)))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")
  }
}
