package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.TextOps._

/** Document deduplication family (SURVEY.md §2.8): exact,
  * MinHash+LSH, SimHash, and exact n-gram Jaccard via a shingle
  * inverted index.
  *
  * Scale shape: signatures are computed scan-side with higher-order
  * functions (no UDFs, map-side only); the only shuffles carry
  * (bucket/band/shingle, doc_id) — never the document text — and
  * candidate self-joins use `id_a < id_b` to halve the pair space.
  * All hash arithmetic is 64-bit integer and mirrored exactly by the
  * DuckDB oracles.
  */
object Dedup {

  // --- exact ----------------------------------------------------------

  /** Exact dedup on normalized content hash: one row per distinct text
    * with the canonical (minimum) doc id and the group size.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_docs"))

  // --- MinHash + LSH --------------------------------------------------

  /** k permutation-hash parameters (a_j, b_j) for
    * h_j(x) = (a_j * x + b_j) mod P — fixed constants so every engine
    * derives identical signatures.
    */
  val MinhashP = 2147483647L // 2^31 - 1
  def minhashParams(k: Int): Seq[(Long, Long)] =
    (0 until k).map { j =>
      val a = ((j + 1L) * 2654435761L) % (MinhashP - 1) + 1
      val b = ((j + 1L) * 40503L * 65537L + 17L) % MinhashP
      (a, b)
    }

  /** MinHash signatures over word-`shingleN`-gram shingles:
    * doc_id, h0..h{k-1}.
    */
  def minhashSignatures(docs: DataFrame, k: Int = 16, shingleN: Int = 3,
                        idCol: String = "doc_id"): DataFrame =
    minhashSignaturesFromShingles(
      docs.select(col(idCol), shingleIds(col("text"), shingleN).as("sids")),
      k, idCol)

  /** [[minhashSignatures]] over a prebuilt (idCol, sids: array<long>)
    * frame — lets the multi-leg evals share ONE tokenize+shingle-hash
    * pass between the exact-Jaccard truth and the MinHash index
    * (r15: the signature pass re-scanned and re-hashed the corpus per
    * consumer; values are unchanged, the shingle ids are identical).
    */
  def minhashSignaturesFromShingles(withSh: DataFrame, k: Int = 16,
                                    idCol: String = "doc_id"): DataFrame = {
    val sh = withSh.select(col(idCol), explode(col("sids")).as("sid"))
    val mins = minhashParams(k).zipWithIndex.map { case ((a, b), j) =>
      min((lit(a) * col("sid") + lit(b)) % lit(MinhashP)).as(s"h$j")
    }
    sh.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** Band key: fold `r` signature slots with the rolling-hash mix.
    * (package-visible: StreamNearDedup bands the same way, so stream
    * and batch agree on which docs collide.)
    */
  private[graft] def bandKey(hs: Seq[Column]): Column =
    hs.reduceLeft((acc, h) => (acc * lit(31L) + h) % lit(HashMod))

  /** LSH banding: candidate near-duplicate pairs (id_a < id_b) that
    * collide in at least one of `bands` bands of `r = k/bands` rows.
    */
  def minhashCandidates(docs: DataFrame, k: Int = 16, bands: Int = 4,
                        shingleN: Int = 3, idCol: String = "doc_id"): DataFrame =
    candidatesFromSigs(minhashSignatures(docs, k, shingleN, idCol),
      k, bands, idCol)

  /** LSH banding over a prebuilt signature table — lets callers that
    * need signatures AND pairs (minhashEstimates) share one computed
    * `sigs` instead of re-scanning the corpus per consumer.
    */
  def candidatesFromSigs(sigs: DataFrame, k: Int, bands: Int,
                         idCol: String): DataFrame = {
    val banded = bandedFromSigs(sigs, k, bands, idCol)
    val a = banded.select(col(idCol).as("id_a"), col("band"), col("bk"))
    val b = banded.select(col(idCol).as("id_b"), col("band"), col("bk"))
    a.join(b, Seq("band", "bk")).where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** (idCol, band, bk) rows of every doc — the banding subplan shared
    * by pair generation and the persisted signature store. ONE explode
    * (not a union of per-band selects): a union would re-run the
    * signature aggregation per band, and a self-join's two sides then
    * become identical subplans that ReuseExchange can share.
    */
  private[graft] def bandedFromSigs(sigs: DataFrame, k: Int, bands: Int,
                                    idCol: String): DataFrame = {
    val r = k / bands
    val bandStructs = (0 until bands).map { b =>
      val hs = (0 until r).map(i => col(s"h${b * r + i}"))
      struct(lit(b).as("band"), bandKey(hs).as("bk"))
    }
    sigs.select(col(idCol), explode(array(bandStructs: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bk").as("bk"))
  }

  /** Signature-agreement Jaccard estimate for the LSH candidate pairs:
    * est = |{j : h_j(a) = h_j(b)}| / k — the standard unbiased MinHash
    * estimator. Ranks/filters candidates WITHOUT re-reading any text:
    * the signature subplan is the same one banding uses (ReuseExchange
    * shares it), and the verify join carries only (id, k smallints)
    * per side, so the cost is independent of document size.
    */
  def minhashEstimates(docs: DataFrame, k: Int = 16, bands: Int = 4,
                       shingleN: Int = 3, idCol: String = "doc_id"): DataFrame = {
    // three consumers (banding + both verify-join sides) shuffle on
    // DIFFERENT keys, so ReuseExchange cannot share the signature
    // subplan — a lazy localCheckpoint materializes signatures ONCE
    // (k smallints + id per doc — a sliver of the corpus) instead of
    // re-scanning and re-hashing the text per consumer
    val sigs = minhashSignatures(docs, k, shingleN, idCol)
      .localCheckpoint(false)
    val pairs = candidatesFromSigs(sigs, k, bands, idCol)
    val sa = sigs.select(col(idCol).as("id_a") +:
      (0 until k).map(j => col(s"h$j").as(s"__a$j")): _*)
    val sb = sigs.select(col(idCol).as("id_b") +:
      (0 until k).map(j => col(s"h$j").as(s"__b$j")): _*)
    val nMatch = (0 until k)
      .map(j => when(col(s"__a$j") === col(s"__b$j"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      .withColumn("n_match", nMatch)
      .select(col("id_a"), col("id_b"), col("n_match"),
        (col("n_match") / lit(k.toDouble)).as("est_jaccard"))
  }

  // --- SimHash --------------------------------------------------------

  val SimhashBits = 24

  /** 24-bit SimHash over the token multiset (occurrences weighted) —
    * native single-pass expression: no explode, no shuffle, the
    * signature is computed inside the scan stage.
    */
  def simhash(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol), tokens(col("text")).as("__toks"))
      // token-less documents have no signature (they'd all hash to 0
      // and spuriously pair with each other); tokenize ONCE — Catalyst
      // does not share the split between a filter and a projection
      .where(size(col("__toks")) > 0)
      .select(col(idCol),
        org.apache.spark.sql.graft.GraftExpressions.simhash24(col("__toks"))
          .as("simhash"))

  /** The PRODUCTION simhash geometry (the mm_phash_wide treatment):
    * 60-bit signature, 4 bands × 15 bits. The 24-bit test geometry's
    * random candidate floor is n²·bands/2^8 — super-linear at corpus
    * scale; at 60/15 the floor is n²·4/2^15 and, more importantly,
    * RANDOM 60-bit signatures essentially never collide, so candidates
    * are true near-dups. Pigeonhole-complete to hamming ≤ 3.
    */
  val SimhashWideBits = 60

  def simhashWide(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    docs
      .select(col(idCol), tokens(col("text")).as("__toks"))
      .where(size(col("__toks")) > 0)
      .select(col(idCol),
        org.apache.spark.sql.graft.GraftExpressions
          .simhash_wide(col("__toks")).as("simhash"))

  def simhashPairsWide(docs: DataFrame, maxHamming: Int = 3,
                       idCol: String = "doc_id"): DataFrame =
    bandPairs(bitBands(simhashWide(docs, idCol), "simhash", 15, 4),
      idCol, "simhash", maxHamming)

  /** SimHash near-dup pairs: band the signature into 3 byte-wide
    * blocks; candidates collide in >= 1 block, then the true hamming
    * distance is verified. Banding guarantees full recall only for
    * hamming <= bands-1 (pigeonhole); beyond that it is approximate —
    * the standard recall/cost dial for SimHash at corpus scale.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 4,
                   idCol: String = "doc_id"): DataFrame =
    bandPairs(bitBands(simhash(docs, idCol), "simhash", 8, 3),
      idCol, "simhash", maxHamming)

  /** `df`'s rows once per band, with (`band`, `bk`) appended: band b's
    * key is bits [b·bandBits, (b+1)·bandBits) of the long `sig`. ONE
    * explode (not a union of per-band selects), so the band self-join's
    * two sides are identical subplans ReuseExchange can share. Shared
    * by the SimHash and pHash families; the oracle twin is
    * `SparkEntry.sqlBitBands`.
    */
  def bitBands(df: DataFrame, sig: String, bandBits: Int, bands: Int): DataFrame = {
    val cols = df.columns.toSeq.map(col)
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        (shiftright(col(sig), b * bandBits) % (1L << bandBits)).as("bk"))
    }
    df.select(cols :+ explode(array(bandStructs: _*)).as("bb"): _*)
      .select(cols ++ Seq(col("bb.band").as("band"), col("bb.bk").as("bk")): _*)
  }

  /** Near-dup pairs of a [[bitBands]] frame: rows sharing a (band, bk)
    * cell pair up once (`id_a < id_b`), the true hamming distance of
    * their `sig`s is verified against `maxHamming`, and a pair that
    * collides in several bands is kept once. Output: id_a, id_b,
    * hamming, then each `carry` column as `<c>_a`, `<c>_b` (the id
    * must determine every carried value). The oracle twin is
    * `SparkEntry.sqlBandPairs`.
    */
  def bandPairs(banded: DataFrame, id: String, sig: String, maxHamming: Int,
                carry: String*): DataFrame = {
    def side(s: String) = banded.select(
      Seq(col(id).as(s"id_$s"), col(sig).as(s"sh_$s")) ++
        carry.map(c => col(c).as(s"${c}_$s")) ++ Seq(col("band"), col("bk")): _*)
    side("a").join(side("b"), Seq("band", "bk"))
      .where(col("id_a") < col("id_b"))
      .select(Seq(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming")) ++
        carry.flatMap(c => Seq(col(s"${c}_a"), col(s"${c}_b"))): _*)
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Edit-distance-verified near-dup pairs: [[simhashPairs]] generates
    * the candidates (banded, never all-pairs), then each candidate is
    * verified by the TRUE Levenshtein distance over the full texts —
    * the strictest string-level dup criterion (MinHash/SimHash measure
    * bag-of-token overlap; edit distance also catches reorderings and
    * char-level mangling that token sets miss). `edit_sim` normalizes
    * by the longer text: 1.0 = identical, and `is_dup` flags pairs at
    * ≥ `tau`. All candidates are emitted with their verdict so the
    * caller sees the generator's precision, not just the survivors.
    *
    * Both cost dials default to their honest settings:
    *  - candidates come from the PRODUCTION 60-bit / 4×15-band simhash
    *    geometry ([[simhashPairsWide]]): its random collision floor is
    *    n²·4/2^15 vs the 24-bit test geometry's n²·3/2^8 — at corpus
    *    scale the banded join's output is true near-dups, not band
    *    noise (the 24-bit floor was the dominant term of this query's
    *    sf10 cost). `maxHamming = 2` sits inside the wide geometry's
    *    pigeonhole-complete range (h ≤ 3), so candidate recall at the
    *    default is EXACT, and edit-near dups have near-equal token
    *    bags, i.e. tiny simhash distance.
    *  - the DP cap: Spark's banded 3-arg levenshtein is
    *    O(len·cap), returning -1 beyond the cap — and the TIGHTEST
    *    exact cap is per-pair: a pair whose longer text has ml chars
    *    can only reach `tau` at dist ≤ (1-tau)·ml. The threshold
    *    argument is static, so pairs are banded by ml in `bandW`-char
    *    steps and each band runs the DP capped at its own
    *    (1-tau)·bandUpper — ≥ every member's exact bound, so tau
    *    verdicts are identical to the uncapped run (a 300-char pair
    *    pays a 60-wide band, not the global longest-doc cap). Pairs
    *    beyond `maxDist` (= the ml > 4·bandW fallback; keep it ≥
    *    (1-tau)·longest-doc for exactness) surface as edit_dist = -1
    *    / edit_sim null / is_dup false.
    *
    * Scale shape: the DP runs ONLY on banded candidates — corpus cost
    * is candidate volume × len·(1-tau)·len, with the text joined back
    * per side (two id-keyed joins carrying text once); the distance
    * is computed once and reused by projection (Catalyst won't
    * collapse a non-cheap expression into downstream projects), and
    * only the matching length-band's DP branch runs per row.
    *
    * Length-gap short-circuit: edit distance is ≥ the char-length gap,
    * so a pair whose gap exceeds its band's DP cap deterministically
    * returns -1 — those pairs skip the text joins entirely (their
    * lengths ride the banded candidate frame, one int per side) and
    * emit the -1 verdict directly. This is EXACT: the filter uses the
    * band's applied cap, not the tighter per-pair (1-tau)·ml bound — a
    * pair with gap in ((1-tau)·ml, cap] still runs the DP because the
    * capped run would return its true distance, not -1. The text joins
    * and DP therefore only pay for pairs that can produce a distance.
    */
  def editVerifiedPairs(docs: DataFrame, maxHamming: Int = 2,
                        tau: Double = 0.8, maxDist: Int = 120,
                        idCol: String = "doc_id",
                        bandW: Int = 150): DataFrame = {
    def thr(upper: Int) = math.ceil((1.0 - tau) * upper).toInt
    // simhashPairsWide's banding, with char lengths riding the banded
    // frame (the band shuffle pays one extra int per side; no extra join)
    val sh = docs
      .select(col(idCol), tokens(col("text")).as("__toks"),
        length(col("text")).as("__len"))
      .where(size(col("__toks")) > 0)
      .select(col(idCol),
        org.apache.spark.sql.graft.GraftExpressions.simhash_wide(col("__toks"))
          .as("simhash"),
        col("__len"))
    val cand = bandPairs(bitBands(sh, "simhash", 15, 4), idCol, "simhash",
      maxHamming, "__len")
    // the cap each pair's DP would actually run with, from lengths alone
    val mlLen = greatest(col("__len_a"), col("__len_b"))
    val capCol = (1 to 3).foldLeft(when(lit(false), lit(0))) { (w, i) =>
      w.when(mlLen <= i * bandW, lit(thr(i * bandW)))
    }.otherwise(lit(maxDist))
    val gap = abs(col("__len_a") - col("__len_b"))
    // branch 1: gap within cap — join text, run the banded DP
    val ta = docs.select(col(idCol).as("id_a"), col("text").as("__ta"))
    val tb = docs.select(col(idCol).as("id_b"), col("text").as("__tb"))
    val ml = greatest(length(col("__ta")), length(col("__tb")))
    val sim = when(col("edit_dist") >= 0,
      round(lit(1.0) - col("edit_dist").cast("double") /
        ml.cast("double"), 6))
    // native banded DP (bytes, buffer-reused) — same contract as the
    // builtin 3-arg levenshtein, ~10x cheaper per candidate on ASCII;
    // ExpressionParitySpec pins equality against the builtin
    def lev(thr: Int) = org.apache.spark.sql.graft.GraftExpressions
      .lev_banded(col("__ta"), col("__tb"), thr)
    val capped = (1 to 3).foldLeft(when(lit(false), lit(0))) { (w, i) =>
      w.when(ml <= i * bandW, lev(thr(i * bandW)))
    }.otherwise(lev(maxDist))
    val outCols = Seq(col("id_a"), col("id_b"), col("hamming"),
      col("edit_dist"), col("edit_sim"))
    val verified = cand.where(gap <= capCol)
      .join(ta, Seq("id_a")).join(tb, Seq("id_b"))
      .withColumn("edit_dist", capped)
      .withColumn("edit_sim", sim)
      .select(outCols: _*)
    // branch 2: gap > cap — the DP would return -1; emit it without text
    // (AQE reuses cand's exchanges across the two branches)
    val doomed = cand.where(gap > capCol)
      .withColumn("edit_dist", lit(-1))
      .withColumn("edit_sim", lit(null).cast("double"))
      .select(outCols: _*)
    verified.unionByName(doomed)
      .select(col("id_a"), col("id_b"), col("hamming"), col("edit_dist"),
        col("edit_sim"),
        coalesce(col("edit_sim") >= lit(tau), lit(false)).as("is_dup"))
  }

  // --- candidate pairs -> dedup clusters -------------------------------

  /** Connected components over an undirected candidate-pair edge list:
    * QUOTIENT-CONTRACTION min-label propagation (hook + compress +
    * contract — the Shiloach–Vishkin ingredients on a shrinking
    * quotient graph): each outer round (1) hooks every current root
    * to the min of its quotient neighbors, (2) pointer-doubles the
    * node labels TO FIXPOINT (lbl := lbl(lbl) until unchanged —
    * without the FULL compress, relabeling under-merges, the r13
    * first-cut bug), and (3) contracts the quotient edge set by the
    * new roots, dropping loops. Quotient paths through k roots shrink
    * to ~k/2 per round, so outer rounds are O(log diameter) even on
    * adversarial CHAIN components (drifting near-dup hashes across a
    * templated crawl; measured r13: the 50k-node sf1 phash graph =
    * 5 rounds — plain HashMin, whose min wavefront moves one hop per
    * round, needed hundreds). Fixpoint = EMPTY quotient; components
    * are connected, so all labels in one then equal its minimum.
    * Returns (id, cluster_id) for every node that appears in a pair;
    * the labeling is deterministic and independent of iteration order
    * or partitioning.
    *
    * Scale shape: the graph is the CANDIDATE PAIR list — orders of
    * magnitude smaller than the corpus (only near-duplicates appear).
    * The hook is a partial-agg'd min on the (shrinking) quotient;
    * each compress step is a self-join on the node-count label frame.
    *
    * If the loop still exits without reaching the fixpoint the result
    * would be silently wrong (labels not yet the component minimum), so
    * it THROWS rather than returning unconverged labels.
    */
  /** Edge-count gate below which [[components]] labels the graph on
    * the driver (union-find over the collected edge list) instead of
    * running the distributed quotient loop. The loop costs
    * O(log diameter) rounds of ~4 exchanges each — measured ~90%
    * scheduler latency at bench scale (mm_phash_cluster: 74 jobs for
    * 1.5 s of task time) — while 4M (long, long) edges collect in one
    * job as ~64 MB, the same order as a broadcast-join build side. The
    * output is identical (each node's label is its component minimum,
    * which no algorithm choice can change), and the distributed loop
    * remains THE scale path: a heavily-duplicated crawl's candidate
    * graph exceeds any driver bound, so the gate falls back to it.
    */
  val CcLocalMaxEdges = 4000000L

  def components(pairs: DataFrame, aCol: String = "id_a",
                 bCol: String = "id_b", maxIter: Int = 25): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val e0 = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
    if (e0.schema.fields.exists(_.dataType != LongType))
      return componentsWithRounds(pairs, aCol, bCol, maxIter)._1
    // checkpointed so the gate's count job materializes the edge list
    // once and BOTH branches (collect / loop round 1) read the cache
    val e = e0.localCheckpoint(false)
    if (e.count() > CcLocalMaxEdges)
      return componentsWithRounds(e, "u", "v", maxIter)._1
    // Collect the edge list PACKED into primitive long arrays on the
    // executors (one job): at the 4M-edge gate this is ~64 MB of longs
    // on the driver, vs several hundred MB when each edge was a boxed
    // Row and each node two boxed HashMap entries (r15 ADVICE heap
    // note). A null endpoint would previously have been coerced to 0L
    // by getLong — inventing node 0 and merging components through it
    // — so null-bearing frames route to the distributed loop, which
    // defines the semantics for them.
    val packed = e.rdd.mapPartitions { it =>
      val b = new scala.collection.mutable.ArrayBuilder.ofLong
      var sawNull = false
      it.foreach { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) sawNull = true
        else { b += r.getLong(0); b += r.getLong(1) }
      }
      Iterator((b.result(), sawNull))
    }.collect()
    if (packed.exists(_._2))
      return componentsWithRounds(e, "u", "v", maxIter)._1
    // driver union-find (path halving) over an open-addressed id->index
    // table, then per-root minimum — the final (id -> component min)
    // map is independent of edge order. All-primitive arrays: bounded,
    // predictable heap at the gate (§5: the driver does no data work
    // above it; the distributed loop is the scale path).
    val nEdges = packed.iterator.map(_._1.length / 2).sum
    val capNodes = math.max(16, 2 * nEdges)
    var tabSize = 32
    while (tabSize < capNodes * 2) tabSize <<= 1
    val mask = tabSize - 1
    val slotKey = new Array[Long](tabSize)
    val slotUsed = new Array[Boolean](tabSize)
    val slotIdx = new Array[Int](tabSize)
    val ids = new Array[Long](capNodes)
    val parent = new Array[Int](capNodes)
    var nNodes = 0
    def idxOf(id: Long): Int = {
      var h = java.lang.Long.hashCode(id * -0x61c8864680b583ebL) & mask
      while (slotUsed(h) && slotKey(h) != id) h = (h + 1) & mask
      if (!slotUsed(h)) {
        slotUsed(h) = true; slotKey(h) = id; slotIdx(h) = nNodes
        ids(nNodes) = id; parent(nNodes) = nNodes; nNodes += 1
      }
      slotIdx(h)
    }
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    packed.foreach { case (arr, _) =>
      var i = 0
      while (i < arr.length) {
        val ra = find(idxOf(arr(i)))
        val rb = find(idxOf(arr(i + 1)))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        i += 2
      }
    }
    val minOf = new Array[Long](nNodes)
    java.util.Arrays.fill(minOf, 0, nNodes, Long.MaxValue)
    var i = 0
    while (i < nNodes) {
      val r = find(i)
      if (ids(i) < minOf(r)) minOf(r) = ids(i)
      i += 1
    }
    val lbl = new Array[Long](nNodes)
    i = 0
    while (i < nNodes) { lbl(i) = minOf(find(i)); i += 1 }
    // emit through a primitive-long tuple encoder: the LocalRelation
    // holds one compact UnsafeRow per node instead of a boxed Row
    val nOut = nNodes
    val idsF = ids
    val outSeq: IndexedSeq[(Long, Long)] = new IndexedSeq[(Long, Long)] {
      def length: Int = nOut
      def apply(k: Int): (Long, Long) = (idsF(k), lbl(k))
    }
    pairs.sparkSession.createDataset(outSeq)(
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong))
      .toDF("id", "cluster_id")
  }

  /** [[components]] plus the number of propagation rounds it took to
    * reach the fixpoint — the telemetry that shows pointer jumping
    * holds rounds at O(log diameter) on adversarial chain components
    * (asserted by DedupSpec), not just that the non-convergence throw
    * exists.
    */
  def componentsWithRounds(pairs: DataFrame, aCol: String = "id_a",
                           bCol: String = "id_b",
                           maxIter: Int = 25): (DataFrame, Int) = {
    // materialize AND drop statistics: Dataset.localCheckpoint keeps
    // the pre-checkpoint plan's stats on its LogicalRDD, so an
    // iterated self-join COMPOUNDS them — sizeInBytes bits double
    // every round (stats_{r+1} ~ stats_r², each a product of
    // Long.MaxValue leaves) and by round ~20 the stats visitor is
    // multiplying tens-of-megabit BigIntegers: the driver spun 45+
    // minutes INSIDE planning at sf1 (r13, caught by thread dump).
    // Rebuilding from the checkpointed RDD gives a fresh LogicalRDD
    // whose stats are the constant default, so every round's plan
    // cost is flat. The Row round-trip is per-label-frame rows —
    // candidate-pair scale, not corpus scale.
    //
    // The checkpoint is LAZY (r15): each loop step's frame then
    // materializes inside its first consumer's job — the fixpoint-sum
    // agg or the isEmpty probe — so a step costs ONE Spark job instead
    // of two (eager checkpoint + agg). At bench scale the loop was
    // ~90% scheduler latency (mm_phash_cluster: 89 jobs for 1.2 s of
    // task time), and at cluster scale fewer jobs = fewer scheduling
    // round-trips for identical data movement: the per-partition cache
    // semantics of localCheckpoint are unchanged.
    def matFresh(df: DataFrame): DataFrame = {
      val m = df.localCheckpoint(false)
      m.sparkSession.createDataFrame(m.rdd, m.schema)
    }
    val edges = matFresh(pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .union(pairs.select(col(bCol).as("u"), col(aCol).as("v")))
      .distinct())
    var labels = matFresh(edges.select(col("u")).distinct()
      .withColumn("lbl", col("u")))
    // labels only ever DECREASE, so an unchanged exact label sum IS a
    // fixpoint — one cheap agg per step instead of a change-scan join.
    // DECIMAL(38,0): a long sum overflows at ~1e9 nodes with ~1e10 ids.
    def lblSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("lbl").cast(org.apache.spark.sql.types.DecimalType(38, 0))))
        .head.getDecimal(0)
    var iter = 0
    var converged = false
    // ce: edges of the QUOTIENT graph — between distinct current
    // roots. Starts as the raw symmetric node edges (labels are
    // identity). It shrinks every round, so later rounds get cheaper;
    // an EMPTY quotient is the fixpoint (every edge joins equal
    // labels, and a component is connected, so all its labels then
    // equal its minimum).
    var ce = matFresh(edges.where(col("u") =!= col("v"))
      .select(col("u").as("a"), col("v").as("b")))
    while (!converged && iter < maxIter) {
      // HOOK on the quotient: each root takes the min of itself and
      // its quotient neighbors
      val m = ce.groupBy(col("a")).agg(min(col("b")).as("nm"))
        .select(col("a").as("lbl"), least(col("a"), col("nm")).as("newl"))
      var cur = matFresh(labels.join(m, Seq("lbl"), "left")
        .select(col("u"), coalesce(col("newl"), col("lbl")).as("lbl")))
      // COMPRESS to fixpoint: lbl := min(lbl, lbl(lbl)) doubles the
      // resolved chain depth per step (O(log chain) inner steps,
      // terminates — labels decrease monotonically over a finite id
      // set). Without the FULL compress, a node whose label was
      // hooked elsewhere never learns transitively and the quotient
      // relabeling below would under-merge (the r13 first-cut bug,
      // caught by the min-id spec).
      var curSum = lblSum(cur)
      var settled = false
      while (!settled) {
        val j = matFresh(cur
          .join(cur.select(col("u").as("lbl"), col("lbl").as("lbl2")),
            Seq("lbl"), "left")
          .select(col("u"),
            least(col("lbl"), coalesce(col("lbl2"), col("lbl"))).as("lbl")))
        val s2 = lblSum(j)
        settled = java.util.Objects.equals(s2, curSum)
        curSum = s2
        cur = j
      }
      labels = cur
      // CONTRACT: remap quotient endpoints through the new roots and
      // drop loops — quotient paths through k roots shrink to ~k/2,
      // which is what keeps outer rounds logarithmic on chains
      val l1 = labels.select(col("u").as("a"), col("lbl").as("la"))
      val l2 = labels.select(col("u").as("b"), col("lbl").as("lb"))
      val ceNew = ce.join(l1, Seq("a")).join(l2, Seq("b"))
        .where(col("la") =!= col("lb"))
      ce = matFresh(ceNew.select(col("la").as("a"), col("lb").as("b"))
        .union(ceNew.select(col("lb").as("a"), col("la").as("b")))
        .distinct())
      converged = ce.isEmpty
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"Dedup.components did not converge in $maxIter rounds — " +
          "component diameter exceeds the iteration budget; raise maxIter")
    (labels.select(col("u").as("id"), col("lbl").as("cluster_id")), iter)
  }

  /** End-to-end dedup clustering: MinHash-LSH candidate pairs ->
    * connected components -> one row per document with its cluster id
    * and whether it is the cluster's canonical (minimum-id) member.
    * Docs outside every pair are their own singleton cluster.
    */
  def minhashClusters(docs: DataFrame, k: Int = 16, bands: Int = 4,
                      shingleN: Int = 3, idCol: String = "doc_id"): DataFrame = {
    // join strategy left to AQE: the label frame is usually a sliver of
    // the corpus (only docs in >=1 candidate pair) and gets broadcast,
    // but a heavily-duplicated crawl can make it arbitrarily large —
    // a pinned broadcast would OOM there, a shuffle join still works
    val comp = components(minhashCandidates(docs, k, bands, shingleN, idCol))
    docs.select(col(idCol))
      .join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"),
        (col(idCol) === coalesce(col("cluster_id"), col(idCol)))
          .as("is_canonical"))
  }

  // --- benchmark contamination -----------------------------------------

  /** Benchmark decontamination: flag corpus documents that share at
    * least one word-`shingleN`-gram with the benchmark set (`benchPred`
    * selects benchmark rows). Output is one row per NON-benchmark doc:
    * (doc_id, n_shared = #distinct shingles also in the benchmark,
    * contaminated).
    *
    * Scale shape: the benchmark's distinct shingle set is tiny relative
    * to the corpus (eval suites, not crawls) and is broadcast, so the
    * corpus side never shuffles its shingles — one broadcast semi-join
    * inside the scan stage plus a map-side-combined count per doc.
    */
  def contamination(docs: DataFrame, benchPred: Column, shingleN: Int = 3,
                    idCol: String = "doc_id"): DataFrame = {
    val sh = docs.select(col(idCol), benchPred.as("__bench"),
      explode(shingleIds(col("text"), shingleN)).as("sid"))
    val bench = sh.where(col("__bench")).select("sid").distinct()
    val hits = sh.where(!col("__bench"))
      .join(broadcast(bench), Seq("sid"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    docs.where(!benchPred).select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__n"), lit(0L)).as("n_shared"),
        (coalesce(col("__n"), lit(0L)) > 0).as("contaminated"))
  }

  /** Scale path for [[contamination]]: the benchmark's distinct shingle
    * set folds into a FIXED-SIZE Bloom filter instead of a broadcast
    * set. At 100 TB the exact path's broadcast grows with the benchmark
    * suite; the sketch is `numBits/8` bytes NO MATTER WHAT, collected
    * once on the driver (the same driver-side shape Spark's own
    * InjectRuntimeFilter produces) and riding the corpus scan as a
    * constant — the corpus side joins NOTHING.
    *
    * Bloom semantics: false positives only, never negatives — a doc
    * reported clean is definitively clean, `n_shared_maybe` is an upper
    * bound on the exact shared-shingle count, and the fp rate is set by
    * numBits/|bench shingles| (~0.1% at the defaults for 1e5 shingles).
    * DedupSpec pins the no-false-negative containment against the exact
    * operator.
    */
  def contaminationBloom(docs: DataFrame, benchPred: Column, shingleN: Int = 3,
                         idCol: String = "doc_id",
                         estimatedItems: Long = 1L << 17,
                         numBits: Long = 1L << 21): DataFrame = {
    import org.apache.spark.sql.graft.GraftExpressions._
    val sh = docs.select(col(idCol), benchPred.as("__bench"),
      explode(shingleIds(col("text"), shingleN)).as("sid"))
    val blob = sh.where(col("__bench")).select("sid").distinct()
      .agg(bloom_filter_agg(col("sid"), estimatedItems, numBits).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    val hits = sh.where(!col("__bench"))
      .where(bloom_might_contain(blob, col("sid")))
      .groupBy(col(idCol)).agg(count(lit(1)).as("__n"))
    docs.where(!benchPred).select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__n"), lit(0L)).as("n_shared_maybe"),
        (coalesce(col("__n"), lit(0L)) > 0).as("contaminated"))
  }

  /** Audit harness joining [[contamination]]'s exact result to
    * [[contaminationBloom]]'s sketch CONTRACT — with the shingle
    * explode computed ONCE and shared by every leg (the naive
    * exact-join-sketch formulation re-explodes the corpus three times
    * and pays 7 exchanges; this shape pays 3). The shared frame is
    * lazily local-checkpointed so the bloom build (a driver-side
    * `head`), the exact broadcast semi-join and the sketch probe all
    * read the same materialized (id, bench?, sid) rows, and the exact
    * + sketch per-doc counts fold in ONE aggregation pass.
    *
    * Output matches the exact operator's columns plus the two bloom
    * verdicts (`bloom_no_false_neg`, `bloom_flags_all_contaminated`)
    * that pin the sketch's only engine-independent guarantees.
    */
  def contaminationAudit(docs: DataFrame, benchPred: Column,
                         shingleN: Int = 3, idCol: String = "doc_id",
                         estimatedItems: Long = 1L << 17,
                         numBits: Long = 1L << 21): DataFrame = {
    import org.apache.spark.sql.graft.GraftExpressions._
    val sh = docs.select(col(idCol), benchPred.as("__bench"),
        explode(shingleIds(col("text"), shingleN)).as("sid"))
      .localCheckpoint(false)
    val bench = sh.where(col("__bench")).select("sid").distinct()
    val blob = bench
      .agg(bloom_filter_agg(col("sid"), estimatedItems, numBits).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    val hits = sh.where(!col("__bench"))
      .join(broadcast(bench.withColumn("__inb", lit(1))), Seq("sid"), "left")
      .groupBy(col(idCol))
      .agg(count(col("__inb")).as("__n"),
        count(when(bloom_might_contain(blob, col("sid")), lit(1)))
          .as("__nb"))
    docs.where(!benchPred).select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__n"), lit(0L)).as("n_shared"),
        (coalesce(col("__n"), lit(0L)) > 0).as("contaminated"),
        (coalesce(col("__nb"), lit(0L)) >= coalesce(col("__n"), lit(0L)))
          .as("bloom_no_false_neg"),
        (coalesce(col("__nb"), lit(0L)) > 0 ||
          coalesce(col("__n"), lit(0L)) === 0)
          .as("bloom_flags_all_contaminated"))
  }

  /** Duplicated n-gram fraction per document (the RefinedWeb-style
    * repetition-across-corpus signal): of this doc's DISTINCT shingles,
    * the fraction that also occur in at least one other document. Null
    * for docs too short to shingle.
    *
    * Scale shape: the inverted index shuffles (sid, doc_id) pairs only;
    * the duplicated-sid set comes from one partial-agg'd groupBy and
    * joins back as a shuffle-hash semi-join on sid.
    */
  def dupNgramFraction(docs: DataFrame, shingleN: Int = 3,
                       idCol: String = "doc_id"): DataFrame =
    dupIdFraction(docs, shingleIds(col("text"), shingleN), idCol, "n_shingles")

  /** Block-level duplication (the line/paragraph repetition signal of
    * Gopher/MassiveText-style filters): of this doc's distinct
    * `blockW`-token NON-overlapping blocks, the fraction that also
    * occur in at least one other document. This corpus is flat token
    * streams, so fixed-width blocks stand in for lines — on a real
    * newline-delimited corpus only the splitter changes.
    *
    * Scale shape: block hashing is scan-side (native polyHash per
    * block), the inverted index shuffles (block_id, doc_id) only —
    * same posture as [[dupNgramFraction]] at line granularity, with
    * ~blockW× fewer index rows than shingles.
    */
  def dupBlockFraction(docs: DataFrame, blockW: Int = 16,
                       idCol: String = "doc_id"): DataFrame = {
    val tk = tokens(col("text"))
    val nb = (size(tk) / blockW).cast("int")
    val blocks = when(nb > 0,
      transform(sequence(lit(0), nb - 1), i =>
        org.apache.spark.sql.graft.GraftExpressions.poly_hash(
          array_join(slice(tk, i * blockW + 1, lit(blockW)), " "))))
      .otherwise(array().cast("array<bigint>"))
    dupIdFraction(docs, array_distinct(blocks), idCol, "n_blocks")
  }

  /** Shared cross-corpus duplication chain behind [[dupNgramFraction]]
    * and [[dupBlockFraction]]: given a distinct-id-array column, emit
    * per doc the id count, how many of its ids occur in >= 2 docs, and
    * the fraction (null when the doc has no ids). One partial-agg'd
    * groupBy for the duplicated-id set + a shuffle-hash semi-join on
    * the id — both signals keep the same shuffle shape by sharing it.
    */
  private def dupIdFraction(docs: DataFrame, idsCol: Column, idCol: String,
                            nName: String): DataFrame = {
    val withIds = docs.select(col(idCol), idsCol.as("__ids"))
    val inv = withIds.select(col(idCol), explode(col("__ids")).as("__id"))
    val dup = inv.groupBy("__id").agg(count(lit(1)).as("__df"))
      .where(col("__df") >= 2).select("__id")
    val nDup = inv.hint("shuffle_hash").join(dup, Seq("__id"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_dup"))
    withIds.select(col(idCol), size(col("__ids")).cast("long").as(nName))
      .join(nDup, Seq(idCol), "left")
      .select(col(idCol), col(nName),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(col(nName) > 0,
          round(coalesce(col("n_dup"), lit(0L)).cast("double")
            / col(nName), 6)).as("dup_frac"))
  }

  /** Global block-level exact dedup WITH text reassembly — the
    * destructive counterpart of the [[dupBlockFraction]] signal, i.e.
    * the C4/RefinedWeb "remove repeated lines/spans, keep one copy"
    * transform: text is cut into non-overlapping `blockW`-token
    * blocks; an occurrence of a block survives only if it is the
    * corpus-wide FIRST occurrence of that block's hash (minimum
    * (doc_id, position)); each doc's surviving blocks rejoin in
    * order, followed by the sub-`blockW` token tail (always kept).
    * Unique blocks are their own first occurrence, so untouched docs
    * round-trip verbatim on this space-separated corpus. On a
    * newline-delimited corpus only the splitter changes (block =
    * line).
    *
    * Output: (doc_id, n_blocks, n_removed, new_text).
    *
    * Scale shape: block hashing is scan-side (native polyHash); the
    * two shuffles carry (hash, doc_id, pos) triples and kept
    * positions — never block text. First-occurrence selection is a
    * partial-agg'd min(struct(doc_id, pos)) per hash; reassembly
    * re-slices the token array from the kept positions in the final
    * per-doc collect, so text bytes never ride a shuffle.
    */
  def blockDedup(docs: DataFrame, blockW: Int = 16,
                 idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.graft.GraftExpressions.poly_hash
    val base = docs.select(col(idCol), tokens(col("text")).as("__tk"))
      .withColumn("__nb", (size(col("__tk")) / blockW).cast("int"))
    def blockTxt(tk: Column, pos: Column): Column =
      array_join(slice(tk, pos * blockW + 1, lit(blockW)), " ")
    val occ = base.select(col(idCol), posexplode(
        when(col("__nb") > 0, transform(sequence(lit(0), col("__nb") - 1),
          i => poly_hash(blockTxt(col("__tk"), i))))
          .otherwise(array().cast("array<bigint>"))).as(Seq("pos", "h")))
    val firsts = occ.groupBy("h")
      .agg(min(struct(col(idCol), col("pos"))).as("w"))
    val kept = occ.join(firsts, Seq("h"))
      .where(col(idCol) === col(s"w.$idCol") && col("pos") === col("w.pos"))
      .groupBy(idCol).agg(sort_array(collect_list(col("pos"))).as("__kp"))
    base.join(kept, Seq(idCol), "left")
      .select(col(idCol), col("__nb").cast("long").as("n_blocks"),
        (col("__nb") - coalesce(size(col("__kp")), lit(0))).cast("long")
          .as("n_removed"),
        array_join(filter(concat(
            transform(coalesce(col("__kp"), array().cast("array<int>")),
              p => blockTxt(col("__tk"), p)),
            array(array_join(slice(col("__tk"), col("__nb") * blockW + 1,
              size(col("__tk")) - col("__nb") * blockW), " "))),
          s => length(s) > 0), " ").as("new_text"))
  }

  /** Character-level duplicated-span detection — the ExactSubstr-style
    * signal (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better") at k-code-point granularity: a position is
    * duplicated when its char k-gram occurs >= 2 times CORPUS-WIDE
    * (across or within docs); overlapping duplicated grams coalesce
    * into maximal spans per doc (the gaps-and-islands fold
    * [[RangeJoin.coalesceIntervals]] already provides).
    *
    * Finer-grained than [[blockDedup]]'s non-overlapping token blocks:
    * spans start and end on exact character boundaries, so a repeated
    * sentence inside otherwise-unique paragraphs is bounded tightly.
    *
    * Scale shape: this MARKS duplicated spans, it never enumerates
    * duplicate PAIRS — so unlike the pair family there is no df² term
    * anywhere. Gram hashes roll scan-side in O(chars) (native
    * CharGramHashes); the shuffles carry (hash, id, pos) — linear in
    * corpus characters — for one hash-keyed partial agg (dup-hash
    * set), one semi-join back, and one doc-keyed island window.
    *
    * Output: idCol, n_spans, dup_chars, dup_frac (of code points) —
    * every input doc appears, zero-duplication docs score 0.
    */
  def duplicateSpans(docs: DataFrame, k: Int = 20,
                     idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.graft.GraftExpressions.char_gram_hashes
    val grams = docs.select(col(idCol),
      posexplode(char_gram_hashes(col("text"), k)).as(Seq("pos", "h")))
    val dupH = grams.groupBy("h").agg(count(lit(1)).as("__c"))
      .where(col("__c") >= 2).select("h")
    val dupPos = grams.join(dupH, Seq("h"), "left_semi")
      .select(col(idCol), col("pos").cast("long").as("__b"),
        (col("pos") + lit(k)).cast("long").as("__e"))
    val spans = RangeJoin.coalesceIntervals(dupPos, Seq(idCol), "__b", "__e")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_spans"),
        sum(col("end_ts") - col("begin_ts")).as("dup_chars"))
    docs.select(col(idCol), length(col("text")).as("__len"))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        when(col("__len") > 0,
          round(coalesce(col("dup_chars"), lit(0L)).cast("double") /
            col("__len").cast("double"), 6)).otherwise(lit(0.0))
          .as("dup_frac"))
  }

  /** Character-level benchmark DECONTAMINATION — [[contamination]]'s
    * token n-gram screen run at char granularity via the
    * [[duplicateSpans]] machinery, CROSS-corpus: a corpus position is
    * contaminated when its char k-gram also occurs anywhere in the
    * benchmark slice; overlapping hits coalesce into maximal spans.
    * Catches what the token screen structurally misses — verbatim
    * benchmark text whose token boundaries shift in the crawl copy
    * (punctuation squashed into words, different whitespace, a
    * mid-token truncation), since char grams never re-tokenize — and
    * bounds the overlap tightly enough to CUT (span edges are exact
    * char offsets), where the token screen only flags.
    *
    * Scale shape: gram hashes roll scan-side (native CharGramHashes,
    * O(chars)); the benchmark's distinct gram set broadcasts (the
    * [[contamination]] posture — swap for the Bloom sketch beyond
    * broadcast size); corpus-side shuffles carry (id, pos) for one
    * doc-keyed island window. Nothing is pairwise.
    *
    * Output per NON-bench doc: idCol, n_spans, contaminated_chars,
    * contam_frac, contaminated.
    */
  def contaminationSpans(docs: DataFrame, benchPred: Column, k: Int = 20,
                         idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.graft.GraftExpressions.char_gram_hashes
    val grams = docs.select(col(idCol), benchPred.as("__bench"),
      posexplode(char_gram_hashes(col("text"), k)).as(Seq("pos", "h")))
    val bench = grams.where(col("__bench")).select("h").distinct()
    val hitPos = grams.where(!col("__bench"))
      .join(broadcast(bench), Seq("h"), "left_semi")
      .select(col(idCol), col("pos").cast("long").as("__b"),
        (col("pos") + lit(k)).cast("long").as("__e"))
    val spans = RangeJoin.coalesceIntervals(hitPos, Seq(idCol), "__b", "__e")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_spans"),
        sum(col("end_ts") - col("begin_ts")).as("contaminated_chars"))
    docs.where(!benchPred)
      .select(col(idCol), length(col("text")).as("__len"))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("contaminated_chars"), lit(0L))
          .as("contaminated_chars"),
        when(col("__len") > 0,
          round(coalesce(col("contaminated_chars"), lit(0L)).cast("double") /
            col("__len").cast("double"), 6)).otherwise(lit(0.0))
          .as("contam_frac"),
        (coalesce(col("contaminated_chars"), lit(0L)) > 0)
          .as("contaminated"))
  }

  /** The destructive counterpart of [[duplicateSpans]] — Lee et al.'s
    * ExactSubstr dedup as a TRANSFORM: every non-first occurrence of a
    * duplicated char k-gram (first = corpus-wide min (doc, pos)) is
    * cut, overlapping cuts coalesce into maximal spans, and the text
    * is reassembled from the surviving segments. Finer than
    * [[blockDedup]] (cuts land on exact character boundaries) at the
    * cost of k-gram-resolution span edges.
    *
    * Scale shape: same as [[duplicateSpans]] — spans are marked, pairs
    * never enumerated. The first-occurrence rank is a row_number over
    * each hash's posting list (the hottest gram's df bounds one task's
    * sort, the usual hot-key caveat); reassembly is a scan-side
    * aggregate() fold over each doc's own span array.
    *
    * Output: idCol, n_cut, removed_chars, new_text — every input doc
    * appears, untouched docs keep their text verbatim.
    */
  def spanDedup(docs: DataFrame, k: Int = 20,
                idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.graft.GraftExpressions.char_gram_hashes
    val grams = docs.select(col(idCol),
      posexplode(char_gram_hashes(col("text"), k)).as(Seq("pos", "h")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("h").orderBy(col(idCol), col("pos"))
    val rem = grams.withColumn("__rn", row_number().over(w))
      .where(col("__rn") > 1)
      .select(col(idCol), col("pos").cast("long").as("__b"),
        (col("pos") + lit(k)).cast("long").as("__e"))
    val spanArr = RangeJoin.coalesceIntervals(rem, Seq(idCol), "__b", "__e")
      .groupBy(idCol)
      .agg(sort_array(collect_list(struct(col("begin_ts").as("b"),
        col("end_ts").as("e")))).as("__sp"),
        count(lit(1)).as("n_cut"),
        sum(col("end_ts") - col("begin_ts")).as("removed_chars"))
    val seg = (from: Column, until: Column) =>
      col("text").substr((from + 1).cast("int"), (until - from).cast("int"))
    val reassembled = aggregate(
      col("__sp"),
      struct(lit("").as("acc"), lit(0L).as("prev")),
      (acc, s) => struct(
        concat(acc.getField("acc"),
          seg(acc.getField("prev"), s.getField("b"))).as("acc"),
        s.getField("e").as("prev")),
      acc => concat(acc.getField("acc"),
        seg(acc.getField("prev"), length(col("text")).cast("long"))))
    docs.join(spanArr, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_cut"), lit(0L)).as("n_cut"),
        coalesce(col("removed_chars"), lit(0L)).as("removed_chars"),
        when(col("__sp").isNull, col("text")).otherwise(reassembled)
          .as("new_text"))
  }

  // --- exact n-gram Jaccard via shingle inverted index ----------------

  /** Pairs with word-`shingleN`-gram Jaccard >= `threshold`, computed
    * exactly: explode distinct shingles, self-join the inverted index
    * (the shuffle carries only (sid, doc_id)), count shared shingles,
    * Jaccard = shared / (|A| + |B| - shared).
    */
  def ngramJaccardPairs(docs: DataFrame, shingleN: Int = 3,
                        threshold: Double = 0.5,
                        idCol: String = "doc_id",
                        maxDocFreq: Option[Int] = None): DataFrame =
    ngramJaccardPairsFromShingles(
      docs.select(col(idCol), shingleIds(col("text"), shingleN).as("sids")),
      threshold, idCol, maxDocFreq)

  /** [[ngramJaccardPairs]] over a prebuilt (idCol, sids) frame — the
    * [[minhashSignaturesFromShingles]] sharing hook for evals that
    * compute the exact truth AND an index over the same shingles.
    */
  def ngramJaccardPairsFromShingles(withSh: DataFrame,
                                    threshold: Double = 0.5,
                                    idCol: String = "doc_id",
                                    maxDocFreq: Option[Int] = None): DataFrame =
    // each posting row carries its doc's shingle count: +1 int on the
    // sid shuffle buys the union sizes AT the pair join, so no
    // doc-size lookup join exists at all (r14 — the size frame is one
    // row per DOCUMENT, so the old pinned broadcast was a 10^9-doc
    // OOM and the AQE alternative shuffles the much larger pair frame
    // twice; measured same-protocol at the sf10 harness: 44.1 s
    // pinned-broadcast / 66.8 s AQE-unpinned / 12.7 s this shape)
    postingPairs(withSh.select(col(idCol).as("id"), size(col("sids")).as("n"),
        explode(col("sids")).as("sid")), "sid", maxDocFreq)
      .select(col("id_a"), col("id_b"),
        round(col("n_shared").cast("double")
          / (col("n_a") + col("n_b") - col("n_shared")), 6).as("jaccard"))
      .where(col("jaccard") >= threshold)

  /** Pairs of ids that share posting-list keys: `postings` holds one
    * (`id`, `n`, `key`) row per distinct (id, key), `n` being the id's
    * posting count before any cap. Output: id_a < id_b, n_shared (keys
    * in common), n_a, n_b — Jaccard or containment is the caller's
    * last projection. Shared by the n-gram, video-frame and audio
    * fingerprint dedups; the oracle twin is `SparkEntry.sqlPostingPairs`.
    *
    * Scale path: a key held by more than `maxDf` ids generates O(df²)
    * candidate pairs but carries ~no signal; dropping it bounds the
    * hottest key (classic posting-list pruning), and a key held by one
    * id pairs with nothing, so the cap keeps df in 2..maxDf. `None`
    * keeps every key (exact). The df count is a WINDOW over the key,
    * not a groupBy + semi-join back: the window's key-hash exchange is
    * the partitioning the self-join needs, so pruning rides the shuffle
    * that was already required, and the postings are computed once —
    * no checkpoint, no second pass over them.
    */
  def postingPairs(postings: DataFrame, key: String,
                   maxDf: Option[Int]): DataFrame = {
    val inv = maxDf match {
      case None => postings
      case Some(f) =>
        val w = org.apache.spark.sql.expressions.Window.partitionBy(key)
        postings.withColumn("__df", count(lit(1)).over(w))
          .where(col("__df").between(2, f)).drop("__df")
    }
    // shuffle-hash pinned: the posting list is uniformly keyed (df is
    // bounded), so hash join on the key beats both sort-merge (no order
    // to exploit) and a broadcast AQE might flip-flop to. n_a/n_b ride
    // the posting rows, so the pair agg's grouping key carries them for
    // free — id_a/id_b functionally determine them, the group count is
    // unchanged.
    // r16 (guide §2): the key exchange is byte-light but the work AFTER
    // the shuffle read — per-cell pair explosion + the partial pair agg
    // — is the dominant compute, and AQE byte-coalescing parks it on a
    // few partitions. Pin the exchange's width; both join sides read
    // the SAME spread frame, so ReuseExchange still dedups it.
    val invW = Par.spread(inv, col(key))
    def side(s: String) =
      invW.select(col("id").as(s"id_$s"), col("n").as(s"n_$s"), col(key))
    side("a").hint("shuffle_hash").join(side("b"), Seq(key))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "n_a", "n_b")
      .agg(count(lit(1)).as("n_shared"))
      .select("id_a", "id_b", "n_shared", "n_a", "n_b")
  }

  // --- incremental dedup against a persisted signature store ----------

  /** Fused single-column band key: band * HashMod + bk (injective —
    * bk < HashMod), so the store can bucket AND join on ONE column,
    * the exact shape Spark's bucketed-join elision requires.
    */
  private def fusedKey: Column = col("band") * lit(HashMod) + col("bk")

  /** Persist a corpus's LSH band keys as a bucketed table — the
    * INCREMENTAL dedup substrate. At 100 TB you dedup each incoming
    * batch against everything already ingested; re-hashing the corpus
    * per batch is a non-starter, so its band keys (one long + id per
    * band per doc — a sliver of the text) are paid for ONCE and land
    * pre-shuffled: bucketed by the fused band key, the key
    * [[dedupAgainstStore]] joins on, so the store side of every later
    * batch join reads its buckets with ZERO runtime exchange. `mode =
    * "append"` ingests a new batch's keys into the same buckets (see
    * [[appendToSignatureStore]]).
    */
  def writeSignatureStore(docs: DataFrame, table: String, nBuckets: Int = 32,
                          k: Int = 16, bands: Int = 4, shingleN: Int = 3,
                          idCol: String = "doc_id",
                          mode: String = "overwrite"): Unit =
    bandedFromSigs(minhashSignatures(docs, k, shingleN, idCol), k, bands, idCol)
      .select(col(idCol), fusedKey.as("bkey"))
      .write.mode(mode).bucketBy(nBuckets, "bkey").sortBy("bkey")
      .format("parquet").saveAsTable(table)

  /** Ingest an accepted batch's band keys into the store (same bucket
    * spec, so appended files join just as exchange-free).
    */
  def appendToSignatureStore(docs: DataFrame, table: String,
                             nBuckets: Int = 32, k: Int = 16, bands: Int = 4,
                             shingleN: Int = 3, idCol: String = "doc_id"): Unit =
    writeSignatureStore(docs, table, nBuckets, k, bands, shingleN, idCol,
      mode = "append")

  /** Drop every batch doc that LSH-collides with an already-ingested
    * doc: batch band keys semi-join the store on the fused bucket key
    * (store side exchange-free — the write-time shuffle is reused),
    * and the surviving frame is the batch minus the hit ids. ONLY the
    * batch is tokenized, hashed, and shuffled; corpus cost is a
    * bucket-colocated read of (bkey, id) longs. Intra-batch dups are
    * deliberately untouched — run the in-batch LSH path for those —
    * so the operator composes: filter intra-batch, dedup against
    * store, then [[appendToSignatureStore]] the survivors.
    */
  def dedupAgainstStore(spark: org.apache.spark.sql.SparkSession,
                        batch: DataFrame, table: String,
                        k: Int = 16, bands: Int = 4, shingleN: Int = 3,
                        idCol: String = "doc_id"): DataFrame = {
    val store = spark.table(table)
    val bb = bandedFromSigs(minhashSignatures(batch, k, shingleN, idCol),
      k, bands, idCol).select(col(idCol), fusedKey.as("bkey"))
    val hits = bb.join(store.select("bkey"), Seq("bkey"), "left_semi")
      .select(col(idCol)).distinct()
    batch.join(hits, Seq(idCol), "left_anti")
  }
}
