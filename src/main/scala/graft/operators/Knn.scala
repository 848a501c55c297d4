package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import graft.sources.Parquet

/** Similarity search over an embedding column (Array[Float]) —
  * SURVEY.md §2.8: brute-force cosine top-k as the baseline and a
  * random-hyperplane LSH-bucketed variant as the scale path, plus
  * cosine near-dup pairs.
  *
  * Numeric parity: every dot product is a LEFT FOLD over explicit
  * element indexes with each float widened to double first — the same
  * fold the DuckDB oracle runs, so cosines are bit-identical and the
  * top-k ranking (raw cosine desc, id asc) is deterministic across
  * engines. sqrt is IEEE-correctly-rounded everywhere, so it is safe;
  * no other transcendentals are used.
  *
  * Scale shape: brute force broadcasts the (small) query set against a
  * distributed corpus scan with a per-query top-k window — no corpus
  * shuffle. LSH shuffles only (bucket, id, vector) and joins within
  * buckets.
  */
object Knn {

  /** Left-fold dot product of two float vectors, in double — native
    * codegen'd expression (graft.functions.VecDot).
    */
  def dot(a: Column, b: Column, dim: Int): Column =
    org.apache.spark.sql.graft.GraftExpressions.vec_dot(a, b)

  /** HOF twin of [[dot]] — definitionally the oracle's index fold;
    * kept for parity tests.
    */
  def dotHof(a: Column, b: Column, dim: Int): Column =
    aggregate(
      transform(sequence(lit(1), lit(dim)),
        i => element_at(a, i).cast("double") * element_at(b, i).cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def cosine(a: Column, b: Column, dim: Int): Column =
    dot(a, b, dim) / (sqrt(dot(a, a, dim)) * sqrt(dot(b, b, dim)))

  /** One side of a cosine pair join: `idCol` as `id`, `vecCol` as
    * `vec`, and the vector's L2 norm as `norm`. Norms are computed ONCE
    * per vector (not per pair); the division dot/(sqrt(na)*sqrt(nb)) is
    * unchanged, so values stay bit-identical to [[cosine]] / the oracle.
    */
  private def normed(idCol: String, vecCol: String, dim: Int,
                     id: String, vec: String, norm: String): Seq[Column] =
    Seq(col(idCol).as(id), col(vecCol).as(vec),
      sqrt(dot(col(vecCol), col(vecCol), dim)).as(norm))

  /** Exact cosine of a (query, neighbor) pair row over [[normed]]
    * sides named (query_id, qvec, qn) and (neighbor_id, nvec, nn);
    * `vdot` is [[dot]] over float vectors or [[dotD]] over widened ones.
    */
  private def pairCos(vdot: (Column, Column) => Column): Column =
    vdot(col("qvec"), col("nvec")) / (col("qn") * col("nn"))

  /** Per-query top-k, the rank every search path ends in: number each
    * query's rows by `score` (descending, or ascending for a distance),
    * ties on the lower `nb`, into column `rank`, and keep ranks <= k.
    */
  private[graft] def topK(df: DataFrame, score: String, k: Int,
                          asc: Boolean = false, rank: String = "rank",
                          nb: String = "neighbor_id"): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(if (asc) col(score).asc else col(score).desc, col(nb))
    df.withColumn(rank, row_number().over(w)).where(col(rank) <= k)
  }

  /** [[topK]] as a search result: (query_id, rank, neighbor_id,
    * `extra`..., score rounded to 6dp). Ranking reads the raw score.
    */
  private def ranked(df: DataFrame, score: String, k: Int, asc: Boolean = false,
                     extra: Seq[String] = Nil): DataFrame =
    topK(df, score, k, asc).select(
      Seq(col("query_id"), col("rank"), col("neighbor_id")) ++ extra.map(col)
        :+ round(col(score), 6).as(score): _*)

  /** Brute-force top-k: for each row of `queries`, the k nearest
    * corpus rows by cosine (self excluded).
    */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, dim: Int, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(normed(idCol, vecCol, dim, "query_id", "qvec", "qn"): _*)
    val joined = corpus
      .select(normed(idCol, vecCol, dim, "neighbor_id", "nvec", "nn"): _*)
      .crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", pairCos(dot(_, _, dim)))
    ranked(joined, "cos", k)
  }

  // --- random-hyperplane LSH -----------------------------------------

  /** The LSH banding every hyperplane path shares: `keep`, exploded
    * to one row per table t < `nTables` with `tb` = t and `bk` = the
    * sign-bucket code of `v` (a `dim`-vector) under planes
    * t·nPlanes … t·nPlanes+nPlanes-1. The DuckDB oracles mirror this
    * one geometry (`sqlLshCtes`), so no other code lays out tables.
    */
  private def lshBand(df: DataFrame, keep: Seq[Column], v: Column, dim: Int,
                      nPlanes: Int, nTables: Int): DataFrame = {
    // `keep` (a norm, say) is projected BELOW the explode, once per row
    // rather than once per (row, table). The explode stays over the
    // literal array: exploding a projected array column would let
    // Catalyst infer a `size(...) > 0` filter and push it, bucket codes
    // and all, into the scan's Filter, hashing every row twice
    val rows = df.select(keep :+ v.as("__v"): _*)
    val kept = rows.columns.init.toSeq.map(col)
    val cells = array((0 until nTables).map { t =>
      struct(lit(t).as("tb"), bucketCode(col("__v"), dim, nPlanes, t * nPlanes).as("bk"))
    }: _*)
    rows.select(kept :+ explode(cells).as("tbk"): _*)
      .select(kept ++ Seq(col("tbk.tb").as("tb"), col("tbk.bk").as("bk")): _*)
  }

  /** Corpus and queries banded ([[lshBand]]) and joined on their shared
    * (tb, bk) cells, self-pairs excluded, with the exact cosine: one
    * row per (pair, shared cell). Vectors are hashed scan-side; the
    * shuffle carries (table, bucket, id, vec), never a cross product.
    */
  private def lshPairs(corpus: DataFrame, queries: DataFrame, dim: Int,
                       nPlanes: Int, nTables: Int, idCol: String,
                       vecCol: String): DataFrame = {
    def side(df: DataFrame, id: String, vec: String, norm: String): DataFrame =
      lshBand(df, normed(idCol, vecCol, dim, id, vec, norm), col(vecCol), dim,
        nPlanes, nTables)
    side(corpus, "neighbor_id", "nvec", "nn")
      .join(side(queries, "query_id", "qvec", "qn"), Seq("tb", "bk"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", pairCos(dot(_, _, dim)))
  }

  /** Multi-table random-hyperplane LSH ANN: `nTables` independent
    * plane sets (tables); a candidate is any corpus row sharing a
    * (table, bucket) cell with the query in AT LEAST one table, ranked
    * by exact cosine after dedup. Tables are THE recall dial: a pair
    * with per-plane agreement p collides with probability
    * 1-(1-p^nPlanes)^nTables, so adding tables buys recall linearly in
    * shuffle volume (each row materializes nTables (table, bucket)
    * entries). Ranks [[lshCandidatesMinTable]]'s pairs; its `min_tb`
    * is pruned from the plan. Single-table LSH at realistic plane
    * counts has near-zero top-k recall on spread-out embeddings —
    * measured by `emb_ann_recall`.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, dim: Int, k: Int,
              nPlanes: Int = 4, nTables: Int = 4, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame =
    ranked(lshCandidatesMinTable(corpus, queries, dim, nPlanes, nTables,
      idCol, vecCol), "cos", k)

  /** [[lshTopK]]'s candidate frame with each pair's MINIMUM colliding
    * table index (r15) — lets the table-count dial compute the banded
    * self-join ONCE: a pair is a t-table candidate iff it collides in
    * SOME table with index < t, so leg t's candidate set is exactly
    * `min_tb < t`, with the identical exact cosine (cos is the same on
    * every table's copy of a pair, so max() is pure, map-side
    * combinable dedup). Output: (query_id, neighbor_id, cos, min_tb).
    */
  def lshCandidatesMinTable(corpus: DataFrame, queries: DataFrame, dim: Int,
                            nPlanes: Int = 4, nTables: Int = 4,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame =
    lshPairs(corpus, queries, dim, nPlanes, nTables, idCol, vecCol)
      .groupBy("query_id", "neighbor_id")
      .agg(max(col("cos")).as("cos"), min(col("tb")).as("min_tb"))

  /** LSH-bucketed cosine RANGE search — the scale path of
    * [[rangeSearch]] for query sets too large to broadcast: candidates
    * are rows sharing a (table, bucket) cell with the query in at
    * least one of the `nTables` tables (the same cells [[lshTopK]] and
    * the LSH-blocked dedup use), verified by exact cosine. Recall
    * follows the same 1-(1-p^nPlanes)^nTables dial as top-k; unlike
    * top-k there is no rank window — the radius threshold replaces it,
    * so the plan is banding + one equi-join + a dedup agg.
    */
  def lshRangeSearch(corpus: DataFrame, queries: DataFrame, dim: Int,
                     tau: Double, nPlanes: Int = 4, nTables: Int = 4,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame =
    lshPairs(corpus, queries, dim, nPlanes, nTables, idCol, vecCol)
      // cos is identical on every table's copy of a pair, so filtering
      // before the max() dedup equals filtering after it; it stays on
      // this side of the agg because Catalyst does not push a filter
      // below max()
      .where(col("cos") >= tau)
      .groupBy("query_id", "neighbor_id").agg(max(col("cos")).as("cos"))
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos"), 6).as("cos"))

  // --- max-inner-product search (MIPS) -------------------------------

  /** Brute-force max-inner-product top-k: for each query row, the k
    * corpus rows with the largest RAW dot product (self excluded).
    * Retrieval/recsys scoring where vector norms carry signal (a
    * popularity-scaled item embedding should outrank a niche one at
    * the same angle) — cosine's normalization erases exactly that
    * signal, so MIPS is a distinct operator, not a cosine variant.
    * Same scale shape as [[bruteTopK]]: broadcast query set over a
    * distributed corpus scan + per-query top-k window — zero corpus
    * shuffle.
    */
  def mipsTopK(corpus: DataFrame, queries: DataFrame, dim: Int, k: Int,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val scored = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("nvec"))
      .crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("ip", dot(col("qvec"), col("nvec"), dim))
    ranked(scored, "ip", k)
  }

  /** MIPS scale path: norm-augmentation reduction to angular search —
    * append sqrt(M^2 - |x|^2) to each corpus vector (M^2 = max squared
    * norm, a one-row broadcast agg) and a 0 to each query, after which
    * every augmented corpus vector has norm M and
    * cos(q', x') = dot(q, x) / (|q| * M) is MONOTONE in the inner
    * product — so the multi-table hyperplane banding that serves
    * [[lshTopK]] applies unchanged over dim+1 coordinates. Candidates
    * are verified by the EXACT dot product (the augmentation only
    * steers bucketing; the score is the true inner product, identical
    * to [[mipsTopK]]'s). Shuffle carries (table, bucket, id, vec) —
    * never a cross product; recall dial = (nPlanes, nTables).
    */
  def mipsLshTopK(corpus: DataFrame, queries: DataFrame, dim: Int, k: Int,
                  nPlanes: Int = 4, nTables: Int = 4,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val m2 = corpus.agg(max(dot(col(vecCol), col(vecCol), dim)).as("__m2"))
    def side(df: DataFrame, id: String, vec: String,
             corpusSide: Boolean): DataFrame = {
      val base = Par.withScalars(df.select(col(idCol).as(id), col(vecCol).as(vec)), m2)
      val n2 = dot(col(vec), col(vec), dim)
      // fp guard: M^2 - |x|^2 can round a hair negative on the max row
      val last =
        if (corpusSide) sqrt(greatest(col("__m2") - n2, lit(0.0)))
        else lit(0.0)
      lshBand(base.withColumn("__aug",
          concat(transform(col(vec), x => x.cast("double")), array(last))),
        Seq(col(id), col(vec)), col("__aug"), dim + 1, nPlanes, nTables)
    }
    val cand = side(corpus, "neighbor_id", "nvec", corpusSide = true)
      .join(side(queries, "query_id", "qvec", corpusSide = false),
        Seq("tb", "bk"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("ip", dot(col("qvec"), col("nvec"), dim))
      // same pair collides in several tables; ip is identical on every
      // copy, so max() is pure dedup (map-side combinable)
      .groupBy("query_id", "neighbor_id").agg(max(col("ip")).as("ip"))
    ranked(cand, "ip", k)
  }

  /** dot(v, plane_j) with the deterministic integer components. */
  private def planeDot(vec: Column, dim: Int, j: Int): Column =
    aggregate(
      transform(sequence(lit(1), lit(dim)),
        i => element_at(vec, i).cast("double")
          * ((lit(j + 1L) * lit(73856093L) + i * lit(19349663L)) % lit(2000001L)
            - lit(1000000L)).cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Sign-bucket code (bit j set when dot(v, plane_{offset+j}) > 0);
    * `offset` selects the plane set, giving each LSH table independent
    * hyperplanes from the same deterministic family.
    */
  def bucketCode(vec: Column, dim: Int, nPlanes: Int, offset: Int = 0): Column =
    (0 until nPlanes).map { j =>
      when(planeDot(vec, dim, offset + j) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Per-group embedding centroids (e.g. class prototypes for
    * retrieval or distillation targets): posexplode the vector and
    * average per (group, dimension) — one partial-aggregated shuffle
    * keyed by (group, dim), so 100 TB of embeddings reduces map-side
    * to #groups x dim rows.
    */
  def centroids(emb: DataFrame, groupCol: String,
                vecCol: String = "embedding"): DataFrame =
    emb.select(col(groupCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(groupCol), (col("pos") + 1).cast("long").as("dim"))
      .agg(round(avg(col("v").cast("double")), 6).as("c"))

  /** Embedding-distribution drift between two corpus snapshots (the
    * monitoring op a continuously-ingested training set needs: a new
    * crawl/encoder version shifts the embedding distribution before any
    * scalar stat moves): per group, the cosine between the two
    * snapshots' centroids and the centroid shift's L2 norm. Near-1
    * cosine + near-0 shift = stable; a drop localizes WHICH label/slice
    * moved.
    *
    * Cross-engine exactness: centroid components quantize to 6dp-scaled
    * integers FIRST (one avg each), so the dot/norm/shift sums are
    * exact 64-bit integer arithmetic — no float-sum ordering anywhere —
    * and the final cos/L2 are one double division/sqrt off exact ints
    * (components ~1e6, squared·dim ~1e14: well inside the long range).
    *
    * Scale shape: ONE (group, dim) partial-agg'd shuffle computes both
    * snapshots' centroids (conditional aggregates — the snapshots are
    * never joined), then a #groups×dim-row re-combine. 100 TB of
    * embeddings reduces map-side; groups with an empty side emit null
    * drift (incomparable, not zero).
    *
    * Output: label, n_ref, n_cur, centroid_cos, shift_l2.
    */
  def labelDrift(emb: DataFrame, refPred: Column,
                 groupCol: String = "label",
                 vecCol: String = "embedding"): DataFrame = {
    val d = emb.select(col(groupCol).as("label"), refPred.as("__ref"),
      posexplode(col(vecCol)).as(Seq("pos", "v")))
    val per = d.groupBy(col("label"), col("pos"))
      .agg(
        round(avg(when(col("__ref"), col("v").cast("double"))) * lit(1e6))
          .cast("long").as("ca6"),
        round(avg(when(!col("__ref"), col("v").cast("double"))) * lit(1e6))
          .cast("long").as("cb6"),
        count(when(col("__ref"), lit(1))).as("na"),
        count(when(!col("__ref"), lit(1))).as("nb"))
    per.groupBy("label")
      .agg(max(col("na")).as("n_ref"), max(col("nb")).as("n_cur"),
        sum(col("ca6") * col("cb6")).as("__dot"),
        sum(col("ca6") * col("ca6")).as("__ssa"),
        sum(col("cb6") * col("cb6")).as("__ssb"),
        sum((col("ca6") - col("cb6")) * (col("ca6") - col("cb6"))).as("__sd"))
      .select(col("label"), col("n_ref"), col("n_cur"),
        round(col("__dot").cast("double")
          / (sqrt(col("__ssa").cast("double"))
            * sqrt(col("__ssb").cast("double"))), 6).as("centroid_cos"),
        round(sqrt(col("__sd").cast("double")) / lit(1e6), 6).as("shift_l2"))
  }

  /** Int8 scalar quantization: per-dimension corpus min/max → code
    * floor((x-mn)/(mx-mn)·255) per element (4× storage cut before ANN
    * serving). Two stages: the stats pass posexplodes and partial-aggs
    * to `dim` rows (map-side combine, so 100 TB reduces to a
    * broadcastable one-row array pair), then quantization is a
    * scan-side projection against the broadcast stats. floor (not
    * round) keeps codes tie-free across engines; a constant dimension
    * (mx=mn) codes to 0. Codes surface as a CSV string: a stable
    * scalar for cross-engine comparison and a reminder that the 100 TB
    * sink would write binary, not arrays-of-int.
    */
  def quantizeInt8(emb: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    Par.withScalars(emb, int8Bounds(emb, vecCol))
      .select(col(idCol), concat_ws(",",
        int8Codes(vecCol)((code, _, _) => code.cast("string"))).as("codes"))

  /** The int8 stats pass: per-dimension min/max partial-agg'd to `dim`
    * rows, folded to one row of dim-ordered arrays (mns, mxs) —
    * broadcastable at any corpus size.
    */
  private def int8Bounds(emb: DataFrame, vecCol: String): DataFrame = {
    val stats = emb
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy("pos").agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
    stats.groupBy().agg(
      transform(array_sort(collect_list(struct(col("pos"), col("mn")))),
        s => s.getField("mn")).as("mns"),
      transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
        s => s.getField("mx")).as("mxs"))
  }

  /** `vecCol` mapped element-wise through `f(code, mn, mx)`, where code
    * is the element's int8 floor code against its dimension's
    * [[int8Bounds]] (0 on a constant dimension).
    */
  private def int8Codes(vecCol: String)(f: (Column, Column, Column) => Column): Column =
    transform(col(vecCol), (x, i) => {
      val mn = element_at(col("mns"), i + 1)
      val mx = element_at(col("mxs"), i + 1)
      f(when(mx === mn, lit(0)).otherwise(
        floor((x.cast("double") - mn) / (mx - mn) * lit(255.0)).cast("int")), mn, mx)
    })

  /** Int8 scalar-quantized flat search with exact rerank — serving
    * against the [[quantizeInt8]] store (faiss SQ8-flat shape): stage 1
    * ranks by approximate cosine between the exact query and the
    * DEQUANTIZED corpus vector (mn + code/255·(mx−mn), the same
    * floor-code arithmetic as quantizeInt8); stage 2 re-scores the top
    * `rerank` candidates per query by exact cosine against their true
    * vectors and takes the final top-k. Measures what int8 compression
    * costs at serving time — and at 100 TB the point: stage 1 reads a
    * 1-byte-per-dim store (4× the scan I/O and resident-memory cut of
    * the float corpus), stage 2 fetches only |Q|·rerank true vectors
    * via a broadcast candidate list.
    *
    * Scale shape: the (dim)-row min/max stats partial-agg to one
    * broadcast array pair (quantizeInt8's stats pass); stage 1 is a
    * corpus scan against the broadcast query set (zero corpus shuffle
    * before the per-query top-rerank window, same as [[bruteTopK]]);
    * the corpus never shuffles vectors.
    */
  def sqSearchTopK(corpus: DataFrame, queries: DataFrame, dim: Int, k: Int,
                   rerank: Int = 15, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    // dequantized corpus vector: the int8 code round-tripped to double
    val deq = Par.withScalars(corpus, int8Bounds(corpus, vecCol))
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("nvec"),
        int8Codes(vecCol)((code, mn, mx) =>
          mn + code.cast("double") / lit(255.0) * (mx - mn)).as("dv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      castD(col(vecCol)).as("qd"),
      sqrt(dot(col(vecCol), col(vecCol), dim)).as("qn"))
    val scored = deq.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("acos",
        dotD(col("qd"), col("dv")) / (col("qn") * sqrt(dotD(col("dv"), col("dv")))))
    val cand = topK(scored, "acos", rerank, rank = "rk")
      .select("query_id", "neighbor_id")
    exactRerank(corpus, queries, cand, dim, k, idCol, vecCol)
  }

  /** Binary quantization (1 bit per dimension — the 32x-compression
    * end of the quantization family next to SQ8 / PQ / RQ): each
    * dimension's threshold is the CORPUS MEAN of that dimension
    * (rounded to 6dp so both engines compare against the identical
    * double), and the bits pack MSB-first into 32-dim BIGINT words.
    * A candidate scan then costs one xor + popcount per word instead
    * of `dim` float multiplies, and the store reads dim/8 bytes per
    * vector instead of 4*dim — the layout behind billion-scale
    * "binary-first, exact-rerank" serving stacks.
    *
    * Scale shape: the threshold pass partial-aggs to `dim` rows and
    * broadcasts; packing is a scan-side projection (zero shuffle).
    * Packing is fold-exact: bit d is a > comparison of two doubles
    * both engines hold bit-identically, so the words (and every
    * Hamming distance) are integer-exact across engines.
    */
  def bqMeans(corpus: DataFrame, vecCol: String = "embedding"): DataFrame = {
    val stats = corpus
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy("pos").agg(round(avg(col("x").cast("double")), 6).as("m"))
    stats.groupBy().agg(
      transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("mns"))
  }

  /** Pack `vecCol` into dim/32 sign-bit words against the broadcast
    * per-dim means frame from [[bqMeans]]. MSB-first fold: word w =
    * fold over its 32 dims of acc*2 + (x > mean).
    */
  def bqPack(df: DataFrame, means: DataFrame, dim: Int,
             vecCol: String = "embedding", outCol: String = "bw"): DataFrame = {
    require(dim % 32 == 0, s"dim $dim must pack whole 32-bit words")
    Par.withScalars(df, means)
      .withColumn(outCol,
        transform(sequence(lit(0), lit(dim / 32 - 1)), w =>
          aggregate(sequence(lit(1), lit(32)), lit(0L), (acc, j) =>
            acc * 2 + when(
              element_at(col(vecCol), w * 32 + j).cast("double")
                > element_at(col("mns"), w * 32 + j), 1L).otherwise(0L))))
      .drop("mns")
  }

  /** The binary store: (id, bw) with `bw` = dim/32 packed BIGINT
    * words per vector.
    */
  def bqWords(corpus: DataFrame, dim: Int, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame =
    bqPack(corpus, bqMeans(corpus, vecCol), dim, vecCol)
      .select(col(idCol), col("bw"))

  /** Two-stage binary search (the emb_sq_search shape over the packed
    * store): Hamming distance over the words ranks a candidate pool of
    * `rerank`, then the exact cosine against the true vectors picks the
    * final top-k, with each pick's `ham` carried through. Only
    * |Q|*rerank true vectors are ever fetched; the ranking scan reads
    * dim/8 bytes per corpus row.
    */
  def bqSearchTopK(corpus: DataFrame, queries: DataFrame, dim: Int, k: Int,
                   rerank: Int = 15, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val means = bqMeans(corpus, vecCol)
    val cw = bqPack(corpus, means, dim, vecCol)
      .select(col(idCol).as("neighbor_id"), col("bw").as("nbw"))
    val qw = bqPack(queries, means, dim, vecCol)
      .select(col(idCol).as("query_id"), col("bw").as("qbw"))
    val scored = cw.crossJoin(broadcast(qw))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("ham",
        aggregate(zip_with(col("nbw"), col("qbw"),
            (x, y) => call_function("bit_count", x.bitwiseXOR(y)).cast("long")),
          lit(0L), (acc, v) => acc + v))
    val cand = topK(scored, "ham", rerank, asc = true, rank = "rk")
      .select("query_id", "neighbor_id", "ham")
    exactRerank(corpus, queries, cand, dim, k, idCol, vecCol)
  }

  /** kNN GRAPH over the auto-sized LSH cells: for EVERY corpus
    * vector, its top-k nearest co-bucketed neighbors by exact cosine
    * — the all-nodes ANN graph that graph-based curation consumes
    * (connected-component near-dup clustering, graph-density pruning,
    * label propagation). Unlike the top-k SEARCH path (small
    * broadcast query set), both join sides here are the corpus:
    * candidates come from the shared multi-table hyperplane cells, so
    * pair volume is bounded by cell population (auto-sized ~125) ×
    * tables — never n². Per-node degree ≤ k via the rank window;
    * a node whose cells hold no neighbor emits nothing (the LSH
    * recall dial: more tables → fewer isolated nodes).
    */
  def knnGraph(emb: DataFrame, dim: Int, k: Int, nPlanes: Int = 0,
               nTables: Int = 4, cellCap: Int = 500,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.graft.Bridge.ldiv
    val np = if (nPlanes > 0) nPlanes else autoPlanes(Parquet.countRows(emb))
    // HUB-CELL SALTING: hyperplane cells are skewed (dense regions
    // blow Σpop² far past the uniform n·target estimate — measured
    // 811M pairs vs the ~80M estimate at 200k vectors), so any cell
    // beyond `cellCap` splits into ceil(pop/cap) deterministic
    // id-hashed sub-buckets. Per-node candidates stay ~cap in hubs
    // (graceful within-hub sampling — hub nodes have neighbors to
    // spare), NO node is ever isolated (unlike dropping hot cells,
    // the df-cap move), and pair volume is bounded by Σ pop·cap.
    // The salt hash is overflow-safe 64-bit arithmetic mirrored
    // exactly by the DuckDB oracle.
    val banded0 = lshBand(emb, normed(idCol, vecCol, dim, "id", "v", "n"),
      col(vecCol), dim, np, nTables)
    val wPop = Window.partitionBy(col("tb"), col("bk"))
    // r16 (guide §2): pin the (tb, bk) exchange's width — the cell
    // population window, the salted self-join (keys ⊇ (tb, bk), both
    // sides the same exchange via ReuseExchange) and the per-cell
    // top-k window all cluster by (a superset of) (tb, bk), so this
    // ONE explicit exchange replaces the implicit window exchange at
    // identical bytes; AQE byte-coalescing otherwise parks the whole
    // per-cell pair scoring (a 64-dim dot per pair) on 1–2 partitions.
    val banded = Par.spread(banded0, col("tb"), col("bk"))
      .withColumn("__nsub", ldiv(
        count(lit(1)).over(wPop) + lit(cellCap.toLong - 1), lit(cellCap.toLong)))
      .withColumn("__salt",
        pmod((col("id") % 1048573L) * 2654435761L, col("__nsub")))
    val a = banded.select(col("id").as("src"), col("v").as("va"),
      col("n").as("na"), col("tb"), col("bk"), col("__salt"))
    val b = banded.select(col("id").as("dst"), col("v").as("vb"),
      col("n").as("nb"), col("tb"), col("bk"), col("__salt"))
    // TWO-STAGE top-k: a per-(cell, src) local top-k first. Its window
    // keys extend the join's own (tb, bk) hash partitioning (subset
    // clustering), so it adds NO exchange — just a local sort — and
    // only n·tables·k rows ever leave the join stage, instead of the
    // full cell-pair volume. Exact by the union-of-local-top-k
    // argument: a globally top-k dst is outranked by < k candidates
    // anywhere, so it survives every local ranking it appears in.
    val wCell = Window.partitionBy(col("tb"), col("bk"), col("__salt"),
        col("src"))
      .orderBy(col("__cos").desc, col("dst"))
    val local = a.join(b, Seq("tb", "bk", "__salt"))
      .where(col("src") =!= col("dst"))
      .withColumn("__cos",
        dot(col("va"), col("vb"), dim) / (col("na") * col("nb")))
      .select(col("tb"), col("bk"), col("__salt"), col("src"), col("dst"),
        col("__cos"))
      .withColumn("__rk", row_number().over(wCell))
      .where(col("__rk") <= k)
    val cand = local.groupBy("src", "dst").agg(max(col("__cos")).as("__cos"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("__cos").desc, col("dst"))
    cand.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("src"), col("rank"), col("dst"),
        round(col("__cos"), 6).as("cos"))
  }

  /** Greedy farthest-first k-center selection (Gonzalez's 2-approx
    * traversal) — the coreset / data-pruning move: pick the seed (the
    * min id), then k-1 times the vector MAXIMIZING its min
    * cosine-distance to everything already selected (equivalently:
    * minimizing its max cosine). The selected set is the most
    * spread-out k-subset a greedy pass can give, and each pick's
    * `cov` = 1 - maxcos is the corpus coverage radius AT that size —
    * the curve data-pruning decisions read.
    *
    * Scale shape: ~k/`batch` corpus scans, each ending in a
    * TakeOrdered(batch) — no shuffle at all; driver state is the k
    * selected vectors (broadcast back as literals), exactly the
    * k-means|| posture. Each scan collects the `batch` rows with the
    * smallest max-cos to the selected set, then the greedy loop
    * CONTINUES ON THE DRIVER inside that batch: adding a center only
    * raises max-cos, so every un-collected row keeps max-cos ≥ the
    * batch's largest collected value (tBound) forever — a driver-side
    * pick whose updated max-cos is strictly under tBound is therefore
    * EXACTLY the greedy argmin (the first pick of each scan is exact
    * unconditionally; at == tBound an unseen row could tie-break by
    * id, so the loop rescans instead of guessing). Driver-side cosine
    * updates replicate the native VecDot left-fold bit-for-bit
    * (float→double per element, index order, sqrt·sqrt denominator),
    * so the trajectory — and the DuckDB oracle's verbatim replay — is
    * identical to the one-pick-per-scan fold at any batch size
    * (OperatorSpec "kCenterSelect batched greedy equals the
    * one-pick-per-scan fold" pins this equality).
    */
  def kCenterSelect(corpus: DataFrame, dim: Int, k: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    batch: Int = 8): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = corpus.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .localCheckpoint(false)
    def cosTo(s: Seq[Float]): Column = {
      val sv = typedlit(s)
      dot(col("v"), sv, dim) /
        (sqrt(dot(col("v"), col("v"), dim)) * sqrt(dot(sv, sv, dim)))
    }
    // the native VecDot fold, replicated exactly (HashImpl.vecDot)
    def dotL(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var acc = 0.0; var i = 0
      while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def cosL(a: Array[Float], b: Array[Float]): Double =
      dotL(a, b) / (math.sqrt(dotL(a, a)) * math.sqrt(dotL(b, b)))
    val seed = base.orderBy(col("id")).limit(1)
      .collect().headOption.map(r => (r.getLong(0), r.getSeq[Float](1)))
    var selected = seed.toList
    var out = seed.map { case (id, _) => (1, id, Option.empty[Double]) }.toList
    var exhausted = seed.isEmpty
    while (selected.size < k && !exhausted) {
      val coss = selected.map { case (_, v) => cosTo(v) }
      val mc = if (coss.size == 1) coss.head else greatest(coss: _*)
      val cands = base
        .where(!col("id").isin(selected.map(_._1): _*))
        .withColumn("mc", mc)
        .orderBy(col("mc").asc, col("id").asc).limit(batch)
        .select(col("id"), col("v"), col("mc"))
        .collect()
      if (cands.isEmpty) exhausted = true
      else {
        // rows outside this batch have max-cos >= tBound, now and after
        // every future center addition (max-cos is monotone in S)
        val tBound = if (cands.length < batch) Double.PositiveInfinity
        else cands.last.getDouble(2)
        val pool = scala.collection.mutable.ArrayBuffer(
          cands.map(r => (r.getLong(0),
            r.getSeq[Float](1).toArray, r.getDouble(2))): _*)
        var fresh = true // a scan's first pick is the global argmin
        var go = true
        while (go && selected.size < k && pool.nonEmpty) {
          val bi = pool.indices.minBy(i => (pool(i)._3, pool(i)._1))
          val (bid, bv, bmc) = pool(bi)
          if (fresh || bmc < tBound) {
            selected :+= ((bid, bv.toSeq))
            out :+= ((selected.size, bid, Some(bmc)))
            pool.remove(bi)
            var i = 0
            while (i < pool.length) {
              val p = pool(i)
              val c = cosL(p._2, bv)
              // NaN-consistent with the Spark-side fold: a zero-norm
              // member's cosine is NaN, and Spark's greatest/orderBy
              // treats NaN as ABOVE every double — so the driver
              // update must let NaN dominate the running max too, or
              // the batched trajectory could diverge from the
              // one-pick-per-scan fold on degenerate vectors
              if (java.lang.Double.isNaN(c) || c > p._3)
                pool(i) = (p._1, p._2, c)
              i += 1
            }
            fresh = false
          } else go = false // an unseen row could tie: rescan exactly
        }
      }
    }
    out.toDF("sel_rank", "vec_id", "__mc")
      .select(col("sel_rank"), col("vec_id"),
        round(lit(1.0) - col("__mc"), 6).as("cov"))
  }

  /** Production-scale greedy k-center: the [[kCenterSelect]] traversal
    * run over a deterministic √n-strided candidate POOL instead of the
    * full corpus — the standard coreset-of-a-coreset move (Gonzalez
    * greedy is a 2-approx on the pool; a √n uniform pool preserves the
    * spread structure the coverage curve reads). `poolEvery <= 0`
    * auto-sizes the stride via [[coarseEveryOf]], so the pool is
    * ≈√n rows capped at [[MaxCoarseCells]] — the same bound every
    * coarse codebook in this file broadcasts.
    *
    * Scale shape: ONE corpus scan builds the pool (the `id % stride`
    * filter is scan-side), the pool materializes via the
    * localCheckpoint inside [[kCenterSelect]], and the k greedy scans
    * then iterate a ≤65536-row in-memory frame — O(k·√n) total work
    * with bounded driver state, vs the exact variant's k full corpus
    * scans. The exact [[kCenterSelect]] stays registered as the
    * declared floor (the emb_dedup_cosine_fixed convention); cov is
    * the coverage radius measured over the pool.
    */
  def kCenterSampled(corpus: DataFrame, dim: Int, k: Int,
                     poolEvery: Int = 0, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     batch: Int = 8): DataFrame = {
    kCenterSelect(seedRows(corpus, idCol, 1, corpus, poolEvery, coarseEveryOf),
      dim, k, idCol, vecCol, batch)
  }

  /** Per-subspace PQ assignment: one row per (vector, subspace) with
    * the nearest codebook centroid and its squared distance — the
    * shared core of [[pqCodes]] and [[ivfPqTopK]].
    */
  def pqAssign(emb: DataFrame, dim: Int, m: Int = 4, centroidEvery: Int = 0,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val cents = seedRows(emb, idCol, 1, emb, centroidEvery, pqEveryOf)
      .select(col(idCol).as("cid"), col(vecCol).as("cvec"))
    // native subspace distance (graft VecSubL2): one tight loop per
    // (vector, centroid, subspace) instead of a lambda per element;
    // bit-identical to the HOF fold (parity-spec-enforced)
    val dist = org.apache.spark.sql.graft.GraftExpressions
      .vec_sub_l2(col("v"), col("cvec"), col("s"), subDim)
    emb.select(col(idCol), col(vecCol).as("v"))
      .withColumn("s", explode(sequence(lit(0), lit(m - 1))))
      .crossJoin(broadcast(cents))
      .withColumn("dist", dist)
      .groupBy(col(idCol), col("s"))
      .agg(min(struct(col("dist"), col("cid"))).as("best"))
  }

  /** Product quantization: split the vector into `m` contiguous
    * subspaces, code each subvector as its nearest (L2) centroid from a
    * deterministic every-Nth codebook — the memory layout behind
    * IVF-PQ serving (m bytes per vector instead of 4*dim). Returns
    * (id, codes CSV ordered by subspace, err2 = summed squared
    * quantization error).
    *
    * Scale shape: the codebook is broadcast; distances are computed
    * scan-side against the exploded (vector, subspace, centroid)
    * triple, and the per-subspace argmin is min(struct(dist, cid)) —
    * an ordinary partial-aggregable min, so the (id, s) shuffle
    * carries m small (id, s, best) rows per vector — not m*k candidates,
    * not the vector — and no window sort exists. err2
    * folds the m subspace errors in subspace order, so the double is
    * bit-reproducible.
    */
  def pqCodes(emb: DataFrame, dim: Int, m: Int = 4, centroidEvery: Int = 0,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    pqAssign(emb, dim, m, centroidEvery, idCol, vecCol)
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("s"),
        col("best.cid").as("cid"), col("best.dist").as("dist")))).as("arr"))
      .select(col(idCol),
        concat_ws(",",
          transform(col("arr"), x => x.getField("cid").cast("string")))
          .as("codes"),
        round(aggregate(col("arr"), lit(0.0),
          (acc, x) => acc + x.getField("dist")), 6).as("err2"))
  }

  /** Corpus sliced into per-subspace double vectors: one row per
    * (vector, subspace) with sv = CAST-to-double slice s — the shared
    * input of the learned-PQ training and assignment passes. Scan-side
    * (explode + slice inside the scan stage, no shuffle).
    */
  private def pqSub(emb: DataFrame, dim: Int, m: Int,
                    idCol: String, vecCol: String): DataFrame = {
    val subDim = dim / m
    emb.select(col(idCol), col(vecCol).as("__v"))
      .withColumn("s", explode(sequence(lit(0), lit(m - 1))))
      .select(col(idCol), col("s"),
        castD(slice(col("__v"), col("s") * subDim + 1, lit(subDim)))
          .as("sv"))
  }

  /** Per-subspace LEARNED PQ codebook — the codebook-training upgrade
    * [[ivfTopKLearned]] made to the coarse quantizer, applied to the
    * product quantizer (Jegou et al., PAMI 2011 §III trains each
    * sub-quantizer by k-means): seed each subspace's codewords from
    * the same deterministic every-Nth corpus sample as [[pqAssign]],
    * then one Lloyd update per subspace — assign every subvector to
    * its nearest (squared-L2, min-cid tie-break) codeword and move
    * each codeword to its cell's per-dim mean (6dp-rounded, the
    * kmeans convention both engines replay identically). Sampled
    * codewords inherit the corpus density only at 256 points per
    * subspace; the mean update relocates them to their Voronoi mass,
    * which is what lifts ADC ranking off the floor.
    *
    * Scale shape: identical to [[pqAssign]] plus one (id,s)-keyed
    * partial-agg'd argmin and one (s,cid,pos) partial-agg'd mean —
    * all reduce outputs are codebook-sized (m·256·subDim), never
    * corpus-sized. Returns (s, cid, cs: array<double>[dim/m]).
    */
  def pqCodebookLearned(emb: DataFrame, dim: Int, m: Int = 4,
                        centroidEvery: Int = 0, idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val sub = pqSub(emb, dim, m, idCol, vecCol)
    val c0 = seedRows(emb, idCol, 1, emb, centroidEvery, pqEveryOf)
      .select(col(idCol).as("cid"), col(vecCol).as("__cv"))
      .withColumn("s", explode(sequence(lit(0), lit(m - 1))))
      .select(col("s"), col("cid"),
        castD(slice(col("__cv"), col("s") * subDim + 1, lit(subDim)))
          .as("cs"))
    val d0 = org.apache.spark.sql.graft.GraftExpressions
      .vec_sub_l2_d(col("sv"), col("cs"), lit(0), subDim)
    // r16: riding `sv` through this argmin agg with first() (to drop
    // the join-back onto `sub`) was tried and measured SLOWER paired
    // (+0.39 emb_pq_learned, +0.75 emb_ivf_pq_rerank, +0.10
    // emb_pq_err_curve): the join-back plans near-free at these sizes
    // while the carried subvector fattens the agg exchanges — the r15
    // shape stays.
    val a1 = sub.join(broadcast(c0), Seq("s"))
      .withColumn("d", d0)
      .groupBy(col(idCol), col("s"))
      .agg(min(struct(col("d"), col("cid"))).as("b"))
      .select(col(idCol), col("s"), col("b.cid").as("cid"))
    a1.join(sub, Seq(idCol, "s"))
      .select(col("s"), col("cid"), posexplode(col("sv")).as(Seq("pos", "x")))
      .groupBy("s", "cid", "pos")
      .agg(round(avg(col("x")), 6).as("c"))
      .groupBy("s", "cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        t => t.getField("c")).as("cs"))
  }

  /** [[pqAssign]] against the learned codebook: one row per
    * (vector, subspace) with best = (dist, cid). `cb` defaults to
    * training [[pqCodebookLearned]] on the corpus itself; pass a
    * pre-built (lazily checkpointed) codebook to share the training
    * pass across consumers.
    */
  def pqAssignLearned(emb: DataFrame, dim: Int, m: Int = 4,
                      centroidEvery: Int = 0, idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      cb: Option[DataFrame] = None): DataFrame = {
    val subDim = dim / m
    val book = cb.getOrElse(
      pqCodebookLearned(emb, dim, m, centroidEvery, idCol, vecCol))
    val d = org.apache.spark.sql.graft.GraftExpressions
      .vec_sub_l2_d(col("sv"), col("cs"), lit(0), subDim)
    pqSub(emb, dim, m, idCol, vecCol)
      .join(broadcast(book), Seq("s"))
      .withColumn("dist", d)
      .groupBy(col(idCol), col("s"))
      .agg(min(struct(col("dist"), col("cid"))).as("best"))
  }

  /** [[pqCodes]] over the LEARNED per-subspace codebook: same output
    * shape (id, codes CSV, err2); err2 drops because codewords sit at
    * their cells' means instead of arbitrary sampled corpus points.
    */
  def pqCodesLearned(emb: DataFrame, dim: Int, m: Int = 4,
                     centroidEvery: Int = 0, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    pqAssignLearned(emb, dim, m, centroidEvery, idCol, vecCol)
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("s"),
        col("best.cid").as("cid"), col("best.dist").as("dist")))).as("arr"))
      .select(col(idCol),
        concat_ws(",",
          transform(col("arr"), x => x.getField("cid").cast("string")))
          .as("codes"),
        round(aggregate(col("arr"), lit(0.0),
          (acc, x) => acc + x.getField("dist")), 6).as("err2"))
  }

  /** Variance-balanced dimension permutation before PQ — the OPQ-init
    * heuristic (Ge et al., CVPR 2013: optimized PQ's "natural"
    * baseline reorders dimensions before the subspace split): per-dim
    * corpus variance ranks the dimensions, which are then dealt
    * ROUND-ROBIN across the m subspaces, so no subspace hoards the
    * high-variance dims the way plain PQ's contiguous slices can when
    * the embedding model emits a structured layout. Output shape =
    * [[pqCodes]] (id, codes CSV, err2) over the permuted vectors —
    * err2 against [[pqCodes]]' is the balance payoff, measured.
    *
    * Cross-engine parity: the ranking key is EXACT integer arithmetic
    * — per-row µ-unit snaps summed as BIGINT (order-independent), the
    * variance key s2·n·10⁶ − s1² carried in DECIMAL(38,0) (the PCA
    * chain's convention) — so both engines derive the identical
    * permutation at any corpus size; ties break on dimension index.
    *
    * Scale shape: one (dim)-keyed partial agg over the exploded
    * corpus (64 reduce rows), a 64-row window, and the permutation
    * broadcast back over the scan — the PQ chain after it is
    * unchanged.
    */
  def pqCodesPermuted(emb: DataFrame, dim: Int, m: Int = 4,
                      centroidEvery: Int = 0, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val perm = pqPermutation(emb, dim, m, vecCol)
    val pemb = Par.withScalars(emb, perm)
      .select(col(idCol), transform(sequence(lit(1), lit(dim)),
        j => element_at(col(vecCol), element_at(col("pm"), j))).as("__pv"))
    pqCodes(pemb, dim, m, centroidEvery, idCol, "__pv")
  }

  /** The [[pqCodesPermuted]] permutation as a single-row frame
    * `pm: array<int>` — pm[newPos] = 1-based source dimension; new
    * position of the rank-r dim (by variance desc, dim asc) is
    * subspace (r−1) mod m, slot ⌊(r−1)/m⌋. Public so the deal layout
    * is spec-pinnable on a corpus with a known variance order.
    */
  def pqPermutation(emb: DataFrame, dim: Int, m: Int,
                    vecCol: String = "embedding"): DataFrame = {
    val subDim = dim / m
    def dec(c: Column) = c.cast("decimal(38,0)")
    val stats = emb
      .select(posexplode(col(vecCol)).as(Seq("p", "x")))
      .select(col("p"), col("x").cast("double").as("x"))
      .groupBy("p")
      .agg(sum(round(col("x") * lit(1000000.0)).cast("long")).as("s1"),
        sum(round(col("x") * col("x") * lit(1000000.0)).cast("long"))
          .as("s2"),
        count(lit(1)).as("n"))
      .select(col("p"),
        (dec(col("s2")) * dec(col("n")) * dec(lit(1000000L)) -
          dec(col("s1")) * dec(col("s1"))).as("vkey"))
    // unpartitioned window = single partition, but the frame is the
    // dim-sized stats table (one row per vector position, e.g. 64) —
    // the "No Partition Defined" warning here is constant-size, not a
    // scale hazard (audited r12)
    val w = Window.orderBy(col("vkey").desc, col("p"))
    stats.withColumn("r", row_number().over(w))
      .select(
        (((col("r") - 1) % m) * subDim +
          org.apache.spark.sql.graft.Bridge.ldiv(col("r") - 1, m) + 1)
          .cast("int").as("pos"),
        (col("p") + 1).cast("int").as("src"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("src")))),
        t => t.getField("src")).as("pm"))
  }

  /** Shared RQ core: (assignments(id, cid1, err1, cid2, err2-raw),
    * level-1 codebook, level-2 codebook incl. the zero codeword). */
  private def rqModel(emb: DataFrame, dim: Int, centroidEvery: Int,
                      idCol: String, vecCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    // both levels' distances are the NATIVE full-segment L2 folds
    // (codegen'd tight loops, same index order and IEEE ops as the HOF
    // zip_with/aggregate formulation and the oracle's list_reduce):
    // the n × √n assignment is the dominant cost, and the lambda-
    // dispatch fold scaled it at exponent ~0.9 vs the native ~0.6
    // (measured at sf10 before this swap)
    import org.apache.spark.sql.graft.GraftExpressions.{vec_sub_l2, vec_sub_l2_d}
    val c1 = seedRows(emb, idCol, 1, emb, centroidEvery, coarseEveryOf)
      .select(col(idCol).as("cid1"), col(vecCol).as("c1v"))
    val best1 = emb.select(col(idCol), col(vecCol).as("v"))
      .crossJoin(broadcast(c1))
      .withColumn("d", vec_sub_l2(col("v"), col("c1v"), lit(0), dim))
      .groupBy(col(idCol))
      .agg(min(struct(col("d"), col("cid1"))).as("b1"))
      .select(col(idCol), col("b1.cid1").as("cid1"), col("b1.d").as("err1"))
    val resid = best1
      .join(emb.select(col(idCol), col(vecCol).as("v")), Seq(idCol))
      .join(broadcast(c1), Seq("cid1"))
      .withColumn("r", org.apache.spark.sql.graft.GraftExpressions
        .vec_sub_dd(castD(col("v")), castD(col("c1v"))))
      .select(col(idCol), col("cid1"), col("err1"), col("r"))
      .localCheckpoint(false)
    // level-2 seed residue (2 % every): at stride >= 3 this is the
    // plain residue-2 row set, disjoint from level-1's residue 1; at
    // stride 2 it selects the even ids (the literal residue 2 would be
    // unsatisfiable and silently empty the level-2 codebook down to
    // the zero codeword); at stride 1 it coincides with level-1's
    // all-rows seed, which is the right degenerate (every residual is
    // its own codeword). The oracles mirror (2 % stride) verbatim.
    val c2 = seedRows(resid, idCol, 2, emb, centroidEvery, coarseEveryOf)
      .select(col(idCol).as("cid2"), col("r").as("c2v"))
      .unionByName(resid.sparkSession.range(1)
        .select(lit(-1L).as("cid2"),
          array_repeat(lit(0.0), dim).as("c2v")))
    val assign = resid.crossJoin(broadcast(c2))
      .withColumn("d2", vec_sub_l2_d(col("r"), col("c2v"), lit(0), dim))
      .groupBy(col(idCol), col("cid1"), col("err1"))
      .agg(min(struct(col("d2"), col("cid2"))).as("b2"))
      .select(col(idCol), col("cid1"), col("err1"),
        col("b2.cid2").as("cid2"), col("b2.d2").as("err2"))
    (assign, c1, c2)
  }

  /** Residual quantization (two-level additive FULL-vector codebook —
    * the RQ family ScaNN/faiss offer next to PQ): level 2 codes the
    * level-1 quantization ERROR, so the reconstruction c1 + c2 REFINES
    * the first approximation instead of partitioning dimensions the
    * way [[pqCodes]]' subspace split does. Level-1 centroids are the
    * deterministic every-N corpus vectors ([[coarseEveryOf]] √n
    * sizing); level-2 centroids are the RESIDUALS of those same
    * every-N ids — both codebooks derive from the corpus + its count
    * alone, so the DuckDB oracle replays them exactly.
    *
    * Level-2 centroids come from the OFFSET stride (ids ≡ 2 mod N):
    * the level-1 members' own residuals are all zero, so reusing the
    * same ids would degenerate the refinement codebook. A synthetic
    * ZERO codeword (cid2 = −1) always competes, so err2 ≤ err1 holds
    * POINTWISE — level 2 refines where it can and abstains where it
    * can't (the keep-if-improves convention).
    *
    * Returns (id, cid1, cid2, err1, err2): err1 = ‖v − c1‖², err2 =
    * ‖v − c1 − c2‖² (a level-1 codebook member recodes exactly: err1 =
    * err2 = 0 via the zero codeword). Distances are left-to-right
    * IEEE folds over double-cast components — bit-identical to the
    * oracle's list_reduce.
    *
    * Scale shape: both codebooks broadcast (≈√n rows, under the
    * [[MaxCoarseCells]] cap posture); each level is one broadcast
    * crossJoin + a partial-aggregable min(struct) argmin — no rank
    * window, no corpus self-join. The residual frame localCheckpoints
    * once (it feeds the level-2 codebook filter AND the level-2
    * assignment); materializing n×dim doubles once is the standard
    * RQ index-build cost.
    */
  def rqCodes(emb: DataFrame, dim: Int, centroidEvery: Int = 0,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val (assign, _, _) = rqModel(emb, dim, centroidEvery, idCol, vecCol)
    assign.select(col(idCol), col("cid1"), col("cid2"),
      round(col("err1"), 6).as("err1"), round(col("err2"), 6).as("err2"))
  }

  /** RQ-flat search with exact rerank — serving against the [[rqCodes]]
    * store (the SQ8 two-stage shape with the additive reconstruction
    * in place of the dequantized vector): stage 1 ranks by approximate
    * cosine between the exact query and the RECONSTRUCTION c1 + c2;
    * stage 2 re-scores the top `rerank` candidates by exact cosine
    * against their true vectors. What the store buys at 100 TB: the
    * serving scan reads two small-int codes per vector plus two
    * broadcast codebooks (≈√n rows each) instead of dim floats.
    *
    * Scale shape: reconstruction is a scan-side double fold after two
    * broadcast codebook joins; stage 1 is the [[bruteTopK]] posture
    * (broadcast queries, zero corpus shuffle before the per-query
    * top-rerank window); stage 2 fetches |Q|·rerank true vectors via
    * a broadcast candidate list — identical to [[sqSearchTopK]]'s
    * tail.
    */
  def rqSearchTopK(corpus: DataFrame, queries: DataFrame, dim: Int, k: Int,
                   centroidEvery: Int = 0, rerank: Int = 15,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val (assign, c1, c2) = rqModel(corpus, dim, centroidEvery, idCol, vecCol)
    val rec = assign.select(col(idCol).as("neighbor_id"),
        col("cid1"), col("cid2"))
      .join(broadcast(c1), Seq("cid1"))
      .join(broadcast(c2), Seq("cid2"))
      .select(col("neighbor_id"), org.apache.spark.sql.graft
        .GraftExpressions.vec_add_fd(col("c1v"), col("c2v")).as("rv"))
    val q = queries.select(col(idCol).as("query_id"),
      castD(col(vecCol)).as("qd"),
      sqrt(dot(col(vecCol), col(vecCol), dim)).as("qn"))
    val scored = rec.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("acos",
        dotD(col("qd"), col("rv")) / (col("qn") * sqrt(dotD(col("rv"), col("rv")))))
    val cand = topK(scored, "acos", rerank, rank = "rk")
      .select("query_id", "neighbor_id")
    exactRerank(corpus, queries, cand, dim, k, idCol, vecCol)
  }

  // --- IVF (inverted-file) ANN ---------------------------------------

  /** Hard cap on the coarse codebook: 2^16 centroids × (dim floats +
    * id + norm) stays a few tens of MB broadcast even at dim 768. */
  val MaxCoarseCells = 65536

  /** Target PQ codebook size per subspace (the classic 8-bit code). */
  val PqCodebookSize = 256

  /** LSH hyperplane-count sizing: the smallest plane count with
    * expected cell population n/2^planes <= `targetCell` — the dial
    * that keeps [[cosineDupPairsLsh]]'s per-cell self-join bounded as
    * the corpus grows (fixed planes → cell population ∝ n → O(n²)
    * pair space). More planes cost recall per table (p^planes);
    * compensate with `nTables`, paid linearly in shuffle volume.
    * Floor of 4 keeps tiny-corpus geometries identical to the
    * registered test queries.
    *
    * PURE INTEGER arithmetic (smallest p with n >> p <= target), not
    * ceil(log2(n/target)): the fp log ratio can land a hair above or
    * below an exact power of two and flip the ceil, and this formula
    * is mirrored verbatim in the DuckDB oracle (greatest(4, min p:
    * n >> p <= 125)) where both engines must derive the identical
    * plane count from the corpus count.
    */
  def autoPlanes(n: Long, targetCell: Int = 125): Int = {
    var p = 0
    while ((n >> p) > targetCell) p += 1
    math.max(4, p)
  }

  /** √n coarse-codebook sizing over a row count `n`: stride so that
    * nCells ≈ √n (capped at [[MaxCoarseCells]]). Balances the two
    * linear-in-stride costs — assignment compares n vectors × n/stride
    * centroids, probing scans nProbe cells of ~stride vectors — giving
    * O(n·√n) assignment compute and O(√n) probed-cell population,
    * instead of the fixed stride's O(n²)/O(1). The formula is mirrored
    * verbatim in the DuckDB oracles (greatest(ceil(sqrt(n)),
    * ceil(n/65536))), so both engines derive the identical centroid
    * set from the corpus count.
    */
  def coarseEveryOf(n: Column): Column = greatest(lit(1L), ceil(sqrt(n)),
    ceil(n / lit(MaxCoarseCells.toDouble)))

  /** Fixed-size PQ codebook sizing over a row count `n`: stride so the
    * per-subspace codebook holds ≈ [[PqCodebookSize]] codewords no
    * matter how big the corpus — assignment stays O(n·256·dim) instead
    * of the fixed stride's O(n²·dim/67). Mirrored in the oracles as
    * greatest(1, ceil(n/256)). */
  def pqEveryOf(n: Column): Column =
    greatest(lit(1L), ceil(n / lit(PqCodebookSize.toDouble)))

  /** The rows of `df` whose `idCol` is ≡ `k` modulo the stride:
    * `every`, or for `every <= 0` `auto` over `corpus`'s row count n.
    * When `corpus` is a plain parquet scan n is a literal read from
    * its footers ([[Parquet.rowCount]]) and the filter folds to the
    * fixed-stride one, with no Spark job; otherwise n is a count
    * scalar subquery, run with the query that reads it.
    *
    * Seed filters throughout this file select `id % every ==
    * (k % every)` for a fixed residue k (level-1/pool seeds use k = 1,
    * rqModel's level-2 uses k = 2, the residual PQ book uses k = 0):
    * taking k mod the stride keeps every seed satisfiable at ANY
    * stride — a literal `== 1` would select nothing at stride 1
    * (x % 1 is always 0) and a literal `== 2` nothing at stride <= 2,
    * silently emptying the codebook/pool. Strides above k are
    * unchanged (k % every == k). The DuckDB oracles mirror the same
    * `(k % stride)` residue via their stride scalar subquery, so
    * engine parity holds at every corpus size including 1-row.
    */
  private def seedRows(df: DataFrame, idCol: String, k: Int,
                       corpus: DataFrame, every: Int,
                       auto: Column => Column): DataFrame = {
    val strided =
      if (every > 0) df.withColumn("__every", lit(every.toLong))
      else Parquet.rowCount(corpus) match {
        case Some(n) => df.withColumn("__every", auto(lit(n)))
        case None => Par.withScalars(df, corpus.agg(auto(count(lit(1))).as("__every")))
      }
    strided.where(col(idCol) % col("__every") === lit(k.toLong) % col("__every"))
      .drop("__every")
  }

  /** Deterministic every-Nth coarse centroids with norms. */
  private def coarseCents(corpus: DataFrame, dim: Int, centroidEvery: Int,
                          idCol: String, vecCol: String): DataFrame =
    seedRows(corpus, idCol, 1, corpus, centroidEvery, coarseEveryOf)
      .select(normed(idCol, vecCol, dim, "cid", "cvec", "cn"): _*)

  /** A (cid, cvec, cn) centroid frame as ONE row whose `cb` holds every
    * entry as `array<struct<cid, cvec, cn>>`: the codebook scalar of
    * [[nearestCell]]. k entries, whatever the corpus size.
    */
  private[graft] def codebook(cents: DataFrame): DataFrame =
    cents.agg(collect_list(struct(col("cid"), col("cvec"), col("cn"))).as("cb"))

  /** Every row of `side` with the max-cosine entry of the one-row
    * codebook `book` appended as (cid, cos); ties break on min cid.
    * The row is a scalar ([[Par.withScalars]]) and one `nearest_centroid`
    * call scores the whole codebook per side row, so the side is
    * neither multiplied by k nor shuffled. The kernel is
    * bit-identical to the crossJoin + `max(struct(cos, −cid))` argmax
    * it replaced (Spark's double order ties −0.0 with 0.0; a zero norm
    * is the ANSI divide error), so the oracles' row_number replay still
    * matches. An empty (or NULL) codebook assigns no row. The kernel
    * is pinned (`no_pushdown`) so that filters the caller's joins
    * infer on `cid` do not run it again below; filter `side` instead.
    */
  private[graft] def nearestCell(side: DataFrame, book: DataFrame, vec: String,
                                 norm: String): DataFrame = {
    val keep = side.columns.toSeq.map(col)
    import org.apache.spark.sql.graft.GraftExpressions.{nearest_centroid, no_pushdown}
    Par.withScalars(side, book).where(size(col("cb")) > 0)
      .select(keep :+ no_pushdown(nearest_centroid(col(vec), col(norm), col("cb")))
        .as("__nc"): _*)
      .select(keep ++ Seq(col("__nc.cid").as("cid"), col("__nc.cos").as("cos")): _*)
  }

  /** Assign each row of `side` to its `n` nearest (max-cosine) cells
    * of the centroid frame (cid, cvec, cn); ties break on min cid.
    * n == 1 (the corpus-side assignment — by far the bigger side) is
    * [[nearestCell]] over the frame's [[codebook]] row; n > 1 (the
    * |Q|-sized query probing) ranks the broadcast crossJoin in a
    * window, since the kernel returns only the best entry. Both paths fold
    * the dot by the vectors' element type ([[dot]] over float, [[dotD]]
    * over double), so widened (learned-codebook) vectors need no flag.
    */
  private def nearestCells(cents: DataFrame)(
      side: DataFrame, id: String, vec: String, n: Int,
      norm: String): DataFrame =
    if (n == 1) nearestCell(side, codebook(cents), vec, norm).drop("cos")
    else {
      val vdot: (Column, Column) => Column = side.schema(vec).dataType match {
        case ArrayType(DoubleType, _) => dotD
        case _ => org.apache.spark.sql.graft.GraftExpressions.vec_dot
      }
      val w = Window.partitionBy(col(id))
        .orderBy(col("__ccos").desc, col("cid"))
      side.crossJoin(broadcast(cents))
        .withColumn("__ccos", vdot(col(vec), col("cvec")) / (col(norm) * col("cn")))
        .withColumn("__crk", row_number().over(w))
        .where(col("__crk") <= n)
        .drop("cvec", "cn", "__ccos", "__crk")
    }

  /** The shared IVF coarse-cell assignment of a multi-leg eval:
    * `cCells` = (neighbor_id, nvec, nn, cid) — each corpus vector in
    * its single nearest cell; `qCells` = (query_id, qvec, qn, cid) —
    * each query in its nProbe nearest cells. When several index legs
    * of one job consume the same assignment (emb_ann_recall runs four
    * coarse-cell legs), the centroid broadcast + assignment run ONCE
    * (see [[ivfCells]]).
    */
  case class IvfCells(cCells: DataFrame, qCells: DataFrame)

  /** Build [[IvfCells]] — the assignment [[ivfTopK]] and the IVF-PQ
    * paths build for themselves when `shared` is empty, so passing it
    * back in gives bit-identical results. Nothing is materialized: the
    * legs share one PLAN object, so their assignment exchanges are
    * byte-identical and AQE's ReusedExchange deduplicates them at
    * runtime — sharing with zero materialization cost, which measures
    * FASTER than checkpointing for the frame sizes an eval touches
    * (checkpoints serialize the leg DAG; reused exchanges don't).
    */
  def ivfCells(corpus: DataFrame, queries: DataFrame, dim: Int,
               centroidEvery: Int = 0, nProbe: Int = 2,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): IvfCells = {
    val cents = coarseCents(corpus, dim, centroidEvery, idCol, vecCol)
    val cells = nearestCells(cents) _
    IvfCells(
      cells(corpus.select(normed(idCol, vecCol, dim, "neighbor_id", "nvec", "nn"): _*),
        "neighbor_id", "nvec", 1, "nn"),
      cells(queries.select(normed(idCol, vecCol, dim, "query_id", "qvec", "qn"): _*),
        "query_id", "qvec", nProbe, "qn"))
  }

  /** The IVF candidate stage: each corpus row in `cCells` meets the
    * queries in `qCells` that probed its `cid`, self-pairs excluded.
    */
  private def cellPairs(cCells: DataFrame, qCells: DataFrame): DataFrame =
    cCells.join(qCells, Seq("cid")).where(col("neighbor_id") =!= col("query_id"))

  /** Flat-IVF search: [[cellPairs]] ranked top-k by exact cosine `cos`. */
  private def cellSearch(cCells: DataFrame, qCells: DataFrame, k: Int,
                         cos: Column): DataFrame =
    ranked(cellPairs(cCells, qCells).withColumn("cos", cos), "cos", k)

  /** IVF flat index with deterministic sampled centroids: every
    * `centroidEvery`-th vector is a coarse centroid; corpus vectors are
    * assigned to their nearest centroid's cell (one broadcast pass);
    * a query probes its `nProbe` nearest cells and searches only those
    * postings. At 100 TB the corpus scan + cell assignment is one
    * broadcast-join stage and the search shuffles only the probed
    * cells' postings — never the whole corpus.
    *
    * (A learned k-means codebook plugs in by swapping the centroid
    * frame; sampled centroids keep the whole operator deterministic
    * and engine-mirrorable.)
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, dim: Int, k: Int,
              centroidEvery: Int = 0, nProbe: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding",
              shared: Option[IvfCells] = None): DataFrame = {
    val IvfCells(cCells, qCells) = shared.getOrElse(
      ivfCells(corpus, queries, dim, centroidEvery, nProbe, idCol, vecCol))
    cellSearch(cCells, qCells, k, pairCos(dot(_, _, dim)))
  }

  // --- persisted IVF index --------------------------------------------

  /** Persist the IVF layout as a cell-partitioned parquet index — the
    * serving-side answer to "don't rebuild the index per query batch":
    * each corpus vector lands under `cells/cell=<cid>/` with its id,
    * vector, and precomputed norm, and the coarse centroid frame is
    * stored alongside under `centroids/`. Build cost (assignment is
    * one broadcast-centroid pass, the write shuffles each vector to
    * its cell directory) is paid ONCE; every subsequent
    * [[searchIvfIndex]] reads only the probed cells.
    */
  def writeIvfIndex(corpus: DataFrame, dim: Int, path: String,
                    centroidEvery: Int = 0, idCol: String = "vec_id",
                    vecCol: String = "embedding"): Unit = {
    val cents = coarseCents(corpus, dim, centroidEvery, idCol, vecCol)
    val c = corpus.select(normed(idCol, vecCol, dim, "neighbor_id", "nvec", "nn"): _*)
    nearestCells(cents)(c, "neighbor_id", "nvec", 1, "nn")
      .withColumnRenamed("cid", "cell")
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    cents.write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Grow a persisted [[writeIvfIndex]] layout with a new vector
    * batch: assign against the STORED centroids (read once,
    * broadcast), append into the existing cell directories. Centroids
    * stay fixed — cells drift fatter as the corpus grows, and a
    * periodic [[writeIvfIndex]] rebuild re-balances them; that's the
    * standard serving-index lifecycle, and it keeps appends cheap (one
    * broadcast pass over just the batch, no corpus read at all).
    */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession,
                       batch: DataFrame, path: String, dim: Int,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Unit = {
    val cents = Parquet.read(spark, s"$path/centroids")
    val c = batch.select(normed(idCol, vecCol, dim, "neighbor_id", "nvec", "nn"): _*)
    nearestCells(cents)(c, "neighbor_id", "nvec", 1, "nn")
      .withColumnRenamed("cid", "cell")
      .write.mode("append").partitionBy("cell").parquet(s"$path/cells")
  }

  /** Probe a persisted [[writeIvfIndex]] layout: queries rank the
    * stored centroids (broadcast — a few-hundred-row frame), and the
    * probed cell ids become a LITERAL partition predicate, so the
    * index scan prunes to nProbe/nCells of the corpus at planning time
    * (`PartitionFilters` in the plan — the spec asserts it). The one
    * driver-side collect carries only the probed cell ids (≤ nProbe ×
    * |queries| longs, and never more than the centroid count) — that
    * bounded list is exactly what buys planning-time pruning.
    * Bit-identical results to [[ivfTopK]] with the same parameters:
    * vectors and norms round-trip parquet exactly.
    */
  def searchIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                     queries: DataFrame, dim: Int, k: Int, nProbe: Int = 2,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val cents = Parquet.read(spark, s"$path/centroids")
    val q = queries.select(normed(idCol, vecCol, dim, "query_id", "qvec", "qn"): _*)
    val qCells = nearestCells(cents)(q, "query_id", "qvec", nProbe, "qn")
      .localCheckpoint(false) // probed twice: the id collect + the join
    val probed = qCells.select("cid").distinct().collect().map(_.getLong(0))
    val idx = Parquet.read(spark, s"$path/cells")
      .where(col("cell").isin(probed: _*))
      .withColumnRenamed("cell", "cid")
    cellSearch(idx, qCells, k, pairCos(dot(_, _, dim)))
  }

  /** The per-candidate ADC sum over the collected subspace rows, with
    * a LOUD totality guard: each (query, neighbor) must contribute
    * exactly `m` subspace rows — the (query_id[, cid], s, pcid) joins
    * cross the full codebook today, so a shorter list can only mean a
    * future book-pruning change silently lost subspaces, and an
    * under-summed adist would corrupt the ranking without failing.
    * raise_error sits on the never-taken branch, so codegen cost is
    * one size() compare per candidate.
    */
  private def adcSum(ds: Column, m: Int): Column =
    when(size(ds) === m,
      aggregate(ds, lit(0.0), (a, x) => a + x.getField("d")))
      .otherwise(raise_error(concat(
        lit("ADC fold lost subspaces: saw "), size(ds).cast("string"),
        lit(s" of $m"))))

  /** The ADC ranking every IVF-PQ path ends in: each candidate pair's
    * subspace codes (`codes`: neighbor_id, s, pcid) look up the query's
    * distance table `dtab` on `keys`, and the m distances fold
    * ([[adcSum]]) into `adist`, ranked ascending.
    */
  private def adcTopK(cand: DataFrame, codes: DataFrame, dtab: DataFrame,
                      keys: Seq[String], m: Int, k: Int): DataFrame =
    ranked(cand.join(codes, Seq("neighbor_id")).join(dtab, keys)
      .groupBy("query_id", "neighbor_id")
      .agg(array_sort(collect_list(struct(col("s"), col("d")))).as("ds"))
      .select(col("query_id"), col("neighbor_id"),
        adcSum(col("ds"), m).as("adist")), "adist", k, asc = true)

  /** IVF-PQ asymmetric-distance search — the classic large-corpus ANN
    * serving layout (an IVF cell index over PQ-coded vectors): a query
    * probes its `nProbe` nearest coarse cells and ranks the candidates
    * there by APPROXIMATE distance — the sum over subspaces of
    * ||q_s - codebook[code_s(x)]||² — touching only each candidate's m
    * small integer codes, never its vector.
    *
    * The scan-side trick is the ADC lookup table: per query, the
    * distance to every (subspace, codebook centroid) pair is computed
    * ONCE (|Q| × m × #codebook rows), and candidate scoring joins that
    * table on (s, code) — so the per-candidate work and shuffle volume
    * are independent of `dim`. At 100 TB the corpus contributes only
    * its cell assignment + m codes per vector; both broadcast-scale
    * codebooks are deterministic every-Nth samples.
    *
    * Output: (query_id, rank, neighbor_id, adist) — ranked on the raw
    * fold (bit-identical across engines), adist surfaced at 6dp.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, dim: Int, k: Int,
                m: Int = 4, coarseEvery: Int = 0, pqEvery: Int = 0,
                nProbe: Int = 2, idCol: String = "vec_id",
                vecCol: String = "embedding",
                shared: Option[IvfCells] = None): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val parts = shared.getOrElse(
      ivfCells(corpus, queries, dim, coarseEvery, nProbe, idCol, vecCol))
    val cand = cellPairs(parts.cCells.select("neighbor_id", "cid"),
      parts.qCells.select("query_id", "cid")).select("query_id", "neighbor_id")

    val codes = pqAssign(corpus, dim, m, pqEvery, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("s"),
        col("best.cid").as("pcid"))
    val pcents = seedRows(corpus, idCol, 1, corpus, pqEvery, pqEveryOf)
      .select(col(idCol).as("pcid"), col(vecCol).as("pcvec"))
    val dtab = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("s", explode(sequence(lit(0), lit(m - 1))))
      .crossJoin(broadcast(pcents))
      .select(col("query_id"), col("s"), col("pcid"),
        org.apache.spark.sql.graft.GraftExpressions
          .vec_sub_l2(col("qvec"), col("pcvec"), col("s"), subDim).as("d"))

    adcTopK(cand, codes, dtab, Seq("query_id", "s", "pcid"), m, k)
  }

  /** [[ivfPqTopK]] with the LEARNED per-subspace PQ codebook
    * ([[pqCodebookLearned]]) in place of the sampled one — same IVF
    * cell routing, same ADC join shape; only the codebook (and with
    * it the codes and the query distance table) changes. The learned
    * codebook is trained once and lazily checkpointed so the corpus
    * codes pass and the query dtab read the same table.
    */
  def ivfPqTopKLearned(corpus: DataFrame, queries: DataFrame, dim: Int, k: Int,
                       m: Int = 4, coarseEvery: Int = 0, pqEvery: Int = 0,
                       nProbe: Int = 2, idCol: String = "vec_id",
                       vecCol: String = "embedding",
                       shared: Option[IvfCells] = None,
                       cb: Option[DataFrame] = None): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val parts = shared.getOrElse(
      ivfCells(corpus, queries, dim, coarseEvery, nProbe, idCol, vecCol))
    val cand = cellPairs(parts.cCells.select("neighbor_id", "cid"),
      parts.qCells.select("query_id", "cid")).select("query_id", "neighbor_id")

    val book = cb.getOrElse(
      pqCodebookLearned(corpus, dim, m, pqEvery, idCol, vecCol)
        .localCheckpoint(false))
    val codes = pqAssignLearned(corpus, dim, m, pqEvery, idCol, vecCol,
        cb = Some(book))
      .select(col(idCol).as("neighbor_id"), col("s"),
        col("best.cid").as("pcid"))
    val dtab = pqSub(queries, dim, m, idCol, vecCol)
      .join(broadcast(book), Seq("s"))
      .select(col(idCol).as("query_id"), col("s"), col("cid").as("pcid"),
        org.apache.spark.sql.graft.GraftExpressions
          .vec_sub_l2_d(col("sv"), col("cs"), lit(0), subDim).as("d"))

    adcTopK(cand, codes, dtab, Seq("query_id", "s", "pcid"), m, k)
  }

  /** IVF-PQ search with EXACT rerank — the standard two-stage serving
    * pattern: ADC ranks cheaply over PQ codes, the top `rerank`
    * candidates per query are re-scored by exact cosine against their
    * true vectors, and the final top-k comes from the exact scores.
    * Buys back most of the PQ quantization error while touching only
    * |Q|·rerank real vectors.
    *
    * The ADC stage ranks over the LEARNED codebook
    * ([[ivfPqTopKLearned]]) — measured recall@3 at sf0.01 is 0.47 vs
    * the sampled codebook's 0.40, so the serving path candidates come
    * from the better store (the sampled variant stays reachable via
    * [[ivfPqTopK]] directly).
    *
    * Scale shape: the candidate list (|Q|·rerank id pairs) is
    * BROADCAST against the corpus scan for the vector fetch — the
    * corpus never shuffles; the rerank window partitions on query_id.
    */
  def ivfPqRerankTopK(corpus: DataFrame, queries: DataFrame, dim: Int, k: Int,
                      rerank: Int = 15, m: Int = 4, coarseEvery: Int = 0,
                      pqEvery: Int = 0, nProbe: Int = 2,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding",
                      shared: Option[IvfCells] = None,
                      cb: Option[DataFrame] = None): DataFrame = {
    val approx = ivfPqTopKLearned(corpus, queries, dim, rerank, m, coarseEvery,
      pqEvery, nProbe, idCol, vecCol, shared, cb)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(corpus, queries, approx, dim, k, idCol, vecCol)
  }

  /** IVFADC with RESIDUAL encoding — the classic production ANN
    * geometry (Jegou et al., PAMI 2011 §IV couples the coarse
    * quantizer with a product quantizer over the RESIDUAL x − c(x)):
    * the PQ codebook spends its codewords on the within-cell
    * displacement distribution, which is far tighter than the global
    * vector distribution [[ivfPqTopK]] codes, and the query's ADC
    * table is rebuilt per probed cell from the query residual q − c.
    * err2/recall against the raw-vector variant is the measured
    * payoff.
    *
    * Codebook: residuals of the ids ≡ 0 (mod pqEvery) — the OFFSET
    * stride (raw PQ seeds ≡ 1), chosen because coarse members' own
    * residuals are zero and a deterministic near-origin codeword is
    * better than a duplicated one; derived from the corpus + its
    * count alone, so the DuckDB oracle replays it exactly.
    *
    * Scale shape: residuals are scan-side (broadcast centroid join,
    * never a corpus shuffle); the codebook broadcasts; the corpus
    * codes pass is one (id, s)-keyed partial-agg argmin; the ADC
    * table is |Q|·nProbe·m·|book| rows; the candidate join rides the
    * (cid) co-residence exactly like [[ivfPqTopK]]; the only rank
    * window partitions on query_id.
    */
  def ivfPqResidualTopK(corpus: DataFrame, queries: DataFrame, dim: Int,
                        k: Int, m: Int = 4, coarseEvery: Int = 0,
                        pqEvery: Int = 0, nProbe: Int = 2,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding",
                        shared: Option[IvfCells] = None): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val subDim = dim / m
    val parts = shared.getOrElse(
      ivfCells(corpus, queries, dim, coarseEvery, nProbe, idCol, vecCol))
    val cents = seedRows(corpus, idCol, 1, corpus, coarseEvery, coarseEveryOf)
      .select(col(idCol).as("cid"), castD(col(vecCol)).as("cvd"))
    def residuals(cells: DataFrame) = cells
      .select(col("neighbor_id"), col("nvec"), col("cid"))
      .join(broadcast(cents), Seq("cid"))
      .select(col("neighbor_id"), col("cid"),
        org.apache.spark.sql.graft.GraftExpressions
          .vec_sub_dd(castD(col("nvec")), col("cvd")).as("rv"))
    val cres = residuals(parts.cCells)
    // the book's seeds get their own cells: a seed filter on the shared
    // cells would stop above nearestCell's pinned kernel
    val book = residuals(nearestCells(coarseCents(corpus, dim, coarseEvery, idCol, vecCol))(
        seedRows(corpus, idCol, 0, corpus, pqEvery, pqEveryOf)
          .select(normed(idCol, vecCol, dim, "neighbor_id", "nvec", "nn"): _*),
        "neighbor_id", "nvec", 1, "nn"))
      .select(col("neighbor_id").as("pcid"), col("rv").as("pcv"))
    val d = org.apache.spark.sql.graft.GraftExpressions
      .vec_sub_l2_d(col("rv"), col("pcv"), col("s"), subDim)
    // one neighbor_id exchange serves both the (neighbor_id, s) argmin
    // and adcTopK's neighbor_id join (a hash on a subset of the keys
    // satisfies both)
    val codes = Par.spread(cres, col("neighbor_id"))
      .withColumn("s", explode(sequence(lit(0), lit(m - 1))))
      .crossJoin(broadcast(book))
      .withColumn("d", d)
      .groupBy(col("neighbor_id"), col("s"))
      .agg(min(struct(col("d"), col("pcid"))).as("b"))
      .select(col("neighbor_id"), col("s"), col("b.pcid").as("pcid"))
    val qres = parts.qCells.select(col("query_id"), col("qvec"), col("cid"))
      .join(broadcast(cents), Seq("cid"))
      .select(col("query_id"), col("cid"),
        org.apache.spark.sql.graft.GraftExpressions
          .vec_sub_dd(castD(col("qvec")), col("cvd")).as("qrv"))
    val dq = org.apache.spark.sql.graft.GraftExpressions
      .vec_sub_l2_d(col("qrv"), col("pcv"), col("s"), subDim)
    val dtab = qres
      .withColumn("s", explode(sequence(lit(0), lit(m - 1))))
      .crossJoin(broadcast(book))
      .select(col("query_id"), col("cid"), col("s"), col("pcid"),
        dq.as("d"))
    val cand = cellPairs(parts.cCells.select("neighbor_id", "cid"),
      parts.qCells.select("query_id", "cid"))
    adcTopK(cand, codes, dtab, Seq("query_id", "cid", "s", "pcid"), m, k)
  }

  /** Exact-cosine rerank of a small (query_id, neighbor_id, ...)
    * candidate frame — the second stage every two-stage serving path
    * shares ([[sqSearchTopK]], [[bqSearchTopK]], [[rqSearchTopK]],
    * [[ivfPqRerankTopK]], and any eval that already holds an
    * approximate ranking). Any further candidate column rides through
    * to the output between neighbor_id and cos (bq's `ham`). The
    * candidate list is BROADCAST against the corpus scan for the
    * vector fetch — the corpus never shuffles.
    */
  def exactRerank(corpus: DataFrame, queries: DataFrame, cand: DataFrame,
                  dim: Int, k: Int, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(normed(idCol, vecCol, dim, "query_id", "qvec", "qn"): _*)
    val exact = corpus
      .select(normed(idCol, vecCol, dim, "neighbor_id", "nvec", "nn"): _*)
      .join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cos", pairCos(dot(_, _, dim)))
    ranked(exact, "cos", k,
      extra = cand.columns.toSeq.diff(Seq("query_id", "neighbor_id")))
  }

  /** Per-dim corpus mean as a 1-row array frame (exact integer
    * micro-sum / n / 1e6 — the centering pass [[pcaTopVec]] and
    * [[abtt]] share).
    */
  private def pcaMu(emb: DataFrame, vecCol: String): DataFrame =
    emb.select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(sum(round(col("x").cast("double") * lit(1e6)).cast("long")).as("su"),
        count(lit(1)).as("n"))
      .groupBy()
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("su"), col("n")))),
        s => s.getField("su").cast("double") / lit(1e6)
          / s.getField("n").cast("double")).as("mu"))

  /** The power-iteration chain returning the top direction as a 1-row
    * array frame `v` (each round lazily checkpointed).
    */
  def pcaTopVec(emb: DataFrame, dim: Int, iters: Int = 2,
                vecCol: String = "embedding",
                muPre: Option[DataFrame] = None): DataFrame = {
    val xD = castD(col(vecCol))
    // callers that already hold the mean frame pass it in, so the
    // posexplode+groupBy mean pass over the corpus runs exactly once;
    // the lazy checkpoint stops each power-iteration round (each a
    // separate materialization behind v's checkpoint) re-running it
    val mu = muPre.getOrElse(pcaMu(emb, vecCol).localCheckpoint(false))
    var v = emb.sparkSession.range(1)
      .select(transform(sequence(lit(1), lit(dim)),
        _ => lit(1.0 / math.sqrt(dim.toDouble))).as("v"))
    for (_ <- 0 until iters) {
      val centered = Par.withScalars(Par.withScalars(emb, mu), v)
        .select(zip_with(xD, col("mu"), (x, m) => x - m).as("xc"), col("v"))
        .select(col("xc"), dotD(col("xc"), col("v")).as("s"))
      val u = centered
        .select(col("s"), posexplode(col("xc")).as(Seq("pos", "x")))
        .groupBy("pos")
        .agg(sum(round(col("s") * col("x") * lit(1e6)).cast("long")).as("su"))
        .groupBy()
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("su")))),
          s => s.getField("su").cast("double") / lit(1e6)).as("u"))
      v = u.select(
        sqrt(aggregate(col("u"), lit(0.0), (acc, x) => acc + x * x)).as("nr"),
        col("u"))
        .select(transform(col("u"),
          x => round(x / col("nr"), 6) + lit(0.0)).as("v"))
        .localCheckpoint(false)
    }
    v
  }

  /** Top principal direction of the (centered) embedding corpus via
    * distributed power iteration — the dominant-component primitive
    * behind embedding whitening / all-but-the-top post-processing.
    * Each round computes u = Xᶜᵀ(Xᶜ·v) without ever materializing the
    * d×d covariance: a scan produces sᵢ = ⟨xᵢ−μ, v⟩ per row, the
    * per-dimension reduce sums sᵢ·(xᵢ−μ)d, and v ← u/‖u‖. Returns
    * (dim 1..d, v) — the unit direction after `iters` rounds.
    *
    * Cross-engine parity: every CROSS-ROW sum is snapped to integer
    * micro-units per row first (round(t·1e6) summed as BIGINT — the
    * order-independent convention), μ comes from the same snapped sum,
    * and v re-rounds to 6dp after each normalization, so both engines
    * carry identical vectors into the next round. Per-row arithmetic
    * (the dot folds) runs in index order on both sides.
    *
    * Scale shape: per round, one corpus scan + one (pos)-keyed
    * partial-agg'd shuffle reducing to `dim` rows — the centroids
    * pattern; μ and v ride broadcast 1-row arrays. The d×d covariance
    * never exists anywhere. Rounds are a bounded driver loop over lazy
    * plans (kmeans's shape), each round's d-row result lazily
    * checkpointed so round r+1 doesn't re-derive rounds 1..r.
    */
  def pcaTop(emb: DataFrame, dim: Int, iters: Int = 2,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pcaTopVec(emb, dim, iters, vecCol)
      .select(posexplode(col("v")).as(Seq("pos", "vx")))
      .select((col("pos") + 1).cast("long").as("dim"), col("vx").as("v"))

  /** All-but-the-top embedding post-processing (Mu & Viswanath, ICLR
    * 2018): subtract the corpus mean and project out the top
    * principal direction — the cheap isotropy fix that reliably
    * improves cosine retrieval on anisotropic embedding spaces (the
    * "common direction" dominates raw cosines). Emits per vector the
    * removed projection and the norm before/after: how much of each
    * vector the common direction explained.
    *
    * Scale: the mean and direction are two 1-row arrays read as
    * scalar subqueries (the pcaTop chain behind its checkpoints); the
    * transform itself is a scan-side projection — zero additional
    * shuffle.
    */
  def abtt(emb: DataFrame, dim: Int, idCol: String = "vec_id",
           vecCol: String = "embedding"): DataFrame = {
    val xD = castD(col(vecCol))
    // one mean pass shared by the centering below and every
    // power-iteration round (lazy checkpoint: computed on first use)
    val mu = pcaMu(emb, vecCol).localCheckpoint(false)
    val v = pcaTopVec(emb, dim, vecCol = vecCol, muPre = Some(mu))
    Par.withScalars(Par.withScalars(emb, mu), v)
      .select(col(idCol),
        org.apache.spark.sql.graft.GraftExpressions
          .vec_sub_dd(xD, col("mu")).as("xc"), col("v"))
      .withColumn("s", dotD(col("xc"), col("v")))
      .withColumn("xr",
        zip_with(col("xc"), col("v"), (x, vv) => x - col("s") * vv))
      .select(col(idCol), round(col("s"), 6).as("proj"),
        round(sqrt(dotD(col("xc"), col("xc"))), 6).as("norm_centered"),
        round(sqrt(dotD(col("xr"), col("xr"))), 6).as("norm_abtt"))
  }

  /** PageRank-style centrality over the ANN graph — the graph-based
    * data-selection primitive (rank corpus items by how often other
    * items' neighborhoods point at them: high-centrality vectors are
    * prototypes, persistent low-centrality ones are tails/outliers):
    * `iters` damped power-iteration rounds over the [[knnGraph]] edge
    * set, damping 0.85, uniform 1.0 init.
    *
    * Cross-engine parity: per-edge contributions snap to µ-unit
    * BIGINTs before the (dst)-keyed sum (order-independent), each
    * round's score rounds to 6dp (the kmeans convention); nodes with
    * no in-edges decay to the 0.15 floor.
    *
    * Scale shape: edges = n·k rows (built once, lazily checkpointed);
    * each round is one shuffle join on src (deg rides the same key),
    * one (dst)-keyed partial agg, and a node-frame left join — all
    * linear in the edge count.
    */
  def graphRank(emb: DataFrame, dim: Int, k: Int = 3, iters: Int = 2,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    val edges = knnGraph(emb, dim, k, idCol = idCol, vecCol = vecCol)
      .select(col("src"), col("dst")).localCheckpoint(false)
    graphRankFromEdges(edges, emb.select(col(idCol).as("id")), iters)
      .withColumnRenamed("id", idCol)
  }

  /** The [[graphRank]] fold over an explicit edge list — public so
    * the damped-round arithmetic is spec-pinnable on a hand-built
    * graph (the kNN edge construction is pinned separately via
    * [[knnGraph]]'s own oracle). `edges` = (src, dst); `nodes` =
    * (id); returns (id, out_deg, pr).
    */
  def graphRankFromEdges(edges: DataFrame, nodes: DataFrame,
                         iters: Int = 2): DataFrame = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
    var score = nodes.withColumn("pr", lit(1.0))
    for (_ <- 0 until iters) {
      val inc = edges
        .join(score.select(col("id").as("src"), col("pr")), Seq("src"))
        .join(deg, Seq("src"))
        .select(col("dst").as("id"),
          round(col("pr") / col("d").cast("double") * lit(1e6))
            .cast("long").as("c6"))
        .groupBy(col("id"))
        .agg(sum(col("c6")).as("s6"))
      score = nodes.join(inc, Seq("id"), "left")
        .select(col("id"),
          round(lit(0.15) + lit(0.85) *
            (coalesce(col("s6"), lit(0L)).cast("double") / lit(1e6)), 6)
            .as("pr"))
        .localCheckpoint(false)
    }
    score.join(deg.select(col("src").as("id"), col("d")), Seq("id"), "left")
      .select(col("id"), coalesce(col("d"), lit(0L)).as("out_deg"),
        col("pr"))
  }

  /** Per-dimension WHITENING (diagonal ZCA — standardize every
    * coordinate to zero mean / unit variance): the third member of
    * the isotropy toolbox next to [[pcaTopVec]] and [[abtt]]
    * (whitening sentence embeddings is the full-covariance version;
    * the diagonal form is the exactly-replayable one — covariance is
    * never materialized, only a dim-sized stats row).
    *
    * Cross-engine parity: per-dim mean = Σround(x·10⁶)/10⁶/n (the
    * [[pcaMu]] convention); the variance key s2·n·10⁶ − s1² is
    * carried in DECIMAL(38,0) (the [[pqPermutation]] key, clamped at
    * 0 against integer-snap jitter on near-constant dims), so σ =
    * √key/10⁶/n replays bit-identically. The whitened coordinate is
    * emitted as its exact µ-unit integer (round((x−µ)/σ·10⁶) as
    * BIGINT CSV) so stringification cannot drift; zero-variance dims
    * emit 0.
    *
    * Scale shape: one (dim)-keyed partial agg (dim reduce rows) + a
    * 1-row stats broadcast back over the scan — the corpus never
    * shuffles.
    */
  def whiten(emb: DataFrame, dim: Int, idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    def dec(c: Column) = c.cast("decimal(38,0)")
    val stats = emb.select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .select(col("pos"), col("x").cast("double").as("x"))
      .groupBy("pos")
      .agg(sum(round(col("x") * lit(1e6)).cast("long")).as("s1"),
        sum(round(col("x") * col("x") * lit(1e6)).cast("long")).as("s2"),
        count(lit(1)).as("n"))
      .select(col("pos"),
        (col("s1").cast("double") / lit(1e6) / col("n").cast("double"))
          .as("m"),
        (sqrt(greatest((dec(col("s2")) * dec(col("n")) * dec(lit(1000000L))
          - dec(col("s1")) * dec(col("s1"))).cast("double"), lit(0.0)))
          / lit(1e6) / col("n").cast("double")).as("sd"))
      .groupBy()
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("mus"),
        transform(array_sort(collect_list(struct(col("pos"), col("sd")))),
          s => s.getField("sd")).as("sds"))
    Par.withScalars(emb, stats)
      .select(col(idCol),
        concat_ws(",", transform(sequence(lit(1), lit(dim)), j =>
          when(element_at(col("sds"), j) === 0.0, lit(0L))
            .otherwise(round((element_at(col(vecCol), j).cast("double")
              - element_at(col("mus"), j)) / element_at(col("sds"), j)
              * lit(1e6)).cast("long"))
            .cast("string"))).as("w6"))
  }

  /** Native double-array dot (graft.functions.VecDotD): inputs are
    * pre-widened to array<double> ONCE per row, then every dot is one
    * codegen'd tight loop. Widening each float to double before the
    * multiply is exactly the oracle's CAST(v[i] AS DOUBLE) fold, so
    * values stay bit-identical.
    */
  private def dotD(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.GraftExpressions.vec_dot_d(a, b)

  /** Native float->double widening (graft.functions.VecCastD): one
    * codegen'd tight loop per row instead of an interpreted lambda per
    * element; float->double is exact, so values are bit-identical to
    * the `transform(v, _.cast("double"))` formulation (r16, guide §4).
    */
  private def castD(a: Column): Column =
    org.apache.spark.sql.graft.GraftExpressions.vec_cast_d(a)

  /** Deterministic distributed k-means (Lloyd's algorithm, spherical
    * assignment): centroids initialize from every `centroidEvery`-th
    * vector (same deterministic seeding as the IVF index; `<= 0`
    * auto-sizes the stride from the corpus count via
    * [[coarseEveryOf]]'s √n formula, exactly like the IVF/PQ/RQ
    * paths, so k ≈ √n and assignment stays O(n·√n) instead of the
    * fixed stride's O(n²/stride)), then `iters`
    * rounds of [assign each vector to the max-cosine centroid
    * (tie-break min centroid id)] -> [recompute each centroid as the
    * per-dimension mean of its members, rounded to 6dp so both engines
    * carry identical centroids into the next round]. Returns the final
    * assignment (vec_id, cluster_id, cos).
    *
    * Scale shape: the k centroids travel as ONE broadcast codebook row
    * each round; assignment is a corpus scan that scores the whole
    * codebook per vector in one native call — the corpus is never
    * multiplied by k and never shuffled. The update is one global
    * aggregate whose map-side buffers hold at most k × dim doubles, so
    * its single-partition exchange moves that much per map task
    * whatever the corpus size. Rounds are a driver-side loop over lazy
    * plans, the classic Spark iterative-ML shape. `iters` must be >= 1.
    */
  def kmeans(emb: DataFrame, dim: Int, iters: Int = 2, centroidEvery: Int = 0,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    lloyd(emb, dim, iters, centroidEvery, idCol, vecCol)._1
      .select(col("vid").as(idCol), col("cid").as("cluster_id"),
        round(col("cos"), 6).as("cos"))

  /** Centroid-distance embedding outliers — the FILTER counterpart of
    * [[semDedup]]'s prototype dropping: vectors whose cosine to their
    * learned-cluster centroid sits in the bottom `frac` of the corpus
    * are flagged (embeddings far from every prototype are the usual
    * suspects for mojibake, truncation, or off-distribution content
    * in a curation pipeline). The threshold is the exact
    * lower-element percentile of the 6dp-rounded assignment cosines,
    * so the flag set is engine-exact.
    *
    * Scale shape: the Lloyd assignment (one broadcast codebook row,
    * scored scan-side) plus ONE corpus-wide percentile agg whose 1-row
    * result broadcasts back over the assignment — the
    * doc_quality_filter posture. At 100 TB swap the exact percentile for
    * [[graft.functions.Aggs.percentileApprox]]; nothing else changes.
    */
  def centroidOutliers(emb: DataFrame, dim: Int, frac: Double = 0.1,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    // one Lloyd materialization shared by the threshold agg and the
    // flag projection (the semDedup convention)
    val a = kmeans(emb, dim, idCol = idCol, vecCol = vecCol)
      .localCheckpoint(false)
    val thr = a.agg(graft.functions.Aggs
      .percentileMethod(col("cos"), frac, "lower").as("__thr"))
    Par.withScalars(a, thr)
      .select(col(idCol), col("cluster_id"), col("cos"),
        (col("cos") <= col("__thr")).as("is_outlier"))
  }

  /** The learned coarse codebook: centroids after `iters-1` Lloyd
    * updates — exactly the frame [[kmeans]] runs its final assignment
    * against, shaped (cid, cvec: array<double>) so it plugs into
    * [[ivfTopKLearned]] as the IVF coarse quantizer.
    */
  def kmeansCentroids(emb: DataFrame, dim: Int, iters: Int = 2,
                      centroidEvery: Int = 0, idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame =
    lloyd(emb, dim, iters, centroidEvery, idCol, vecCol)._2
      .select(inline(col("cb"))).select(col("cid"), col("cvec"))

  /** Shared Lloyd loop: (final assignment (vid, cid, cos), the
    * [[codebook]] row it ran against). Each round assigns against one
    * broadcast codebook row ([[nearestCell]]) and folds the update into
    * ONE global `centroid_update` aggregate — partial buffers of at
    * most k × dim doubles — whose single row is the next codebook.
    */
  private def lloyd(emb: DataFrame, dim: Int, iters: Int, centroidEvery: Int,
                    idCol: String, vecCol: String): (DataFrame, DataFrame) = {
    require(iters >= 1, s"k-means needs iters >= 1, got $iters")
    val v = emb.select(col(idCol).as("vid"),
      castD(col(vecCol)).as("v"),
      sqrt(dot(col(vecCol), col(vecCol), dim)).as("vn"))
    var book = codebook(seedRows(emb, idCol, 1, emb, centroidEvery, coarseEveryOf)
      .select(col(idCol).as("cid"), castD(col(vecCol)).as("cvec"))
      .withColumn("cn", sqrt(dotD(col("cvec"), col("cvec")))))
    for (_ <- 2 to iters) {
      book = nearestCell(v, book, "v", "vn")
        .agg(org.apache.spark.sql.graft.GraftExpressions
          .centroid_update(col("cid"), col("v")).as("cb"))
      // long Lloyd runs: truncate lineage so round r's plan doesn't
      // nest all r-1 previous rounds (same pattern as
      // Dedup.components); short runs stay one fused lazy plan
      if (iters > 2) book = book.localCheckpoint()
    }
    (nearestCell(v, book, "v", "vn").select(col("vid"), col("cid"), col("cos")),
      book)
  }

  /** IVF flat search over the LEARNED k-means codebook instead of the
    * deterministic every-Nth sample — the centroid frame the doc
    * comment on [[ivfTopK]] promises plugs in. Cell populations follow
    * actual density (sampled centroids can leave near-empty cells), so
    * recall at the same nProbe is the quantity `emb_ann_recall`
    * compares. Same scale shape: k-row broadcast codebook, top-1
    * corpus cell, nProbe query cells, search only the probed postings.
    */
  def ivfTopKLearned(corpus: DataFrame, queries: DataFrame, dim: Int, k: Int,
                     iters: Int = 2, centroidEvery: Int = 0, nProbe: Int = 2,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val book = lloyd(corpus, dim, iters, centroidEvery, idCol, vecCol)._2
    // widen each side ONCE; float->double is exact, so every cosine is
    // bit-identical to the float-array path / the oracle's CAST fold
    def side(df: DataFrame, id: String, vec: String, norm: String): DataFrame =
      df.select(col(idCol).as(id),
        castD(col(vecCol)).as(vec),
        sqrt(dot(col(vecCol), col(vecCol), dim)).as(norm))
    cellSearch(
      nearestCell(side(corpus, "neighbor_id", "nvec", "nn"), book, "nvec", "nn")
        .drop("cos"),
      nearestCells(book.select(inline(col("cb"))))(
        side(queries, "query_id", "qvec", "qn"), "query_id", "qvec", nProbe, "qn"),
      k, pairCos(dotD))
  }

  /** Embedding near-dup pairs above a cosine threshold, blocked by the
    * same multi-table hyperplane LSH cells as [[lshTopK]]: each vector
    * lands in `nTables` (table, bucket) cells, candidates are pairs
    * sharing >= 1 cell (`id_a < id_b`), verified by EXACT cosine.
    *
    * Scale shape: the self-join side is a (tb, bk) cell, never a
    * semantic block — cell populations are corpus/2^nPlanes per table
    * on spread-out embeddings and shrink with nPlanes, so the pair
    * space stays bounded at corpus scale (a label/category block, by
    * contrast, is O(block²) with millions of vectors per label). The
    * same pair can collide in several tables; cos is identical on
    * every copy, so the max() groupBy is pure dedup and map-side
    * combinable.
    *
    * Recall bound: a true pair at cosine c (angle θ = arccos c)
    * surfaces with probability 1-(1-p^nPlanes)^nTables, p = 1-θ/π —
    * `nTables` is the recall dial, paid linearly in shuffle volume.
    *
    * `nPlanes <= 0` auto-sizes from the corpus count via
    * [[autoPlanes]] (read at build time, since the plane count shapes
    * the plan: [[Parquet.countRows]], a footer read for a parquet scan
    * and one `count()` job otherwise), so the default geometry keeps cell
    * populations ~constant instead of ∝ n as the corpus grows.
    */
  def cosineDupPairsLsh(emb: DataFrame, dim: Int, threshold: Double,
                        nPlanes: Int = 0, nTables: Int = 4,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val np = if (nPlanes > 0) nPlanes else autoPlanes(Parquet.countRows(emb))
    // r16: the knnGraph-style (tb, bk) width pin was tried here and
    // measured SLOWER paired (+0.46 emb_dedup_cosine, +0.24 _fixed,
    // +0.14 emb_semdedup): these callers' inputs are already fanned
    // out (Par.fanout whitelist), so the pin only added an exchange —
    // unlike knnGraph, whose cell-population window forces the (tb,
    // bk) exchange regardless. The r15 shape stays.
    val cells = lshBand(emb, normed(idCol, vecCol, dim, "id", "v", "n"),
      col(vecCol), dim, np, nTables)
    val a = cells.select(col("id").as("id_a"), col("v").as("va"),
      col("n").as("na"), col("tb"), col("bk"))
    val b = cells.select(col("id").as("id_b"), col("v").as("vb"),
      col("n").as("nb"), col("tb"), col("bk"))
    a.join(b, Seq("tb", "bk")).where(col("id_a") < col("id_b"))
      .withColumn("cos", dot(col("va"), col("vb"), dim) / (col("na") * col("nb")))
      .where(col("cos") >= threshold)
      .groupBy("id_a", "id_b").agg(max(col("cos")).as("cos"))
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** Embedding near-dup pairs above a cosine threshold, blocked by a
    * coarse key (label or LSH bucket) so the self-join stays bounded.
    * ONLY safe when the block column's populations are known-small
    * (e.g. a precomputed fine-grained cluster id) — a semantic label
    * block is O(block²) pairs; prefer [[cosineDupPairsLsh]] at corpus
    * scale.
    */
  def cosineDupPairs(emb: DataFrame, dim: Int, threshold: Double,
                     blockCol: String, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    // r16: the width pin was tried here too and measured slower paired
    // (see cosineDupPairsLsh) — the r14 shape stays
    val a = emb.select(col(blockCol).as("blk") +:
      normed(idCol, vecCol, dim, "id_a", "va", "na"): _*)
    val b = emb.select(col(blockCol).as("blk") +:
      normed(idCol, vecCol, dim, "id_b", "vb", "nb"): _*)
    a.join(b, Seq("blk")).where(col("id_a") < col("id_b"))
      .withColumn("cos",
        dot(col("va"), col("vb"), dim) / (col("na") * col("nb")))
      .where(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication via k-means cluster blocking — embeddings are
    * clustered with [[kmeans]], near-dup pairs (cosine >= `threshold`)
    * are found ONLY within each learned cluster via
    * [[cosineDupPairs]], and within every pair the member CLOSER to
    * its centroid is dropped (the paper's keep-farthest-from-centroid
    * policy; ties break toward keeping the lower id). Returns one row
    * per vector: (idCol, cluster_id, centroid_cos, keep).
    *
    * Scale shape: this is the safe [[cosineDupPairs]] use its doc
    * comment calls out — the learned cluster id is a fine-grained
    * block whose population is corpus/k, and k auto-sizes to ≈√n via
    * [[coarseEveryOf]] (override with `centroidEvery > 0`), so
    * blocks stay ≈√n-bounded as the corpus grows. The
    * kmeans assignment is a broadcast-centroid scan; the pair→drop
    * reduction joins the tiny pair set against the assignment, so the
    * corpus never self-joins outside its cluster. The assignment is
    * lazily localCheckpoint'd ONCE (the doc_minhash_est signature
    * pattern): five consumers read it (block join, both pair sides,
    * both drop-rule sides) — without the checkpoint each would re-run
    * the Lloyd subplan, corpus scans and all.
    */
  def semDedup(emb: DataFrame, dim: Int, threshold: Double,
               iters: Int = 2, centroidEvery: Int = 0,
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val assign = kmeans(emb, dim, iters, centroidEvery, idCol, vecCol)
      .localCheckpoint(false)
    val blocked = emb.select(col(idCol), col(vecCol))
      .join(assign.select(col(idCol), col("cluster_id")), Seq(idCol))
    val pairs = cosineDupPairs(blocked, dim, threshold, "cluster_id",
      idCol, vecCol)
    val ca = assign.select(col(idCol).as("id_a"), col("cos").as("__ca"))
    val cb = assign.select(col(idCol).as("id_b"), col("cos").as("__cb"))
    val drops = pairs.join(ca, Seq("id_a")).join(cb, Seq("id_b"))
      .select(when(col("__ca") < col("__cb") ||
          (col("__ca") === col("__cb") && col("id_a") < col("id_b")),
        col("id_b")).otherwise(col("id_a")).as(idCol))
      .distinct()
    assign.join(drops.withColumn("__d", lit(1)), Seq(idCol), "left")
      .select(col(idCol), col("cluster_id"),
        col("cos").as("centroid_cos"), col("__d").isNull.as("keep"))
  }

  /** Cluster-balanced diversity sampling over the learned k-means
    * cells: keep at most `perCluster` vectors per cluster, preferring
    * the FARTHEST-from-centroid members (ascending 6dp centroid
    * cosine, vec-id tie-break) — the boundary-keeping counterpart of
    * [[semDedup]]'s drop-the-prototypes policy; together they give
    * density-balanced corpus pruning (dense prototype regions thinned,
    * boundary diversity preserved). Output:
    * (idCol, cluster_id, centroid_cos, rk).
    *
    * Scale shape: assignment is the broadcast-centroid [[kmeans]]
    * scan; the per-cluster top-m is one window keyed by cluster_id —
    * k partitions of ~corpus/k rows, no self-join anywhere, and the
    * √n-auto-sized k (see [[coarseEveryOf]]) keeps each cluster
    * partition ≈√n-bounded as the corpus grows.
    */
  def clusterSample(emb: DataFrame, dim: Int, perCluster: Int,
                    iters: Int = 2, centroidEvery: Int = 0,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val assign = kmeans(emb, dim, iters, centroidEvery, idCol, vecCol)
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("cos").asc, col(idCol))
    assign.withColumn("rk", row_number().over(w))
      .where(col("rk") <= perCluster)
      .select(col(idCol), col("cluster_id"),
        col("cos").as("centroid_cos"), col("rk"))
  }
  /** Cosine RANGE search: every corpus vector with cosine >= `tau` of
    * each query — the radius-query sibling of [[bruteTopK]] (dedup
    * candidate mining, "find everything near this centroid" probes).
    *
    * Scale shape: strictly LIGHTER than top-k — the query set
    * broadcasts, the corpus never shuffles, and with no rank window
    * there is no shuffle at all: scan → broadcast join → filter, one
    * stage end to end. The threshold applies to the UNROUNDED cosine
    * (the oracle mirrors this); output cos is round-6.
    */
  def rangeSearch(corpus: DataFrame, queries: DataFrame, dim: Int,
                  tau: Double, idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(normed(idCol, vecCol, dim, "query_id", "qvec", "qn"): _*)
    corpus.select(normed(idCol, vecCol, dim, "neighbor_id", "nvec", "nn"): _*)
      .crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", pairCos(dot(_, _, dim)))
      .where(col("cos") >= tau)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos"), 6).as("cos"))
  }

  /** Maximal Marginal Relevance rerank (Carbonell & Goldstein, SIGIR
    * 1998): from each query's brute top-`pool` candidates, greedily
    * select `k` maximizing wRel·rel(c) − wDiv·max_{s∈sel} cos(c, s) —
    * relevant AND mutually diverse, the standard post-ANN rerank for
    * retrieval-augmented pipelines. First pick is pure relevance
    * (empty-selection similarity term = 0); ties keep the
    * better-ranked candidate (argmax scans in rank order).
    *
    * Scale shape: candidate generation is the brute/ANN leg (zero
    * corpus shuffle); the greedy loop runs scan-side per query over a
    * collected `pool`-element array — O(k·pool·|sel|) dot products on
    * a bounded frame, never a corpus operation. Weights are passed
    * EXPLICITLY (never derived as 1−λ: 1.0−0.7 is not the double 0.3,
    * and the oracle parses decimal literals).
    *
    * Output: query_id, sel_rank (1..k), neighbor_id, rel (round 6).
    */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, dim: Int,
              k: Int = 5, pool: Int = 20,
              wRel: Double = 0.7, wDiv: Double = 0.3,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(normed(idCol, vecCol, dim, "query_id", "qvec", "qn"): _*)
    val scored = corpus.select(normed(idCol, vecCol, dim, "cid", "cvec", "cn"): _*)
      .crossJoin(broadcast(q))
      .where(col("cid") =!= col("query_id"))
      .withColumn("rel",
        dot(col("qvec"), col("cvec"), dim) / (col("qn") * col("cn")))
    val cand = topK(scored, "rel", pool, rank = "rk", nb = "cid")
    val arr = cand.groupBy("query_id")
      .agg(sort_array(collect_list(struct(col("rk"), col("cid"),
        col("cvec"), col("cn"), col("rel")))).as("cands"))
    // one greedy round: scores over all candidates (selected -> null),
    // then append the FIRST index attaining the max
    def scores(sel: Column): Column =
      transform(sequence(lit(1), size(col("cands"))), ii => {
        val c = element_at(col("cands"), ii)
        val maxSim = array_max(transform(sel, jj => {
          val s = element_at(col("cands"), jj)
          dot(c.getField("cvec"), s.getField("cvec"), dim) /
            (c.getField("cn") * s.getField("cn"))
        }))
        when(array_contains(sel, ii), lit(null).cast("double"))
          .otherwise(lit(wRel) * c.getField("rel") -
            lit(wDiv) * when(size(sel) === 0, lit(0.0)).otherwise(maxSim))
      })
    // the k greedy rounds fold at RUNTIME over a lambda variable —
    // unrolling them as nested column expressions duplicates the
    // growing selection subtree exponentially and stalls the optimizer.
    // Rounds clamp to the candidate count: once every candidate is
    // selected, scores are all null and array_max(..) would append a
    // null index, leaking null neighbor rows for the excess ranks on
    // a corpus (or pool) smaller than k.
    val selected = aggregate(
      sequence(lit(1), least(lit(k), size(col("cands")))),
      array().cast("array<int>"),
      (sel, _) => concat(sel, array(
        array_position(scores(sel), array_max(scores(sel))).cast("int"))))
    arr.select(col("query_id"), col("cands"),
        posexplode(selected).as(Seq("__p", "__idx")))
      .select(col("query_id"), (col("__p") + 1).cast("long").as("sel_rank"),
        element_at(col("cands"), col("__idx")).getField("cid")
          .as("neighbor_id"),
        round(element_at(col("cands"), col("__idx")).getField("rel"), 6)
          .as("rel"))
  }
}
