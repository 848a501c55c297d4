package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Parquet

/** Scaling spot-run for the families whose cost is super-linear
  * without their dials turned (SURVEY §5): times a fixed subset at
  * whatever SPARK_GRAFT_SF_DIR points to, printing the same one-line
  * JSON shape as [[Bench]].
  *
  * Every leg is a registered-query call-through: since r8 the last
  * two dial-turned shapes graduated into the registered defaults —
  * emb_dedup_cosine auto-sizes its plane count from the corpus count
  * (`Knn.autoPlanes`, cell population pinned near 125 instead of
  * growing ∝ n) and emb_mmr queries the CONSTANT base-copy batch
  * (vec_id < 1e8 under ScaleUp's +1e8-per-replica id shift) — so the
  * registered plan IS the production plan at every scale, exactly
  * like the √n coarse codebook, fixed-256 PQ codebook and 64/16
  * phash geometry already were.
  */
object BenchScale {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false"), cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val canary = BenchCanary.measure(spark)

    def emb = Parquet.read(spark, s"$sfDir/embeddings.parquet")
    val nEmb = emb.count()
    val planes = graft.operators.Knn.autoPlanes(nEmb)

    // The second group are this session's additions: the RQ store +
    // serving (both √n-codebook broadcast argmins), the constellation
    // audio dedup (df-capped inverted index), char-gram benchmark
    // decontamination (bench side fixed, corpus side scales), the
    // first-occurrence novelty score, and the two eval harnesses whose
    // truth legs are |Q|-bounded (brute = |Q|·n, |Q| pinned to the
    // base copies). Excluded by design: the ts_* additions (events
    // family, one grid-agg + window shuffles — linear by
    // construction, the full-suite sf1 curve covers them). The old
    // doc_topic_cluster/emb_kmeans exclusion is gone — see the sixth
    // group below.
    // Third group (round 9): emb_bq_search (O(n·|Q|) Hamming scan at
    // 8 bytes/vector, |Q| pinned to base copies), emb_knn_graph (the
    // banded corpus self-join — pair volume rides the auto-sized
    // cells, the leg most worth watching), emb_kcenter (k linear
    // scans). ts_dtw stays excluded with the ts family: its DP is
    // calendar-bounded, only the grid agg scales.
    // Fourth group (round 11): emb_pq_learned (the one-Lloyd-update
    // codebook — seed assign + mean update + re-assign, all
    // codebook-sized reduces) and emb_ivf_pq_rerank (now serving from
    // the learned codes) — the two legs the r10 verdict flagged as
    // scale-unmeasured.
    // Fifth group (round 11, second session): emb_ivf_pq_residual
    // (the residual-ADC geometry — same cell/codebook sizing dials as
    // ivf_pq, plus the broadcast-centroid residual pass) and
    // emb_graph_rank (2 damped rounds over the knn_graph edges —
    // linear in edges, but it pays the graph build).
    // Sixth group (round 12): the learned-Lloyd family now auto-sizes
    // its seeding stride (Knn.lloyd via autoCoarseEvery √n — the
    // old every-67 exclusion no longer applies), so emb_kmeans and
    // doc_topic_cluster join the measured set; emb_kcenter_sampled is
    // the pool-greedy production k-center; and the text-dedup family
    // (minhash banding, df-capped pruned Jaccard, C4-style block
    // dedup) gets measured exponents to back SURVEY §5's df-cap/
    // banding claims with the same evidence the ANN family has.
    // mm_phash_eval is not a leg: its exhaustive O(n²) truth is a
    // declared eval whose cost is its definition (65.9 s, 19% of the r13
    // sf10 subset wall), and beyond 1M docs it auto-switches to
    // mm_phash_eval_sampled — the O(n·|P|) shape measured below.
    val registered = Seq("mm_phash",
      "mm_phash_eval_sampled", "emb_knn_ivf", "emb_ivf_pq",
      "emb_ivf_probe_curve", "emb_pq", "doc_dedup_edit",
      "emb_dedup_cosine", "emb_mmr",
      "emb_rq", "emb_rq_search", "mm_audio_dedup",
      "doc_minhash_band_curve", "doc_contamination_spans",
      "doc_novelty", "emb_lsh_table_curve",
      "emb_bq_search", "emb_knn_graph", "emb_kcenter",
      "emb_pq_learned", "emb_ivf_pq_rerank",
      // r13: the span-gated DTW — the r12 verdict's softest sf1 spot;
      // at 100x KEYS the per-key calendar-bounded DP must scale
      // linearly in keys and the gate (spec-pinned) bounds span blowup
      "ts_dtw",
      "emb_ivf_pq_residual", "emb_graph_rank",
      "emb_kmeans", "doc_topic_cluster", "emb_kcenter_sampled",
      "doc_dedup_minhash", "doc_dedup_ngram_jaccard_pruned",
      "doc_block_dedup")
    val legs: Seq[(String, () => DataFrame)] =
      registered.map(n => n -> (() => SparkEntry.queries(n)(spark, sfDir)))

    def runOnce(name: String, mk: () => DataFrame): Double = {
      val t0 = System.nanoTime()
      try mk().write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[benchscale] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    legs.foreach { case (n, mk) => runOnce(n, mk) } // warmup
    val passes = (1 to 2).map(_ => legs.map { case (n, mk) =>
      n -> runOnce(n, mk) }.toMap)
    val results = legs.map { case (n, _) =>
      val vs = passes.map(_(n)).filter(_ >= 0)
      n -> (if (vs.isEmpty) -1.0 else vs.min)
    }
    val total = results.map(_._2).filter(_ >= 0).sum
    def f(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val sfLabel = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    println(s"""{"metric":"scale_subset","value":${f(total)},"unit":"sec",""" +
      s""""canary_sec":${"%.3f".formatLocal(java.util.Locale.ROOT, canary)},""" +
      s""""queries":$qs,"sf":"$sfLabel","n_emb":$nEmb,"lsh_planes":$planes}""")
    spark.stop()
    sys.exit(0)
  }
}
