package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators._
import graft.ts.TimeSeries

/** Operators must degrade to empty results (never throw) on empty
  * input — at 100 TB a predicate routinely empties a whole slice of
  * the corpus, and a pipeline stage that throws on it takes the job
  * down. pypond's processors likewise pass empty collections through
  * (collection.py aggregations return None, pipelines emit nothing).
  */
class EdgeCaseSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def emptyEvents =
    Seq.empty[(Long, Long, Double)].toDF("user_id", "ts", "value")
  private def emptyDocs =
    Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("stateful series processors pass empty frames through") {
    val ts = TimeSeries(emptyEvents, "ts", Seq("user_id"))
    assert(ts.align(Seq("value"), "1h", "linear").df.isEmpty)
    assert(ts.rate(Seq("value")).df.isEmpty)
    assert(ts.fillPad(Seq("value")).df.isEmpty)
    assert(ts.fillLinear("value").df.isEmpty)
    assert(Trend.ewma(emptyEvents, "ts", "value", Seq("user_id")).isEmpty)
    assert(Trend.gaps(emptyEvents, "ts", Seq("user_id"), 1000L).isEmpty)
    assert(Rollup.fixedWindow(emptyEvents, "ts", Seq("user_id"), "1h",
      Seq(count(lit(1)).as("n"))).isEmpty)
    assert(Rollup.calendar(emptyEvents, "ts", Seq("user_id"), "daily",
      Seq(count(lit(1)).as("n")), tz = Some("America/New_York")).isEmpty)
  }

  test("dedup family passes empty corpora through") {
    assert(Dedup.exact(emptyDocs).isEmpty)
    assert(Dedup.minhashCandidates(emptyDocs).isEmpty)
    assert(Dedup.simhashPairs(emptyDocs).isEmpty)
    assert(Dedup.ngramJaccardPairs(emptyDocs).isEmpty)
    assert(Dedup.ngramJaccardPairs(emptyDocs, maxDocFreq = Some(16)).isEmpty)
    assert(Dedup.minhashClusters(emptyDocs).isEmpty)
    assert(Dedup.dupNgramFraction(emptyDocs).isEmpty)
  }

  test("round-6 additions pass empty inputs through") {
    assert(Trend.cusum(emptyEvents, "ts", "value", Seq("user_id"),
      50.0, 500.0).isEmpty)
    assert(Trend.holt(emptyEvents, "ts", "value", Seq("user_id")).isEmpty)
    assert(TextOps.topNgram(emptyDocs).isEmpty)
    assert(Multimodal.dedupExact(emptyDocs).isEmpty)
    assert(Multimodal.phashPairs(spark, emptyDocs).isEmpty)
    val emptyEmb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Knn.rangeSearch(emptyEmb, emptyEmb, 2, 0.5).isEmpty)
    assert(Knn.lshRangeSearch(emptyEmb, emptyEmb, 2, 0.5).isEmpty)
    assert(Knn.mipsTopK(emptyEmb, emptyEmb, 2, 3).isEmpty)
    assert(Knn.mipsLshTopK(emptyEmb, emptyEmb, 2, 3).isEmpty)
    assert(Trend.crossCorr(emptyEvents, emptyEvents, "ts", "value",
      Seq("user_id"), 1000L).isEmpty)
    assert(TextOps.bm25(emptyDocs, Seq("spark")).isEmpty)
    assert(Sampling.strataTopK(
      emptyDocs.withColumn("lang", lit("en")), "lang", "doc_id", 3).isEmpty)
    val emptyIv = Seq.empty[(Long, Long, Long)].toDF("user_id", "b", "e")
    assert(RangeJoin.coalesceIntervals(emptyIv, Seq("user_id"), "b", "e")
      .isEmpty)
    assert(Trend.periodogram(emptyEvents, "ts", "value", Seq("user_id"),
      1000000L).isEmpty)
    assert(Dedup.editVerifiedPairs(emptyDocs).isEmpty)
    assert(Trend.holtWinters(emptyEvents, "ts", "value", Seq("user_id"))
      .isEmpty)
    assert(Fill.zeroLimited(emptyEvents, "ts", Seq("value"), Seq("user_id"),
      2).isEmpty)
  }

  test("second-session round-6 additions pass empty inputs through") {
    assert(Trend.theilSen(emptyEvents, "ts", "value", Seq("user_id"),
      86400000000L, 0L).isEmpty)
    assert(Trend.psiDrift(emptyEvents, "ts", "value", Seq("user_id"),
      0L, 25.0, 20).isEmpty)
    assert(Trend.ksDrift(emptyEvents, "ts", "value", Seq("user_id"), 0L)
      .isEmpty)
    assert(Trend.burst(emptyEvents, "ts", Seq("user_id"),
      2.5e-5, 1.25e-4, 2.0).isEmpty)
    assert(Dedup.duplicateSpans(emptyDocs).isEmpty)
    assert(Dedup.spanDedup(emptyDocs).isEmpty)
    // BPE on an empty corpus learns no merges; applying emits no docs
    assert(TextOps.bpeTrain(emptyDocs).isEmpty)
    assert(TextOps.bpeApply(emptyDocs).isEmpty)
  }

  test("round-8 additions pass empty inputs through") {
    assert(Freq.cmsHeavyHitters(emptyDocs).isEmpty)
    assert(Sampling.weightedTopK(
      emptyDocs.withColumnRenamed("text", "w0"), "doc_id",
      org.apache.spark.sql.functions.col("w0").cast("int"), 5).isEmpty)
    assert(Multimodal.frameDupPairs(spark, emptyDocs).isEmpty)
    val emptyEmb8 = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Knn.centroidOutliers(emptyEmb8, 2).isEmpty)
    // contaminationAudit on an all-benchmark corpus: no corpus docs
    val benchOnly = Seq((97L, "alpha beta gamma delta")).toDF("doc_id", "text")
    assert(Dedup.contaminationAudit(benchOnly,
      org.apache.spark.sql.functions.col("doc_id") % 97 === 0).isEmpty)
  }

  test("this session's additions pass empty inputs through") {
    val day = 86400000000L
    assert(Trend.changepoint(emptyEvents, "ts", "value", Seq("user_id"),
      day, 0L).isEmpty)
    assert(Trend.stlDecompose(emptyEvents, "ts", "value", Seq("user_id"),
      day, 0L).isEmpty)
    assert(Trend.sax(emptyEvents, "ts", "value", Seq("user_id"),
      day, 0L).isEmpty)
    assert(Trend.acf(emptyEvents, "ts", "value", Seq("user_id")).isEmpty)
    assert(TextOps.lmScoreKN(emptyDocs).isEmpty)
    assert(TextOps.novelty(emptyDocs).isEmpty)
    assert(Multimodal.audioDupPairs(spark, emptyDocs).isEmpty)
    // an all-benchmark corpus leaves no rows to decontaminate
    val benchOnly = Seq((97L, "alpha beta gamma delta")).toDF("doc_id", "text")
    assert(Dedup.contaminationSpans(benchOnly,
      col("doc_id") % 97 === 0).isEmpty)
    // rq on an empty corpus: resolveCoarse sees n = 0, stride 1,
    // empty codebooks -> empty output (nothing throws)
    val emptyEmb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Knn.rqCodes(emptyEmb, 2, centroidEvery = 1).isEmpty)
  }

  test("round-9 additions degrade on empty / undersized inputs") {
    val emptyEmb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Knn.bqWords(emptyEmb, 32).isEmpty)
    assert(Knn.bqSearchTopK(emptyEmb, emptyEmb, 32, 3).isEmpty)
    assert(Knn.kCenterSelect(emptyEmb, 4, 8).isEmpty)
    // corpus smaller than k: greedy exhausts and stops at n rows
    val two = Seq(1L -> Seq(1f, 0f), 2L -> Seq(0f, 1f))
      .toDF("vec_id", "embedding")
    assert(Knn.kCenterSelect(two, 2, 8).count() == 2)
    assert(Knn.knnGraph(emptyEmb, 32, 3).isEmpty)
    assert(Knn.abtt(emptyEmb, 4).isEmpty)
    val day = 86400000000L
    assert(Trend.hampel(emptyEvents, "ts", "value", Seq("user_id")).isEmpty)
    assert(Trend.runsAbove(emptyEvents, "ts", "value", Seq("user_id"),
      1.0).isEmpty)
    assert(Trend.benford(emptyEvents, "value", Seq("user_id")).isEmpty)
    assert(Trend.dtwToTemplate(emptyEvents, "ts", "value", Seq("user_id"),
      day, 0L).isEmpty)
    assert(Trend.stlStrength(emptyEvents, "ts", "value", Seq("user_id"),
      day, 0L).isEmpty)
    val emptyIv = Seq.empty[(Long, Long, Long)].toDF("k", "b", "e")
    assert(RangeJoin.intervalGaps(emptyIv, Seq("k"), "b", "e").isEmpty)
    assert(TextOps.blocklistScreen(emptyDocs, Seq("slow")).isEmpty)
  }

  test("components of an empty pair list is empty (and converges)") {
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val (labels, rounds) = Dedup.componentsWithRounds(pairs)
    assert(labels.isEmpty && rounds <= 1)
  }

  test("range join drops inverted intervals instead of exploding") {
    // end < begin is invalid input: zero matches, and crucially no
    // descending-sequence bucket explosion (the r5-advice regression)
    val iv = Seq((1L, 5000000L, 0L)).toDF("k", "begin", "end")
    val pt = Seq((1L, 1000000L)).toDF("k", "t")
    val out = RangeJoin.pairs(iv, pt, Seq("k"), "begin", "end", "t",
      bucketUs = 60000000L)
    assert(out.isEmpty)
  }

  test("knn ops handle an empty query set") {
    val emb = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val noQueries = emb.where(lit(false))
    assert(Knn.bruteTopK(emb, noQueries, 2, 3).isEmpty)
    assert(Knn.lshTopK(emb, noQueries, 2, 3).isEmpty)
    assert(Knn.ivfTopK(emb, noQueries, 2, 3, centroidEvery = 1).isEmpty)
  }

  test("round-11 second-session additions pass empty inputs through") {
    // whiten / residual-IVFADC on an empty corpus: the stats/codebook
    // frames are empty and the scan-side transform emits nothing
    val noEmb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Knn.whiten(noEmb, 2).isEmpty)
    val emb = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.5f, 0.5f))).toDF("vec_id", "embedding")
    assert(Knn.ivfPqResidualTopK(emb, emb.where(lit(false)), 2, 3,
      m = 2, coarseEvery = 1, pqEvery = 1).isEmpty)
    // whiten on a CONSTANT dimension: sd = 0 -> coordinate 0, not NaN
    val const = Seq((1L, Array(1.0f, 2.0f)), (2L, Array(1.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val w = Knn.whiten(const, 2).orderBy("vec_id")
      .collect().map(_.getString(1))
    assert(w.forall(_.startsWith("0,")), w.mkString(";"))
  }

  test("classifier and ingest pipeline pass empty batches through") {
    assert(TextOps.classify(emptyDocs).isEmpty)
    assert(TextOps.dsir(emptyDocs, lit(true)).isEmpty)
    spark.sql("DROP TABLE IF EXISTS edge_store")
    // empty batch bootstraps an empty store and accepts nothing...
    assert(Ingest.batch(spark, emptyDocs, "edge_store", nBuckets = 2).isEmpty)
    // ...and a later real batch still ingests against it
    val docs = Seq((1L, "the cat sat on the mat with the cat"))
      .toDF("doc_id", "text")
    val accepted = Ingest.batch(spark, docs, "edge_store", nBuckets = 2)
    assert(accepted.count() <= 1) // gate may drop it; it must not throw
  }

  test("stride-1 seeding keeps every row: 1-row corpus and explicit " +
    "poolEvery = 1 degenerate correctly instead of emptying") {
    // auto stride on a 1-row corpus resolves to 1; the 1 % every seed
    // residue must select the row (x % 1 == 0), so kmeans emits one
    // self-assigned cluster and the k-center pool is the full corpus
    val one = Seq((7L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val km = Knn.kmeans(one, 2).collect()
    assert(km.length == 1 && km(0).getAs[Long]("cluster_id") == 7L)
    val emb = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val full = Knn.kCenterSampled(emb, 2, 2, poolEvery = 1).collect()
    assert(full.length == 2, "poolEvery = 1 must mean the full corpus")
  }

  test("q_ab_test surfaces NULL z/significant when a variant is empty") {
    // only odd user_ids purchase -> variant 0 has zero rows; the
    // documented degenerate read-out is NULL z / NULL significant
    // (no verdict), never a throw or a fabricated zero
    val dir = java.nio.file.Files.createTempDirectory("abtest_edge")
      .toString
    Seq((1L, 1704067200000000L, 1L, "purchase", 10.5, ""),
        (2L, 1704067201000000L, 3L, "purchase", 12.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts")))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val row = SparkEntry.queries("q_ab_test")(spark, dir).collect()(0)
    assert(row.isNullAt(row.fieldIndex("n0")))
    assert(!row.isNullAt(row.fieldIndex("n1")))
    assert(row.isNullAt(row.fieldIndex("z")))
    assert(row.isNullAt(row.fieldIndex("significant")))
  }

  test("doc_dedup_eval surfaces NULL recall when no pair reaches the " +
    "Jaccard truth threshold") {
    // no two documents share a 3-shingle, so the exact-Jaccard truth is
    // empty: the per-method read-out is 0 truth, 0 hits, NULL recall
    // (DuckDB's 0/0), never an ANSI divide error
    val dir = java.nio.file.Files.createTempDirectory("dedup_eval_edge")
      .toString
    Seq((1L, "alpha beta gamma delta epsilon"),
        (2L, "one two three four five six"),
        (3L, "red green blue cyan magenta yellow black"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("doc_dedup_eval")(spark, dir).collect()
    assert(rows.map(_.getAs[String]("method")).sorted.toSeq ==
      Seq("minhash_lsh", "simhash"))
    rows.foreach { r =>
      assert(r.getAs[Long]("n_truth") == 0L && r.getAs[Long]("n_hits") == 0L)
      assert(r.isNullAt(r.fieldIndex("recall")))
    }
  }

  test("q_ab_test surfaces NULL z when both variants are constant " +
    "(zero pooled standard error)") {
    // two rows per variant, identical values within each: both sample
    // variances are exactly 0, so z's denominator is 0 — the guard
    // must read out NULL, never an ANSI divide error (and DuckDB
    // would yield inf there, so the guard is also what keeps parity)
    val dir = java.nio.file.Files.createTempDirectory("abtest_se0")
      .toString
    Seq((1L, 1704067200000000L, 1L, "purchase", 10.0, ""),
        (2L, 1704067201000000L, 3L, "purchase", 10.0, ""),
        (3L, 1704067202000000L, 2L, "purchase", 12.0, ""),
        (4L, 1704067203000000L, 4L, "purchase", 12.0, ""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("ts")))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val row = SparkEntry.queries("q_ab_test")(spark, dir).collect()(0)
    assert(row.getAs[Long]("n0") == 2L && row.getAs[Long]("n1") == 2L)
    assert(row.isNullAt(row.fieldIndex("z")))
    assert(row.isNullAt(row.fieldIndex("significant")))
  }
}
