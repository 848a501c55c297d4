package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis primitives for training-data pipelines: tokenization,
  * a cross-engine rolling hash, language-ID, quality scoring, token
  * counting, fingerprinting (SURVEY.md §2.8).
  *
  * Everything is built from Spark higher-order functions
  * (`transform`/`aggregate`/`filter` — codegen'd, no UDFs) and the
  * arithmetic is chosen so a SQL engine (the DuckDB oracle) can compute
  * bit-identical values: the rolling hash is a left fold of
  * (acc*31 + codepoint) mod 1e9+7 in 64-bit integers.
  */
object TextOps {

  val HashMod = 1000000007L
  /** Rolling-hash step multiplier — the `31` in acc*31 + x. Shared by
    * every fold (polyHash, band keys, frame refs) and interpolated into
    * the oracle SQL so the two sides cannot drift.
    */
  val HashMul = 31L

  /** Polynomial rolling hash over the string's characters; the
    * cross-engine "document fingerprint" primitive. Native codegen'd
    * expression (graft.functions.PolyHash) — one tight loop per row.
    */
  def polyHash(c: Column): Column = org.apache.spark.sql.graft.GraftExpressions.poly_hash(c)

  /** Reference formulation of [[polyHash]] as composed higher-order
    * functions — slower (per-element lambda dispatch) but definitionally
    * the shared-oracle fold; kept for parity tests.
    */
  def polyHashHof(c: Column): Column =
    aggregate(split(c, ""), lit(0L),
      (acc, ch) => (acc * lit(31L) + ascii(ch)) % lit(HashMod))

  /** The same fold over raw bytes — equals [[polyHash]] ONLY for pure
    * ASCII input (multi-byte characters need the code-point fold in
    * HashImpl.polyHash); kept for byte-level callers and parity tests.
    */
  def polyHashBytes(bytes: Array[Byte]): Long = {
    var acc = 0L
    var i = 0
    while (i < bytes.length) {
      acc = (acc * 31L + (bytes(i) & 0xffL)) % HashMod
      i += 1
    }
    acc
  }

  /** Whitespace tokens with empties dropped. */
  def tokens(c: Column): Column =
    filter(split(c, " "), t => length(t) > 0)

  /** Word n-gram shingles (each joined by a single space). */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - lit(n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Distinct shingle hash ids — the unit of MinHash/Jaccard. Native
    * expression: hashes each n-gram without materializing the joined
    * shingle strings.
    */
  def shingleIds(text: Column, n: Int): Column =
    array_distinct(
      org.apache.spark.sql.graft.GraftExpressions.shingle_hashes(tokens(text), n))

  /** HOF twin of [[shingleIds]] (builds the shingle strings, hashes
    * with [[polyHashHof]]); kept for parity tests.
    */
  def shingleIdsHof(text: Column, n: Int): Column =
    array_distinct(transform(shingles(tokens(text), n), s => polyHashHof(s)))

  // --- language ID ----------------------------------------------------
  // n-gram/stopword heuristic: score = number of tokens found in each
  // language's function-word list; highest score wins with a fixed
  // precedence (en, de, fr, es), "und" when every score is zero.

  val StopEn: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "that")
  val StopDe: Seq[String] = Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu")
  val StopFr: Seq[String] = Seq("le", "la", "les", "et", "est", "un", "une", "dans")
  val StopEs: Seq[String] = Seq("el", "la", "los", "las", "y", "es", "un", "en")

  def stopCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(w => w: Any): _*)))

  /** doc-level language-ID scores + prediction. Input must expose a
    * `text` column; appends s_en/s_de/s_fr/s_es/pred_lang.
    */
  def langId(df: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    df.withColumn("s_en", stopCount(t, StopEn))
      .withColumn("s_de", stopCount(t, StopDe))
      .withColumn("s_fr", stopCount(t, StopFr))
      .withColumn("s_es", stopCount(t, StopEs))
      .withColumn("pred_lang",
        when(col("s_en") + col("s_de") + col("s_fr") + col("s_es") === 0, lit("und"))
          .when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr")
            && col("s_en") >= col("s_es"), lit("en"))
          .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_es"), lit("de"))
          .when(col("s_fr") >= col("s_es"), lit("fr"))
          .otherwise(lit("es")))
  }

  // --- quality scoring ------------------------------------------------
  // length / punctuation / digit / stopword ratios combined linearly
  // (no transcendentals: libm differs across engines, +*-/ do not).

  def quality(df: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    val nChars = length(col("text")).cast("double")
    val nPunct = (length(col("text"))
      - length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("double")
    val nDigit = (length(col("text"))
      - length(regexp_replace(col("text"), "[0-9]", ""))).cast("double")
    df.withColumn("n_tokens", size(t).cast("long"))
      .withColumn("avg_token_len",
        round((nChars - (size(t) - lit(1))) / size(t), 6))
      .withColumn("punct_ratio", round(nPunct / nChars, 6))
      .withColumn("digit_ratio", round(nDigit / nChars, 6))
      .withColumn("stop_ratio",
        round(stopCount(t, StopEn).cast("double") / size(t), 6))
      .withColumn("quality",
        round(least(lit(1.0), greatest(lit(0.0),
          lit(0.2) + lit(0.05) * ((nChars - (size(t) - lit(1))) / size(t))
            - lit(2.0) * (nPunct / nChars)
            - lit(1.0) * (nDigit / nChars)
            + lit(0.5) * (stopCount(t, StopEn).cast("double") / size(t)))), 6))
  }

  // --- token counting -------------------------------------------------

  /** Whitespace tokens, BPE-ish regex pieces, chars. */
  def tokenStats(df: DataFrame): DataFrame =
    df.withColumn("n_ws_tokens", size(tokens(col("text"))).cast("long"))
      .withColumn("n_bpe_pieces",
        regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")))
      .withColumn("n_chars_m", length(col("text")).cast("long"))

  // --- repetition / corpus-filter rules -------------------------------

  /** Duplicate word-n-gram fraction: 1 - distinct/total — the classic
    * repetition signal from published LLM corpus-quality heuristics
    * (high values = boilerplate/looping text).
    */
  def repetitionRatio(text: Column, n: Int): Column = {
    val all = org.apache.spark.sql.graft.GraftExpressions
      .shingle_hashes(tokens(text), n)
    when(size(all) === 0, lit(0.0)).otherwise(
      round(lit(1.0) - size(array_distinct(all)).cast("double")
        / size(all).cast("double"), 6))
  }

  /** Gopher-style keep/drop rules: token-count range, mean token
    * length range, bigram repetition cap, must contain a stopword.
    * Appends rep_2gram, keep, drop_reason (first failing rule, fixed
    * order, 'ok' when kept).
    */
  def gopherFilter(df: DataFrame,
                   minTokens: Int = 20, maxTokens: Int = 100000,
                   minAvgTokLen: Double = 2.0, maxAvgTokLen: Double = 12.0,
                   maxRep2: Double = 0.6): DataFrame = {
    val t = tokens(col("text"))
    val nTok = size(t)
    val avgLen =
      (length(col("text")).cast("double") - (nTok - lit(1))) / nTok.cast("double")
    val rep = repetitionRatio(col("text"), 2)
    val hasStop = stopCount(t, StopEn) > 0
    val reason = when(nTok < minTokens, lit("too_few_tokens"))
      .when(nTok > maxTokens, lit("too_many_tokens"))
      .when(avgLen < minAvgTokLen, lit("avg_token_too_short"))
      .when(avgLen > maxAvgTokLen, lit("avg_token_too_long"))
      .when(rep > maxRep2, lit("too_repetitive"))
      .when(!hasStop, lit("no_stopwords"))
      .otherwise(lit("ok"))
    df.withColumn("rep_2gram", rep)
      .withColumn("drop_reason", reason)
      .withColumn("keep", col("drop_reason") === "ok")
  }

  // --- normalization ---------------------------------------------------

  /** Canonical text normalization (the step before exact dedup in a
    * training pipeline): lowercase, strip sentence punctuation,
    * collapse whitespace runs, trim. Pure regex/char ops — scan-side,
    * codegen'd, zero shuffle. Appends norm_text + n_chars_norm.
    */
  def normalize(df: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[.,!?;:]", ""), " +", " "))
    df.withColumn("norm_text", norm)
      .withColumn("n_chars_norm", length(col("norm_text")).cast("long"))
  }

  // --- PII scrubbing ---------------------------------------------------
  // patterns are kept to character classes + bounded quantifiers so the
  // Java regex engine (Spark) and RE2 (DuckDB, no backtracking) agree.

  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
  val PhoneRe = "\\+?[0-9][0-9() -]{6,}[0-9]"

  /** Redact emails/phone-number shapes; appends match counts and the
    * scrubbed text (n_emails / n_phones / scrubbed / n_chars_scrubbed).
    * Scan-side projection — no shuffle, safe to fuse into any pipeline.
    */
  def piiScrub(df: DataFrame): DataFrame =
    df.withColumn("n_emails", regexp_count(col("text"), lit(EmailRe)))
      .withColumn("n_phones", regexp_count(col("text"), lit(PhoneRe)))
      .withColumn("scrubbed",
        regexp_replace(regexp_replace(col("text"), EmailRe, "<email>"),
          PhoneRe, "<phone>"))
      .withColumn("n_chars_scrubbed", length(col("scrubbed")).cast("long"))

  // --- corpus vocabulary -----------------------------------------------

  /** Corpus vocabulary statistics: term frequency + document frequency
    * per token, ranked by tf. One explode + one partial-agg'd groupBy:
    * the shuffle carries (token, partial tf, doc_id-distinct partials),
    * never document text.
    *
    * The global top-k is `orderBy(...).limit(k)` — Spark plans it as
    * TakeOrderedAndProject (per-partition top-k, driver merges k rows
    * per partition), so no task ever sorts the whole vocabulary and no
    * single-partition window stage exists. Ranks are then assigned to
    * the k survivors by counting strictly-better rows via a broadcast
    * self-join — k² comparisons on k=50 rows, no WindowExec at all.
    * (tf, token) is a total order (tokens are distinct after the agg),
    * so both the limit and the ranks are deterministic.
    */
  def vocab(df: DataFrame, topK: Int = 50): DataFrame = {
    val exploded = df.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val stats = exploded.groupBy("token").agg(
      count(lit(1)).as("tf"),
      countDistinct(col("doc_id")).as("df_docs"))
    // lazy checkpoint: the k-row winner set materializes once when the
    // query runs (no construction-time job) and both sides of the rank
    // self-join read it — the corpus is scanned and aggregated ONCE
    val top = stats.orderBy(col("tf").desc, col("token")).limit(topK)
      .localCheckpoint(false)
    val better = top.select(col("tf").as("__btf"), col("token").as("__btok"))
    top.join(broadcast(better),
        col("__btf") > col("tf")
          || (col("__btf") === col("tf") && col("__btok") < col("token")),
        "left")
      .groupBy("token", "tf", "df_docs")
      .agg((count(col("__btok")) + 1).cast("int").as("rank"))
      .select("rank", "token", "tf", "df_docs")
  }

  /** Okapi BM25 retrieval: top-`topK` documents for a (small,
    * broadcastable) bag of query terms, the standard lexical ranker a
    * curation pipeline uses to pull topic-relevant slices out of a
    * corpus (and the classic baseline ANN retrieval is judged
    * against). Per matched (doc, term):
    *
    *   idf(t) = ln((N - df + 0.5)/(df + 0.5) + 1)      (Lucene form)
    *   w(d,t) = idf · tf·(k1+1) / (tf + k1·(1 - b + b·len/avglen))
    *
    * k1 defaults to 1.5 (exactly representable, unlike the textbook
    * 1.2 — decimal-literal→double conversion is engine-dependent);
    * b = 0.75 exact. Each w is snapped to integer micro-units before
    * the per-doc sum ([[lmScore]]'s parity convention), so scores are
    * order-independent and oracle-exact despite the ln().
    *
    * Scale shape: the query bag is tiny, so tf per term is a SCAN-SIDE
    * array count (no posting explode, no (doc, term) shuffle — the
    * corpus never shuffles at all). Pass 1 partial-aggs corpus stats
    * (N, avg length, per-term df) to ONE broadcast row; pass 2
    * re-scans, scores each doc in a single projection, and the global
    * top-k is a TakeOrderedAndProject — never a full sort. The same
    * two-pass stats-then-scan pattern as quantization and the
    * percentile quality filter.
    */
  def bm25(df: DataFrame, terms: Seq[String], topK: Int = 10,
           k1: Double = 1.5, b: Double = 0.75): DataFrame = {
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      size(filter(col("__tk"), x => x === lit(t))).as(s"__tf$i")
    }
    val withTf = df
      .select(col("doc_id"), tokens(col("text")).as("__tk"))
      .withColumn("__len", size(col("__tk")))
      .select((col("doc_id") +: col("__len") +: tfCols): _*)
    val statAggs = count(lit(1)).as("__n") +:
      round(avg(col("__len")), 6).as("__avgl") +:
      terms.indices.map(i =>
        sum((col(s"__tf$i") > 0).cast("long")).as(s"__df$i"))
    val stats = withTf.agg(statAggs.head, statAggs.tail: _*)
    def w(i: Int): Column = {
      val tf = col(s"__tf$i")
      val dfd = col(s"__df$i")
      val idf = log((col("__n") - dfd + lit(0.5))
        / (dfd + lit(0.5)) + lit(1.0))
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("__len") / col("__avgl")))
    }
    // fixed term order makes the long adds exact AND order-stable
    val mu = terms.indices.map(i =>
      when(col(s"__tf$i") > 0, round(w(i) * lit(1e6)).cast("long"))
        .otherwise(lit(0L))).reduce(_ + _)
    val nTerms = terms.indices.map(i =>
      (col(s"__tf$i") > 0).cast("long")).reduce(_ + _)
    Par.withScalars(withTf, stats)
      .select(col("doc_id"), nTerms.as("n_terms"),
        round(mu.cast("double") / lit(1e6), 6).as("bm25"))
      .where(col("n_terms") > 0)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(topK)
  }

  // --- TF-IDF -----------------------------------------------------------

  /** Top-`perDoc` TF-IDF terms per document.
    *
    * `idf` is the RATIONAL variant N/df (not log(N/df)), an explicit
    * engine convention: integer inputs through one double multiply and
    * one divide are bit-deterministic across engines, where log()
    * parity is library-dependent. Rankings agree with log-idf whenever
    * tf ties break the same way; ties break deterministically by
    * token.
    *
    * Scale shape: tf is one (doc,token)-keyed partial agg; df is one
    * token-keyed partial agg whose output (the vocabulary) joins back
    * by token — the shuffles carry token ids and counts, never text.
    * The per-doc top-k is a window keyed by doc_id.
    */
  def tfidf(df: DataFrame, perDoc: Int = 3): DataFrame = {
    // corpus size N stays INSIDE the plan (a one-row aggregate read as
    // a scalar subquery, like the oracle's) — building the DataFrame
    // runs no job
    val n = df.agg(count(lit(1)).cast("double").as("__n"))
    val tf = df.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token"))
    Par.withScalars(tf.join(dfreq, Seq("token")), n)
      .withColumn("score",
        round(col("tf").cast("double") * col("__n") / col("df_docs"), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= perDoc)
      .select("doc_id", "rank", "token", "tf", "df_docs", "score")
  }

  // --- fingerprinting -------------------------------------------------

  /** Rolling-hash fingerprint of the whole document plus the minimum
    * shingle hash (a 1-element MinHash — stable under small edits).
    */
  def fingerprint(df: DataFrame, shingleN: Int = 3): DataFrame =
    df.withColumn("fp", polyHash(col("text")))
      .withColumn("fp_min_shingle", array_min(shingleIds(col("text"), shingleN)))

  /** Winnowing fingerprints (the MOSS local-minimum scheme): slide a
    * window of `w` consecutive shingle hashes along the document and
    * keep each window's minimum; the distinct survivors are the doc's
    * fingerprint set. Winnowing guarantees any shared run of
    * `w + shingleN - 1` tokens between two documents shares at least
    * one fingerprint — position-robust plagiarism/overlap detection
    * where whole-doc hashes miss partial copies.
    *
    * Documents with fewer than `w` shingles (but at least one) keep
    * their single global minimum, so every tokenizable doc gets >= 1
    * fingerprint. Output: idCol, fp — one row per distinct fingerprint.
    *
    * Scale shape: ZERO shuffle — the shingle hashes (native
    * expression), the per-window minima, and the in-array dedup all
    * happen inside the scan stage; only (id, fp) pairs leave the scan.
    */
  // --- n-gram LM quality scoring (CCNet-style) ------------------------

  /** Bigram-LM negative log-likelihood per document — the CCNet
    * perplexity-quality signal, with the LM trained on the corpus
    * itself: p(w2|w1) = (c(w1 w2) + 0.5) / (c(w1 ·) + 0.5·V) (add-k
    * smoothing, k = 0.5, V = corpus vocabulary size), and
    * lm_nll = -avg(ln p) over the doc's bigrams (nats; lower = more
    * predictable = "head"-quality text). Docs with < 2 tokens score
    * null with n_bigrams = 0. Output: (idCol, n_bigrams, lm_nll).
    *
    * Cross-engine parity: each ln term is snapped to integer
    * micro-nats (round(ln·1e6)) BEFORE the per-doc sum — the
    * [[graft.functions.Aggs.micros]] convention — so the accumulation
    * is exact integer arithmetic and order-independent; libm ln
    * differences (<1 ulp) only matter within 1e-9 of a snap boundary.
    * k = 0.5 keeps every count+smoothing term exact in double.
    *
    * Scale shape: training is two token-keyed partial-agg'd shuffles
    * (bigram and bigram-start counts); scoring joins the bigram stream
    * to those counts on its own token keys (no broadcast of the model
    * needed — the join IS token-partitioned), and the per-doc reduce
    * carries (id, micro-nats) longs. V is a 1-row aggregate
    * read as a scalar subquery, lazy inside the plan like [[tfidf]]'s N.
    */
  def lmScore(df: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val k = 0.5
    val toks = df.select(col(idCol), tokens(col("text")).as("__tk"))
    // r16: the bigram stream is lazily checkpointed — its three
    // consumers (c2, c1, the scoring join) shuffle on DIFFERENT keys,
    // so ReuseExchange cannot share the subplan and each re-ran
    // tokenize + zip_with + explode over the corpus (the
    // minhashEstimates rationale). Paired A/B: 1.61 vs 1.98 and 1.22
    // vs 1.82 s; rows eq-checked identical at sf0.01.
    val bg = toks.where(size(col("__tk")) >= 2)
      .select(col(idCol), explode(zip_with(
        slice(col("__tk"), lit(1), size(col("__tk")) - 1),
        slice(col("__tk"), lit(2), size(col("__tk")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("__b"))
      .select(col(idCol), col("__b.w1").as("w1"), col("__b.w2").as("w2"))
      .localCheckpoint(false)
    val c2 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("__c2"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("__c1"))
    val v = toks.select(explode(col("__tk")).as("__t"))
      .agg(countDistinct(col("__t")).as("__V"))
    val term = Par.withScalars(bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1")), v)
      .select(col(idCol),
        round(log((col("__c2") + lit(k)) / (col("__c1") + lit(k) * col("__V")))
          * lit(1e6)).cast("long").as("__tu"))
    val s = term.groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__tu")).as("__su"))
    df.select(col(idCol)).join(s, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(-(col("__su").cast("double")) / lit(1e6) / col("n_bigrams"), 6)
          .as("lm_nll"))
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; the
    * benchmark winner of Chen & Goodman 1999) — the production upgrade
    * of [[lmScore]]'s add-½ smoothing: a context's backoff weight
    * scales with how many DISTINCT continuations it has, and the
    * unigram backoff uses continuation counts (how many contexts a
    * word completes) instead of raw frequency — the classic fix that
    * stops "Francisco" (frequent, but only ever after "San") stealing
    * probability mass from genuinely versatile words.
    *
    *   P(w2|w1) = max(c(w1,w2) − D, 0) / c(w1)
    *            + D·T(w1)/c(w1) · N1+(·w2)/B
    *
    * with discount D = 0.75, T(w1) = distinct continuations of w1,
    * N1+(·w2) = distinct left contexts of w2, B = total distinct
    * bigram types. The LM trains on the scored corpus itself, so
    * every doc bigram has c ≥ 1 and P > 0. Each ln P snaps to integer
    * micro-nats before the per-doc sum (the [[lmScore]]/[[dsir]]
    * cross-engine parity convention); the P formula is ONE fixed
    * left-associative IEEE expression mirrored verbatim in the oracle.
    * Docs with < 2 tokens score null. Output: (idCol, n_bigrams,
    * kn_nll).
    *
    * Scale shape: every model table derives from the ONE bigram-type
    * aggregate (localCheckpoint'd — c1/T fold over its (w1) groups,
    * continuation counts over (w2), B is a 1-row scalar); scoring
    * joins are token-keyed and carry ids + counts, never text — the
    * [[lmScore]] posture plus one tiny extra join.
    */
  def lmScoreKN(df: DataFrame, idCol: String = "doc_id",
                discount: Double = 0.75): DataFrame = {
    val toks = df.select(col(idCol), tokens(col("text")).as("__tk"))
    val bg = toks.where(size(col("__tk")) >= 2)
      .select(col(idCol), explode(zip_with(
        slice(col("__tk"), lit(1), size(col("__tk")) - 1),
        slice(col("__tk"), lit(2), size(col("__tk")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("__b"))
      .select(col(idCol), col("__b.w1").as("w1"), col("__b.w2").as("w2"))
    // r16: bg checkpointed like lmScore's — consumed by the c2 build
    // AND the scoring join, which otherwise re-runs tokenize +
    // zip_with + explode (paired A/B under doc_lm_kn below)
    val bgM = bg.localCheckpoint(false)
    val c2 = bgM.groupBy("w1", "w2").agg(count(lit(1)).as("__c2"))
      .localCheckpoint(false)
    val left = c2.groupBy("w1")
      .agg(sum(col("__c2")).as("__c1"), count(lit(1)).as("__t1"))
    val cont = c2.groupBy("w2").agg(count(lit(1)).as("__cont"))
    val btot = c2.agg(count(lit(1)).as("__B"))
    val p = greatest(col("__c2").cast("double") - lit(discount), lit(0.0)) /
      col("__c1").cast("double") +
      lit(discount) * col("__t1").cast("double") / col("__c1").cast("double") *
        col("__cont").cast("double") / col("__B").cast("double")
    val term = Par.withScalars(bgM.join(c2, Seq("w1", "w2")).join(left, Seq("w1"))
      .join(cont, Seq("w2")), btot)
      .select(col(idCol), round(log(p) * lit(1e6)).cast("long").as("__tu"))
    val s = term.groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__tu")).as("__su"))
    df.select(col(idCol)).join(s, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(-(col("__su").cast("double")) / lit(1e6) / col("n_bigrams"), 6)
          .as("kn_nll"))
  }

  /** First-occurrence n-gram novelty: the fraction of a doc's DISTINCT
    * word n-gram hashes whose corpus-wide FIRST occurrence (minimal
    * doc id) is this doc — each doc's MARGINAL contribution under a
    * dedup-aware ingest order. The corpus-level complement of
    * [[TextOps.distinctNgrams]]'s slice diversity: novelty ~0 flags a
    * doc as pure recombination of earlier material even when no single
    * pair passes a near-dup threshold, and the score is what greedy
    * data-selection loops (select the doc adding the most unseen
    * n-grams) rank by. Output: (idCol, n_ngrams, n_novel, novelty;
    * docs with < n tokens score 0/0/null).
    *
    * Scale shape: per-doc distinct shingle hashes come off the scan
    * (native ShingleHashes + in-array distinct); the first-occurrence
    * agg and the join back both move (hash, id) pairs only — text
    * never shuffles, and nothing is pairwise (the doc_dup_spans
    * mark-don't-enumerate posture at n-gram granularity).
    */
  def novelty(df: DataFrame, n: Int = 3,
              idCol: String = "doc_id"): DataFrame = {
    // shingleIds is per-doc distinct already -> (id, h) pairs unique
    val sh = df.select(col(idCol),
      explode(shingleIds(col("text"), n)).as("__h"))
    val first = sh.groupBy("__h").agg(min(col(idCol)).as("__first"))
    val per = sh.join(first, Seq("__h"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("__first") === col(idCol), 1L).otherwise(0L))
          .as("n_novel"))
    df.select(col(idCol)).join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(col("n_ngrams").isNull, lit(null)).otherwise(
          round(col("n_novel").cast("double") /
            col("n_ngrams").cast("double"), 6)).as("novelty"))
  }

  /** Per-document token-distribution Shannon entropy (nats) — the
    * lexical-diversity quality signal (low entropy = repetitive /
    * boilerplate text): H = -Σ_w (c_w/n)·ln(c_w/n) over the doc's own
    * token counts. Docs with no tokens score null. Output:
    * (idCol, n_tokens, entropy).
    *
    * Scale shape: ZERO shuffle — the doc's token array is sorted
    * in-row, run lengths (= per-type counts) come from one
    * higher-order filter/zip over the sorted array, and the entropy
    * fold snaps each term to integer micro-nats ([[lmScore]]'s parity
    * convention) before an in-array exact sum. A per-doc statistic
    * never needs to leave the scan stage, so it doesn't.
    */
  def entropy(df: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val s = sort_array(tokens(col("text")))
    val n = size(col("__s"))
    // n = 0 guard: sequence(1, 0) would DESCEND ([1, 0]) and index 0
    // into the array — the RangeJoin.scala inverted-sequence hazard
    val starts = when(n === 0, array().cast("array<int>"))
      .otherwise(filter(sequence(lit(1), n),
        i => i === 1 || element_at(col("__s"), i) =!= element_at(col("__s"), i - 1)))
    val lens = zip_with(col("__st"),
      concat(slice(col("__st"), lit(2), size(col("__st"))), array(n + 1)),
      (a, b) => b - a)
    val nd = n.cast("double")
    val su = aggregate(lens, lit(0L), (acc, l) =>
      acc + round(l.cast("double") / nd * log(l.cast("double") / nd)
        * lit(1e6)).cast("long"))
    df.select(col(idCol), s.as("__s"))
      .select(col(idCol), col("__s"), starts.as("__st"))
      .select(col(idCol), n.cast("long").as("n_tokens"),
        when(n === 0, lit(null))
          // + 0.0: a constant doc's su = 0 would negate to -0.0
          .otherwise(round(-(su.cast("double")) / lit(1e6), 6) + lit(0.0))
          .as("entropy"))
  }

  /** CCNet head/middle/tail perplexity bucketing: tertile thresholds
    * of the corpus [[lmScore]] distribution (6dp, linear
    * interpolation), each doc labeled by which third its lm_nll falls
    * in (head = most predictable). Unscorable docs (< 2 tokens) get a
    * null bucket. Output: (idCol, lm_nll, ppl_bucket).
    *
    * The scored frame is lazily localCheckpoint'd once — the
    * threshold aggregate and the labeling scan both read it without
    * re-running the LM chain.
    */
  def ccnetBucket(df: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val scored = lmScore(df, idCol).localCheckpoint(false)
    val th = scored.where(col("lm_nll").isNotNull)
      .agg(graft.functions.Aggs.percentileLin6(col("lm_nll"), 1.0 / 3).as("__t1"),
        graft.functions.Aggs.percentileLin6(col("lm_nll"), 2.0 / 3).as("__t2"))
    Par.withScalars(scored, th)
      .select(col(idCol), col("lm_nll"),
        when(col("lm_nll").isNull, lit(null).cast("string"))
          .when(col("lm_nll") <= col("__t1"), lit("head"))
          .when(col("lm_nll") <= col("__t2"), lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"))
  }

  // ------------------------------------------------- hashed classifier

  /** Feature-hash bucket count for [[classify]] — 2^16 buckets, the
    * usual hashing-trick width for a fastText-style linear filter.
    */
  val ClassifyBuckets = 65536L
  /** Knuth multiplicative constant; also SimHash24's mixer. */
  private val MixA = 2654435761L
  private val Pow31 = 2147483648L // 2^31

  /** Deterministic per-bucket weight in integer MICRO-units, range
    * [-1e6, 1e6] ≈ [-1.0, 1.0]: mix the bucket id and fold into the
    * range. Stands in for a trained model's weight vector — swap in a
    * real table via [[classifyWithWeights]]; the bucketing and scoring
    * arithmetic are identical either way. All products stay < 2^48,
    * exact in any 64-bit integer engine.
    */
  def hashWeightU(bucket: Column): Column =
    pmod(bucket * lit(MixA), lit(Pow31)) % lit(2000001L) - lit(1000000L)

  /** Hashed feature-bucket array of a document: unigram polyHashes and
    * bigram shingle hashes, each folded mod [[ClassifyBuckets]]. The
    * native shingle expression hashes n-grams without materializing the
    * joined strings, so the whole featurizer is scan-side arithmetic.
    */
  def featureBuckets(toks: Column, buckets: Long = ClassifyBuckets): Column =
    concat(
      transform(toks, t => pmod(polyHash(t), lit(buckets))),
      transform(org.apache.spark.sql.graft.GraftExpressions
        .shingle_hashes(toks, 2), h => pmod(h, lit(buckets))))

  /** Model-based quality scoring with the hashing trick — the linear
    * classifier filter stage of modern pretraining pipelines (a
    * fastText-style unigram+bigram model scored at scan throughput):
    * margin = Σ_f w[bucket(f)] / n_feats, label = keep iff the raw
    * integer sum is positive. Weights come from [[hashWeightU]]
    * (micro-units, summed exactly before one final rounded division —
    * [[lmScore]]'s parity convention). Output:
    * (idCol, n_feats, margin, label); docs with no tokens score null.
    *
    * Scale shape: ZERO shuffle — featurize, weight, and reduce are one
    * higher-order fold fused into the scan stage. A 100 TB corpus is
    * scored embarrassingly parallel with no data movement at all.
    */
  def classify(df: DataFrame, idCol: String = "doc_id"): DataFrame =
    df.select(col(idCol), featureBuckets(tokens(col("text"))).as("__fb"))
      .select(col(idCol), size(col("__fb")).cast("long").as("n_feats"),
        aggregate(col("__fb"), lit(0L), (acc, b) => acc + hashWeightU(b))
          .as("__su"))
      .select(col(idCol), col("n_feats"),
        when(col("n_feats") > 0,
          round(col("__su").cast("double") / lit(1e6) / col("n_feats"), 6)
            + lit(0.0)).as("margin"),
        when(col("n_feats") === 0, lit(null).cast("string"))
          .when(col("__su") > 0, lit("keep"))
          .when(col("__su") <= 0, lit("drop"))
          .as("label"))

  /** [[classify]] against an explicit trained weight table
    * (bucket LONG, w_micro LONG) — the path a real shipped model takes.
    * The table is at most [[ClassifyBuckets]] rows (a few hundred KB),
    * so it broadcasts to every executor and the join adds no exchange
    * on the corpus side; the per-doc reduce is one partial-agg'd
    * doc-keyed shuffle carrying (id, long) pairs. Buckets absent from
    * the table weigh 0, so a sparse model behaves like the dense one.
    */
  def classifyWithWeights(df: DataFrame, weights: DataFrame,
                          idCol: String = "doc_id"): DataFrame = {
    // r15 shape: the (possibly sparse) weight table scatters into ONE
    // dense broadcast array (missing buckets weigh 0 — the old join
    // semantics, preserved by the map lookup + coalesce), and the
    // per-doc margin is a codegen'd scan-side index-sum fold. The old
    // shape exploded every feature occurrence against a broadcast
    // join and paid a doc-keyed groupBy shuffle carrying them all;
    // this one has ZERO corpus-side exchange — scoring fuses into the
    // scan stage like [[classify]]. Values bit-identical: exact long
    // adds, same rounding chain. (One row per input row — idCol is
    // unique in every caller, as the old groupBy shape assumed too.)
    // densify via a range left-join (NOT a map_from_entries + indexed
    // transform: CollapseProject inlines the map build into the
    // transform lambda and rebuilds the 65536-entry map PER ELEMENT —
    // observed as a 65536² hang), then the proven sort-collect array
    // build from stepOnFeatures
    val dense = df.sparkSession.range(ClassifyBuckets)
      .select(col("id").as("bucket"))
      .join(weights, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("w_micro"), lit(0L)).as("w_micro"))
    val warr = dense.groupBy()
      .agg(transform(
        array_sort(collect_list(struct(col("bucket"), col("w_micro")))),
        s => s.getField("w_micro")).as("__w"))
      // same dense-coverage guard as stepOnFeatures (ADVICE r15): a
      // weight table with DUPLICATE bucket rows would survive the
      // range left-join with >ClassifyBuckets entries and silently
      // misalign every weight after the duplicate — fail loudly
      .select(when(size(col("__w")) === lit(ClassifyBuckets.toInt),
        col("__w")).otherwise(raise_error(concat(
          lit(s"classifyWithWeights: weight table must have at most one row per bucket 0..${ClassifyBuckets - 1}, densified to "),
          size(col("__w")).cast("string"), lit(" rows")))).as("__w"))
    Par.withScalars(
        df.select(col(idCol), featureBuckets(tokens(col("text"))).as("__fb")), warr)
      // null text => null feature array => size() would yield -1
      // (legacy sizeOfNull), not the 0 the old count(explode_outer)
      // shape returned (ADVICE r15) — pin the 0 semantics
      .select(col(idCol),
        when(col("__fb").isNull, lit(0L))
          .otherwise(size(col("__fb")).cast("long")).as("n_feats"),
        org.apache.spark.sql.graft.GraftExpressions
          .index_sum_long(col("__fb"), col("__w")).as("__su"))
      .select(col(idCol), col("n_feats"),
        when(col("n_feats") > 0,
          round(col("__su").cast("double") / lit(1e6) / col("n_feats"), 6)
            + lit(0.0)).as("margin"),
        when(col("n_feats") === 0, lit(null).cast("string"))
          .when(col("__su") > 0, lit("keep"))
          .when(col("__su") <= 0, lit("drop"))
          .as("label"))
  }

  /** The all-buckets zero weight table — the canonical train-from-
    * scratch init for [[trainStep]].
    */
  def zeroWeights(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.range(ClassifyBuckets)
      .select(col("id").as("bucket"), lit(0L).as("w_micro"))

  /** One distributed logistic-regression gradient step over the hashed
    * features — how a real weight table for [[classifyWithWeights]] is
    * learned in-engine (the kmeans pattern: the model is a small
    * broadcast frame, each round is a bounded number of batch-keyed
    * shuffles over the training docs, never a driver-side loop over
    * rows). `docs` needs `text` and a 0/1 `labelCol`.
    *
    * Exact-arithmetic parity convention: the margin snaps to 6dp
    * BEFORE the sigmoid (so the transcendental is evaluated on an
    * identical quantized double on every engine), the per-doc error
    * snaps to integer micro-units (errU = round((sigmoid(margin6) −
    * y)·1e6)), each feature occurrence contributes round(errU /
    * n_feats), and the bucket update is w − round(lr · gradSum /
    * nDocs) — so a step is reproducible bit-for-bit by any 64-bit SQL
    * engine up to the sigmoid itself, whose residual cross-libm risk
    * is one ulp landing within 1e-10 of a .5 µ-rounding boundary
    * (declared float posture; the oracle replays the same chain).
    * From the [[zeroWeights]] init the first step needs no
    * transcendentals at all (sigmoid(0) = 1/2 exactly), which is what
    * the oracle-verified one-step query exploits.
    *
    * Scale shape: the 65536-long weight table rides as ONE
    * scalar array, the per-doc margin/error is a scan-side fold over the
    * feature array, and the only shuffle per step is the map-side-
    * combined groupBy(bucket) of the gradient (≤65536 reduce rows) —
    * no per-feature groupBy(id) exchange, no error join-back.
    * [[train]] materializes the tokenized feature frame once and
    * shares it across epochs; a standalone trainStep re-hashes from
    * text (scan arithmetic). nDocs is a lazy 1-row aggregate.
    */
  def trainStep(docs: DataFrame, labelCol: String, weights: DataFrame,
                lr: Double = 0.5, idCol: String = "doc_id"): DataFrame =
    stepOnFeatures(trainFeatures(docs, labelCol, idCol)
      .localCheckpoint(false), weights, lr, idCol)

  /** The per-doc hashed feature frame one gradient step consumes:
    * (idCol, __y, __fb) for docs with ≥1 feature. Split out so
    * [[train]] can materialize it ONCE and share it across epochs —
    * tokenization + feature hashing is the dominant linear term, and
    * re-deriving it per step tripled the corpus scans of a 3-epoch
    * run (r14; values unchanged, the frame is deterministic).
    */
  private def trainFeatures(docs: DataFrame, labelCol: String,
                            idCol: String): DataFrame =
    docs.select(col(idCol), col(labelCol).cast("double").as("__y"),
        featureBuckets(tokens(col("text"))).as("__fb"))
      .where(size(col("__fb")) > 0)

  private def stepOnFeatures(fb: DataFrame, weights: DataFrame,
                             lr: Double, idCol: String): DataFrame = {
    // the weight table rides as ONE scalar array (index = bucket+1
    // — zeroWeights/updates always cover the full bucket range), so
    // the per-doc margin is a scan-side fold and the per-doc error is
    // computed where the features already sit. The old shape exploded
    // features against a broadcast weight JOIN, paid a groupBy(id)
    // shuffle carrying every feature occurrence, and joined the error
    // BACK onto the exploded frame — three data-volume moves per
    // epoch; now the only shuffle is the map-side-combined
    // groupBy(bucket) of the gradient itself (≤65536 reduce rows).
    // Values unchanged: long sums are order-independent.
    val warr = weights.groupBy()
      .agg(transform(
        array_sort(collect_list(struct(col("bucket"), col("w_micro")))),
        s => s.getField("w_micro")).as("__w"))
      // positional indexing below (element_at(__w, bucket+1)) assumes a
      // DENSE 0..ClassifyBuckets-1 weight table (zeroWeights/step
      // outputs always are). A caller-supplied sparse or
      // non-contiguous table would silently misalign every weight —
      // fail loudly instead (ADVICE r14). One size() compare per
      // broadcast build; the raise_error branch never executes in-repo.
      .select(when(size(col("__w")) === lit(ClassifyBuckets.toInt),
        col("__w")).otherwise(raise_error(concat(
          lit(s"trainStep: weight table must cover buckets 0..${ClassifyBuckets - 1} densely, got "),
          size(col("__w")).cast("string"), lit(" rows")))).as("__w"))
    val perDoc = Par.withScalars(fb, warr)
      .select(col(idCol), col("__fb"), col("__y"),
        size(col("__fb")).as("__n"),
        // native codegen'd index-sum (r15): the HOF fold evaluated an
        // interpreted lambda per feature — 54 task-seconds on the
        // 3-epoch training query; values bit-identical (exact long
        // adds in the same array order)
        org.apache.spark.sql.graft.GraftExpressions
          .index_sum_long(col("__fb"), col("__w")).as("__su"))
      .select(col(idCol), col("__fb"), col("__n"),
        round((lit(1.0) / (lit(1.0) +
          exp(-round(col("__su").cast("double") / lit(1e6) / col("__n"), 6)))
          - col("__y")) * lit(1e6)).cast("long").as("__errU"))
    val grads = perDoc
      .select(explode(col("__fb")).as("bucket"),
        round(col("__errU").cast("double") / col("__n")).cast("long")
          .as("__tU"))
      .groupBy("bucket").agg(sum(col("__tU")).as("__gU"))
    val nd = fb.agg(count(lit(1)).as("__nd"))
    Par.withScalars(weights.join(grads, Seq("bucket"), "left"), nd)
      .select(col("bucket"),
        // __nd > 0 guard: an empty training frame would make the
        // update 0/0, which ANSI mode rejects even for doubles — the
        // degenerate step is a no-op on the weights instead
        (col("w_micro") - when(col("__nd") > 0, round(lit(lr)
          * coalesce(col("__gU"), lit(0L)).cast("double") / col("__nd"))
          .cast("long")).otherwise(lit(0L))).as("w_micro"))
  }

  /** `iters` gradient steps from the zero init; the returned table
    * plugs straight into [[classifyWithWeights]]. Each round's model
    * (65k longs) is lazily checkpointed so round r+1 reads a
    * materialized table instead of re-deriving rounds 1..r.
    */
  def train(docs: DataFrame, labelCol: String, iters: Int = 3,
            lr: Double = 0.5, idCol: String = "doc_id"): DataFrame = {
    // ONE feature materialization shared by every epoch (each step
    // still reads it twice: doc agg + grad join)
    val fb = trainFeatures(docs, labelCol, idCol).localCheckpoint(false)
    var w = zeroWeights(docs.sparkSession)
    for (_ <- 0 until iters)
      w = stepOnFeatures(fb, w, lr, idCol).localCheckpoint(false)
    w
  }

  /** DSIR-style data selection score (arXiv:2302.03169): per-doc
    * average log importance weight log(p_target(f)/p_raw(f)) under
    * hashed unigram+bigram bag-of-ngram models with add-1/2 smoothing.
    * `targetPred` marks the in-domain rows (the tiny high-quality set
    * you want the corpus resampled toward); raw = the whole corpus.
    * Positive scores mean "looks like the target domain". Output:
    * (idCol, n_feats, dsir_logw); docs with no tokens score null.
    *
    * Cross-engine parity: each per-bucket log term snaps to integer
    * micro-nats ([[lmScore]]'s convention) BEFORE any summation, the
    * per-doc accumulation is exact 64-bit integer arithmetic
    * (su − n·constU), and one rounded division ends the chain.
    *
    * Scale shape: two corpus scans (the quantizeInt8 stats-then-score
    * pattern). Scan 1 partial-aggs hashed features to a ≤ 2^16-row
    * (bucket, craw, ctgt) model — map-side combine makes the shuffle
    * carry bucket counts, never text; the model lazily checkpoints
    * once so the weight table and its 1-row normalizer don't re-run
    * the stats scan. The model broadcasts; scan 2 re-hashes
    * (explode_outer, so featureless docs survive without a join-back)
    * and reduces per doc — one (id, long)-carrying shuffle.
    */
  def dsir(df: DataFrame, targetPred: Column,
           idCol: String = "doc_id"): DataFrame = {
    def lnU(x: Column): Column = round(log(x) * lit(1e6)).cast("long")
    val fx = df.select(col(idCol),
      when(targetPred, 1L).otherwise(0L).as("__y"),
      explode_outer(featureBuckets(tokens(col("text")))).as("__b"))
    val bc = fx.where(col("__b").isNotNull).groupBy("__b")
      .agg(count(lit(1)).as("__craw"), sum(col("__y")).as("__ctgt"))
      .localCheckpoint(false)
    val bw = bc.select(col("__b"),
      (lnU(col("__ctgt") + lit(0.5)) - lnU(col("__craw") + lit(0.5)))
        .as("__wu"))
    val tot = bc.agg(
      (lnU(sum(col("__ctgt")) + lit(0.5 * ClassifyBuckets))
        - lnU(sum(col("__craw")) + lit(0.5 * ClassifyBuckets))).as("__cu"))
    Par.withScalars(fx.join(broadcast(bw), Seq("__b"), "left")
      .groupBy(idCol)
      .agg(count(col("__b")).as("__n"), sum(col("__wu")).as("__su")), tot)
      .select(col(idCol),
        col("__n").as("n_feats"),
        when(col("__n") === 0, lit(null).cast("double"))
          .otherwise(round((col("__su") - col("__n") * col("__cu"))
            .cast("double") / lit(1e6) / col("__n"), 6) + lit(0.0))
          .as("dsir_logw"))
  }

  /** The BPE-trainer's merge-statistics scan: corpus-wide counts of
    * adjacent character pairs inside words, weighted by word frequency
    * — the quantity whose argmax IS the next BPE merge, computed once
    * per merge round when training a tokenizer on the corpus. Output:
    * the top-k (pair, merge_count) rows, count desc / pair asc.
    *
    * Scale shape: the corpus reduces FIRST to its word-frequency table
    * (the vocab agg — one partial-agg'd shuffle carrying words, not
    * text), pair explosion runs over that much smaller table, the pair
    * agg is a second count-carrying partial agg, and the top-k is
    * TakeOrderedAndProject (per-partition heaps, no global sort). A
    * real multi-round trainer re-runs this over the word table alone,
    * never re-touching the corpus.
    */
  def bpePairs(df: DataFrame, topK: Int = 50): DataFrame = {
    val wc = df.select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wn"))
    val pairs = wc.where(length(col("w")) >= 2)
      .select(col("wn"),
        explode(transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
    pairs.groupBy("pair").agg(sum(col("wn")).as("merge_count"))
      .orderBy(col("merge_count").desc, col("pair"))
      .limit(topK)
  }

  /** Multi-round BPE training — the loop [[bpePairs]] is one
    * statistics pass of: `steps` times, (1) count adjacent symbol
    * pairs over the word-frequency table, (2) pick the argmax pair
    * (count desc, then lexicographic (a, b) — fully deterministic),
    * (3) merge every LEFTMOST-non-overlapping occurrence in every
    * word. Output: one row per learned merge (step, sym_a, sym_b,
    * merge_count) — the ordered merge list a tokenizer ships.
    *
    * Merge application is a left fold over each word's symbol
    * sequence with a string accumulator (" s1 s2 … "): current symbol
    * == b and accumulator ends with " a " → replace that tail with
    * "ab" — exactly leftmost-non-overlapping ("aaa" + (a,a) → (aa, a)),
    * and the identical fold runs as DuckDB's list_reduce, so the whole
    * iteration (argmax included) is oracle-checkable.
    *
    * Scale shape: the corpus reduces ONCE to the vocab table
    * (localCheckpoint'd — rounds never re-touch text); each round is
    * one vocab-sized partial-agg'd pair count, a 1-row argmax
    * (TakeOrderedAndProject, collected — a 1-row training statistic,
    * the doc_contamination_bloom driver-side precedent), and a
    * scan-side fold. Per-round cost is the vocab, not the corpus.
    */
  def bpeTrain(df: DataFrame, steps: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    bpeTrainFull(df, steps)._1
      .toDF("step", "sym_a", "sym_b", "merge_count")
  }

  /** [[bpeTrain]]'s engine, also exposing the trained word table
    * (w, wn, seq = the word's post-merge symbol sequence) so the
    * learned tokenizer can be APPLIED (see [[bpeApply]]).
    */
  def bpeTrainFull(df: DataFrame, steps: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    val chars = transform(sequence(lit(1), length(col("w"))),
      i => col("w").substr(i, lit(1)))
    var syms = df.select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wn"))
      .select(col("w"), col("wn"), array_join(chars, " ").as("seq"))
      .localCheckpoint(false) // lazy: materializes inside step 1's argmax collect
    val learned = scala.collection.mutable.Buffer[(Int, String, String, Long)]()
    for (step <- 1 to steps) {
      val sy = split(col("seq"), " ")
      val prs = when(size(sy) >= 2,
        transform(sequence(lit(0), size(sy) - 2),
          i => struct(element_at(sy, (i + 1).cast("int")).as("a"),
            element_at(sy, (i + 2).cast("int")).as("b"))))
        .otherwise(array().cast("array<struct<a:string,b:string>>"))
      val top = syms.select(col("wn"), explode(prs).as("pr"))
        .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
        .agg(sum(col("wn")).as("c"))
        .orderBy(col("c").desc, col("a"), col("b")).limit(1)
        .collect()
      if (top.nonEmpty) {
        val (a, b, c) = (top.head.getString(0), top.head.getString(1),
          top.head.getLong(2))
        learned += ((step, a, b, c))
        val aCp = a.codePointCount(0, a.length) // length() counts code points
        val merged = aggregate(split(col("seq"), " "), lit(" "),
          (acc, x) => when(x === lit(b) &&
              acc.endsWith(lit(" " + a + " ")),
            concat(acc.substr(lit(1),
              length(acc) - lit(aCp + 1)), lit(a + b + " ")))
            .otherwise(concat(acc, x, lit(" "))))
        syms = syms.select(col("w"), col("wn"), trim(merged).as("seq"))
          .localCheckpoint(false) // lazy: next argmax / the caller materializes
      }
    }
    (learned.toSeq, syms)
  }

  /** Apply the learned BPE merges back to the corpus: per doc, the
    * token count AFTER the merges and the chars-per-token compression
    * the tokenizer buys — the curve a tokenizer-training run reports.
    * The corpus words equi-join the trained word table (vocab-sized,
    * usually broadcastable), so the text is never re-segmented.
    *
    * Output: idCol, n_words, n_chars (summed word chars), n_tokens,
    * chars_per_token (round 6).
    */
  def bpeApply(df: DataFrame, steps: Int = 3,
               idCol: String = "doc_id"): DataFrame = {
    val vocab = bpeTrainFull(df, steps)._2
      .select(col("w"), length(col("w")).cast("long").as("__wc"),
        size(split(col("seq"), " ")).cast("long").as("__ns"))
    df.select(col(idCol), explode(tokens(col("text"))).as("w"))
      .join(vocab, Seq("w"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"), sum(col("__wc")).as("n_chars"),
        sum(col("__ns")).as("n_tokens"),
        round(sum(col("__wc")).cast("double") /
          sum(col("__ns")).cast("double"), 6).as("chars_per_token"))
  }

  def winnow(df: DataFrame, shingleN: Int = 3, w: Int = 4,
             idCol: String = "doc_id"): DataFrame = {
    // ordered, non-distinct shingle sequence (positions matter here)
    val seq0 = org.apache.spark.sql.graft.GraftExpressions
      .shingle_hashes(tokens(col("text")), shingleN)
    val fps = when(size(col("__sh")) >= w,
        array_distinct(transform(
          sequence(lit(w), size(col("__sh"))),
          i => array_min(slice(col("__sh"), i - lit(w - 1), lit(w))))))
      .otherwise(array(array_min(col("__sh"))))
    df.select(col(idCol), seq0.as("__sh"))
      .where(size(col("__sh")) > 0)
      .select(col(idCol), explode(fps).as("fp"))
  }

  /** Gopher-style top-n-gram repetition signal (Rae et al. 2021 §A1.1:
    * "fraction of characters in the most common n-gram"): per doc, the
    * most frequent word `n`-gram, its count, and the fraction of the
    * doc's characters it accounts for (count × gram length / text
    * length). Complements [[repetitionRatio]] (which measures DISTINCT
    * n-gram loss, not the single dominant phrase).
    *
    * The per-doc mode is computed WITHOUT exploding, and over shingle
    * HASHES, not gram strings — the same unit the MinHash/Jaccard
    * family counts (materializing + sorting the joined gram strings
    * measured 6x slower than the long-array sort). Sort the native
    * [[shingleIds]]-style hash sequence, find run starts/lengths,
    * take the max count; among count ties the run with the LARGEST
    * hash wins (engine-neutral — mirrored by the oracle's ORDER BY
    * cnt DESC, hash DESC). The winning gram's STRING is recovered
    * once per doc from the hash's first position in the unsorted
    * sequence. A pure scan-side projection: per-doc state never
    * leaves the row, ZERO shuffle at any corpus size.
    *
    * Docs with fewer than `n` tokens emit null gram/count/fraction.
    * Output: idCol, top_gram, top_cnt, top_frac (round-6).
    */
  def topNgram(df: DataFrame, n: Int = 2, idCol: String = "doc_id"): DataFrame = {
    // ordered, non-distinct hash sequence (positions matter for the
    // gram-string recovery)
    val hseq = org.apache.spark.sql.graft.GraftExpressions
      .shingle_hashes(tokens(col("text")), n)
    val s = sort_array(col("__h"))
    val sz = size(col("__s"))
    // sz = 0 guard: sequence(1, 0) would DESCEND — same hazard as entropy
    val starts = when(sz === 0, array().cast("array<int>"))
      .otherwise(filter(sequence(lit(1), sz),
        i => i === 1 || element_at(col("__s"), i) =!= element_at(col("__s"), i - 1)))
    val lens = zip_with(col("__st"),
      concat(slice(col("__st"), lit(2), size(col("__st"))), array(sz + 1)),
      (a, b) => b - a)
    val maxCnt = array_max(col("__ln"))
    // largest hash among the max-count runs
    val winHash = array_max(zip_with(col("__st"), col("__ln"),
      (st, l) => when(l === col("__mc"), element_at(col("__s"), st))))
    val winGram = array_join(
      slice(col("__tk"), array_position(col("__h"), col("__wh")).cast("int"),
        lit(n)), " ")
    df.select(col(idCol), length(col("text")).as("__nc"),
        tokens(col("text")).as("__tk"), hseq.as("__h"))
      .withColumn("__s", s)
      .withColumn("__st", starts)
      .withColumn("__ln", lens)
      .withColumn("__mc", maxCnt)
      .withColumn("__wh", winHash)
      .withColumn("__g", when(col("__wh").isNull, lit(null)).otherwise(winGram))
      .select(col(idCol),
        col("__g").as("top_gram"),
        col("__mc").cast("long").as("top_cnt"),
        round(col("__mc").cast("double") * length(col("__g"))
          / col("__nc").cast("double"), 6).as("top_frac"))
  }

  // --- corpus-level diversity / collocation statistics -----------------

  /** Distinct-n n-gram diversity per group — the corpus DIVERSITY
    * counterpart of the per-doc repetition score ([[repetition]]
    * measures one doc against itself; this measures a whole slice):
    * low distinct-2/distinct-3 ratios flag template-generated or
    * boilerplate-heavy sources that per-doc filters miss because every
    * individual doc looks fine. The standard distinct-n statistic from
    * the text-generation-diversity literature, computed per source.
    *
    * Scale shape: ONE corpus scan — all requested n fan out scan-side
    * from the same token array (the native shingle hasher emits hash
    * ids, so the shuffle carries (group, n, hash), never n-gram
    * strings), then one partial-agg'd count + one distinct-agg per
    * (group, n). The distinct count is exact here because the gate
    * audits exact values; the 100 TB variant swaps countDistinct for
    * approx_count_distinct (HLL++, one pass, no expand) — same plan
    * otherwise.
    *
    * Output: grp, n, total_ngrams, distinct_ngrams, distinct_ratio.
    */
  def distinctNgrams(df: DataFrame, grp: Column,
                     ns: Seq[Int] = Seq(1, 2, 3)): DataFrame = {
    val toks = tokens(col("text"))
    // one struct array per n, concatenated scan-side: docs shorter than
    // n tokens contribute an empty array (native hasher contract)
    val legs = ns.map { n =>
      transform(
        org.apache.spark.sql.graft.GraftExpressions.shingle_hashes(toks, n),
        h => struct(lit(n).as("n"), h.as("h")))
    }
    df.select(grp.as("grp"), explode(concat(legs: _*)).as("nh"))
      .select(col("grp"), col("nh.n").as("n"), col("nh.h").as("h"))
      .groupBy("grp", "n")
      .agg(count(lit(1)).as("total_ngrams"),
        countDistinct(col("h")).as("distinct_ngrams"))
      .select(col("grp"), col("n"), col("total_ngrams"), col("distinct_ngrams"),
        round(col("distinct_ngrams").cast("double")
          / col("total_ngrams").cast("double"), 6).as("distinct_ratio"))
  }

  /** ln quantized to a 6dp-scaled integer — the cross-engine
    * transcendental convention (established by dsir/bm25): both engines
    * compute one double ln, round at 1e-6, and every DOWNSTREAM
    * combination is exact integer arithmetic, so sum order can't move
    * the result.
    */
  private def ln6(c: Column): Column =
    round(log(c.cast("double")) * lit(1e6)).cast("long")

  /** Zipf rank-frequency fit over the top-`topK` vocabulary: OLS slope
    * of ln(tf) against ln(rank) — the corpus-health scalar (natural
    * text sits near −1; machine-generated/boilerplate corpora flatten,
    * OCR noise steepens the tail). One row: n, zipf_slope, intercept,
    * r2.
    *
    * Scale shape: token-keyed partial agg → TakeOrderedAndProject to
    * the k-row head → rank via the broadcast self-join on the k rows
    * (the [[vocab]] pattern — no global window) → ln-quantized integer
    * moment sums (exact at any partitioning) → one double division at
    * the end. The corpus is scanned once; everything after the top-k is
    * k-row-sized.
    */
  def zipf(df: DataFrame, topK: Int = 1000): DataFrame = {
    val tf = df.select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("tf"))
    val top = tf.orderBy(col("tf").desc, col("token")).limit(topK)
      .localCheckpoint(false)
    val better = top.select(col("tf").as("__btf"), col("token").as("__btok"))
    val ranked = top.join(broadcast(better),
        col("__btf") > col("tf")
          || (col("__btf") === col("tf") && col("__btok") < col("token")),
        "left")
      .groupBy("token", "tf")
      .agg((count(col("__btok")) + 1).as("rank"))
    // x6/y6 <= ln(1e13)*1e6 ~ 3e7, so the x*y moment sums stay well
    // inside 64 bits for any feasible topK
    val m = ranked
      .select(ln6(col("rank")).as("x6"), ln6(col("tf")).as("y6"))
      .agg(count(lit(1)).as("n"),
        sum(col("x6")).as("sx"), sum(col("y6")).as("sy"),
        sum(col("x6") * col("y6")).as("sxy"),
        sum(col("x6") * col("x6")).as("sxx"),
        sum(col("y6") * col("y6")).as("syy"))
    val nD = col("n").cast("double")
    val cov = nD * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val vx = nD * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val vy = nD * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    val slope = cov / vx
    m.select(col("n"),
      round(slope, 6).as("zipf_slope"),
      round((col("sy").cast("double") - slope * col("sx").cast("double"))
        / nD / lit(1e6), 6).as("intercept"),
      round(cov * cov / (vx * vy), 6).as("r2"))
  }

  /** PMI collocation mining: the top-`topK` adjacent token pairs by
    * pointwise mutual information among pairs seen >= `minCount` times —
    * the classic multiword-expression extractor (tokenizer-vocab and
    * data-inspection tooling both want it). PMI = ln(p(ab) / (p(a)p(b)))
    * with p(ab) over the bigram population and p(a) over tokens,
    * assembled from ln-quantized integers so the oracle replays it
    * exactly: pmi6 = ln6(c_ab) + 2·ln6(N_tok) − ln6(N_big) − ln6(c_a)
    * − ln6(c_b) (NOT one ln of a big ratio — c_ab·N_tok² overflows
    * 64-bit integer arithmetic at petabyte scale; the quantized-term
    * sum never does).
    *
    * Scale shape: pair counts are one (a,b)-keyed partial agg (shuffle
    * carries token pairs, count-combined map-side); the min-count
    * filter prunes BEFORE the marginal joins; marginals are the
    * vocab-sized unigram agg, checkpointed so its scan runs once and
    * joined twice (AQE broadcasts when the vocab allows, shuffles
    * otherwise); corpus totals are one scan-side agg read as a scalar.
    * Final top-k is a TakeOrderedAndProject on the filtered pair set.
    */
  def pmiCollocations(df: DataFrame, minCount: Int = 5,
                      topK: Int = 50): DataFrame = {
    // tokenize ONCE into a materialized column: the earlier
    // element_at-inside-transform formulation re-evaluated the
    // tokenizer split per PAIR (no CSE inside HOF lambdas) — an
    // O(tokens²)-per-doc re-tokenization that made this the most
    // expensive non-eval query in the suite (4.6 s → ~1 s at sf0.1)
    val tk = df.select(tokens(col("text")).as("__tk"))
    val pairT = "array<struct<a:string,b:string>>"
    val pairs = tk.select(explode(
        when(size(col("__tk")) >= 2,
          zip_with(slice(col("__tk"), lit(1), size(col("__tk")) - 1),
            slice(col("__tk"), lit(2), size(col("__tk")) - 1),
            (a, b) => struct(a.as("a"), b.as("b"))))
          .otherwise(array().cast(pairT))).as("p"))
      .select(col("p.a").as("tok_a"), col("p.b").as("tok_b"))
    val cand = pairs.groupBy("tok_a", "tok_b")
      .agg(count(lit(1)).as("n_pair"))
      .where(col("n_pair") >= minCount)
    // the unigram table feeds BOTH marginal joins — checkpoint so the
    // corpus token agg runs once (the minhash-estimate convention)
    val uni = tk.select(explode(col("__tk")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    // population totals from one scan-side agg (never from the
    // materialized pair table — at scale that table is pruned early)
    val tot = tk.agg(
      sum(size(col("__tk"))).cast("long").as("n_tok"),
      sum(greatest(size(col("__tk")) - 1, lit(0))).cast("long").as("n_big"))
    val pmi6 = ln6(col("n_pair")) + lit(2L) * ln6(col("n_tok")) -
      ln6(col("n_big")) - ln6(col("n_a")) - ln6(col("n_b"))
    Par.withScalars(cand
      .join(uni.select(col("t").as("tok_a"), col("cnt").as("n_a")), Seq("tok_a"))
      .join(uni.select(col("t").as("tok_b"), col("cnt").as("n_b")), Seq("tok_b")), tot)
      .select(col("tok_a"), col("tok_b"), col("n_pair"), col("n_a"), col("n_b"),
        round(pmi6.cast("double") / lit(1e6), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("tok_a"), col("tok_b"))
      .limit(topK)
  }

  /** Blocklist screen — the wordlist gate of a curation pipeline (the
    * C4 "bad words" filter shape): per doc, the count and fraction of
    * tokens found in the term list, plus the keep verdict at an exact
    * RATIONAL threshold: keep iff n_blocked·10⁶ ≤ maxPpm·n_tokens — an
    * integer cross-multiplication, so no float threshold exists for
    * engines to disagree on. Scan-side, zero shuffle; the list rides
    * the plan as a literal (swap in a broadcast join beyond a few
    * thousand terms — nothing downstream changes).
    */
  def blocklistScreen(docs: DataFrame, terms: Seq[String],
                      maxPpm: Long = 50000, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val lstLit = lit(terms.toArray)
    docs
      .withColumn("__tk", tokens(col(textCol)))
      .withColumn("n_tokens", size(col("__tk")).cast("long"))
      .withColumn("n_blocked",
        size(filter(col("__tk"), t => array_contains(lstLit, t)))
          .cast("long"))
      .select(col(idCol), col("n_tokens"), col("n_blocked"),
        round(col("n_blocked").cast("double") /
          when(col("n_tokens") === 0, lit(null)).otherwise(col("n_tokens")),
          6).as("blocked_frac"),
        (col("n_blocked") * lit(1000000L) <= lit(maxPpm) * col("n_tokens"))
          .as("keep"))
  }
}
