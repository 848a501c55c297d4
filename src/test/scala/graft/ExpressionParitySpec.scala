package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Knn, TextOps}
import graft.functions.Aggs

/** The native codegen'd expressions must be bit-identical to their
  * higher-order-function twins (which are definitionally the DuckDB
  * oracle formulas).
  */
class ExpressionParitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("PolyHash == HOF fold, incl. unicode and empty-ish strings") {
    val df = Seq("hello world", "a", "x y z w", "Ünïcodé ﬆring 汉字",
      " leading and  double  spaces").toDF("text")
    val bad = df.select(TextOps.polyHash($"text").as("n"),
      TextOps.polyHashHof($"text").as("h")).where($"n" =!= $"h")
    assert(bad.isEmpty)
  }

  test("ShingleHashes == HOF shingle ids on real documents") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val bad = docs.select(
      TextOps.shingleIds($"text", 3).as("n"),
      TextOps.shingleIdsHof($"text", 3).as("h")).where($"n" =!= $"h")
    assert(bad.isEmpty)
    // short docs: fewer tokens than the shingle size -> empty array
    val short = Seq("one two").toDF("text")
      .select(TextOps.shingleIds($"text", 3).as("s")).head()
    assert(short.getSeq[Long](0).isEmpty)
  }

  test("CharGramHashes rolling == direct per-substring PolyHash") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"text")
      .union(Seq("short", "Ünïcodé ﬆring 汉字汉字汉字汉字汉字汉字汉字",
        "exactly twenty chars").toDF("text"))
    val k = 20
    val direct = when(length($"text") >= k,
      transform(sequence(lit(0), length($"text") - k),
        i => org.apache.spark.sql.graft.GraftExpressions
          .poly_hash($"text".substr(i + lit(1), lit(k)))))
      .otherwise(array().cast("array<bigint>"))
    val bad = docs.select(
      org.apache.spark.sql.graft.GraftExpressions
        .char_gram_hashes($"text", k).as("n"),
      direct.as("h")).where($"n" =!= $"h")
    assert(bad.isEmpty)
  }

  test("VecDot == HOF index fold on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pairs = emb.select($"embedding".as("a"))
      .crossJoin(emb.limit(3).select($"embedding".as("b")))
    val bad = pairs.select(Knn.dot($"a", $"b", 64).as("n"),
      Knn.dotHof($"a", $"b", 64).as("h")).where($"n" =!= $"h")
    assert(bad.isEmpty)
  }

  test("VecDotD on widened arrays == float VecDot (same fold)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pairs = emb.select($"embedding".as("a"))
      .crossJoin(emb.limit(3).select($"embedding".as("b")))
      .select($"a", $"b",
        transform($"a", x => x.cast("double")).as("ad"),
        transform($"b", x => x.cast("double")).as("bd"))
    val bad = pairs.select(Knn.dot($"a", $"b", 64).as("f"),
      org.apache.spark.sql.graft.GraftExpressions.vec_dot_d($"ad", $"bd").as("d"))
      .where($"f" =!= $"d")
    assert(bad.isEmpty)
  }

  test("VecSubL2 == HOF subspace fold on real embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pairs = emb.select($"embedding".as("a"))
      .crossJoin(emb.limit(3).select($"embedding".as("b")))
      .withColumn("s", explode(sequence(lit(0), lit(3))))
    val subDim = 16
    val hof = aggregate(
      transform(sequence($"s" * subDim + 1, ($"s" + 1) * subDim),
        i => {
          val d = element_at($"a", i).cast("double") -
            element_at($"b", i).cast("double")
          d * d
        }),
      lit(0.0), (acc, x) => acc + x)
    val bad = pairs.select(
      org.apache.spark.sql.graft.GraftExpressions
        .vec_sub_l2($"a", $"b", $"s", subDim).as("n"),
      hof.as("h")).where($"n" =!= $"h")
    assert(bad.isEmpty)
  }

  test("VecSubL2D == HOF full-dim double fold (the RQ level-2 distance)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // double-array inputs with the exact float-difference structure
    // rqModel's residuals have
    val pairs = emb.select($"embedding".as("a0"))
      .crossJoin(emb.limit(3).select($"embedding".as("b0")))
      .select(zip_with($"a0", $"b0",
          (x, y) => x.cast("double") - y.cast("double")).as("a"),
        transform($"b0", x => x.cast("double") * 0.5).as("b"))
    val hof = aggregate(zip_with($"a", $"b", (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)
    val bad = pairs.select(
      org.apache.spark.sql.graft.GraftExpressions
        .vec_sub_l2_d($"a", $"b", lit(0), 64).as("n"),
      hof.as("h")).where($"n" =!= $"h")
    assert(bad.isEmpty)
  }

  test("VecCastD / VecSubDD / VecAddFD == their HOF twins on real embeddings") {
    val G = org.apache.spark.sql.graft.GraftExpressions
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pairs = emb.select($"embedding".as("a"))
      .crossJoin(emb.limit(3).select($"embedding".as("b")))
      .select($"a", $"b", transform($"b", x => x.cast("double")).as("bd"))
    val bad = pairs.select(
        G.vec_cast_d($"a").as("c"),
        transform($"a", x => x.cast("double")).as("ch"),
        G.vec_sub_dd(G.vec_cast_d($"a"), $"bd").as("s"),
        zip_with($"a", $"b", (x, y) =>
          x.cast("double") - y.cast("double")).as("sh"),
        G.vec_add_fd($"a", $"bd").as("p"),
        zip_with($"a", $"bd", (x, y) => x.cast("double") + y).as("ph"))
      .where($"c" =!= $"ch" || $"s" =!= $"sh" || $"p" =!= $"ph")
    assert(bad.isEmpty)
  }

  /** `f` over `in` must fail with a SparkException whose message starts
    * `"$expr: $what"` — both on the driver (a projection over a local
    * relation is evaluated interpreted while optimizing) and in a
    * codegen'd task (the same projection after a shuffle).
    */
  private def assertRejects(in: DataFrame, expr: String, what: String)(
      f: DataFrame => DataFrame): Unit =
    Seq(in, in.repartition(1)).foreach { d =>
      val e = intercept[Exception](f(d).collect())
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).toSeq
      assert(chain.exists(t => t.isInstanceOf[SparkException] &&
        t.getMessage.contains(s"$expr: $what")), e.toString)
    }

  test("VecCastD / VecSubDD / VecAddFD reject a null element") {
    val G = org.apache.spark.sql.graft.GraftExpressions
    assertRejects(Seq(Seq(Some(1.0f), None, Some(2.0f))).toDF("a"),
      "VecCastD", "null element at index 1")(_.select(G.vec_cast_d($"a")))
    val dd = Seq((Seq(Some(1.0), Some(2.0)), Seq(Some(0.5), None)))
      .toDF("a", "b")
    assertRejects(dd, "VecSubDD", "null element at index 1")(
      _.select(G.vec_sub_dd($"a", $"b")))
    val fd = Seq((Seq(None, Some(2.0f)), Seq(Some(0.5), Some(0.5))))
      .toDF("a", "b")
    assertRejects(fd, "VecAddFD", "null element at index 0")(
      _.select(G.vec_add_fd($"a", $"b")))
  }

  test("VecSubDD / VecAddFD reject arrays of unequal length") {
    val G = org.apache.spark.sql.graft.GraftExpressions
    assertRejects(Seq((Seq(1.0, 2.0), Seq(0.5, 0.5, 0.5))).toDF("a", "b"),
      "VecSubDD", "array lengths differ (2 vs 3)")(
      _.select(G.vec_sub_dd($"a", $"b")))
    assertRejects(Seq((Seq(1.0f, 2.0f, 3.0f), Seq(0.5, 0.5))).toDF("a", "b"),
      "VecAddFD", "array lengths differ (3 vs 2)")(
      _.select(G.vec_add_fd($"a", $"b")))
  }

  test("TokenCountVec == the per-bucket filter-fold on real documents") {
    val G = org.apache.spark.sql.graft.GraftExpressions
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val dim = 16
    val toks = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(TextOps.tokens($"text").as("tk"))
      .union(Seq(Seq.empty[String], Seq("a"), Seq("汉字", "a", "汉字"))
        .toDF("tk"))
    val hof = transform(sequence(lit(0), lit(dim - 1)), j =>
      size(filter($"tk", t =>
        pmod(TextOps.polyHash(t), lit(dim.toLong)) === j.cast("long")))
        .cast("float"))
    val bad = toks.select(G.token_count_vec($"tk", dim).as("n"), hof.as("h"))
      .where($"n" =!= $"h")
    assert(bad.isEmpty)
  }

  test("micros() == exact decimal micro-count across the guard boundary") {
    // the r5-advice counterexamples (6dp-exact values in [4.5e9, 8e9)
    // whose double*1e6 product rounds off-by-one) must now take the
    // decimal branch; values under the 4e9 guard stay on the fast path
    // and must agree with the decimal cast bit-for-bit
    val adversarial = Seq(4503033111.643871, -4479830194.266215,
      4.48e9, 7.9e9, -7.9e9)
    val rnd = new scala.util.Random(7)
    val under = (1 to 4000).map { _ =>
      // random 6dp-exact value below the guard: micros < 4e15
      val micros = (rnd.nextDouble() * 3.999e15).toLong *
        (if (rnd.nextBoolean()) 1 else -1)
      micros / 1e6
    }
    val df = (adversarial ++ under).toDF("v")
    val dec = (col("v").cast(Aggs.SumDec) * lit(1000000L)).cast(Aggs.MicroDec)
    val bad = df.select(col("v"), Aggs.micros(col("v")).as("fast"),
      dec.as("exact")).where(col("fast") =!= col("exact"))
    assert(bad.isEmpty, bad.collect().take(3).mkString(";"))
  }

  test("EwmaAgg window fold == collect_list HOF fold on real events") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.functions.TimeIndex.normalizeUs(_, "ts"))
      .select("user_id", "ts", "value")
    val native = graft.operators.Trend.ewma(ev, "ts", "value", Seq("user_id"))
    val hof = graft.operators.Trend.ewmaHof(ev, "ts", "value", Seq("user_id"))
    assert(native.count() == ev.count())
    assert(native.exceptAll(hof).isEmpty && hof.exceptAll(native).isEmpty)
    // null handling: nulls drop out of the fold, seed skips to the
    // first non-null value
    val withNulls = Seq[(Long, java.lang.Double)](
      (1L, null), (2L, 4.0), (3L, null), (4L, 8.0))
      .toDF("ts", "v").withColumn("k", lit("a"))
    val got = graft.operators.Trend.ewma(withNulls, "ts", "v", Seq("k"))
      .orderBy("ts").select("ewma").collect()
    assert(got(0).isNullAt(0))       // nothing seen yet
    assert(got(1).getDouble(0) == 4.0) // seeded
    assert(got(2).getDouble(0) == 4.0) // null skipped, acc carried
    assert(got(3).getDouble(0) ==
      math.floor((4.0 * 0.7 + 8.0 * 0.3) * 1e6) / 1e6)
  }

  test("shingle_hashes / vec_sub_l2 registered for SQL use") {
    org.apache.spark.sql.graft.GraftExpressions.register(spark)
    assert(spark.sql(
      "SELECT shingle_hashes(array('a','b','c'), 2) AS s").head()
      .getSeq[Long](0).length == 2)
    val d = spark.sql(
      """SELECT vec_sub_l2(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |array(CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT)), 0, 2) AS d"""
        .stripMargin).head().getDouble(0)
    assert(d == 5.0)
  }

  test("poly_hash / vec_dot registered for SQL use") {
    org.apache.spark.sql.graft.GraftExpressions.register(spark)
    assert(spark.sql("SELECT poly_hash('abc') AS h").head().getLong(0) ==
      ((('a' * 31 + 'b') % 1000000007L) * 31 + 'c') % 1000000007L)
  }

  test("LevBanded == builtin 3-arg levenshtein on adversarial pairs") {
    // random word-soup pairs around every threshold regime (equal, one
    // edit, rotations, disjoint, length gaps, empty, unicode fallback)
    val rnd = new scala.util.Random(7)
    val words = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    def doc(n: Int) = Seq.fill(n)(words(rnd.nextInt(words.size))).mkString(" ")
    val base = (1 to 60).map(_ => doc(3 + rnd.nextInt(25)))
    val mutated = base.map { s =>
      val c = s.toCharArray
      if (c.nonEmpty) c(rnd.nextInt(c.length)) = 'q'
      new String(c)
    }
    val pairs = (base.zip(mutated) ++ base.zip(base.reverse) ++
      base.zip(base.map(_.split(' ').reverse.mkString(" "))) ++
      Seq(("", ""), ("", "abc"), ("abc", ""), ("汉字 a", "汉字 b"),
        ("Ünïcodé", "Unicode"))).toDF("a", "b")
    for (k <- Seq(0, 1, 3, 10, 120)) {
      val bad = pairs.select(
        org.apache.spark.sql.graft.GraftExpressions
          .lev_banded($"a", $"b", k).as("n"),
        levenshtein($"a", $"b", k).as("h")).where($"n" =!= $"h")
      assert(bad.isEmpty, s"k=$k: ${bad.collect().mkString(",")}")
    }
  }
}
