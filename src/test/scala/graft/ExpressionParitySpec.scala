package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.{SparkException, SparkThrowable}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
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

  /** `f` once per codegen factory mode, on a session of its own:
    * CODEGEN_ONLY runs the generated code (whole-stage on), NO_CODEGEN
    * the interpreted `eval` (whole-stage off).
    */
  private def inBothCodegenModes(f: SparkSession => Unit): Unit =
    Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false").foreach {
      case (mode, wholeStage) =>
        withClue(s"$mode: ")(f(GraftSession.withConfs(spark,
          "spark.sql.codegen.factoryMode" -> mode,
          "spark.sql.codegen.wholeStage" -> wholeStage)))
    }

  private def vecSchema(et: DataType): StructType = StructType(Seq(
    StructField("id", LongType), StructField("vec", ArrayType(et)),
    StructField("norm", DoubleType)))

  private def bookSchema(et: DataType): StructType = StructType(Seq(
    StructField("cid", LongType), StructField("cvec", ArrayType(et)),
    StructField("cn", DoubleType)))

  /** The argmax nearest_centroid replaced: crossJoin every (id, vec,
    * norm) row with every (cid, cvec, cn) centroid, then
    * max(struct(cos, −cid)) per id.
    */
  private def crossJoinArgmax(side: DataFrame, cents: DataFrame,
                              vdot: (Column, Column) => Column): DataFrame =
    side.crossJoin(cents)
      .withColumn("cos", vdot(col("vec"), col("cvec")) / (col("norm") * col("cn")))
      .groupBy("id").agg(max(struct(col("cos"), (-col("cid")).as("ncid"))).as("b"))
      .select(col("id"), (-col("b.ncid")).as("cid"), col("b.cos").as("cos"))

  private def kernelArgmax(side: DataFrame, cents: DataFrame): DataFrame =
    side.crossJoin(cents.agg(collect_list(struct("cid", "cvec", "cn")).as("cb")))
      .select(col("id"), org.apache.spark.sql.graft.GraftExpressions
        .nearest_centroid(col("vec"), col("norm"), col("cb")).as("nc"))
      .where(col("nc").isNotNull)
      .select(col("id"), col("nc.cid").as("cid"), col("nc.cos").as("cos"))

  /** id -> (cid, cos bits): −0.0 and 0.0 differ, every NaN is one. */
  private def byId(df: DataFrame): Map[Long, (Long, Option[Long])] =
    df.collect().map(r => r.getLong(0) -> ((r.getLong(1),
      if (r.isNullAt(2)) None
      else Some(java.lang.Double.doubleToLongBits(r.getDouble(2)))))).toMap

  test("nearest_centroid == crossJoin + max(struct(cos, -cid)) argmax, " +
    "float and double, codegen and interpreted") {
    val rnd = new scala.util.Random(29)
    // components from a 5-value grid: many exact cosine ties
    val grid = Array(-1.0, -0.5, 0.0, 0.5, 1.0)
    def draw(): Array[Double] = {
      val v = Array.fill(3)(grid(rnd.nextInt(grid.length)))
      if (v.forall(_ == 0.0)) draw() else v
    }
    val vecs = Seq.fill(120)(draw())
    val cents0 = Seq.fill(9)(draw())
    // centroid 40 duplicates centroid 10 (an exact tie on every vector,
    // broken to the smaller cid) and 41 mirrors it (the exact negative
    // cosine; both are 0.0 on an orthogonal vector)
    val cents = cents0.zipWithIndex.map { case (c, i) => (10L + 3 * i) -> c } ++
      Seq(40L -> cents0.head, 41L -> cents0.head.map(-_))
    inBothCodegenModes { s =>
      for ((et, conv, vdot) <- Seq[(DataType, Array[Double] => Seq[Any],
          (Column, Column) => Column)](
        (FloatType, _.toSeq.map(_.toFloat), Knn.dot(_, _, 3)),
        (DoubleType, _.toSeq, org.apache.spark.sql.graft.GraftExpressions
          .vec_dot_d))) withClue(s"$et: ") {
        // the norm column is exactly sqrt(dot(vec, vec)) in the element
        // type's fold (float squares widened to double)
        val side = s.createDataFrame(
          vecs.zipWithIndex.map { case (v, i) => Row(i.toLong, conv(v), 0.0) }.asJava,
          vecSchema(et)).repartition(3)
          .withColumn("norm", sqrt(vdot(col("vec"), col("vec"))))
        val book = s.createDataFrame(
          cents.map { case (cid, c) => Row(cid, conv(c), 0.0) }.asJava,
          bookSchema(et)).withColumn("cn", sqrt(vdot(col("cvec"), col("cvec"))))
        val want = byId(crossJoinArgmax(side, book, vdot))
        assert(want.size == vecs.size)
        assert(byId(kernelArgmax(side, book)) == want)
      }
    }
  }

  test("nearest_centroid edge rows: ±0.0 tie, NaN, null vector, zero norm, " +
    "empty codebook") {
    val d = org.apache.spark.sql.graft.GraftExpressions.vec_dot_d _
    inBothCodegenModes { s =>
      def side(rows: Row*) =
        s.createDataFrame(rows.asJava, vecSchema(DoubleType)).repartition(2)
      def book(rows: Row*) = s.createDataFrame(rows.asJava, bookSchema(DoubleType))
      def same(sd: DataFrame, bk: DataFrame): Map[Long, (Long, Option[Long])] = {
        val want = byId(crossJoinArgmax(sd, bk, d))
        assert(byId(kernelArgmax(sd, bk)) == want)
        want
      }
      // (1, 0) is orthogonal to both centroids; cn = −1 makes cid 5's
      // cosine −0.0 and cid 7's 0.0: Spark's order ties them -> cid 5,
      // whichever sign sits on the smaller cid
      val xAxis = Seq(1.0, 0.0)
      val pm = same(side(Row(1L, xAxis, 1.0)),
        book(Row(7L, Seq(0.0, 1.0), 1.0), Row(5L, Seq(0.0, 1.0), -1.0)))
      assert(pm(1L)._1 == 5L)
      assert(pm(1L)._2.contains(java.lang.Double.doubleToLongBits(-0.0)))
      assert(same(side(Row(1L, xAxis, 1.0)),
        book(Row(7L, Seq(0.0, 1.0), -1.0), Row(5L, Seq(0.0, 1.0), 1.0)))(1L)._1 == 5L)
      // NaN: a NaN component makes every cosine NaN (a tie -> min cid);
      // a NaN centroid outranks every finite cosine; a null vector
      // scores null everywhere (the smallest value -> min cid)
      val mixed = same(
        side(Row(1L, Seq(Double.NaN, 1.0), 1.0), Row(2L, Seq(1.0, 0.0), 1.0),
          Row(3L, null, null)),
        book(Row(9L, Seq(1.0, 0.0), 1.0), Row(4L, Seq(0.0, 1.0), 1.0),
          Row(6L, Seq(1.0, Double.NaN), 1.0)))
      assert(mixed(1L)._1 == 4L && mixed(2L)._1 == 6L)
      assert(mixed(3L) == ((4L, None)))
      // an empty codebook assigns nothing, as the inner crossJoin
      assert(same(side(Row(1L, xAxis, 1.0)), book()).isEmpty)
      // a zero norm is ANSI's divide-by-zero on both paths
      val zero = side(Row(1L, Seq(0.0, 0.0), 0.0))
      val cb = book(Row(1L, Seq(1.0, 0.0), 1.0))
      def condition(f: => Any): String = {
        val e = intercept[Exception](f)
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collectFirst { case t: SparkThrowable if t.getCondition != null =>
            t.getCondition }.getOrElse(e.toString)
      }
      assert(condition(crossJoinArgmax(zero, cb, d).collect()) == "DIVIDE_BY_ZERO")
      assert(condition(kernelArgmax(zero, cb).collect()) == "DIVIDE_BY_ZERO")
    }
  }

  test("centroid_update == per-(cid, dim) round(avg, 6), with its norm") {
    val G = org.apache.spark.sql.graft.GraftExpressions
    val rnd = new scala.util.Random(31)
    // cluster 2 has one member; the others several; every vector is
    // widened from float, as Lloyd's are
    val rows = (Seq.fill(60)(rnd.nextInt(4).toLong * 3 + 5) :+ 2L).map(c =>
      (c, Array.fill(8)((rnd.nextGaussian() * 3).toFloat)))
    val df = rows.toDF("cid", "f").repartition(3)
      .select(col("cid"), G.vec_cast_d(col("f")).as("v"))
    val want = df.select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cid", "pos").agg(round(avg(col("x")), 6).as("c"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val book = df.agg(G.centroid_update(col("cid"), col("v")).as("cb"))
      .select(inline(col("cb")))
      .withColumn("n2", sqrt(G.vec_dot_d(col("cvec"), col("cvec"))))
      .collect()
    assert(book.map(_.getLong(0)).toSeq == rows.map(_._1).distinct.sorted)
    val got = book.flatMap { r =>
      assert(r.getDouble(2) == r.getDouble(3), s"cn of cluster ${r.getLong(0)}")
      r.getSeq[Double](1).zipWithIndex.map { case (c, i) => (r.getLong(0), i) -> c }
    }.toMap
    assert(got == want)
  }

  test("kmeansCentroids: a seed that loses all its members drops out") {
    // seeds are ids 1 and 3 (every 2nd) and sit on the same point: every
    // vector ties and goes to cid 1, so cid 3 has no members after the
    // first round and the learned codebook holds cid 1 alone, at the
    // 6dp mean of all four vectors
    val e = Seq((0L, Array(0.5f, 0.25f)), (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.75f, 0.5f)), (3L, Array(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Knn.kmeansCentroids(e, 2, iters = 2, centroidEvery = 2).collect()
    assert(got.length == 1 && got(0).getLong(0) == 1L)
    assert(got(0).getSeq[Double](1) == Seq(0.8125, 0.1875))
  }

  test("kmeans, ivfCells and nearestCell assign no row on an empty corpus " +
      "or an empty codebook") {
    // the codebook reaches the kernel as a scalar subquery: an empty one
    // must drop the side's rows (as the crossJoin did), never keep them
    // with a null cid
    inBothCodegenModes { s =>
      import s.implicits._
      val none = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
      // even ids only: the stride-2 seed residue (1) selects no centroid
      val even = Seq((0L, Array(1f, 0f)), (2L, Array(0f, 1f)), (4L, Array(1f, 1f)))
        .toDF("vec_id", "embedding")
      for ((emb, every) <- Seq(none -> 0, none -> 1, even -> 2)) withClue(s"every $every: ") {
        assert(Knn.kmeans(emb, 2, centroidEvery = every).isEmpty)
        val cells = Knn.ivfCells(emb, emb, 2, centroidEvery = every)
        assert(cells.cCells.isEmpty && cells.qCells.isEmpty)
      }
      val side = s.createDataFrame(Seq(Row(1L, Seq(1.0, 0.0), 1.0)).asJava,
        vecSchema(DoubleType))
      val cents = s.createDataFrame(Seq.empty[Row].asJava, bookSchema(DoubleType))
      // a one-row book holding an empty array, and a book with no row
      // (its scalar is NULL)
      for (book <- Seq(Knn.codebook(cents), Knn.codebook(cents).limit(0)))
        assert(Knn.nearestCell(side, book, "vec", "norm").isEmpty)
      assert(Knn.nearestCell(side.limit(0), Knn.codebook(
        s.createDataFrame(Seq(Row(7L, Seq(1.0, 0.0), 1.0)).asJava,
          bookSchema(DoubleType))), "vec", "norm").isEmpty)
    }
  }

  test("the Column strides are max(1, ceil(√n), ceil(n/65536)) and max(1, ceil(n/256))") {
    val sq = Seq(2L, 3L, 16L, 255L, 256L, 1000L, 65535L, 65536L, 65537L)
      .map(r => r * r)
    val cap = 65536L * 65536L
    val ns = (Seq(0L, 1L, 2L) ++ sq.flatMap(q => Seq(q - 1, q, q + 1)) ++
      Seq(256L, 512L, 65536L, 1L << 20).flatMap(m => Seq(m - 1, m, m + 1)) ++
      Seq(cap + 1, cap + 2, cap + 65535, cap + 65536, cap + 65537, cap * 4 + 1))
      .distinct
    val row = spark.range(1).select(ns.flatMap(n =>
      Seq(Knn.coarseEveryOf(lit(n)), Knn.pqEveryOf(lit(n)))): _*).head()
    val got = ns.zipWithIndex.map { case (n, i) =>
      n -> (row.getLong(2 * i), row.getLong(2 * i + 1)) }.toMap
    // exact integer references: the least r with r·r >= n, ceil division
    def ceilSqrt(n: Long): Long = Iterator.iterate(math.sqrt(n.toDouble).toLong)(_ + 1)
      .dropWhile(r => r * r < n).next()
    def ceilDiv(n: Long, d: Long): Long = (n + d - 1) / d
    ns.foreach { n =>
      assert(got(n)._1 == Seq(1L, ceilSqrt(n), ceilDiv(n, 65536)).max, s"coarse n=$n")
      assert(got(n)._2 == math.max(1L, ceilDiv(n, 256)), s"pq n=$n")
    }
    // the cap term takes over just above 65536²
    assert(got(cap) == (65536L, 16777216L))
    assert(got(cap + 1) == (65537L, 16777217L))
    assert(got(cap * 4 + 1) == (262145L, 67108865L))
    assert(Seq(0L, 1L, 2L, 255L, 256L, 257L).map(got(_)) ==
      Seq((1L, 1L), (1L, 1L), (2L, 1L), (16L, 1L), (16L, 1L), (17L, 2L)))
  }

  test("simhash_wide == its HOF twin, incl. null and empty token arrays") {
    val mod = lit(1000000007L)
    def bit(h: Column, i: Column) = call_function("shiftright", h, i).bitwiseAND(lit(1L))
    val hof = (toks: Column) => {
      val hs = transform(toks, t => {
        val p = TextOps.polyHashHof(t)
        val t2 = (p * lit(2246822519L) + lit(1013904223L)) % mod
        struct(((p * lit(2654435761L)) % lit(1073741824L)).as("h1"),
          ((t2 * t2) % mod).as("h2"))
      })
      when(toks.isNotNull, aggregate(sequence(lit(0), lit(59)), lit(0L), (acc, i) => {
        val votes = aggregate(hs, lit(0L), (v, h) => v + when(
          bit(when(i < 30, h.getField("h1")).otherwise(h.getField("h2")),
            i % 30) === 1L, 1L).otherwise(-1L))
        acc + when(votes > 0, call_function("shiftleft", lit(1L), i)).otherwise(0L)
      }))
    }
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    inBothCodegenModes { s =>
      import s.implicits._
      val docs = s.read.parquet(s"${ParquetSpec.Sf}/documents.parquet")
        .select(TextOps.tokens($"text").as("t"))
        .union(Seq(Some(Seq.empty[String]), None, Some(Seq("ünï", "", "a a")))
          .toDF("t"))
      val bad = docs.select(org.apache.spark.sql.graft.GraftExpressions
          .simhash_wide($"t").as("n"), hof($"t").as("h"), $"t")
        .where(!($"n" <=> $"h"))
      assert(bad.isEmpty, bad.take(3).mkString("; "))
      val empty = Seq(Seq.empty[String]).toDF("t").select(
        org.apache.spark.sql.graft.GraftExpressions.simhash_wide($"t")).head()
      assert(empty.getLong(0) == 0L)
    }
  }

  test("index_sum_long == the element_at HOF fold, incl. null and empty arrays") {
    inBothCodegenModes { s =>
      import s.implicits._
      val w = Seq(-7L, 0L, Long.MaxValue / 4, 3L, Long.MinValue / 4)
      val df = Seq(Some(Seq(0L, 2L, 2L, 4L)), Some(Seq.empty[Long]), None,
          Some(Seq(1L, 3L, 0L)), Some(Seq(4L, 4L, 4L)))
        .toDF("ix")
        .withColumn("w", typedLit(w))
        .union(Seq((Some(Seq(0L)), Option.empty[Seq[Long]])).toDF("ix", "w"))
      val bad = df.select(org.apache.spark.sql.graft.GraftExpressions
          .index_sum_long($"ix", $"w").as("n"),
        aggregate($"ix", lit(0L),
          (acc, i) => acc + element_at($"w", (i + 1).cast("int"))).as("h"),
        $"ix", $"w")
        .where(!($"n" <=> $"h"))
      assert(bad.isEmpty, bad.take(3).mkString("; "))
    }
  }

  test("PushdownBarrier is the identity on null, ±0.0, NaN and arrays") {
    import org.apache.spark.sql.graft.GraftExpressions.no_pushdown
    inBothCodegenModes { s =>
      import s.implicits._
      val df = Seq(Some(0.0), Some(-0.0), Some(Double.NaN), None,
          Some(Double.NegativeInfinity), Some(1.5))
        .toDF("x")
        .withColumn("a", when($"x".isNotNull, array($"x", -$"x")))
      val got = df.select(no_pushdown($"x"), no_pushdown($"a"), $"x", $"a").collect()
      def bits(r: Row, i: Int) =
        if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i)))
      def abits(r: Row, i: Int) =
        if (r.isNullAt(i)) None
        else Some(r.getSeq[Double](i).map(java.lang.Double.doubleToRawLongBits))
      assert(got.length == 6)
      got.foreach { r =>
        assert(bits(r, 0) == bits(r, 2) && abits(r, 1) == abits(r, 3), r.toString)
      }
      // a pinned filter keeps the same rows (Spark orders NaN above 1.5)
      assert(df.where(no_pushdown($"x") > 0.0).count() == 2)
    }
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
