package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Parquet

/** Scaling-curve data builder: replicates the sf0.1 fact tables
  * `copies`× with shifted keys into a synthetic "sf1" directory, so
  * the full query suite can be timed at 10× rows and per-query scaling
  * factors recorded (SURVEY §5). Bench tooling only — correctness runs
  * stay on the driver-generated sf dirs.
  *
  * Statistics are preserved, not densified: each copy's near-dup /
  * pair structure matches the original, and cross-copy pairs are
  * suppressed (documents get per-copy token salts so shingle sets are
  * disjoint across copies; embeddings get a small deterministic
  * per-copy perturbation so no cross-copy exact dups appear). Dim
  * tables stay fixed (the broadcast side; fact-side scaling is what
  * the curve measures).
  *
  *   sbt "runMain graft.ScaleUp /root/testdata/sf0.1 /tmp/sf1 10"
  *   sbt "runMain graft.ScaleUp /root/testdata/sf0.1 /tmp/sf10 100 documents,embeddings"
  *
  * The optional 4th arg restricts which tables are materialized — the
  * sf10 spot-run only times the documents/embeddings families, so
  * replicating 60M lineitem rows for it would be pure write cost.
  */
object ScaleUp {
  /** Replica `i`'s key shift is `i * KeyOff`, beyond every sf0.1 key
    * range, so ids below KeyOff are the unshifted base copy.
    */
  val KeyOff = 100000000L

  def main(args: Array[String]): Unit = {
    val (src, out) = (args(0), args(1))
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val tables: Option[Set[String]] =
      args.lift(3).map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    def wanted(t: String) = tables.forall(_.contains(t))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false"), cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val UserOff = 10000000L

    def replicate(table: String)(copy: (DataFrame, Int) => DataFrame): Unit =
      if (wanted(table)) {
        val base = Parquet.read(spark, s"$src/$table.parquet")
        (0 until copies).map(i => copy(base, i)).reduce(_ unionByName _)
          .write.mode("overwrite").parquet(s"$out/$table.parquet")
        println(s"[scaleup] $table x$copies")
      }

    // dims: broadcast side, kept fixed
    Seq("region", "nation", "customer", "supplier", "part")
      .filter(wanted).foreach { t =>
        Parquet.read(spark, s"$src/$t.parquet")
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
        println(s"[scaleup] $t (dim, copied)")
      }

    replicate("orders") { (df, i) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(i * KeyOff))
    }
    replicate("lineitem") { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * KeyOff))
    }
    // events: 10x series (shifted user ids), same time range — density
    // scales exactly like a bigger deployment over the same window
    replicate("events") { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * KeyOff))
        .withColumn("user_id", col("user_id") + lit(i * UserOff))
    }
    // documents: per-copy token salt => shingle sets containing any
    // content token are disjoint across copies while within-copy dup
    // structure stays identical to sf0.1. Stopwords are left UNsalted
    // so langid/stop-ratio selectivities match the base copy (salting
    // them would zero every stop-ratio for (copies-1)/copies of the
    // corpus); the salt is alphabetic base-26 — ONE letter ('b'..'z')
    // for runs of <=26 copies, TWO letters past that (the old 'a'+i
    // single char walked into punctuation at i>25 and perturbed
    // digit/alpha token stats for 100-copy runs) — so digit_ratio is
    // exactly preserved at any copy count and avg_token_len shifts
    // only by the salt length (+~1 for <=26 copies, +~2 beyond: the
    // residual, unavoidable cost of making shingles disjoint); empty
    // tokens are dropped like TextOps.tokens does (salting '' would
    // mint tokens the base copy lacks).
    def saltOf(i: Int): String =
      if (copies <= 26) ('a' + i).toChar.toString
      else "" + ('a' + i / 26).toChar + ('a' + i % 26).toChar
    val stopAll = (graft.operators.TextOps.StopEn ++
      graft.operators.TextOps.StopDe ++ graft.operators.TextOps.StopFr ++
      graft.operators.TextOps.StopEs).distinct
    replicate("documents") { (df, i) =>
      if (i == 0) df
      else df
        .withColumn("doc_id", col("doc_id") + lit(i * KeyOff))
        .withColumn("text",
          array_join(transform(
            filter(split(col("text"), " "), t => length(t) > 0),
            t => when(array_contains(
                lit(stopAll.toArray), t), t)
              .otherwise(concat(t, lit(saltOf(i))))), " "))
        .withColumn("n_chars", length(col("text")))
    }
    // embeddings: deterministic per-(copy, dim) perturbation keeps the
    // distribution but kills cross-copy exact duplicates; the copy
    // multiplier is taken mod 101 (coprime, > copies) so no two copies
    // share a perturbation pattern — (i*31 + j) % 7 would repeat with
    // period 7 in the copy index and leave copies 1/8 and 2/9 as
    // bit-identical twins
    // per-copy deterministic SIGN FLIPS (a diagonal orthogonal
    // transform): within-copy pair cosines are EXACTLY the original's
    // (cos(s∘x, s∘y) = cos(x, y) when s ∈ {±1}^d), while cross-copy
    // cosines collapse toward 0 (the patterns disagree on ~half the
    // dims), so no cross-copy near-dup pairs leak into the replica —
    // the earlier small ADDITIVE perturbation left copies nearly
    // parallel (cos ≈ 0.99), which multiplied the corpus's true pair
    // density by copies² instead of copies
    replicate("embeddings") { (df, i) =>
      if (i == 0) df
      else df
        .withColumn("vec_id", col("vec_id") + lit(i * KeyOff))
        .withColumn("embedding",
          transform(col("embedding"), (x, j) =>
            (x * when(((lit(i * 131L) + j * lit(31L)) * lit(2654435761L))
              % lit(1000000007L) % 2 === 0, lit(1.0f))
              .otherwise(lit(-1.0f))).cast("float")))
    }
    spark.stop()
    sys.exit(0)
  }
}
