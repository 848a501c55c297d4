package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import org.apache.spark.sql.graft.GraftExpressions.poly_hash

/** Frequency sketching: count-min heavy hitters over the token
  * stream — the FREQUENCY member of the sketch family (GK quantiles,
  * HLL++ distinct, Bloom membership already ship; CMS completes the
  * set). Like the others it exists for the 100 TB regime: exact
  * per-token counts need a corpus-wide shuffle keyed by token, while
  * the CMS is a FIXED d×w counter grid whose partial aggregates are
  * map-side combinable and whose merged size is independent of both
  * corpus and vocabulary.
  *
  * Everything here is engine-mirrorable arithmetic (rolling hash +
  * affine re-hash per row, the phash pixel trick), NOT an opaque
  * binary sketch — so the DuckDB oracle replays the full grid and the
  * correctness gate checks the estimates themselves, no literal-TRUE
  * pins needed.
  */
object Freq {

  /** Heavy-hitters audit: the exact top-`k` tokens by count joined to
    * their count-min estimates from a `depth`×`width` grid, with the
    * two sketch-contract columns computed in-plan:
    * `no_underestimate` (CMS never undercounts — structural) and
    * `within_bound` (est − exact ≤ depth·N/width for this corpus and
    * hash family — the measured counterpart of the probabilistic
    * ε=e/width guarantee).
    *
    * Scale shape: one token-keyed partial agg for the exact leg (the
    * thing being audited — at production scale you keep ONLY the
    * sketch), one partial agg to ≤ depth·width grid rows (the sketch
    * leg — fixed-size, mergeable), and the estimate probe joins the
    * k·depth top-token rows against the broadcast grid. Row `r` of
    * the grid re-hashes the token's rolling hash with a PER-ROW
    * MULTIPLIER ((h·(654664997 + 97r)) mod P mod width): an additive
    * shift (h + r·c) would cancel in every pair difference, welding
    * the rows together so two colliding tokens collide in ALL rows —
    * the same affine-dependence trap the simhash mixer hit — while a
    * row-dependent multiplier scatters each pair independently. No
    * second pass over text is ever needed.
    */
  /** Row-`r` CMS bucket of a rolling hash: per-row multiplier re-hash
    * (see the class doc), shared by the batch audit and the windowed
    * streaming grid so their cells are identical by construction.
    */
  def bucket(h: org.apache.spark.sql.Column, r: org.apache.spark.sql.Column,
             width: Int): org.apache.spark.sql.Column =
    ((h * (lit(654664997L) + r * lit(97L))) % lit(TextOps.HashMod)) %
      lit(width.toLong)

  def cmsHeavyHitters(docs: DataFrame, k: Int = 20, depth: Int = 4,
                      width: Int = 256): DataFrame = {
    val toks = docs.select(explode(TextOps.tokens(col("text"))).as("tok"))
      .withColumn("__h", poly_hash(col("tok")))
    def bucket(h: org.apache.spark.sql.Column,
               r: org.apache.spark.sql.Column) = Freq.bucket(h, r, width)

    val top = toks.groupBy("tok", "__h")
      .agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("tok")).limit(k)
    val grid = toks
      .withColumn("r", explode(sequence(lit(0), lit(depth - 1))))
      .select(col("r"), bucket(col("__h"), col("r")).as("bk"))
      .groupBy("r", "bk").agg(count(lit(1)).as("__c"))
    val total = toks.agg(count(lit(1)).as("__n"))

    val est = top
      .withColumn("r", explode(sequence(lit(0), lit(depth - 1))))
      .withColumn("bk", bucket(col("__h"), col("r")))
      .join(broadcast(grid), Seq("r", "bk"))
      .groupBy("tok", "n_exact")
      .agg(min(col("__c")).as("n_est"))
    Par.withScalars(est, total)
      .select(
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("n_exact").desc, col("tok"))).as("rank"),
        col("tok"), col("n_exact"), col("n_est"),
        (col("n_est") >= col("n_exact")).as("no_underestimate"),
        ((col("n_est") - col("n_exact")) * lit(width.toLong) <=
          lit(depth.toLong) * col("__n")).as("within_bound"))
  }
}
