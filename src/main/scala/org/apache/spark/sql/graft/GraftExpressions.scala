package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for graft's hot paths.
  *
  * Composing `transform`/`aggregate` higher-order functions is correct
  * but pays a lambda dispatch per ELEMENT; these expressions make one
  * static call per ROW into [[HashImpl]]'s tight loops, and participate
  * in whole-stage codegen via `defineCodeGen`. Results are bit-identical
  * to the HOF formulations (and the DuckDB oracles) by construction.
  */
case class PolyHash(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def nullSafeEval(v: Any): Any =
    graft.functions.HashImpl.polyHash(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashImpl.polyHash($c)")
  override protected def withNewChildInternal(c: Expression): PolyHash = copy(c)
}

/** Word n-gram shingle hashes of a token array (array<string> ->
  * array<long>); shingle i hashes tokens[i..i+n-1] joined by ' '.
  */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, "shingle size must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def nullSafeEval(v: Any): Any =
    graft.functions.HashImpl.shingleHashes(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashImpl.shingleHashes($c, $n)")
  override protected def withNewChildInternal(c: Expression): ShingleHashes =
    copy(child = c)
}

/** Char k-gram rolling hashes (string -> array<long>): element i is
  * the poly hash of code points [i, i+k) — one per start position,
  * O(n) total via the rolling recurrence (HashImpl.charGramHashes),
  * bit-identical to hashing each substring directly.
  */
case class CharGramHashes(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(k >= 1, "gram size must be >= 1")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def nullSafeEval(v: Any): Any =
    graft.functions.HashImpl.charGramHashes(v.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashImpl.charGramHashes($c, $k)")
  override protected def withNewChildInternal(c: Expression): CharGramHashes =
    copy(child = c)
}

/** 60-bit production-width SimHash (see HashImpl.simhashWide). */
case class SimHashWide(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def nullSafeEval(v: Any): Any =
    graft.functions.HashImpl.simhashWide(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashImpl.simhashWide($c)")
  override protected def withNewChildInternal(c: Expression): SimHashWide =
    copy(child = c)
}

/** 24-bit SimHash of a token array (see HashImpl.simhash24). */
case class SimHash24(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def nullSafeEval(v: Any): Any =
    graft.functions.HashImpl.simhash24(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashImpl.simhash24($c)")
  override protected def withNewChildInternal(c: Expression): SimHash24 = copy(c)
}

/** Banded Levenshtein with threshold: exact distance when <= k, else
  * -1 (the builtin 3-arg `levenshtein` contract) via HashImpl's
  * byte-level ASCII fast path — ~10x less inner-loop work than the
  * builtin's per-cell UTF-8 decode; multibyte inputs defer to the
  * builtin's char-exact path inside HashImpl.
  */
case class LevBanded(left: Expression, right: Expression, k: Int)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = IntegerType
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def nullSafeEval(a: Any, b: Any): Any =
    graft.functions.HashImpl.levBanded(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.HashImpl.levBanded($a, $b, $k)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): LevBanded =
    copy(left = l, right = r)
}

/** Left-fold double dot product of two float vectors. */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def nullSafeEval(a: Any, b: Any): Any =
    graft.functions.HashImpl.vecDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashImpl.vecDot($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(left = l, right = r)
}

/** [[VecDot]] over double vectors (centroids, pre-widened corpora). */
case class VecDotD(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def nullSafeEval(a: Any, b: Any): Any =
    graft.functions.HashImpl.vecDotD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashImpl.vecDotD($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDotD =
    copy(left = l, right = r)
}

/** Σ weights[indices(i)] — the hashed-classifier margin fold over a
  * doc's feature-bucket array against the broadcast dense weight
  * array. Exact long adds in array order (bit-identical to the
  * interpreted HOF fold it replaces); indices 0-based, caller-bounded.
  */
case class IndexSumLong(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = LongType
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def nullSafeEval(a: Any, b: Any): Any =
    graft.functions.HashImpl.indexSumLong(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashImpl.indexSumLong($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): IndexSumLong =
    copy(left = l, right = r)
}

/** Float array widened to double (exact), one tight loop per row —
  * replaces the interpreted `transform(v, _.cast("double"))` lambda
  * the kmeans/RQ/PQ chains ran per corpus element. A null element
  * raises a SparkException (the output declares no nulls).
  */
case class VecCastD(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def nullSafeEval(v: Any): Any =
    graft.functions.HashImpl.vecCastD(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashImpl.vecCastD($c)")
  override protected def withNewChildInternal(c: Expression): VecCastD = copy(c)
}

/** Elementwise difference of two double arrays — the residual
  * construction (`zip_with(a, b, (x, y) => x - y)`), codegen'd. A null
  * element or unequal lengths raise a SparkException.
  */
case class VecSubDD(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def nullSafeEval(a: Any, b: Any): Any =
    graft.functions.HashImpl.vecSubDD(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashImpl.vecSubDD($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecSubDD =
    copy(left = l, right = r)
}

/** Elementwise float + double (left widened first) — the RQ additive
  * reconstruction c1 + c2, codegen'd. A null element or unequal
  * lengths raise a SparkException.
  */
case class VecAddFD(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(DoubleType))
  override def nullSafeEval(a: Any, b: Any): Any =
    graft.functions.HashImpl.vecAddFD(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashImpl.vecAddFD($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecAddFD =
    copy(left = l, right = r)
}

/** Hashed token-count featurization (array<string> → array<float> of
  * per-bucket counts): ONE polyHash per token instead of the dim-fold
  * `transform(sequence(0, dim-1), j => size(filter(...)))` that
  * re-hashed every token once per bucket. Counts are exact small ints.
  */
case class TokenCountVec(child: Expression, dim: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(dim >= 1, "dim must be >= 1")
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def nullSafeEval(v: Any): Any =
    graft.functions.HashImpl.tokenCountVec(v.asInstanceOf[ArrayData], dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashImpl.tokenCountVec($c, $dim)")
  override protected def withNewChildInternal(c: Expression): TokenCountVec =
    copy(child = c)
}

/** Squared L2 over subspace `s` (third child) of two float vectors:
  * elements [s*len, (s+1)*len), each widened to double — the product
  * quantization distance, one tight loop per (vector, centroid, s).
  */
case class VecSubL2(first: Expression, second: Expression,
                    third: Expression, len: Int)
    extends TernaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType), IntegerType)
  override def nullSafeEval(a: Any, b: Any, s: Any): Any =
    graft.functions.HashImpl.vecSubL2(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], s.asInstanceOf[Int] * len, len)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, s) =>
      s"graft.functions.HashImpl.vecSubL2($a, $b, $s * $len, $len)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): VecSubL2 =
    copy(first = f, second = s, third = t)
}

/** [[VecSubL2]] over DOUBLE arrays — the residual-quantization level-2
  * distance (residuals are float-difference doubles; the float-typed
  * expression cannot read them). Same segment contract, same fold
  * order, codegen'd.
  */
case class VecSubL2D(first: Expression, second: Expression,
                     third: Expression, len: Int)
    extends TernaryExpression with ExpectsInputTypes {
  override def dataType: DataType = DoubleType
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType), IntegerType)
  override def nullSafeEval(a: Any, b: Any, s: Any): Any =
    graft.functions.HashImpl.vecSubL2D(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], s.asInstanceOf[Int] * len, len)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, s) =>
      s"graft.functions.HashImpl.vecSubL2D($a, $b, $s * $len, $len)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): VecSubL2D =
    copy(first = f, second = s, third = t)
}

/** Recursive EWMA fold as a window-frame aggregate:
  * acc := first value, then acc := acc*(1-alpha) + x*alpha per row of
  * the frame, nulls skipped (pypond's ignore_missing). Two scalar
  * buffer slots per frame — replaces the collect_list + HOF
  * formulation that materialized an O(span) array per row.
  *
  * ORDER-DEPENDENT: only meaningful over a window frame (WindowExec
  * initializes+updates each frame in frame order and never merges).
  * The merge path is deliberately poisoned to null so accidental use
  * in a partial-aggregated groupBy is visibly wrong, not silently
  * plausible.
  */
case class EwmaAgg(child: Expression, alpha: Double)
    extends org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
    with ExpectsInputTypes {
  import org.apache.spark.sql.catalyst.expressions._
  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def nullable: Boolean = true
  override def dataType: DataType = DoubleType
  private lazy val acc = AttributeReference("acc", DoubleType)()
  private lazy val seen =
    AttributeReference("seen", BooleanType, nullable = false)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(acc, seen)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(null, DoubleType), Literal(false))
  override lazy val updateExpressions: Seq[Expression] = Seq(
    If(IsNull(child), acc,
      If(seen,
        Add(Multiply(acc, Literal(1.0 - alpha)),
          Multiply(child, Literal(alpha))),
        child)),
    Or(seen, IsNotNull(child)))
  override lazy val mergeExpressions: Seq[Expression] =
    Seq(Literal(null, DoubleType), Literal(false))
  override lazy val evaluateExpression: Expression = acc
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): EwmaAgg = copy(child = cs.head)
}

/** Holt double-exponential smoothing (level + linear trend) as a
  * window-frame aggregate — [[EwmaAgg]]'s two-state sibling:
  *
  *   seed (first non-null x):  l = x, b = 0
  *   per row:  l' = α·x + (1-α)·(l + b);  b' = β·(l' − l) + (1-β)·b
  *
  * Returns struct(level, trend). The float operation ORDER is pinned
  * (x·α + (l+b)·(1-α), then (l'−l)·β + b·(1-β), l' inlined) so the
  * DuckDB list_reduce oracle replays bit-identical IEEE sequences.
  * Nulls keep the state unchanged. Same frame-only contract as
  * EwmaAgg: the merge path is poisoned.
  */
case class HoltAgg(child: Expression, alpha: Double, beta: Double)
    extends org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
    with ExpectsInputTypes {
  import org.apache.spark.sql.catalyst.expressions._
  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("level", DoubleType), StructField("trend", DoubleType)))
  private lazy val lv = AttributeReference("lv", DoubleType)()
  private lazy val tr = AttributeReference("tr", DoubleType)()
  private lazy val seen =
    AttributeReference("seen", BooleanType, nullable = false)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(lv, tr, seen)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(null, DoubleType), Literal(null, DoubleType), Literal(false))
  // l' appears in both updates; the tree is duplicated VERBATIM so the
  // arithmetic matches the oracle's inlined lambda exactly
  private def lNew: Expression =
    Add(Multiply(child, Literal(alpha)),
      Multiply(Add(lv, tr), Literal(1.0 - alpha)))
  override lazy val updateExpressions: Seq[Expression] = Seq(
    If(IsNull(child), lv, If(seen, lNew, child)),
    If(IsNull(child), tr,
      If(seen,
        Add(Multiply(Subtract(lNew, lv), Literal(beta)),
          Multiply(tr, Literal(1.0 - beta))),
        Literal(0.0))),
    Or(seen, IsNotNull(child)))
  override lazy val mergeExpressions: Seq[Expression] =
    Seq(Literal(null, DoubleType), Literal(null, DoubleType), Literal(false))
  override lazy val evaluateExpression: Expression =
    CreateNamedStruct(Seq(Literal("level"), lv, Literal("trend"), tr))
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): HoltAgg = copy(child = cs.head)
}

/** Kleinberg-style two-state burst detection (Kleinberg, "Bursty and
  * Hierarchical Structure in Streams", KDD 2002) as a window-frame
  * aggregate over inter-event GAPS: a renormalized Viterbi forward
  * pass with states q0 (base rate λ0) and q1 (burst rate λ1 > λ0),
  * per-gap cost λ_i·x − ln λ_i and an up-transition penalty γ:
  *
  *   init: c0 = 0, c1 = γ
  *   per gap x:  r0 = min(c0, c1) + (x·λ0 + k0)
  *               r1 = min(c1, c0 + γ) + (x·λ1 + k1)
  *               c0' = r0 − min(r0, r1);  c1' = r1 − min(r0, r1)
  *
  * (k_i = −ln λ_i precomputed — no transcendental runs per row.) The
  * renormalization keeps costs bounded, so the current state label
  * (c1 < c0) is the online forward-Viterbi decision. Returns
  * struct(c0, c1). The r0/r1 trees are duplicated VERBATIM into the
  * renormalization (the HwAgg convention) so the DuckDB list_reduce
  * oracle replays bit-identical IEEE sequences. Same frame-only
  * contract as EwmaAgg: the merge path is poisoned.
  */
case class BurstAgg(child: Expression, lam0: Double, lam1: Double,
                    gamma: Double)
    extends org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
    with ExpectsInputTypes {
  import org.apache.spark.sql.catalyst.expressions._
  require(lam1 > lam0 && lam0 > 0, "need burst rate lam1 > base lam0 > 0")
  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("c0", DoubleType), StructField("c1", DoubleType)))
  private lazy val c0 = AttributeReference("c0", DoubleType)()
  private lazy val c1 = AttributeReference("c1", DoubleType)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(c0, c1)
  override lazy val initialValues: Seq[Expression] =
    Seq(Literal(0.0), Literal(gamma))
  private def r0: Expression =
    Add(Least(Seq(c0, c1)),
      Add(Multiply(child, Literal(lam0)), Literal(-math.log(lam0))))
  private def r1: Expression =
    Add(Least(Seq(c1, Add(c0, Literal(gamma)))),
      Add(Multiply(child, Literal(lam1)), Literal(-math.log(lam1))))
  override lazy val updateExpressions: Seq[Expression] = Seq(
    If(IsNull(child), c0, Subtract(r0, Least(Seq(r0, r1)))),
    If(IsNull(child), c1, Subtract(r1, Least(Seq(r0, r1)))))
  override lazy val mergeExpressions: Seq[Expression] =
    Seq(Literal(null, DoubleType), Literal(null, DoubleType))
  override lazy val evaluateExpression: Expression =
    CreateNamedStruct(Seq(Literal("c0"), c0, Literal("c1"), c1))
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): BurstAgg = copy(child = cs.head)
}

/** Additive Holt-Winters (level + trend + seasonal) as a window-frame
  * aggregate — the triple-smoothing member of the [[EwmaAgg]]/
  * [[HoltAgg]] family:
  *
  *   seed (first non-null x):  l = x, b = 0, s[·] = 0, n = 1
  *   per row (p = n mod period, sp = s[p]):
  *     l' = α·(x − sp) + (1-α)·(l + b)
  *     b' = β·(l' − l) + (1-β)·b
  *     s[p]' = γ·(x − l') + (1-γ)·sp;  n' = n + 1
  *
  * Returns struct(level, trend, seasonal) where seasonal is the
  * just-updated component. The float operation ORDER is pinned
  * ((x−sp)·α + (l+b)·(1-α); l' inlined verbatim into b' and s')
  * so the DuckDB list_reduce oracle — whose fold SEEDS from the first
  * element [x, 0, 1, 0…0], exactly this seed — replays bit-identical
  * IEEE sequences. Nulls keep the state unchanged. Same frame-only
  * contract as EwmaAgg: the merge path is poisoned.
  *
  * The seasonal buffer is an O(period) array rebuilt per update
  * (slice ++ new ++ slice) — bounded by the frame contract, same
  * cost class as the O(span) refold itself.
  */
case class HwAgg(child: Expression, alpha: Double, beta: Double,
                 gamma: Double, period: Int)
    extends org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
    with ExpectsInputTypes {
  import org.apache.spark.sql.catalyst.expressions._
  require(period >= 1)
  override def children: Seq[Expression] = Seq(child)
  override def inputTypes: Seq[AbstractDataType] = Seq(DoubleType)
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("level", DoubleType), StructField("trend", DoubleType),
    StructField("seasonal", DoubleType), StructField("ahead", DoubleType)))
  private lazy val lv = AttributeReference("lv", DoubleType)()
  private lazy val tr = AttributeReference("tr", DoubleType)()
  private lazy val cnt = AttributeReference("cnt", IntegerType, nullable = false)()
  private lazy val sarr = AttributeReference("sarr",
    ArrayType(DoubleType, containsNull = true), nullable = false)()
  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(lv, tr, cnt, sarr)
  private def zeros: Expression =
    Literal.create(Seq.fill(period)(0.0), ArrayType(DoubleType, true))
  override lazy val initialValues: Seq[Expression] = Seq(
    Literal(null, DoubleType), Literal(null, DoubleType),
    Literal(0), zeros)
  private def pos: Expression = Remainder(cnt, Literal(period))
  private def sPrev: Expression = ElementAt(sarr, Add(pos, Literal(1)))
  // l' duplicated VERBATIM into b' and s[p]' so the arithmetic matches
  // the oracle's inlined lambda exactly (the HoltAgg convention)
  private def lNew: Expression =
    Add(Multiply(Subtract(child, sPrev), Literal(alpha)),
      Multiply(Add(lv, tr), Literal(1.0 - alpha)))
  private def sNew: Expression =
    Add(Multiply(Subtract(child, lNew), Literal(gamma)),
      Multiply(sPrev, Literal(1.0 - gamma)))
  private def seeded: Expression = GreaterThan(cnt, Literal(0))
  override lazy val updateExpressions: Seq[Expression] = Seq(
    If(IsNull(child), lv, If(seeded, lNew, child)),
    If(IsNull(child), tr,
      If(seeded,
        Add(Multiply(Subtract(lNew, lv), Literal(beta)),
          Multiply(tr, Literal(1.0 - beta))),
        Literal(0.0))),
    If(IsNull(child), cnt, Add(cnt, Literal(1))),
    If(IsNull(child), sarr,
      If(seeded,
        Concat(Seq(Slice(sarr, Literal(1), pos), CreateArray(Seq(sNew)),
          Slice(sarr, Add(pos, Literal(2)),
            Subtract(Literal(period - 1), pos)))),
        sarr)))
  override lazy val mergeExpressions: Seq[Expression] = Seq(
    Literal(null, DoubleType), Literal(null, DoubleType),
    Literal(0), zeros)
  override lazy val evaluateExpression: Expression =
    CreateNamedStruct(Seq(
      Literal("level"), lv, Literal("trend"), tr,
      Literal("seasonal"),
      If(GreaterThan(cnt, Literal(0)),
        ElementAt(sarr,
          Add(Remainder(Subtract(cnt, Literal(1)), Literal(period)),
            Literal(1))),
        Literal(null, DoubleType)),
      // the NEXT slot's seasonal component — what the one-step-ahead
      // forecast l + b + s_next needs
      Literal("ahead"),
      If(GreaterThan(cnt, Literal(0)),
        ElementAt(sarr, Add(Remainder(cnt, Literal(period)), Literal(1))),
        Literal(null, DoubleType))))
  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): HwAgg = copy(child = cs.head)
}

/** Identity wrapper that pins a predicate where the user wrote it.
  *
  * Declares `deterministic = false`, which every relocation rule
  * (PushPredicateThroughJoin, PushPredicateThroughNonJoin, …) treats
  * as "do not move" — while evaluation and codegen are a pure
  * passthrough of the child, so the VALUE is still deterministic.
  *
  * Needed by StreamRangeJoin: its exact `[begin, end)` containment
  * must run as a post-join filter, because if Catalyst folds it back
  * into the stream-stream join condition, the raw (non-watermarked)
  * long conjuncts make `StreamingJoinHelper.getStateValueWatermark`
  * throw while solving each conjunct (WARN "Error trying to extract
  * state constraint" per batch). Use ONLY where pinning evaluation
  * order is the point — it also (intentionally) blocks pushdown into
  * scans.
  */
case class PushdownBarrier(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override lazy val deterministic: Boolean = false
  override def nullable: Boolean = child.nullable
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }
  override protected def withNewChildInternal(c: Expression): PushdownBarrier =
    copy(c)
}

object GraftExpressions {
  import org.apache.spark.sql.catalyst.expressions.Literal
  def poly_hash(c: Column): Column = Bridge.toCol(PolyHash(Bridge.toExpr(c)))

  /** See [[PushdownBarrier]]. */
  def no_pushdown(c: Column): Column =
    Bridge.toCol(PushdownBarrier(Bridge.toExpr(c)))

  /** Catalyst's BloomFilterAggregate (the sketch behind Spark's own
    * runtime row-level filtering, not SQL-registered): folds a LONG
    * column into a fixed-size Bloom filter blob. Mergeable across
    * partitions, so the build is one partial-agg'd pass.
    */
  def bloom_filter_agg(c: Column, estimatedItems: Long, numBits: Long): Column =
    Bridge.toCol(new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(Bridge.toExpr(c), Literal(estimatedItems),
        Literal(numBits)).toAggregateExpression())

  /** Membership probe against a CONSTANT Bloom blob (collected once on
    * the driver — the same shape Spark's InjectRuntimeFilter produces
    * via scalar subquery). False positives only, never negatives.
    */
  def bloom_might_contain(blob: Array[Byte], c: Column): Column =
    Bridge.toCol(org.apache.spark.sql.catalyst.expressions
      .BloomFilterMightContain(Literal(blob, BinaryType), Bridge.toExpr(c)))
  /** Window-frame EWMA fold (see [[EwmaAgg]]); use with `.over(w)`. */
  def ewma_fold(c: Column, alpha: Double): Column =
    Bridge.toCol(EwmaAgg(Bridge.toExpr(c), alpha)
      .toAggregateExpression(isDistinct = false))
  /** Window-frame Holt fold (see [[HoltAgg]]); use with `.over(w)`. */
  def holt_fold(c: Column, alpha: Double, beta: Double): Column =
    Bridge.toCol(HoltAgg(Bridge.toExpr(c), alpha, beta)
      .toAggregateExpression(isDistinct = false))
  /** Window-frame burst-Viterbi fold (see [[BurstAgg]]); use with `.over(w)`. */
  def burst_fold(gap: Column, lam0: Double, lam1: Double,
                 gamma: Double): Column =
    Bridge.toCol(BurstAgg(Bridge.toExpr(gap), lam0, lam1, gamma)
      .toAggregateExpression(isDistinct = false))
  /** Window-frame Holt-Winters fold (see [[HwAgg]]); use with `.over(w)`. */
  def hw_fold(c: Column, alpha: Double, beta: Double, gamma: Double,
              period: Int): Column =
    Bridge.toCol(HwAgg(Bridge.toExpr(c), alpha, beta, gamma, period)
      .toAggregateExpression(isDistinct = false))
  def shingle_hashes(tokens: Column, n: Int): Column =
    Bridge.toCol(ShingleHashes(Bridge.toExpr(tokens), n))
  def char_gram_hashes(text: Column, k: Int): Column =
    Bridge.toCol(CharGramHashes(Bridge.toExpr(text), k))
  def index_sum_long(indices: Column, weights: Column): Column =
    Bridge.toCol(IndexSumLong(Bridge.toExpr(indices), Bridge.toExpr(weights)))
  def vec_dot(a: Column, b: Column): Column =
    Bridge.toCol(VecDot(Bridge.toExpr(a), Bridge.toExpr(b)))
  def vec_dot_d(a: Column, b: Column): Column =
    Bridge.toCol(VecDotD(Bridge.toExpr(a), Bridge.toExpr(b)))
  def vec_cast_d(a: Column): Column =
    Bridge.toCol(VecCastD(Bridge.toExpr(a)))
  def vec_sub_dd(a: Column, b: Column): Column =
    Bridge.toCol(VecSubDD(Bridge.toExpr(a), Bridge.toExpr(b)))
  def vec_add_fd(a: Column, b: Column): Column =
    Bridge.toCol(VecAddFD(Bridge.toExpr(a), Bridge.toExpr(b)))
  def token_count_vec(toks: Column, dim: Int): Column =
    Bridge.toCol(TokenCountVec(Bridge.toExpr(toks), dim))
  def vec_sub_l2(a: Column, b: Column, s: Column, len: Int): Column =
    Bridge.toCol(VecSubL2(Bridge.toExpr(a), Bridge.toExpr(b),
      Bridge.toExpr(s), len))
  def vec_sub_l2_d(a: Column, b: Column, s: Column, len: Int): Column =
    Bridge.toCol(VecSubL2D(Bridge.toExpr(a), Bridge.toExpr(b),
      Bridge.toExpr(s), len))
  def simhash24(tokens: Column): Column =
    Bridge.toCol(SimHash24(Bridge.toExpr(tokens)))
  def simhash_wide(tokens: Column): Column =
    Bridge.toCol(SimHashWide(Bridge.toExpr(tokens)))
  def lev_banded(a: Column, b: Column, k: Int): Column =
    Bridge.toCol(LevBanded(Bridge.toExpr(a), Bridge.toExpr(b), k))

  /** Builders shared by temp-function and extension registration;
    * integer args (shingle n, subspace len) must be literals.
    */
  private def litInt(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }
  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "poly_hash" -> (es => PolyHash(es.head)),
    "vec_dot" -> (es => VecDot(es.head, es(1))),
    "simhash24" -> (es => SimHash24(es.head)),
    "shingle_hashes" -> (es =>
      ShingleHashes(es.head, litInt(es(1), "shingle size"))),
    "vec_sub_l2" -> (es =>
      VecSubL2(es.head, es(1), es(2), litInt(es(3), "subspace len"))),
    "lev_banded" -> (es =>
      LevBanded(es.head, es(1), litInt(es(2), "distance threshold"))))

  /** Register SQL names so spark.sql("...") users get them too. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    builders.foreach { case (name, b) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, b, "scala_udf")
    }
}

/** Canonical extension-point registration:
  *
  *   spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions
  *
  * injects graft's native functions into every session of the cluster
  * (the spark-submit-friendly alternative to calling
  * GraftExpressions.register on a live session).
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftExpressions.builders.foreach { case (name, b) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), b))
    }
    // inert until spark.graft.rangeJoin.bucketUs is set positive
    e.injectOptimizerRule(_ => BandedRangeJoinRule)
  }
}
