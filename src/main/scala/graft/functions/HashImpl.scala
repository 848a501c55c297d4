package graft.functions

import org.apache.spark.SparkException
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.unsafe.types.UTF8String

/** Tight-loop implementations backing the native Catalyst expressions
  * in [[GraftExpressions]]. Called from generated code (one static call
  * per row instead of one lambda dispatch per element), so these loops
  * ARE the hot path — keep them allocation-free where possible.
  *
  * Arithmetic parity contract: byte-for-byte the same results as the
  * higher-order-function formulations and the DuckDB oracle SQL —
  * a left fold of (acc*31 + codepoint) mod 1e9+7 for hashes, a left
  * fold of double products for dots.
  */
object HashImpl {
  val Mod = 1000000007L

  /** Hashes of every k-code-point substring ("char k-gram") of `s`,
    * one per start position, rolling in O(n) total: h_{i+1} =
    * ((h_i − cp_i·31^{k-1})·31 + cp_{i+k-1}) mod p — modular
    * arithmetic, so bit-identical to hashing each substring directly
    * (the DuckDB oracle's substr + fold formulation). Strings shorter
    * than k yield an empty array.
    */
  def charGramHashes(s: UTF8String, k: Int): ArrayData = {
    val str = s.toString
    val cps = str.codePoints().toArray
    val n = cps.length
    if (n < k) return new GenericArrayData(new Array[Long](0))
    val out = new Array[Long](n - k + 1)
    var pw = 1L // 31^(k-1) mod p
    var i = 1
    while (i < k) { pw = pw * 31L % Mod; i += 1 }
    var acc = 0L
    i = 0
    while (i < k) { acc = (acc * 31L + cps(i)) % Mod; i += 1 }
    out(0) = acc
    i = 1
    while (i <= n - k) {
      // cp < 2^21 and pw < 2^30, so every product stays under 2^52
      acc = (acc - cps(i - 1) * pw % Mod + Mod) % Mod
      acc = (acc * 31L + cps(i + k - 1)) % Mod
      out(i) = acc
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Rolling hash over Unicode code points (= DuckDB ord()). ASCII
    * fast path iterates raw bytes without decoding.
    */
  def polyHash(s: UTF8String): Long = {
    val n = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var acc = 0L
    var i = 0
    while (i < n) {
      val b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
      if (b < 0) { // non-ASCII: recompute over code points
        val str = s.toString
        acc = 0L
        var j = 0
        while (j < str.length) {
          val cp = str.codePointAt(j)
          acc = (acc * 31L + cp) % Mod
          j += Character.charCount(cp)
        }
        return acc
      }
      acc = (acc * 31L + b) % Mod
      i += 1
    }
    acc
  }

  /** Continue a rolling hash through one more string's code points. */
  private def foldString(acc0: Long, s: UTF8String): Long = {
    val n = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var acc = acc0
    var i = 0
    while (i < n) {
      val b = org.apache.spark.unsafe.Platform.getByte(base, off + i)
      if (b >= 0) {
        acc = (acc * 31L + b) % Mod
        i += 1
      } else {
        // rare non-ASCII: fall back to code-point decoding for the rest
        val str = s.toString
        var j = 0
        acc = acc0
        while (j < str.length) {
          val cp = str.codePointAt(j)
          acc = (acc * 31L + cp) % Mod
          j += Character.charCount(cp)
        }
        return acc
      }
    }
    acc
  }

  /** Hashes of the word n-gram shingles of a token array: shingle i is
    * tokens[i..i+n-1] joined with a single space; its hash equals
    * polyHash of that joined string (computed without building it).
    */
  def shingleHashes(tokens: ArrayData, n: Int): ArrayData = {
    val nTok = tokens.numElements()
    val out = if (nTok < n) new Array[Long](0) else new Array[Long](nTok - n + 1)
    var i = 0
    while (i < out.length) {
      var acc = 0L
      var k = 0
      while (k < n) {
        if (k > 0) acc = (acc * 31L + 32L) % Mod // the joining space
        acc = foldString(acc, tokens.getUTF8String(i + k))
        k += 1
      }
      out(i) = acc
      i += 1
    }
    new GenericArrayData(out)
  }

  /** 24-bit SimHash over a token array (occurrences weighted): each
    * token's mixed hash ((polyHash*2654435761) mod 2^31) votes +1/-1
    * per bit; bit set when the vote sum is positive. Single pass per
    * document — replaces an explode + 24 aggregates.
    */
  /** 60-bit SimHash — the production-width twin of [[simhash24]] (24
    * bits is a TEST geometry: its random collision floor n²·bands/2^8
    * goes super-linear at corpus scale, exactly like the 16-bit stub
    * phash). Two 30-bit mixes of the token's poly hash vote bits
    * 0..29 and 30..59: h1 is the Knuth multiplicative mix mod 2^30;
    * h2 SQUARES an affine transform mod the prime [[Mod]] (the stub
    * phash's squared-mix idiom) — squaring mod a prime is non-affine
    * in p, so no h2 bit is a linear function of h1's bits (a purely
    * affine h2 would make votes(30) == -votes(0) for every token,
    * welding signature bits 0 and 30 together and charging near-dup
    * pairs hamming 2 for one effective bit). Every product stays
    * under 2^62, so the identical arithmetic runs as DuckDB BIGINT
    * without overflow.
    */
  def simhashWide(tokens: ArrayData): Long = {
    val votes = new Array[Long](60)
    val nTok = tokens.numElements()
    var t = 0
    while (t < nTok) {
      val p = polyHash(tokens.getUTF8String(t))
      val h1 = (p * 2654435761L) % 1073741824L
      val t2 = (p * 2246822519L + 1013904223L) % Mod
      val h2 = (t2 * t2) % Mod // < Mod < 2^30: 30 usable vote bits
      var i = 0
      while (i < 30) {
        if (((h1 >> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
        if (((h2 >> i) & 1L) == 1L) votes(30 + i) += 1 else votes(30 + i) -= 1
        i += 1
      }
      t += 1
    }
    var sh = 0L
    var i = 0
    while (i < 60) {
      if (votes(i) > 0) sh |= (1L << i)
      i += 1
    }
    sh
  }

  def simhash24(tokens: ArrayData): Long = {
    val votes = new Array[Long](24)
    val nTok = tokens.numElements()
    var t = 0
    while (t < nTok) {
      val th = (polyHash(tokens.getUTF8String(t)) * 2654435761L) % 2147483648L
      var i = 0
      while (i < 24) {
        if (((th >> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
        i += 1
      }
      t += 1
    }
    var sh = 0L
    var i = 0
    while (i < 24) {
      if (votes(i) > 0) sh |= (1L << i)
      i += 1
    }
    sh
  }

  /** Left-fold dot product of two float vectors in double precision —
    * same order as the index-fold SQL, so bit-identical.
    */
  def vecDot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** [[vecDot]] over double vectors (e.g. centroid arrays) — same
    * left-fold order.
    */
  def vecDotD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** Squared L2 distance over the 0-based element range
    * [from, from+len) of two float vectors, each element widened to
    * double before the subtract — the PQ subspace distance. Same
    * left-fold order as the (a[i]-b[i])*(a[i]-b[i]) HOF/oracle fold,
    * so bit-identical.
    */
  def vecSubL2(a: ArrayData, b: ArrayData, from: Int, len: Int): Double = {
    val end = math.min(math.min(a.numElements(), b.numElements()), from + len)
    var acc = 0.0
    var i = from
    while (i < end) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  /** [[vecSubL2]] over DOUBLE arrays (residual-quantization level 2:
    * residuals are exact float-difference doubles) — same fold order,
    * same IEEE ops, so it is definitionally identical to the HOF
    * zip_with/aggregate formulation it replaces.
    */
  def vecSubL2D(a: ArrayData, b: ArrayData, from: Int, len: Int): Double = {
    val end = math.min(math.min(a.numElements(), b.numElements()), from + len)
    var acc = 0.0
    var i = from
    while (i < end) {
      val d = a.getDouble(i) - b.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** Banded Levenshtein distance with threshold: the exact distance
    * when it is <= k, else -1 — the same contract as Spark's 3-arg
    * `levenshtein`, but ~10x faster on ASCII text: the builtin decodes
    * UTF-8 characters inside the O(len·k) inner loop (numBytesForFirstByte
    * per cell); this fast path runs the two-row banded DP directly over
    * the BYTES, which is char-exact whenever both strings are pure
    * ASCII (numChars == numBytes). Multibyte inputs defer to the
    * builtin's char-exact path, so results are identical for ALL
    * inputs (EditParity in ExpressionParitySpec pins this).
    *
    * Band bookkeeping follows the classic threshold algorithm: cells
    * outside the |i-j| <= k band hold a large sentinel; a cell at the
    * band's leading edge is first touched on its own row, and the
    * trailing-edge cell is explicitly re-sentineled because the
    * two-row ping-pong would otherwise expose a stale value.
    */
  def levBanded(a: UTF8String, b: UTF8String, k: Int): Int = {
    if (k < 0) return -1
    if (a.numChars() != a.numBytes() || b.numChars() != b.numBytes())
      return a.levenshteinDistance(b, k)
    var s = a
    var t = b
    if (s.numBytes() > t.numBytes()) { val tmp = s; s = t; t = tmp }
    val n = s.numBytes()
    val m = t.numBytes()
    if (m - n > k) return -1
    if (n == 0) return m // m - n <= k already
    val Big = 1 << 29
    var p = new Array[Int](n + 1)
    var d = new Array[Int](n + 1)
    val boundary = math.min(n, k) + 1
    var i = 0
    while (i < boundary) { p(i) = i; i += 1 }
    java.util.Arrays.fill(p, boundary, n + 1, Big)
    java.util.Arrays.fill(d, Big)
    var j = 1
    while (j <= m) {
      val tj = t.getByte(j - 1)
      d(0) = j
      val lo = math.max(1, j - k)
      val hi = math.min(n, j + k)
      if (lo > hi) return -1
      if (lo > 1) d(lo - 1) = Big
      var rowMin = Big
      var ii = lo
      while (ii <= hi) {
        val v = if (s.getByte(ii - 1) == tj) p(ii - 1)
          else 1 + math.min(math.min(d(ii - 1), p(ii)), p(ii - 1))
        d(ii) = v
        if (v < rowMin) rowMin = v
        ii += 1
      }
      // early exit is sound only once the column-0 cell (cost j) is
      // itself over budget — before that a path can still wait in
      // column 0 and re-enter the band cheaply on a later match
      if (rowMin > k && j > k) return -1
      val tmp = p; p = d; d = tmp
      j += 1
    }
    if (p(n) <= k) p(n) else -1
  }

  /** Σ weights[indices(i)] over a long-index array into a long-weight
    * array — the hashed-classifier margin fold (sum of per-bucket
    * µ-unit weights over a doc's feature buckets). Exact 64-bit adds in
    * array order: bit-identical to the HOF
    * aggregate(fb, 0L, (acc, b) => acc + element_at(w, b+1)) it
    * replaces, which evaluated an interpreted lambda per feature
    * (measured 54 task-seconds on the 3-epoch training query; this
    * loop is codegen-callable and allocation-free). Indices are
    * 0-based and MUST be in [0, weights.length) — callers bucket with
    * pmod(·, |weights|), and the trainStep guard pins table density.
    */
  def indexSumLong(indices: ArrayData, weights: ArrayData): Long = {
    val n = indices.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += weights.getLong(indices.getLong(i).toInt)
      i += 1
    }
    acc
  }

  /** Input contract of the three vector kernels below: every element
    * non-null and, for the binary ones, equal lengths. Their output
    * type declares `containsNull = false`, so a null cannot be passed
    * through, and `getFloat`/`getDouble` on a null slot reads 0.0 —
    * a violation fails the task instead, naming the expression.
    */
  private def nullElement(expr: String, i: Int): SparkException =
    new SparkException(s"$expr: null element at index $i; " +
      "the kernel requires arrays without null elements")

  private def sameLength(expr: String, a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (b.numElements() != n) throw new SparkException(
      s"$expr: array lengths differ ($n vs ${b.numElements()})")
    n
  }

  /** Float array widened to double — bit-identical to the interpreted
    * `transform(v, x => x.cast("double"))` (float→double is exact) on
    * null-free input, one tight loop per ROW instead of a lambda
    * dispatch per element.
    */
  def vecCastD(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) throw nullElement("VecCastD", i)
      out(i) = a.getFloat(i).toDouble
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** Elementwise a(i) − b(i) over two double arrays — bit-identical to
    * `zip_with(a, b, (x, y) => x - y)` (same IEEE op, index order) on
    * equal-length null-free input (vector/centroid pairs).
    */
  def vecSubDD(a: ArrayData, b: ArrayData): ArrayData = {
    val n = sameLength("VecSubDD", a, b)
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) throw nullElement("VecSubDD", i)
      out(i) = a.getDouble(i) - b.getDouble(i)
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** Elementwise a(i) + b(i), float + double (a widened first) — the
    * RQ reconstruction c1 + c2; bit-identical to
    * `zip_with(a, b, (x, y) => x.cast("double") + y)` on equal-length
    * null-free input.
    */
  def vecAddFD(a: ArrayData, b: ArrayData): ArrayData = {
    val n = sameLength("VecAddFD", a, b)
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) throw nullElement("VecAddFD", i)
      out(i) = a.getFloat(i).toDouble + b.getDouble(i)
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** Hashed token-count vector: out(j) = |{t : polyHash(t) mod dim = j}|
    * as floats — ONE polyHash per token, bit-identical to the 16-fold
    * `transform(sequence(0, dim-1), j => size(filter(toks, t =>
    * pmod(polyHash(t), dim) === j)).cast("float"))` formulation that
    * re-hashed every token once PER BUCKET. Null tokens are skipped
    * (the filter predicate is null for them, so they never counted).
    * Counts are small integers, so the int→float cast is exact.
    */
  def tokenCountVec(toks: ArrayData, dim: Int): ArrayData = {
    val counts = new Array[Int](dim)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val h = polyHash(toks.getUTF8String(i))
        counts((((h % dim) + dim) % dim).toInt) += 1
      }
      i += 1
    }
    val out = new Array[Float](dim)
    var j = 0
    while (j < dim) { out(j) = counts(j).toFloat; j += 1 }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** The max-cosine entry of a codebook for one vector, as
    * `(cid, cos)`. `book` is `array<struct<cid, cvec, cn>>`, and each
    * entry scores cos = dot(vec, cvec) / (norm * cn), the dot being
    * [[vecDotD]] for double vectors and [[vecDot]] for float ones.
    * The result is bit-identical to `max(struct(cos, −cid))` over the
    * vector's crossJoin with the codebook rows:
    *  - each cos follows Catalyst's `Divide`: a null divisor gives
    *    null; a zero divisor gives null without ANSI; a null dividend
    *    gives null; a zero divisor with a non-null dividend raises the
    *    ANSI DIVIDE_BY_ZERO error;
    *  - entries compare like Spark's struct order: a null cos is the
    *    smallest, doubles compare by `SQLOrderingUtil.compareDoubles`
    *    (NaN largest, −0.0 == 0.0), and a cos tie goes to the smaller
    *    cid.
    * Every entry is scored, so a zero divisor anywhere fails the row,
    * as it fails the crossJoin. An empty or null codebook yields null
    * (the crossJoin yields no row).
    */
  def nearestCentroid(vec: ArrayData, normNull: Boolean, norm: Double,
                      book: ArrayData, isDouble: Boolean,
                      ansi: Boolean): InternalRow = {
    if (book == null) return null
    var found = false
    var bestCid = 0L
    var bestNull = true
    var bestCos = 0.0
    val n = book.numElements()
    var j = 0
    while (j < n) {
      if (!book.isNullAt(j)) {
        val e = book.getStruct(j, 3)
        val cid = e.getLong(0)
        var cosNull = true
        var cos = 0.0
        if (!normNull && !e.isNullAt(2)) {
          val den = norm * e.getDouble(2)
          if ((ansi || den != 0.0) && vec != null && !e.isNullAt(1)) {
            val cv = e.getArray(1)
            val d = if (isDouble) vecDotD(vec, cv) else vecDot(vec, cv)
            if (den == 0.0) throw org.apache.spark.sql.graft.Bridge.divideByZero()
            cos = d / den
            cosNull = false
          }
        }
        val c =
          if (cosNull) { if (bestNull) 0 else -1 }
          else if (bestNull) 1
          else SQLOrderingUtil.compareDoubles(cos, bestCos)
        if (!found || c > 0 || (c == 0 && -cid > -bestCid)) {
          found = true
          bestCid = cid
          bestNull = cosNull
          bestCos = cos
        }
      }
      j += 1
    }
    if (!found) null
    else new GenericInternalRow(Array[Any](bestCid, if (bestNull) null else bestCos))
  }

  /** One cluster's running member count and per-component vector sum:
    * the buffer entry of [[centroidAdd]].
    */
  final class ClusterSum(var n: Long, val sum: Array[Double])

  /** Fold one non-null member vector into its cluster's
    * [[ClusterSum]] (the aggregate skips null vectors: they have no
    * components to average). A null element, or a length that differs
    * from the cluster's first member, fails the task.
    */
  def centroidAdd(buf: scala.collection.mutable.LongMap[ClusterSum],
                  cid: Long, v: ArrayData): Unit = {
    val len = v.numElements()
    val acc = buf.getOrElseUpdate(cid, new ClusterSum(0L, new Array[Double](len)))
    if (acc.sum.length != len) throw new SparkException(
      s"CentroidUpdate: array lengths differ (${acc.sum.length} vs $len) in cluster $cid")
    var i = 0
    while (i < len) {
      if (v.isNullAt(i)) throw nullElement("CentroidUpdate", i)
      acc.sum(i) += v.getDouble(i)
      i += 1
    }
    acc.n += 1
  }

  /** Add partial buffer `b` into `a`, component by component. */
  def centroidMerge(a: scala.collection.mutable.LongMap[ClusterSum],
                    b: scala.collection.mutable.LongMap[ClusterSum]): Unit =
    b.foreach { case (cid, x) =>
      a.get(cid) match {
        case None => a.update(cid, x)
        case Some(acc) =>
          if (acc.sum.length != x.sum.length) throw new SparkException(
            s"CentroidUpdate: array lengths differ (${acc.sum.length} vs " +
              s"${x.sum.length}) in cluster $cid")
          var i = 0
          while (i < x.sum.length) { acc.sum(i) += x.sum(i); i += 1 }
          acc.n += x.n
      }
    }

  /** The next codebook, sorted by cid: each cluster's centroid is
    * `round(sum / n, 6)` per component, exactly what `avg` and then
    * `round(·, 6)` give (Spark rounds a double HALF_UP through
    * `BigDecimal.valueOf`), and `cn` is its [[vecDotD]] norm.
    */
  def centroidBook(buf: scala.collection.mutable.LongMap[ClusterSum]): ArrayData = {
    val rows = buf.keys.toArray.sorted.map[Any] { cid =>
      val acc = buf(cid)
      val c = acc.sum.map { s =>
        val m = s / acc.n.toDouble
        if (m.isNaN || m.isInfinite) m
        else java.math.BigDecimal.valueOf(m)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
      }
      val cv = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(c)
      new GenericInternalRow(Array[Any](cid, cv, math.sqrt(vecDotD(cv, cv))))
    }
    new GenericArrayData(rows)
  }

  def centroidSerialize(buf: scala.collection.mutable.LongMap[ClusterSum]): Array[Byte] = {
    val bytes = buf.valuesIterator.map(x => 20 + 8 * x.sum.length).sum
    val bb = java.nio.ByteBuffer.allocate(4 + bytes)
    bb.putInt(buf.size)
    buf.foreach { case (cid, x) =>
      bb.putLong(cid).putLong(x.n).putInt(x.sum.length)
      x.sum.foreach(s => bb.putDouble(s))
    }
    bb.array()
  }

  def centroidDeserialize(bytes: Array[Byte]): scala.collection.mutable.LongMap[ClusterSum] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = scala.collection.mutable.LongMap.empty[ClusterSum]
    (0 until bb.getInt()).foreach { _ =>
      val cid = bb.getLong()
      val n = bb.getLong()
      val sum = Array.fill(bb.getInt())(0.0)
      var i = 0
      while (i < sum.length) { sum(i) = bb.getDouble(); i += 1 }
      buf.update(cid, new ClusterSum(n, sum))
    }
    buf
  }
}
