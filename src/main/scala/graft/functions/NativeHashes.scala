package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hash-heavy pipeline operators.
  *
  * The SQL-functions formulation (split → transform → aggregate lambdas)
  * is semantically identical but interpreted per element (~4 ms/doc for a
  * 32-permutation MinHash signature); these expressions evaluate the whole
  * signature in one JIT-compiled call (~µs/doc) while keeping the row
  * inside whole-stage codegen. Same numbers, ~1000× per-row cost drop —
  * the difference between a toy and a 100 TB dedup pass.
  *
  * All hashes are the engine-independent polynomial scheme of
  * [[NativeHashes.poly_hash]], so the DuckDB oracle replays them.
  */
object HashImpls {
  val P: Long = 1000000007L
  val B: Long = 131L

  /** Rolling hash over the UTF-16 code units of `s` (== codepoints == ascii
    * codes for ASCII input, matching both `ascii()`-based lambda replay and
    * the DuckDB oracle). */
  def polyHash(s: String): Long = {
    var acc = 0L
    var i = 0
    while (i < s.length) {
      acc = (acc * B + s.charAt(i)) % P
      i += 1
    }
    acc
  }

  def tokenHashes(s: String): Array[Long] = {
    val toks = s.toLowerCase.split("\\s+", -1)
    val out = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) { out(i) = polyHash(toks(i)); i += 1 }
    out
  }

  /** Shingle hashes: poly-fold over k consecutive token hashes. */
  def shingleHashes(s: String, k: Int): Array[Long] = {
    val th = tokenHashes(s)
    val n = math.max(th.length - (k - 1), 1)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      var acc = 0L
      var j = 0
      while (j < k && i + j < th.length) {
        acc = (acc * B + th(i + j)) % P
        j += 1
      }
      out(i) = acc
      i += 1
    }
    out
  }

  /** MinHash signature: element p = min over shingles of (h·a_p + b_p) mod
    * MinhashP, parameters identical to [[graft.ops.Dedup.minhashParams]]. */
  def minhashSignature(s: String, numPerms: Int, k: Int): Array[Long] = {
    val mp = 2147483647L
    val sh = shingleHashes(s, k)
    val out = new Array[Long](numPerms)
    var p = 0
    while (p < numPerms) {
      val a = 2L * (p + 1) + 1L
      val b = 104729L * (p + 1) % mp
      var m = Long.MaxValue
      var i = 0
      while (i < sh.length) {
        val v = (sh(i) * a + b) % mp
        if (v < m) m = v
        i += 1
      }
      out(p) = m
      p += 1
    }
    out
  }

  /** Content-defined chunking (Rabin-style rolling hash, the stateless
    * ancestor of gear/FastCDC): a chunk boundary closes at 1-based end
    * position i when the rolling hash of the last `w` code units is
    * ≡ 0 (mod `divisor`); the final position always closes the last
    * chunk. Expected chunk length ≈ `divisor` characters. Returns per
    * chunk (pos, len, digest): 0-based start offset, length, and
    * polyHash of the chunk text. Content-defined boundaries survive
    * insertions/deletions upstream of them — shifted near-copies of a
    * document still share most chunk digests, which byte-offset
    * chunking destroys. One O(n) pass per row. */
  def cdcChunks(s: String, w: Int, divisor: Long)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val n = s.length
    if (n == 0) {
      return new Array[org.apache.spark.sql.catalyst.InternalRow](0)
    }
    var bw = 1L // B^w mod P: weight of the code unit leaving the window
    var j = 0
    while (j < w) { bw = bw * B % P; j += 1 }
    val bnds = new java.util.ArrayList[Int]()
    var h = 0L
    var i = 0
    while (i < n) {
      h = (h * B + s.charAt(i)) % P
      if (i >= w) h = ((h - s.charAt(i - w) * bw) % P + P) % P
      if (i >= w - 1 && h % divisor == 0L) bnds.add(i + 1)
      i += 1
    }
    if (bnds.isEmpty || bnds.get(bnds.size - 1) != n) bnds.add(n)
    val out =
      new Array[org.apache.spark.sql.catalyst.InternalRow](bnds.size)
    var prev = 0
    var k = 0
    while (k < bnds.size) {
      val end = bnds.get(k)
      out(k) = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(
          Array[Any](prev, end - prev, polyHash(s.substring(prev, end))))
      prev = end
      k += 1
    }
    out
  }

  /** Upper-triangle Gram pair structs (i, j, q_i·q_j) for one quantized
    * vector in a single compiled loop — the generator behind
    * [[graft.ops.Similarity.gramMatrix]]; the nested-transform lambda
    * twin evaluates interpreted HOFs per element — the native swap
    * measured ~2× end-to-end on the 64-dim gate corpus (more of the
    * remaining wall is the explode+aggregate, which is shared). */
  def gramPairs(a: org.apache.spark.sql.catalyst.util.ArrayData,
      scale: Long): GenericArrayData = {
    val d = a.numElements()
    val q = new Array[Long](d)
    var i = 0
    while (i < d) {
      q(i) = math.floor(a.getFloat(i).toDouble * scale + 0.5).toLong
      i += 1
    }
    val out = new Array[Any](d * (d + 1) / 2)
    var k = 0
    i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        out(k) = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(Array[Any](i, j, q(i) * q(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Deterministic ±1 Johnson–Lindenstrauss projection of a quantized
    * float vector — value-identical to the SQL-lambda spec
    * `SpecTwins.randomProjectionLambda` (CdcProjectionSpec): q_i =
    * floor(x_i·scale + 0.5), sign(j,i) from the parity bit of an LCG mix
    * of the flat index j·dim+i, out_j = Σ sign·q_i (exact longs). */
  def randomProjection(a: org.apache.spark.sql.catalyst.util.ArrayData,
      outDims: Int, scale: Long): Array[Long] = {
    val d = a.numElements()
    val q = new Array[Long](d)
    var i = 0
    while (i < d) {
      q(i) = math.floor(a.getFloat(i).toDouble * scale + 0.5).toLong
      i += 1
    }
    val out = new Array[Long](outDims)
    var j = 0
    while (j < outDims) {
      var acc = 0L
      var idx = j.toLong * d
      i = 0
      while (i < d) {
        val v = (1103515245L * idx + 12345L) % 2147483648L // idx>=0 → v>=0
        acc += (1L - 2L * ((v / 65536L) & 1L)) * q(i)
        idx += 1
        i += 1
      }
      out(j) = acc
      j += 1
    }
    out
  }

  /** Z-order (Morton) value of two coordinates: the low 31 bits of each
    * input (masked — negative inputs contribute their two's-complement
    * low bits, so callers should pass non-negative dimensions)
    * bit-interleaved into a 62-bit value, `a` on even positions, `b` on
    * odd. Monotone prefix locality: rows close in BOTH dimensions are
    * close in z, which is what makes range-partitioning by z give
    * min/max file skipping on both columns at once. */
  def zorder2(a: Long, b: Long): Long = {
    val x = a & 0x7FFFFFFFL
    val y = b & 0x7FFFFFFFL
    var z = 0L
    var i = 0
    while (i < 31) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  /** Left-fold dot product of two float arrays in double precision —
    * association identical to the lambda/oracle formulation. */
  def dotFloat(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** Squared L2 distance Σ (a_i − b_i)² between two BIGINT arrays —
    * value-identical to the `aggregate(zip_with(a, b, (x,m)=>(x−m)²),
    * 0, +)` lambda fold (exact integer arithmetic, association
    * irrelevant): null exactly when the lambda fold is null (length
    * mismatch pads a null element; any null element nulls the fold).
    * Returns boxed null in that case so the expression stays
    * nullable-correct. */
  def l2sqLong(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getLong(i) - b.getLong(i)
      acc += d * d
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  /** One-pass int8-quantization statistics of a float vector, value-
    * identical to the lambda formulation in
    * [[graft.ops.Similarity.quantizeInt8]]: scale = max|x|/127, q_i =
    * floor(x_i/scale + 0.5), and (q_sum, q_min, q_max, q_nonzero,
    * max|x - q·scale|). Returned as [scale, q_sum, q_min, q_max,
    * q_nonzero, max_abs_err] struct fields. */
  def quantizeStats(a: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val n = a.numElements()
    var absmax = 0.0
    var i = 0
    while (i < n) {
      val v = math.abs(a.getFloat(i).toDouble)
      if (v > absmax) absmax = v
      i += 1
    }
    val scale = absmax / 127.0
    var qsum = 0L
    var qmin = 0L
    var qmax = 0L
    var nonzero = 0L
    var err = 0.0
    if (scale != 0.0 && n > 0) {
      qmin = Long.MaxValue; qmax = Long.MinValue
      i = 0
      while (i < n) {
        val x = a.getFloat(i).toDouble
        val q = math.floor(x / scale + 0.5).toLong
        qsum += q
        if (q < qmin) qmin = q
        if (q > qmax) qmax = q
        if (q != 0L) nonzero += 1
        val e = math.abs(x - q * scale)
        if (e > err) err = e
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](scale, qsum, qmin, qmax, nonzero, err))
  }

  /** Sign-bit LSH signature: bit i set iff element i of the float vector
    * is positive, over the first `bits` elements. NaN counts as positive
    * — Spark SQL (and DuckDB) order NaN above every number, so the
    * SQL-lambda spec's `x > 0` is TRUE for NaN; a plain Java `>` would
    * silently diverge. Vectors shorter than `bits` leave high bits 0
    * (the lambda's zip_with null-pad). */
  def signBits(a: org.apache.spark.sql.catalyst.util.ArrayData,
      bits: Int): Long = {
    val n = math.min(bits, a.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val f = a.getFloat(i)
      if (f > 0 || java.lang.Float.isNaN(f)) acc |= (1L << i)
      i += 1
    }
    acc
  }

  /** Sorted-distinct packed char n-grams of `s`: each gram's n code points
    * packed into one long (21 bits per code point — lossless for any
    * Unicode scalar, so the packing is a bijection onto the substring
    * set; requires n ≤ 3). Code-point windows match Spark's and DuckDB's
    * code-point-based `substr`. */
  def packedCharNgrams(s: String, n: Int): Array[Long] = {
    val cps = s.codePoints().toArray
    if (cps.length < n) return Array.emptyLongArray
    val m = cps.length - n + 1
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var acc = 0L
      var j = 0
      while (j < n) { acc = (acc << 21) | cps(i + j); j += 1 }
      out(i) = acc
      i += 1
    }
    java.util.Arrays.sort(out)
    var w = 0
    var r = 0
    while (r < m) {
      if (r == 0 || out(r) != out(r - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    if (w == m) out else java.util.Arrays.copyOf(out, w)
  }

  /** Char n-gram Jaccard via sorted-merge of packed grams — value-identical
    * to try_divide(size(intersect), size(union)) over substring arrays
    * (the SQL-lambda spec) at a fraction of the cost (no string arrays, no
    * boxing, one pass). Returns NaN for an empty union; the wrapping
    * expression maps that to NULL like try_divide does. */
  def charNgramJaccard(a: UTF8String, b: UTF8String, n: Int): Double = {
    val la = packedCharNgrams(a.toString, n)
    val lb = packedCharNgrams(b.toString, n)
    var i = 0
    var j = 0
    var common = 0
    while (i < la.length && j < lb.length) {
      val c = java.lang.Long.compare(la(i), lb(j))
      if (c == 0) { common += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    common.toDouble / (la.length + lb.length - common)
  }

  /** Jaro-Winkler similarity, matching the semantics DuckDB's
    * `jaro_winkler_similarity` exposes (the published Winkler variant):
    * match window `max(|a|,|b|)/2 - 1`, transpositions = half the
    * out-of-order matches, empty input → 0 (NOT 1, even for two empty
    * strings), and the prefix boost (p = 0.1, prefix ≤ 4) applied only
    * when the base Jaro score exceeds 0.7. Association order of the
    * three-term Jaro mean is the textbook left-to-right one; gate
    * queries round to 6 digits like every float export. */
  def jaroWinkler(ua: UTF8String, ub: UTF8String): Double = {
    val a = ua.toString
    val b = ub.toString
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val aMatch = new Array[Boolean](la)
    val bMatch = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val hi = math.min(lb - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if (!bMatch(j) && a.charAt(i) == b.charAt(j)) {
          aMatch(i) = true; bMatch(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var halfT = 0
    var k = 0
    i = 0
    while (i < la) {
      if (aMatch(i)) {
        while (!bMatch(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) halfT += 1
        k += 1
      }
      i += 1
    }
    val t = halfT / 2
    val jaro = (m.toDouble / la + m.toDouble / lb + (m - t).toDouble / m) / 3.0
    if (jaro <= 0.7) return jaro
    var l = 0
    val maxL = math.min(4, math.min(la, lb))
    while (l < maxL && a.charAt(l) == b.charAt(l)) l += 1
    jaro + l * 0.1 * (1.0 - jaro)
  }

  /** 32-bit SimHash over token hashes (bit j set iff Σ±1 over bit j > 0). */
  def simhash32(s: String): Long = {
    val th = tokenHashes(s)
    val counts = new Array[Int](32)
    var i = 0
    while (i < th.length) {
      val h = th(i)
      var j = 0
      while (j < 32) {
        if (((h >> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 32) {
      if (counts(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }
}

/** poly_hash(str): engine-independent rolling hash (codegen'd). */
case class PolyHashExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    HashImpls.polyHash(v.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashImpls.polyHash($c.toString())")
  override protected def withNewChildInternal(c: Expression): PolyHashExpr = copy(c)
}

/** minhash_sig(str): full MinHash signature as array<long> in one call. */
case class MinHashSigExpr(child: Expression, numPerms: Int, shingleK: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(
      HashImpls.minhashSignature(v.asInstanceOf[UTF8String].toString, numPerms, shingleK))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.HashImpls.minhashSignature($c.toString(), $numPerms, $shingleK))")
  override protected def withNewChildInternal(c: Expression): MinHashSigExpr =
    copy(child = c)
}

/** shingle_hashes(str): the k-shingle hash array in one call. */
case class ShingleHashesExpr(child: Expression, shingleK: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(
      HashImpls.shingleHashes(v.asInstanceOf[UTF8String].toString, shingleK))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.HashImpls.shingleHashes($c.toString(), $shingleK))")
  override protected def withNewChildInternal(c: Expression): ShingleHashesExpr =
    copy(child = c)
}

/** zorder2(a, b): 62-bit Morton interleave of two long coordinates
  * (codegen'd). Declares bigint inputs so int columns get analysis-time
  * casts. */
case class ZOrder2Expr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType, LongType)
  override def dataType: DataType = LongType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashImpls.zorder2(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.HashImpls.zorder2($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): ZOrder2Expr = copy(left = l, right = r)
}

/** cdc_chunks(str): content-defined chunk (pos, len, digest) structs in
  * one O(n) rolling pass (codegen'd — the lambda replay is O(n·w)). */
case class CdcChunksExpr(child: Expression, w: Int, divisor: Long)
    extends UnaryExpression {
  require(w >= 2, s"window must be >= 2, got $w")
  require(divisor >= 2, s"divisor must be >= 2, got $divisor")
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("len", IntegerType, nullable = false),
    StructField("digest", LongType, nullable = false))),
    containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(HashImpls.cdcChunks(
      v.asInstanceOf[UTF8String].toString, w, divisor)
      .asInstanceOf[Array[Any]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.HashImpls.cdcChunks($c.toString(), $w, ${divisor}L))")
  override protected def withNewChildInternal(c: Expression): CdcChunksExpr =
    copy(child = c)
}

/** simhash32(str): 32-bit SimHash in one call. */
/** sign_bits(vec, bits): sign-bit LSH bucket of a float vector in one
  * JIT loop (NaN positive, matching SQL comparison semantics — see
  * [[HashImpls.signBits]]). Declares array<float> input so a caller's
  * array<double> vector gets a Catalyst cast inserted at analysis time —
  * [[HashImpls.signBits]] reads 4-byte float slots, and an unsafe
  * array<double> fed to it directly would yield silently wrong buckets. */
case class SignBitsExpr(child: Expression, bits: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(bits >= 1 && bits <= 63, s"bits must be in [1, 63], got $bits")
  // Seq[DataType] (covariant override; AbstractDataType is private[sql])
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    HashImpls.signBits(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashImpls.signBits($c, $bits)")
  override protected def withNewChildInternal(c: Expression): SignBitsExpr =
    copy(child = c)
}

/** random_projection(vec): deterministic ±1 JL projection in one JIT loop
  * (the nested-lambda spec pays ~outDims·dim interpreted calls per row).
  * Declares array<float> input like [[SignBitsExpr]] so array<double>
  * callers get an analysis-time cast. */
case class RandomProjectionExpr(child: Expression, outDims: Int, scale: Long)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(outDims >= 1, s"outDims must be >= 1, got $outDims")
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(HashImpls.randomProjection(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      outDims, scale))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
        s"graft.functions.HashImpls.randomProjection($c, $outDims, ${scale}L))")
  override protected def withNewChildInternal(c: Expression): RandomProjectionExpr =
    copy(child = c)
}

/** gram_pairs(vec, scale): upper-triangle (i, j, q_i·q_j) structs of the
  * fixed-point-quantized vector — one JIT-compiled call per row feeding
  * the Gram-matrix partial aggregation; the SQL-lambda twin
  * (`SpecTwins.gramPairsLambda`) is the executable spec OpsSpec
  * cross-validates. */
case class GramPairsExpr(child: Expression, scale: Long)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(scale >= 1, s"scale must be >= 1, got $scale")
  override def inputTypes: Seq[DataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("i", IntegerType, nullable = false),
    StructField("j", IntegerType, nullable = false),
    StructField("p", LongType, nullable = false))), containsNull = false)
  override def nullSafeEval(v: Any): Any =
    HashImpls.gramPairs(v.asInstanceOf[ArrayData], scale)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashImpls.gramPairs($c, ${scale}L)")
  override protected def withNewChildInternal(c: Expression): GramPairsExpr =
    copy(child = c)
}

case class SimHash32Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    HashImpls.simhash32(v.asInstanceOf[UTF8String].toString)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.HashImpls.simhash32($c.toString())")
  override protected def withNewChildInternal(c: Expression): SimHash32Expr = copy(c)
}

/** dot(a, b): left-to-right fold Σ a_i·b_i over two float arrays — the
  * same association order as the SQL-lambda fold and the DuckDB oracle's
  * `a[1]*b[1] + … + a[n]*b[n]`, so results stay bit-identical, just
  * ~1000× cheaper per row (one JIT-compiled loop instead of interpreted
  * higher-order lambdas). */
case class DotProductExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ImplicitCastInputTypes {
  // same float-slot contract as SignBitsExpr: analysis-time cast, never
  // a silent misread of 8-byte slots
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    HashImpls.dotFloat(x, y)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.HashImpls.dotFloat($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProductExpr =
    copy(left = l, right = r)
}

/** l2sq_long(a, b): exact squared L2 distance between two BIGINT arrays
  * in one JIT loop — the codegen'd twin of the centroid-assignment fold
  * `aggregate(zip_with(a, b, (x,m)=>(x−m)·(x−m)), 0, +)` that the
  * k-means / PQ / silhouette / k-center family evaluates k times per row
  * (higher-order functions are CodegenFallback: interpreted, one array
  * materialized per zip_with per centroid — guide §4 "eliminate
  * non-codegen expressions in the hot path"). Null exactly when the
  * lambda fold is null (length mismatch / null element); the lambda
  * formulation stays in the tests as the executable spec. */
case class L2SqLongExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashImpls.l2sqLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""java.lang.Long ${ev.value}Box = graft.functions.HashImpls.l2sqLong($a, $b);
         |if (${ev.value}Box == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}Box.longValue(); }
         |""".stripMargin)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): L2SqLongExpr =
    copy(left = l, right = r)
}

/** char_ngram_jaccard(a, b): Jaccard of the two texts' char n-gram sets in
  * one JIT-compiled call (n ≤ 3 — three 21-bit code points pack into one
  * long). Same value as the SQL-lambda substring formulation. */
case class CharNgramJaccardExpr(left: Expression, right: Expression, n: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  require(n >= 1 && n <= 3, "packed char n-grams support n in [1, 3]")
  override def dataType: DataType = DoubleType
  // NULL on empty gram union (like the spec's try_divide) — so two
  // sub-n-length texts can never leak through a `>= threshold` filter
  // the way a NaN would
  override def nullable: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val v = HashImpls.charNgramJaccard(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], n)
    if (v.isNaN) null else v
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.functions.HashImpls.charNgramJaccard($a, $b, $n);
         |if (Double.isNaN(${ev.value})) { ${ev.isNull} = true; }
         |""".stripMargin)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CharNgramJaccardExpr =
    copy(left = l, right = r)
}

/** jaro_winkler(a, b): edit-distance-free name similarity in one
  * JIT-compiled call — the record-linkage verify step after a cheap
  * blocking join. Mirrors DuckDB's `jaro_winkler_similarity` exactly
  * (see [[HashImpls.jaroWinkler]] for the pinned semantics), so the
  * oracle replays it with the builtin. */
case class JaroWinklerExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    HashImpls.jaroWinkler(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.HashImpls.jaroWinkler($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): JaroWinklerExpr =
    copy(left = l, right = r)
}

/** quantize_stats(vec): one-pass int8-quantization statistics as a struct
  * (scale, q_sum, q_min, q_max, q_nonzero, max_abs_err) — the codegen'd
  * twin of the lambda formulation (which stays the cross-validated
  * spec). Interpreted higher-order lambdas cost ~5 passes with
  * per-ELEMENT interpreter overhead; this is one JIT loop. */
case class QuantizeStatsExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("q_sum", LongType, nullable = false),
    StructField("q_min", LongType, nullable = false),
    StructField("q_max", LongType, nullable = false),
    StructField("q_nonzero", LongType, nullable = false),
    StructField("max_abs_err", DoubleType, nullable = false)))
  override protected def nullSafeEval(v: Any): Any =
    HashImpls.quantizeStats(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashImpls.quantizeStats($c)")
  override protected def withNewChildInternal(c: Expression): QuantizeStatsExpr =
    copy(child = c)
}

/** bloom_might_contain(key): membership probe of a driver-built
  * `org.apache.spark.util.sketch.BloomFilter` (the public sketch Spark's
  * own runtime row-level filtering broadcasts), kept inside whole-stage
  * codegen via `addReferenceObj` — the filter bits ship once per executor
  * with the serialized plan, NOT per row and not as generated source.
  * False positives only (never false negatives), so a definitely-absent
  * verdict is exact: the caller may skip expensive work for misses and
  * verify only the hits. */
case class BloomMightContainExpr(child: Expression,
    bloom: org.apache.spark.util.sketch.BloomFilter)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = BooleanType
  override def nullSafeEval(v: Any): Any =
    bloom.mightContainLong(v.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomFilter", bloom,
      classOf[org.apache.spark.util.sketch.BloomFilter].getName)
    defineCodeGen(ctx, ev, c => s"$ref.mightContainLong($c)")
  }
  override protected def withNewChildInternal(c: Expression): BloomMightContainExpr =
    copy(child = c)
}

object NativeHashes {
  import org.apache.spark.sql.GraftSqlBridge.{column => toCol, expression => toExpr}
  def char_ngram_jaccard(a: Column, b: Column, n: Int): Column =
    toCol(CharNgramJaccardExpr(toExpr(a), toExpr(b), n))
  def jaro_winkler(a: Column, b: Column): Column =
    toCol(JaroWinklerExpr(toExpr(a), toExpr(b)))
  def poly_hash(c: Column): Column = toCol(PolyHashExpr(toExpr(c)))
  def minhash_sig(c: Column, numPerms: Int, k: Int): Column =
    toCol(MinHashSigExpr(toExpr(c), numPerms, k))
  def shingle_hashes(c: Column, k: Int): Column =
    toCol(ShingleHashesExpr(toExpr(c), k))
  def dot_product(a: Column, b: Column): Column =
    toCol(DotProductExpr(toExpr(a), toExpr(b)))
  def l2sq_long(a: Column, b: Column): Column =
    toCol(L2SqLongExpr(toExpr(a), toExpr(b)))
  def quantize_stats(a: Column): Column = toCol(QuantizeStatsExpr(toExpr(a)))
  def sign_bits(a: Column, bits: Int): Column =
    toCol(SignBitsExpr(toExpr(a), bits))
  def simhash32(c: Column): Column = toCol(SimHash32Expr(toExpr(c)))
  def cdc_chunks(c: Column, w: Int, divisor: Long): Column =
    toCol(CdcChunksExpr(toExpr(c), w, divisor))
  def random_projection(c: Column, outDims: Int, scale: Long): Column =
    toCol(RandomProjectionExpr(toExpr(c), outDims, scale))
  def gram_pairs(c: Column, scale: Long): Column =
    toCol(GramPairsExpr(toExpr(c), scale))
  def zorder2(a: Column, b: Column): Column =
    toCol(ZOrder2Expr(toExpr(a), toExpr(b)))
  def bloom_might_contain(c: Column,
      bloom: org.apache.spark.util.sketch.BloomFilter): Column =
    toCol(BloomMightContainExpr(toExpr(c), bloom))
}
