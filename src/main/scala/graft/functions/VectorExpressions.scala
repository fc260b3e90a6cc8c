package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, CodegenFallback}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.GraftColumnBridge.{column, expression}

/** Native Catalyst expressions for the hot inner loops of the pipeline
  * operators. Spark's higher-order functions (`aggregate`/`zip_with`)
  * interpret their lambdas per element — fine for metadata-sized data,
  * ~100× too slow for O(n²·d) similarity kernels at bench scale. These
  * expressions run tight JVM loops (dot product additionally generates
  * code), preserving the exact summation order of the HOF formulations so
  * oracle-checked results are unchanged.
  */

/** Σ aᵢ·bᵢ over two ARRAY<DOUBLE> columns (sequential order). */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType.isInstanceOf[ArrayType] &&
        right.dataType.isInstanceOf[ArrayType])
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      .TypeCheckFailure("dot_product expects array<double> inputs")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${ev.value} = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value} += $a.getDouble($i) * $b.getDouble($i);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

/** '''The cosine rule''' of every similarity operator: `dot / (‖a‖·‖b‖)`,
  * and NULL when the norm product is ±0.0 (a zero vector or a zero
  * query). Null is SQL's answer for an undefined quotient (`try_divide`
  * gives it too): it sorts last under `cos desc`, so a zero vector never
  * tops a top-k, and it fails every `>= threshold` test. A NaN element
  * still gives NaN. [[apply]] is the Catalyst form, [[of]] the same rule
  * on doubles for the JVM kernels.
  */
object Cosine {

  /** The rule over `(dot, ‖a‖, ‖b‖)` (the neighbour paths hoist the
    * norms). The product is the one-term dot product `(‖a‖)·(‖b‖)`
    * (0.0 + x·y: the same double as x·y, bar the sign of a zero), so a
    * per-call norm, such as a query's, folds into an array literal, which
    * generated code references where it would inline a scalar: a new query
    * compiles nothing.
    */
  def apply(dot: Expression, na: Expression, nb: Expression): Expression =
    Divide(dot, DotProductExpr(CreateArray(Seq(na)), CreateArray(Seq(nb))),
      NumericEvalContext(EvalMode.TRY))

  def of(dot: Double, na: Double, nb: Double): java.lang.Double = {
    val p = na * nb
    if (p == 0.0) null else dot / p
  }
}

/** Engine-portable 64-bit token hash: two 32-bit FNV-1a folds over the
  * string's CODE POINTS (hi = standard offset basis 0x811c9dc5, lo =
  * basis xor 0x5bd1e995 = 3670897744), packed `(hi << 32) | lo`. Plain
  * integer arithmetic any engine replays exactly — the q_fingerprint
  * playbook, one pass, no allocation (an md5-based variant measured ~5×
  * slower per token in the interpreted HOF lambda path and pushed
  * q_dedup_simhash over its regression line).
  */
case class Fnv64TokenExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      .toString
    var h1 = 0x811c9dc5L
    var h2 = 3670897744L
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      h1 = ((h1 ^ cp) * 16777619L) & 0xffffffffL
      h2 = ((h2 ^ cp) * 16777619L) & 0xffffffffL
    }
    (h1 << 32) | h2
  }
  override protected def withNewChildInternal(c: Expression): Fnv64TokenExpr =
    copy(child = c)
}

/** 64-bit SimHash from an ARRAY<LONG> of token hashes: per bit position,
  * sum ±1 across tokens; bit i set where the sum is positive.
  */
case class SimhashExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val sums = new Array[Int](64)
    var i = 0
    val n = hs.numElements()
    while (i < n) {
      val h = hs.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) sums(b) += 1 else sums(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (sums(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override protected def withNewChildInternal(c: Expression): SimhashExpr =
    copy(child = c)
}

/** MinHash signature from an ARRAY<LONG> of shingle hashes:
  * out[j] = min over x of (pmod(x,p)*a_j + b_j) mod p. Empty input →
  * all-p sentinel signature (matches the HOF fold's initial accumulator).
  */
case class MinhashSignatureExpr(child: Expression, coeffA: Seq[Long],
                                coeffB: Seq[Long], prime: Long)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val k = coeffA.size
    val out = Array.fill(k)(prime)
    val a = coeffA.toArray
    val b = coeffB.toArray
    var i = 0
    val n = hs.numElements()
    while (i < n) {
      val x = hs.getLong(i)
      val xm = ((x % prime) + prime) % prime // pmod of signed hash
      var j = 0
      while (j < k) {
        val h = (xm * a(j) + b(j)) % prime
        if (h < out(j)) out(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): MinhashSignatureExpr =
    copy(child = c)
}

/** Distinct word n-gram shingles of a (pre-lowercased) string in ONE pass:
  * whitespace tokenize (Java `\s` semantics, empties dropped), sliding
  * window join, first-occurrence-order dedup. Replaces the
  * `array_distinct(transform(sequence, slice+concat_ws))` HOF pipeline,
  * which interprets its lambda per shingle (~1 ms/doc — the dominant cost
  * of the n-gram dedup family at bench scale).
  */
case class WordShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
      c == '\r'

  override def nullSafeEval(input: Any): Any = {
    val s = input.toString
    val toks = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(s.charAt(i))) i += 1
      if (i > start) toks += s.substring(start, i)
    }
    val out = new java.util.LinkedHashSet[String]()
    if (toks.length < n) out.add(toks.mkString(" "))
    else {
      var j = 0
      val sb = new java.lang.StringBuilder(64)
      while (j <= toks.length - n) {
        sb.setLength(0)
        var k = 0
        while (k < n) {
          if (k > 0) sb.append(' ')
          sb.append(toks(j + k))
          k += 1
        }
        out.add(sb.toString)
        j += 1
      }
    }
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var m = 0
    while (it.hasNext) {
      arr(m) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next())
      m += 1
    }
    new GenericArrayData(arr)
  }

  override protected def withNewChildInternal(c: Expression): WordShinglesExpr =
    copy(child = c)
}

/** All qualifying cosine pairs between two vector blocks — the inner
  * kernel of the block-matrix similarity join. Inputs are two
  * ARRAY<STRUCT<id BIGINT, v ARRAY<DOUBLE>>> blocks plus a same-block
  * flag; emits ARRAY<STRUCT<id_a, id_b, cos>> for pairs with
  * [[Cosine]] ≥ threshold (id_a < id_b). Norms are computed once per
  * block side; dot products run in sequential order (same FP result as
  * [[DotProductExpr]] pair-at-a-time).
  */
case class CosinePairsExpr(blockA: Expression, blockB: Expression,
                           sameBlock: Expression, threshold: Double)
    extends TernaryExpression with CodegenFallback {
  override def first: Expression = blockA
  override def second: Expression = blockB
  override def third: Expression = sameBlock
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id_a", LongType), StructField("id_b", LongType),
    StructField("cos", DoubleType))), containsNull = false)

  private def unpack(block: ArrayData): (Array[Long], Array[Array[Double]],
      Array[Double]) = {
    val n = block.numElements()
    val ids = new Array[Long](n)
    val vs = new Array[Array[Double]](n)
    val norms = new Array[Double](n)
    var i = 0
    while (i < n) {
      val row = block.getStruct(i, 2)
      ids(i) = row.getLong(0)
      val v = row.getArray(1).toDoubleArray()
      vs(i) = v
      var acc = 0.0
      var j = 0
      while (j < v.length) { acc += v(j) * v(j); j += 1 }
      norms(i) = math.sqrt(acc)
      i += 1
    }
    (ids, vs, norms)
  }

  override def nullSafeEval(a: Any, b: Any, same: Any): Any = {
    val (idsA, vsA, nrmA) = unpack(a.asInstanceOf[ArrayData])
    val (idsB, vsB, nrmB) = unpack(b.asInstanceOf[ArrayData])
    val sameBlk = same.asInstanceOf[Boolean]
    val out = scala.collection.mutable.ArrayBuffer[Any]()
    var i = 0
    while (i < idsA.length) {
      var j = 0
      while (j < idsB.length) {
        // same block: strict upper triangle; cross block: all pairs,
        // normalized to id_a < id_b
        val keep =
          if (sameBlk) idsA(i) < idsB(j)
          else idsA(i) != idsB(j)
        if (keep) {
          val va = vsA(i); val vb = vsB(j)
          val n = math.min(va.length, vb.length)
          var acc = 0.0
          var k = 0
          while (k < n) { acc += va(k) * vb(k); k += 1 }
          val cos = Cosine.of(acc, nrmA(i), nrmB(j))
          if (cos != null && cos >= threshold) {
            val (lo, hi) =
              if (idsA(i) < idsB(j)) (idsA(i), idsB(j))
              else (idsB(j), idsA(i))
            out += InternalRow(lo, hi, cos)
          }
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): CosinePairsExpr =
    copy(blockA = f, blockB = s, sameBlock = t)
}

/** Bloom-filter membership over a LONG hash column, the filter inlined
  * as literals (an Array[Long] bitset + probe count): `k` probes via
  * Kirsch–Mitzenmacher double hashing. No join, no broadcast variable —
  * the standard map-side prefilter for "does this shingle appear in the
  * (small) benchmark set", with false POSITIVES only, so an exact
  * verification stage downstream keeps results exact.
  */
case class BloomContainsExpr(child: Expression, bits: Array[Long], k: Int)
    extends UnaryExpression with CodegenFallback {
  require(bits.nonEmpty && java.lang.Long.bitCount(bits.length.toLong * 64) == 1,
    "bloom bitset length must make a power-of-two bit count")
  require(k >= 1 && k <= 32)
  override def dataType: DataType = BooleanType

  private val mMask: Long = bits.length.toLong * 64 - 1

  override def nullSafeEval(input: Any): Any = {
    val h = input.asInstanceOf[Long]
    val h2 = java.lang.Long.rotateLeft(h, 31) | 1L // odd step
    var i = 0
    var g = h
    while (i < k) {
      val idx = g & mMask
      if ((bits((idx >>> 6).toInt) & (1L << (idx & 63))) == 0L) return false
      g += h2
      i += 1
    }
    true
  }

  override protected def withNewChildInternal(c: Expression): BloomContainsExpr =
    copy(child = c)
}

object BloomBuild {
  /** Build the literal bitset for [[BloomContainsExpr]] from a bounded
    * hash set (driver-side): sized for ~1% false positives
    * (m ≈ 10·n bits rounded up to a power of two, k = 7).
    */
  def fromHashes(hashes: Array[Long], bitsPerItem: Int = 10): (Array[Long], Int) = {
    val n = math.max(1, hashes.length)
    var mBits = 64L
    while (mBits < n.toLong * bitsPerItem) mBits <<= 1
    val bits = new Array[Long]((mBits >>> 6).toInt)
    val mask = mBits - 1
    val kk = math.max(1, math.min(32,
      math.round(mBits.toDouble / n * math.log(2)).toInt))
    hashes.foreach { h =>
      val h2 = java.lang.Long.rotateLeft(h, 31) | 1L
      var i = 0
      var g = h
      while (i < kk) {
        val idx = g & mask
        bits((idx >>> 6).toInt) |= (1L << (idx & 63))
        g += h2
        i += 1
      }
    }
    (bits, kk)
  }
}

/** Positioned character shingles of a string in ONE pass:
  * `[(pos, shingle)]` for k-char windows at positions 1, 1+stride, …
  * (1-based). `hashed=true` emits a 64-bit polynomial ROLLING hash per
  * window instead of the substring — O(n) total for stride 1 (each char
  * enters and leaves the hash once) and an 8-byte shuffle key
  * downstream, vs the HOF formulation
  * (`transform(sequence, p -> struct(p, substr))`) that interprets its
  * lambda per window and materializes k chars each. The hash only needs
  * to be CONSISTENT within a query (duplicate detection), not equal to
  * any engine builtin; PipelineSpec pins hashed ≡ raw output equality.
  */
case class CharShinglesExpr(child: Expression, k: Int, stride: Int,
                            hashed: Boolean)
    extends UnaryExpression with CodegenFallback {
  require(k >= 2 && stride >= 1)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("sub", if (hashed) LongType else StringType,
      nullable = false))), containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val s = input.toString
    val n = s.length
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val count = (n - k) / stride + 1
    val out = new Array[Any](count)
    if (hashed) {
      val B = 1099511628211L // FNV prime as polynomial base
      // B^(k-1) for the rolling subtract (wraps mod 2^64, consistent)
      var bk = 1L
      var i = 0
      while (i < k - 1) { bk *= B; i += 1 }
      var h = 0L
      i = 0
      while (i < k) { h = h * B + s.charAt(i); i += 1 }
      var w = 0
      var pos = 0 // 0-based window start
      var cur = h
      while (w < count) {
        out(w) = InternalRow(pos + 1, cur)
        w += 1
        if (w < count) {
          if (stride == 1) {
            cur = (cur - s.charAt(pos) * bk) * B + s.charAt(pos + k)
            pos += 1
          } else {
            pos += stride
            var j = 0
            cur = 0L
            while (j < k) { cur = cur * B + s.charAt(pos + j); j += 1 }
          }
        }
      }
    } else {
      var w = 0
      var pos = 0
      while (w < count) {
        out(w) = InternalRow(pos + 1,
          org.apache.spark.unsafe.types.UTF8String.fromString(
            s.substring(pos, pos + k)))
        w += 1
        pos += stride
      }
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): CharShinglesExpr =
    copy(child = c)
}

/** BPE segmentation of a (pre-lowercased) string under a learned merge
  * table ([[graft.pipeline.Bpe]]): whitespace tokenize, then per word
  * start from characters + an end-of-word marker and greedily fuse the
  * lowest-rank adjacent pair until none applies — the standard BPE
  * segmenter. The merge ranks ride as expression literals (no join, no
  * broadcast); a per-task word-type memo makes the amortized cost one
  * lookup per word, since natural-language word types repeat heavily.
  */
case class BpeEncodeExpr(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  @transient private lazy val rank: java.util.HashMap[(String, String), Int] = {
    val m = new java.util.HashMap[(String, String), Int]()
    merges.zipWithIndex.foreach { case (p, i) => m.put(p, i) }
    m
  }
  @transient private lazy val memo = new java.util.HashMap[String, Array[String]]()

  private def encodeWord(w: String): Array[String] = {
    val cached = memo.get(w)
    if (cached != null) return cached
    var syms = scala.collection.mutable.ArrayBuffer[String]()
    w.foreach(c => syms += c.toString)
    syms += graft.pipeline.Bpe.EndOfWord
    var continue = syms.length >= 2 && !rank.isEmpty
    while (continue) {
      var bestRank = Int.MaxValue
      var i = 0
      while (i < syms.length - 1) {
        val r = rank.getOrDefault((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) bestRank = r
        i += 1
      }
      if (bestRank == Int.MaxValue) continue = false
      else {
        val (l, r) = merges(bestRank)
        val fused = l + r
        val out = scala.collection.mutable.ArrayBuffer[String]()
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == l && syms(j + 1) == r) {
            out += fused; j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out
        if (syms.length < 2) continue = false
      }
    }
    val arr = syms.toArray
    if (memo.size < 65536) memo.put(w, arr)
    arr
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.toString
    val out = scala.collection.mutable.ArrayBuffer[org.apache.spark.unsafe.types.UTF8String]()
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && Character.isWhitespace(s.charAt(i))) i += 1
      val start = i
      while (i < len && !Character.isWhitespace(s.charAt(i))) i += 1
      if (i > start) {
        val toks = encodeWord(s.substring(start, i))
        var j = 0
        while (j < toks.length) {
          out += org.apache.spark.unsafe.types.UTF8String.fromString(toks(j))
          j += 1
        }
      }
    }
    new GenericArrayData(out.toArray[Any])
  }

  override protected def withNewChildInternal(c: Expression): BpeEncodeExpr =
    copy(child = c)
}

object VectorFunctions {
  /** Codegen'd Σ aᵢ·bᵢ. */
  def dot_product(a: Column, b: Column): Column =
    column(DotProductExpr(expression(a), expression(b)))

  /** [[Cosine]] of a dot product and two norms. */
  def cosine(dot: Column, na: Column, nb: Column): Column =
    column(Cosine(expression(dot), expression(na), expression(nb)))

  /** Portable dual-FNV-1a 64-bit hash (see [[Fnv64TokenExpr]]). */
  def fnv_long64(s: Column): Column =
    column(Fnv64TokenExpr(expression(s)))

  def simhash64(tokenHashes: Column): Column =
    column(SimhashExpr(expression(tokenHashes)))

  def minhash_signature(shingleHashes: Column, coeffs: Seq[(Long, Long)],
                        prime: Long): Column =
    column(MinhashSignatureExpr(expression(shingleHashes),
      coeffs.map(_._1), coeffs.map(_._2), prime))

  def word_shingles(loweredText: Column, n: Int): Column =
    column(WordShinglesExpr(expression(loweredText), n))

  def cosine_pairs(blockA: Column, blockB: Column, sameBlock: Column,
                   threshold: Double): Column =
    column(CosinePairsExpr(expression(blockA), expression(blockB),
      expression(sameBlock), threshold))

  def bpe_encode(loweredText: Column, merges: Seq[(String, String)]): Column =
    column(BpeEncodeExpr(expression(loweredText), merges))

  def char_shingles(text: Column, k: Int, stride: Int,
                    hashed: Boolean): Column =
    column(CharShinglesExpr(expression(text), k, stride, hashed))

  def bloom_contains(hash: Column, bits: Array[Long], k: Int): Column =
    column(BloomContainsExpr(expression(hash), bits, k))
}
