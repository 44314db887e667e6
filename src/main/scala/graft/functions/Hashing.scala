package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic 64-bit hashing primitives for the dedup tier. FNV-1a is
  * used (not Spark's xxhash64) so signatures are self-contained, stable
  * across Spark versions, and trivially portable to an oracle if needed.
  */
object Fnv {
  final val Offset = 0xcbf29ce484222325L
  final val Prime = 0x100000001b3L

  def hashBytes(bytes: Array[Byte]): Long = {
    var h = Offset
    var i = 0
    while (i < bytes.length) {
      h = (h ^ (bytes(i) & 0xffL)) * Prime
      i += 1
    }
    h
  }

  def hashUtf8(s: UTF8String): Long = hashBytes(s.getBytes)

  /** splitmix64 — standard finalizer used to derive per-permutation seeds. */
  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Shared compiled tokenizer. `String.split("\\s+")` has no single-char
    * fast path, so it recompiles the Pattern on EVERY row — a measurable
    * per-document constant in the dedup kernels. Pattern.split with the
    * default limit is behavior-identical to String.split. */
  private[functions] val Whitespace: java.util.regex.Pattern =
    java.util.regex.Pattern.compile("\\s+")
}

/** 64-bit SimHash over whitespace tokens of a string column — a native
  * Catalyst expression (single pass per row, no UDF serialization).
  * CodegenFallback: the hash is not on a codegen-critical path (it feeds a
  * shuffle for banding), and profiling (`tools/ProfileSig`, last at
  * commit 68d271a; sf0.1) puts the whole signature pass at ~0.3 s of the
  * ~2.8 s simhash pipeline — the candidate join + verify stages dominate,
  * so a `doGenCode` upgrade has no leverage here.
  *
  * Algorithm: per token t, h = fnv1a64(t); for each bit b, accumulate +1 if
  * set else -1; the signature has bit b set iff the accumulator is > 0.
  */
case class SimHash64(child: Expression) extends UnaryExpression
    with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    val counts = new Array[Int](64)
    var start = 0
    val n = s.length
    var i = 0
    while (i <= n) {
      if (i == n || Character.isWhitespace(s.charAt(i))) {
        if (i > start) {
          val h = Fnv.hashBytes(
            s.substring(start, i).getBytes("UTF-8"))
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
            b += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) sig |= 1L << b
      b += 1
    }
    java.lang.Long.valueOf(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SimHash over a pre-hashed shingle SET (array<long> from
  * [[HashedShingles]]/[[HashedWordShingles]]): bit b of the signature is
  * the majority vote of bit b across the element hashes. Shingle-level
  * simhash is far more discriminative than the token-level [[SimHash64]]
  * on template-heavy corpora: unrelated documents share common TOKENS
  * (which drags every token signature toward the corpus majority and
  * floods banded joins with false candidates — measured 3.3M candidate
  * pairs at hamming ≤ 15 on the sf0.1 corpus) but few word 3-grams
  * (453 candidates, same cutoff, same banding — `tools/
  * ShingleSimhashProbe`, last at commit 68d271a), while near-duplicates
  * share most shingles and stay within a small hamming radius (true-pair
  * max 12 vs 13 token-level). Empty input → null, like [[MinHashSig]].
  */
case class SimHashOfHashes(child: Expression) extends UnaryExpression
    with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "simhash_of_hashes"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val counts = new Array[Int](64)
    var j = 0
    while (j < n) {
      val h = arr.getLong(j)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      j += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) sig |= 1L << b
      b += 1
    }
    java.lang.Long.valueOf(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** MinHash signature over a shingle set: k permutations via universal
  * hashing h_i(x) = a_i * fnv(x) + b_i with splitmix64-derived odd
  * multipliers. Accepts either array<string> (raw shingles; FNV-hashed
  * here) or array<long> (pre-hashed via [[HashedShingles]] — identical
  * signatures, since that expression stores exactly `fnv(shingle)`).
  * Returns array<long> of the k minima (signed order — consistent across
  * both sides of any LSH comparison, which is all that matters). Empty
  * input → null (no signature).
  */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression
    with CodegenFallback {
  require(k > 0, "k must be positive")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // Empty input yields null even when the child is non-nullable; without
  // this the non-nullable eval path would unbox the null (NPE) and the
  // optimizer could elide downstream null checks.
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig"

  @transient private lazy val as: Array[Long] =
    Array.tabulate(k)(i => Fnv.splitmix64(2L * i + 1) | 1L)
  @transient private lazy val bs: Array[Long] =
    Array.tabulate(k)(i => Fnv.splitmix64(2L * i))
  @transient private lazy val preHashed: Boolean = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val mins = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val base =
        if (preHashed) arr.getLong(j) else Fnv.hashUtf8(arr.getUTF8String(j))
      var i = 0
      while (i < k) {
        val h = as(i) * base + bs(i)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Deterministic stand-in for a multimodal decode/feature-extract step: a
  * bucketed byte histogram over a binary column (e.g. "image" bytes). The
  * real decode would live exactly here — same signature, binary in /
  * fixed-length feature vector out — with the histogram body swapped for a
  * codec call. Keeps the Spark-side plumbing (schema, batching, null
  * handling) real and testable without image/audio libs.
  */
case class ByteHistogram(child: Expression, buckets: Int)
    extends UnaryExpression with CodegenFallback {
  require(buckets > 0 && 256 % buckets == 0, "buckets must divide 256")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "byte_histogram"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val width = 256 / buckets
    val counts = new Array[Long](buckets)
    var i = 0
    while (i < bytes.length) {
      counts((bytes(i) & 0xff) / width) += 1
      i += 1
    }
    new GenericArrayData(counts)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct word n-gram shingles of a string in one pass — semantically
  * identical to the built-in chain
  * `array_distinct(transform(sequence(...), i => concat_ws(" ",
  * slice(split(trim(s), "\\s+"), i+1, n))))` (same Java-regex tokenizer,
  * same first-occurrence dedup order, < n tokens ⇒ empty array) but ~10×
  * cheaper: the nested higher-order functions rebuild token arrays and
  * evaluate three lambdas per shingle, which dominated the dedup pipeline
  * profile. Shingling sits under every dedup operator, so it earns a
  * native expression (preference tier (b), SURVEY §7.3).
  */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression
    with CodegenFallback {
  require(n > 0)
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString.trim
    if (s.isEmpty) return new GenericArrayData(Array.empty[Any])
    val tokens = Fnv.Whitespace.split(s)
    if (tokens.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    val last = tokens.length - n
    val sb = new java.lang.StringBuilder(64)
    while (i <= last) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(tokens(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) {
      out(k) = UTF8String.fromString(it.next())
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** FNV-hash each element of an array<string> shingle set into a strictly
  * increasing sorted array<long>. The dedup tier verifies jaccard on these
  * primitive arrays instead of the string arrays: intersection counts and
  * set sizes are preserved under (w.h.p. injective) hashing, so jaccard
  * values are unchanged, while per-pair verification drops from UTF8String
  * set-probing to a primitive merge loop ([[SortedIntersectSize]]) and the
  * inverted-index join keys shrink from ~20-byte strings to 8-byte longs.
  */
case class HashedShingles(child: Expression) extends UnaryExpression
    with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hashed_shingles"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      hs(i) = Fnv.hashUtf8(arr.getUTF8String(i))
      i += 1
    }
    java.util.Arrays.sort(hs)
    // Input shingles are distinct strings; equal adjacent hashes can only
    // arise from a 64-bit collision. Drop them so the array stays a set.
    var w = 0
    i = 0
    while (i < n) {
      if (w == 0 || hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    new GenericArrayData(if (w == n) hs else java.util.Arrays.copyOf(hs, w))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fusion of [[WordShingles]] ∘ [[HashedShingles]]: FNV-hash each word
  * n-gram window directly from the token bytes (token₁ ⊕ 0x20 ⊕ token₂
  * ⊕ ...) without ever materializing the shingle strings or a string
  * dedup set — bit-identical output to the two-expression chain (verified
  * by spec), at roughly a third of the allocation cost. This sits under
  * the corpus-wide dedup cache build, so it's the one expression every
  * dedup operator pays for every document.
  */
case class HashedWordShingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n > 0)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hashed_word_shingles"

  private val Empty = new GenericArrayData(Array.empty[Any])

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString.trim
    if (s.isEmpty) return Empty
    val tokens = Fnv.Whitespace.split(s) // same tokenizer as WordShingles
    val m = tokens.length - n + 1
    if (m <= 0) return Empty
    val tokBytes = new Array[Array[Byte]](tokens.length)
    var t = 0
    while (t < tokens.length) {
      tokBytes(t) = tokens(t).getBytes("UTF-8")
      t += 1
    }
    val hs = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = Fnv.Offset
      var j = 0
      while (j < n) {
        if (j > 0) h = (h ^ 0x20L) * Fnv.Prime
        val b = tokBytes(i + j)
        var k = 0
        while (k < b.length) {
          h = (h ^ (b(k) & 0xffL)) * Fnv.Prime
          k += 1
        }
        j += 1
      }
      hs(i) = h
      i += 1
    }
    java.util.Arrays.sort(hs)
    var w = 0
    i = 0
    while (i < m) {
      if (w == 0 || hs(i) != hs(w - 1)) { hs(w) = hs(i); w += 1 }
      i += 1
    }
    new GenericArrayData(if (w == m) hs else java.util.Arrays.copyOf(hs, w))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Intersection size of two strictly-increasing sorted array<long> columns
  * — a single merge pass, no allocation. This is the jaccard-verification
  * kernel: `array_intersect` on string arrays builds and probes a hash set
  * of UTF8Strings per pair, which dominated the dedup profile at 300k+
  * candidate pairs.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_size"

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val cnt = ctx.freshName("cnt")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $i = 0; int $j = 0; int $cnt = 0;
         |int ${i}n = $a.numElements(); int ${j}n = $b.numElements();
         |while ($i < ${i}n && $j < ${j}n) {
         |  long $xv = $a.getLong($i); long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $cnt++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val nx = x.numElements()
    val ny = y.numElements()
    var i = 0
    var j = 0
    var cnt = 0
    while (i < nx && j < ny) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { cnt += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    java.lang.Integer.valueOf(cnt)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dot product of two array<double> columns as a single tight loop —
  * replaces `aggregate(zip_with(a, b, _*_), 0.0, _+_)`, which allocates a
  * zipped array and evaluates two lambda closures per element. Summation
  * is sequential in element order, so for equal-length inputs results are
  * bit-identical to the higher-order-function formulation (and to any
  * sequential-loop oracle). Mismatched lengths yield null — the same
  * outcome as the HOF chain, where `zip_with` pads the shorter array with
  * nulls and the null products poison the aggregate.
  */
case class DotProduct(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  // Null on length mismatch even for non-nullable children.
  override def nullable: Boolean = true
  override def prettyName: String = "dot_product"

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $acc += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Minimum Rabin-Karp rolling hash over all `window`-byte windows of the
  * UTF-8 text — an O(n) content fingerprint (each step updates the
  * polynomial hash in O(1): h' = (h − b_out·B^{w−1})·B + b_in, exact in
  * the ring Z/2⁶⁴). The min-over-windows is a 1-element winnowing
  * fingerprint: robust to edits outside the minimizing window, cheap
  * enough to run over every document of a 100 TB corpus in the scan.
  * Text shorter than the window → null.
  */
case class RollingHashMin(child: Expression, window: Int)
    extends UnaryExpression with CodegenFallback {
  require(window > 0)
  override def dataType: DataType = LongType
  // Sub-window text yields null even for a non-nullable child (see
  // MinHashSig.nullable).
  override def nullable: Boolean = true
  override def prettyName: String = "rolling_hash_min"

  private final val B = 257L
  @transient private lazy val pow: Long = {
    var p = 1L
    var i = 0
    while (i < window - 1) { p *= B; i += 1 }
    p
  }

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val n = bytes.length
    if (n < window) return null
    var h = 0L
    var i = 0
    while (i < window) { h = h * B + (bytes(i) & 0xffL); i += 1 }
    var min = h
    while (i < n) {
      h = (h - (bytes(i - window) & 0xffL) * pow) * B + (bytes(i) & 0xffL)
      if (h < min) min = h
      i += 1
    }
    java.lang.Long.valueOf(min)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Random-hyperplane signature for cosine LSH over an array<double>
  * vector: bit i is set iff Σ_j s_ij·q_j > 0, where q_j =
  * ⌊v_j·10¹² + 0.5⌋ is the 12-dp integer quantization of component j
  * and the Rademacher sign s_ij is the parity of the first hex digit
  * of md5("i:j"). Every step is CROSS-ENGINE EXACT — the multiply/
  * add/floor are single IEEE double ops, the signed sums are exact
  * Long arithmetic (|q_j| ≤ ~10¹²·max|v_j|, so overflow needs dim ≳
  * 10⁶ unit-scale components), and md5 replays in any engine — so
  * unlike the splitmix64 ancestor this replaces, the whole signature
  * is SQL-expressible and LSH gates hash-compare against a DuckDB
  * recompute (the d25 determinism move). Quantization perturbs each
  * hyperplane component by ≤ 5e-13 — angle noise far below the LSH
  * regime — and the Goemans-Williamson guarantee is unchanged: for
  * two vectors at angle θ, P(bit differs) = θ/π, so banding the
  * signature makes near-neighbor search an equi-join on (band,
  * bucket), the same shuffle shape as MinHash LSH.
  */
case class HyperplaneSig(child: Expression, bits: Int)
    extends UnaryExpression with CodegenFallback {
  require(bits > 0 && bits <= 64, "bits must be 1..64")
  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_sig"

  /** Rademacher components as ±1 Long factors, derived once per
    * operator instance instead of bits×dims md5 calls PER ROW. The
    * table grows lazily to the widest vector seen (dims are
    * per-dataset constant in practice). First-hex-digit parity =
    * bit 4 of digest byte 0 — the same bit DuckDB's
    * `substr(md5(..),1,1) IN ('1','3',…,'f')` tests.
    */
  @transient private var signs: Array[Array[Long]] = _

  private def signTable(d: Int): Array[Array[Long]] = {
    if (signs == null || signs(0).length < d) {
      val md = java.security.MessageDigest.getInstance("MD5")
      signs = Array.tabulate(bits, d) { (i, j) =>
        md.reset()
        val h = md.digest(
          s"$i:$j".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        if (((h(0) >> 4) & 1) == 1) 1L else -1L
      }
    }
    signs
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val d = v.numElements()
    val s = signTable(d)
    val q = new Array[Long](d)
    var j = 0
    while (j < d) {
      q(j) = math.floor(v.getDouble(j) * 1e12 + 0.5).toLong
      j += 1
    }
    var sig = 0L
    var i = 0
    while (i < bits) {
      val si = s(i)
      var acc = 0L
      var p = 0
      while (p < d) {
        acc += si(p) * q(p)
        p += 1
      }
      if (acc > 0) sig |= 1L << i
      i += 1
    }
    java.lang.Long.valueOf(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shannon entropy (bits/char) of a string's character distribution in a
  * single O(len) pass — the native replacement for the higher-order-function
  * formulation (`transform(array_distinct(split(c,"")), ch ->
  * -p·log2(p))`), which is O(distinct·len) per row with a boxed lambda
  * evaluation per (distinct, char) pair and measured 19.8 s for the t14
  * gate at sf0.1 once the bench consumed full projections (the native
  * pass is ~60×: one counting sweep + one ~distinct-sized sum).
  *
  * Numeric contract (the t14 oracle hash-matches on it): terms are summed
  * in FIRST-OCCURRENCE order of the distinct characters — exactly
  * `array_distinct`'s order — with a left fold from 0.0, each term
  * computed as `(-p) * (log(p) / log 2)` like Spark's `Log2`, so the
  * result is bit-identical to the column formulation it replaces.
  * `StrictMath.log`, NOT `Math.log`: HotSpot may substitute a C2
  * intrinsic for `Math.log` whose result differs from the interpreted
  * StrictMath fallback by 1 ulp (observed on 4% of the corpus), i.e.
  * `Math.log` output depends on JIT state — unusable in a value that
  * feeds a hash-compared gate. The column formulation evaluates through
  * Spark's interpreted HOF path, which lands on the StrictMath values.
  * Characters are Unicode code points (what `split(c, "")` produces);
  * empty string → 0.0, NULL → NULL.
  *
  * CodegenFallback like the other unary kernels here: the O(len) loop
  * dominates per-row cost, so the fallback call overhead is noise.
  */
case class CharEntropy(child: Expression) extends UnaryExpression
    with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "char_entropy"

  private val Ln2 = StrictMath.log(2.0)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    if (s.isEmpty) return java.lang.Double.valueOf(0.0)
    // LinkedHashMap = counts AND first-occurrence order in one structure;
    // the map holds ~alphabet-size entries, not ~len.
    val counts = new java.util.LinkedHashMap[Integer, Integer]()
    var i = 0
    var n = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      n += 1
      val k = Integer.valueOf(cp)
      val prev = counts.get(k)
      counts.put(k, if (prev == null) 1 else prev + 1)
    }
    val nd = n.toDouble
    var acc = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val p = it.next().toDouble / nd
      acc += -p * (StrictMath.log(p) / Ln2)
    }
    java.lang.Double.valueOf(acc)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-level entry points for the custom expressions. */
object Hashing {
  private def c(e: Expression): Column = ColumnBridge.column(e)
  private def e(col: Column): Expression = ColumnBridge.expression(col)

  def simhash64(col: Column): Column = c(SimHash64(e(col)))
  def simhashOfHashes(col: Column): Column = c(SimHashOfHashes(e(col)))
  def dotProduct(a: Column, b: Column): Column = c(DotProduct(e(a), e(b)))
  def wordShingles(col: Column, n: Int): Column = c(WordShingles(e(col), n))
  def hashedShingles(col: Column): Column = c(HashedShingles(e(col)))
  def hashedWordShingles(col: Column, n: Int): Column =
    c(HashedWordShingles(e(col), n))
  def hyperplaneSig(col: Column, bits: Int): Column =
    c(HyperplaneSig(e(col), bits))
  def rollingHashMin(col: Column, window: Int): Column =
    c(RollingHashMin(e(col), window))
  def sortedIntersectSize(a: Column, b: Column): Column =
    c(SortedIntersectSize(e(a), e(b)))
  def minhashSig(col: Column, k: Int): Column = c(MinHashSig(e(col), k))
  def byteHistogram(col: Column, buckets: Int): Column =
    c(ByteHistogram(e(col), buckets))
  def charEntropy(col: Column): Column = c(CharEntropy(e(col)))
}
