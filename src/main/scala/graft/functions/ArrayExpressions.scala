package graft.functions

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.sql.{AnalysisException, Column}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the hot inner loops the built-in
  * higher-order functions (`aggregate`/`zip_with`/`array_intersect`)
  * evaluate with per-element lambda dispatch and boxing. Each scalar
  * kernel is one method, `compute`: interpreted `eval` calls it and so
  * does the generated code ([[UnaryKernel]], [[BinaryKernel]]), so the two
  * paths cannot drift and a stage holding a kernel stays in whole-stage
  * codegen.
  *
  * The functions reach a session only through [[graft.GraftExtensions]],
  * which injects [[functionBuilders]]; `BenchHarness.SessionConf` installs
  * it in every session the library builds. The Column wrappers at the end
  * resolve their function by name (`call_function`).
  */
object ArrayExpressions {

  /** `actual` is `expected`; an array matches on its element type alone. */
  private def accepts(expected: DataType, actual: DataType): Boolean = (expected, actual) match {
    case (ArrayType(e, _), ArrayType(a, _)) => e == a
    case _ => expected == actual
  }

  private def checkTypes(name: String, expected: Seq[DataType], args: Seq[Expression]): TypeCheckResult =
    if (expected.corresponds(args)((t, a) => accepts(t, a.dataType))) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects (${expected.map(_.simpleString).mkString(", ")}), got (" +
        args.map(_.dataType.simpleString).mkString(", ") + ")")

  /** The generated code of a kernel: one call of `compute` on the
    * expression object itself. Where `compute` may return null (SQL NULL),
    * its result goes through the boxed type and a null sets the null flag.
    */
  private def callCompute(ctx: CodegenContext, ev: ExprCode, kernel: Expression,
                          returnsNull: Boolean, args: String): String = {
    val self = ctx.addReferenceObj("kernel", kernel, kernel.getClass.getName)
    if (!returnsNull) s"${ev.value} = $self.compute($args);"
    else {
      val r = ctx.freshName("r")
      s"""${CodeGenerator.boxedType(kernel.dataType)} $r = $self.compute($args);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }""".stripMargin
    }
  }

  /** A function of one argument of SQL type `inputType`, whose physical
    * value (`A`) goes to `compute`. `compute` returns null only where
    * `returnsNull` says it may. (Serializable so that Java serialization
    * of a kernel restores this class's fields instead of needing a no-arg
    * constructor here.)
    */
  abstract class UnaryKernel[A](inputType: DataType) extends UnaryExpression with Serializable {
    def compute(in: A): Any
    protected def returnsNull: Boolean = false
    override def nullable: Boolean = returnsNull || child.nullable
    override def checkInputDataTypes(): TypeCheckResult =
      checkTypes(prettyName, Seq(inputType), children)
    override def nullSafeEval(in: Any): Any = compute(in.asInstanceOf[A])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => callCompute(ctx, ev, this, returnsNull, c))
  }

  /** [[UnaryKernel]] for two arguments. */
  abstract class BinaryKernel[A, B](leftType: DataType, rightType: DataType)
      extends BinaryExpression with Serializable {
    def compute(a: A, b: B): Any
    protected def returnsNull: Boolean = false
    override def nullable: Boolean = returnsNull || left.nullable || right.nullable
    override def checkInputDataTypes(): TypeCheckResult =
      checkTypes(prettyName, Seq(leftType, rightType), children)
    override def nullSafeEval(a: Any, b: Any): Any = compute(a.asInstanceOf[A], b.asInstanceOf[B])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => callCompute(ctx, ev, this, returnsNull, s"$a, $b"))
  }

  /** |a ∩ b| for two SORTED long arrays (merge walk, no hashing, no
    * boxing). Used by the Jaccard dedup operators on hashed shingle sets.
    */
  case class SortedLongIntersectCount(left: Expression, right: Expression)
      extends BinaryKernel[ArrayData, ArrayData](ArrayType(LongType), ArrayType(LongType)) {
    override def dataType: DataType = IntegerType
    override def prettyName: String = "sorted_long_intersect_count"

    def compute(x: ArrayData, y: ArrayData): Int = {
      var i = 0; var j = 0; var n = 0
      val nx = x.numElements(); val ny = y.numElements()
      while (i < nx && j < ny) {
        val xv = x.getLong(i); val yv = y.getLong(j)
        if (xv == yv) { n += 1; i += 1; j += 1 }
        else if (xv < yv) i += 1
        else j += 1
      }
      n
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** a ∩ b MEMBERS for two SORTED long arrays (merge walk) — the
    * element-returning sibling of [[SortedLongIntersectCount]]. Used by
    * the triangle closer (x82): the intersection of two oriented
    * adjacency lists IS the set of triangle apexes over that edge, so
    * returning members lets per-node counts come from one explode of
    * actual triangles instead of materializing and shuffling every wedge.
    * Output is sorted ascending (inputs are), duplicates impossible on
    * set-valued inputs.
    */
  case class SortedLongIntersect(left: Expression, right: Expression)
      extends BinaryKernel[ArrayData, ArrayData](ArrayType(LongType), ArrayType(LongType)) {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "sorted_long_intersect"

    def compute(x: ArrayData, y: ArrayData): ArrayData = {
      val nx = x.numElements(); val ny = y.numElements()
      val out = new Array[Long](math.min(nx, ny))
      var i = 0; var j = 0; var n = 0
      while (i < nx && j < ny) {
        val xv = x.getLong(i); val yv = y.getLong(j)
        if (xv == yv) { out(n) = xv; n += 1; i += 1; j += 1 }
        else if (xv < yv) i += 1
        else j += 1
      }
      new GenericArrayData(java.util.Arrays.copyOf(out, n))
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Exact fixed-point squared L2 distance of two integral double arrays
    * as ONE fused primitive loop, returning bigint — the hot inner
    * kernel of every Lloyd argmin and ADC table build (x91/x98/x107/
    * x108/x113). Replaces the interpreted
    * `cast(aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0d, +) as
    * bigint)` chain, whose per-element lambda dispatch dominated the PQ
    * rows once K went to the production 256 (the candidate relation is
    * n·NumSub·K rows). Bit-identical to that formulation on the data
    * these operators feed it: operands are integral fixed-point values
    * whose partial sums stay below 2^53, so the double accumulation is
    * exact, and the final truncation matches cast-to-bigint. Unequal
    * lengths return NULL — exactly the replaced chain's semantics
    * (`zip_with` null-pads the shorter array and the product of a NULL
    * pad poisons the aggregate), so a ragged caller gets the same
    * visible NULL, never a silently truncated distance.
    */
  case class FixedPointDist2(left: Expression, right: Expression)
      extends BinaryKernel[ArrayData, ArrayData](ArrayType(DoubleType), ArrayType(DoubleType)) {
    override def dataType: DataType = LongType
    override protected def returnsNull: Boolean = true
    override def prettyName: String = "fixed_point_dist2"

    def compute(x: ArrayData, y: ArrayData): java.lang.Long = {
      val n = x.numElements()
      if (y.numElements() != n) return null
      var s = 0.0
      var i = 0
      while (i < n) {
        val d = x.getDouble(i) - y.getDouble(i)
        s += d * d
        i += 1
      }
      java.lang.Long.valueOf(s.toLong)
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Cosine similarity of two double arrays in one fused primitive loop
    * (dot, |a|², |b|² in a single pass). NaN on zero-norm input, like the
    * mathematical definition's 0/0.
    */
  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryKernel[ArrayData, ArrayData](ArrayType(DoubleType), ArrayType(DoubleType)) {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "cosine_similarity"

    def compute(x: ArrayData, y: ArrayData): Double = {
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val xv = x.getDouble(i); val yv = y.getDouble(i)
        dot += xv * yv; na += xv * xv; nb += yv * yv
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }

    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Full MinHash signature in ONE pass: for an array of 64-bit shingle
    * hashes, computes `numPerms` permuted minima `min_x (a_i·x + b_i) mod p`
    * with p = 2^31−1 and deterministic splitmix-derived coefficients.
    * Replaces `numPerms` separate `array_min(transform(...))` columns
    * (interpreted lambda per element per perm) with a fused primitive loop.
    */
  case class MinHashSignature(child: Expression, numPerms: Int)
      extends UnaryKernel[ArrayData](ArrayType(LongType)) {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_signature"

    private lazy val coefA: Array[Long] = Array.tabulate(numPerms)(MinHash.coefA)
    private lazy val coefB: Array[Long] = Array.tabulate(numPerms)(MinHash.coefB)

    def compute(arr: ArrayData): ArrayData = {
      val p = MinHash.P
      val a = coefA; val b = coefB; val k = numPerms
      val out = new Array[Long](k)
      java.util.Arrays.fill(out, Long.MaxValue)
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        val h = { val m = arr.getLong(i) % p; if (m < 0) m + p else m }
        var j = 0
        while (j < k) {
          val v = (a(j) * h + b(j)) % p
          if (v < out(j)) out(j) = v
          j += 1
        }
        i += 1
      }
      ArrayData.toArrayData(out)
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** splitmix64 finalizer — a bijection on Long (every step is
    * invertible), shared by the hashing expressions below.
    */
  def mix64(v: Long): Long = {
    var x = v
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Sorted distinct 64-bit hashes of the character n-grams of a string,
    * in ONE fused pass — replaces the
    * `array_sort(array_distinct(transform(sequence(...), i ->
    * xxhash64(substring(...)))))` chain, which allocates one UTF8String per
    * shingle and pays lambda dispatch per element.
    *
    * Shingles are CODE POINTS (like Spark's `substring`/`length` and
    * DuckDB's string functions), not UTF-16 units — a surrogate pair is
    * one character. For n <= 3 the hash is INJECTIVE: n code points
    * (21 bits each) pack losslessly into one long and the [[mix64]]
    * finalizer is a bijection, so distinct-shingle counts and pairwise
    * intersection counts are EXACTLY the string-set values (no collision
    * probability at all) — the Jaccard numbers oracle-match DuckDB's
    * string-list computation by construction.
    */
  case class ShingleHashesSorted(child: Expression, n: Int)
      extends UnaryKernel[UTF8String](StringType) {
    require(n >= 1 && n <= 3, s"shingle_hashes_sorted supports 1 <= n <= 3, got $n")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "shingle_hashes_sorted"

    def compute(s: UTF8String): ArrayData = {
      val cps = s.toString.codePoints().toArray
      val m = cps.length - n + 1
      if (m <= 0) return ArrayData.toArrayData(Array.emptyLongArray)
      val out = new Array[Long](m)
      var i = 0
      while (i < m) {
        var packed = 0L
        var j = 0
        while (j < n) {
          packed |= (cps(i + j).toLong & 0x1fffffL) << (21 * j)
          j += 1
        }
        out(i) = mix64(packed)
        i += 1
      }
      java.util.Arrays.sort(out)
      var w = 1
      var k = 1
      while (k < m) {
        if (out(k) != out(k - 1)) { out(w) = out(k); w += 1 }
        k += 1
      }
      ArrayData.toArrayData(java.util.Arrays.copyOf(out, w))
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** 64-bit SimHash of a token array in one fused pass: each token is
    * hashed ONCE (FNV-1a over its UTF-8 bytes + [[mix64]] finalizer), its
    * bits vote ±1 per position, and the sign vector collapses to the
    * fingerprint. Replaces the higher-order-function formulation that
    * re-hashed every token once per bit (64x the hashing) under
    * interpreted lambda dispatch.
    */
  case class SimHash64(child: Expression)
      extends UnaryKernel[ArrayData](ArrayType(StringType)) {
    override def dataType: DataType = LongType
    override def prettyName: String = "simhash64"

    def compute(arr: ArrayData): Long = {
      val counts = new Array[Int](64)
      val n = arr.numElements()
      var i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) {
          val bytes = arr.getUTF8String(i).getBytes
          var h = 0xcbf29ce484222325L // FNV-1a 64 offset basis
          var k = 0
          while (k < bytes.length) {
            h = (h ^ (bytes(k) & 0xffL)) * 0x100000001b3L
            k += 1
          }
          h = mix64(h)
          var j = 0
          while (j < 64) {
            if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
            j += 1
          }
        }
        i += 1
      }
      var fp = 0L
      var j = 0
      while (j < 64) {
        if (counts(j) > 0) fp |= 1L << j
        j += 1
      }
      fp
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** 64-bit perceptual average-hash (aHash) of a binary payload — the
    * image-dedup fingerprint, computed the way a real pipeline does after
    * decode-to-grayscale: a 64-sample strided "thumbnail" of the bytes
    * (sample i reads byte ⌊i·n/64⌋, the classic strided-downsample
    * arithmetic), thresholded at the thumbnail mean (bit i set iff
    * 64·v_i > Σv, strict — integer-exact, so the whole hash replays in
    * SQL), packed MSB-first. ONE pass over the payload in whole-stage
    * codegen; on real media the byte stream would be the decoded
    * luminance plane and nothing else changes. Empty payload → 0L.
    */
  case class AHash64(child: Expression)
      extends UnaryKernel[Array[Byte]](BinaryType) {
    override def dataType: DataType = LongType
    override def prettyName: String = "ahash64"

    def compute(bytes: Array[Byte]): Long = {
      val n = bytes.length
      if (n == 0) return 0L
      val v = new Array[Int](64)
      var sum = 0L
      var i = 0
      while (i < 64) {
        // long index arithmetic: i*n overflows int for multi-GB payloads
        v(i) = bytes(((i.toLong * n) / 64).toInt) & 0xff
        sum += v(i)
        i += 1
      }
      var fp = 0L
      i = 0
      while (i < 64) {
        if (v(i) * 64L > sum) fp |= 1L << (63 - i)
        i += 1
      }
      fp
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** nBits-bit random-hyperplane bucket of a double vector (sign SimHash):
    * bit b is set iff Σ_i v[i]·sign(b,i) > 0, with sign(b,i) ∈ {−1,+1}
    * derived from a splitmix-style hash of (b,i). ONE expression node
    * regardless of dimensionality — the per-dimension Column formulation
    * (`element_at(v,i)·sign` summed) builds dim × nBits plan nodes, which
    * at production embedding dims (768–3072) is a 100k-node plan and a
    * codegen fallback. The (b,i) index uses a 2^20 stride so hyperplane
    * components stay independent up to dim 1,048,576; longer vectors are
    * REJECTED (compute throws) rather than silently aliasing components
    * across bits, which would quietly degrade LSH independence.
    *
    * The projection runs over the vector's OWN length, so ragged rows never
    * abort (ANSI-safe by construction); callers that require a uniform dim
    * add `size(v) = dim` to their join/filter.
    */
  case class HyperplaneBucket(child: Expression, nBits: Int)
      extends UnaryKernel[ArrayData](ArrayType(DoubleType)) {
    require(nBits >= 1 && nBits <= 64, s"hyperplane_bucket needs 1 <= nBits <= 64, got $nBits")
    override def dataType: DataType = LongType
    override def prettyName: String = "hyperplane_bucket"

    def compute(v: ArrayData): Long = {
      val n = v.numElements()
      if (n > (1 << 20)) throw new IllegalArgumentException(
        s"hyperplane_bucket supports vectors up to ${1 << 20} elements " +
          s"(the (bit, index) stride); got $n — components would alias across bits")
      var bucket = 0L
      var b = 0
      while (b < nBits) {
        val base = b.toLong << 20
        var proj = 0.0
        var i = 0
        while (i < n) {
          var x = 0x9E3779B97F4A7C15L * (base + i + 1)
          x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
          val sign = if (((x ^ (x >>> 27)) & 1L) == 0L) -1.0 else 1.0
          proj += v.getDouble(i) * sign
          i += 1
        }
        if (proj > 0) bucket |= 1L << b
        b += 1
      }
      bucket
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Per-lexicon exact-token hit counts in ONE pass over the raw string:
    * tokenizes on `\s+` runs (the same ASCII whitespace class Java regex
    * `\s` and the split-based operators use) and counts tokens exactly
    * equal to each lexicon's words, returning `array<int>` with one count
    * per lexicon. Replaces `size(filter(split(text,'\\s+'), t ->
    * t.isin(...)))` × nLexicons — a regex split allocating a token array
    * plus interpreted HOF lambda dispatch per token per lexicon.
    */
  case class LexiconHits(child: Expression, lexicons: Seq[Seq[String]])
      extends UnaryKernel[UTF8String](StringType) {
    // the word->lexicon map packs lexicon membership into an Int bitmask;
    // index 32 would alias index 0 (Java shifts are mod 32)
    require(lexicons.length <= 32, s"lexicon_hits supports at most 32 lexicons, got ${lexicons.length}")
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "lexicon_hits"

    // word -> bitmask of lexicon indices containing it (a word may appear
    // in several lexicons, e.g. "la"/"que" in both es and fr)
    @transient private lazy val wordMask: java.util.HashMap[String, Integer] = {
      val m = new java.util.HashMap[String, Integer]()
      lexicons.zipWithIndex.foreach { case (words, li) =>
        words.foreach { w =>
          val prev = m.get(w)
          m.put(w, Integer.valueOf((if (prev == null) 0 else prev.intValue()) | (1 << li)))
        }
      }
      m
    }

    private def isWs(c: Char): Boolean = // Java regex \s: [ \t\n\x0B\f\r]
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

    def compute(s: UTF8String): ArrayData = {
      val counts = new Array[Int](lexicons.length)
      val str = s.toString
      val n = str.length
      var i = 0
      while (i < n) {
        while (i < n && isWs(str.charAt(i))) i += 1
        val start = i
        while (i < n && !isWs(str.charAt(i))) i += 1
        if (i > start) {
          val mask = wordMask.get(str.substring(start, i))
          if (mask != null) {
            var m = mask.intValue()
            while (m != 0) {
              val li = java.lang.Integer.numberOfTrailingZeros(m)
              counts(li) += 1
              m &= m - 1
            }
          }
        }
      }
      ArrayData.toArrayData(counts)
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** md5 hex of the concatenation of the SORTED DISTINCT character
    * n-gram shingles of a string — the whole
    * `md5(concat_ws('', array_sort(array_distinct(transform(sequence(...),
    * substring)))))` chain in one kernel, with no per-shingle Column
    * machinery, no UTF8String churn through four HOF lambdas, and the
    * digest fed incrementally (the concatenated shingle string is never
    * materialized). Semantics pinned to the SQL form: shingles are CODE
    * POINTS (Spark substring semantics), dedup is exact string equality,
    * and the sort is code-point order — the same order `array_sort` gives
    * strings (UTF-8 binary order preserves code-point order), NOT
    * String.compareTo's UTF-16 order, which diverges for supplementary
    * characters.
    */
  case class DocFingerprint(child: Expression, n: Int)
      extends UnaryKernel[UTF8String](StringType) {
    require(n >= 1, s"doc_fingerprint needs n >= 1, got $n")
    override def dataType: DataType = StringType
    override def prettyName: String = "doc_fingerprint"

    private def codePointCompare(a: String, b: String): Int = {
      var i = 0; var j = 0
      while (i < a.length && j < b.length) {
        val ca = a.codePointAt(i); val cb = b.codePointAt(j)
        if (ca != cb) return Integer.compare(ca, cb)
        i += Character.charCount(ca); j += Character.charCount(cb)
      }
      Integer.compare(a.length - i, b.length - j)
    }

    def compute(s: UTF8String): UTF8String = {
      val str = s.toString
      val cps = str.codePoints().toArray
      val m = cps.length - n + 1
      val set = new java.util.TreeSet[String]((a: String, b: String) => codePointCompare(a, b))
      var i = 0
      while (i < m) {
        set.add(new String(cps, i, n))
        i += 1
      }
      val md = java.security.MessageDigest.getInstance("MD5")
      val it = set.iterator()
      while (it.hasNext) md.update(it.next().getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val digest = md.digest()
      val hex = new StringBuilder(32)
      digest.foreach(b => hex.append(f"${b & 0xff}%02x"))
      UTF8String.fromString(hex.toString)
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Content-defined chunks of a string's UTF-8 bytes via a Gear rolling
    * hash: `array<struct<len:int, hash:bigint>>`, one pass. A boundary
    * cuts where the rolling hash's HIGH `avgBits` bits are zero (expected
    * chunk size ≈ minSize + 2^avgBits) once `minSize` bytes have
    * accumulated; `maxSize` forces a cut. High bits, not low: with
    * `h = (h << 1) + gear(b)`, bit k only sees the last k+1 bytes, so a
    * low-bits test degenerates to ~avgBits bytes of context and collapses
    * on periodic/low-entropy text (the original-Gear weakness FastCDC's
    * spread masks address); the top bits aggregate the full 64-byte
    * window. The gear table derives from [[mix64]], so boundaries are
    * deterministic and depend only on those 64 bytes of context — the CDC
    * locality property (edits move only the chunks they touch) that makes
    * chunk-hash dedup work. Chunk hash = FNV-1a over the chunk's bytes +
    * mix64 finalizer.
    */
  case class CdcChunks(child: Expression, minSize: Int, avgBits: Int, maxSize: Int)
      extends UnaryKernel[UTF8String](StringType) {
    require(minSize >= 1 && avgBits >= 1 && avgBits <= 28 && maxSize >= minSize,
      s"cdc_chunks: need 1 <= minSize <= maxSize and 1 <= avgBits <= 28")
    override def dataType: DataType = ArrayType(
      StructType(Seq(StructField("len", IntegerType, nullable = false),
        StructField("hash", LongType, nullable = false))), containsNull = false)
    override def prettyName: String = "cdc_chunks"

    // boundary iff the top avgBits bits of the rolling hash are zero
    private val shift: Int = 64 - avgBits

    def compute(s: UTF8String): ArrayData = {
      val bytes = s.getBytes
      val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
      var start = 0
      var h = 0L
      var fnv = 0xcbf29ce484222325L
      var i = 0
      while (i < bytes.length) {
        val b = bytes(i) & 0xff
        h = (h << 1) + CdcChunks.gear(b)
        fnv = (fnv ^ b) * 0x100000001b3L
        i += 1
        val len = i - start
        if ((len >= minSize && (h >>> shift) == 0L) || len >= maxSize) {
          out += InternalRow(len, mix64(fnv))
          start = i; h = 0L; fnv = 0xcbf29ce484222325L
        }
      }
      if (i > start) out += InternalRow(i - start, mix64(fnv))
      new GenericArrayData(out.toArray[Any])
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  object CdcChunks {
    /** Deterministic gear table shared by every instance. */
    private[functions] val gear: Array[Long] =
      Array.tabulate(256)(i => mix64(0x6763647F5AB1E92DL + i))
  }

  /** DEFLATE compression ratio of a string's UTF-8 bytes (compressed /
    * raw, ~0.05..1.2): the classic cheap junk detector for training-data
    * curation — highly repetitive or templated text compresses far below
    * natural prose, random noise compresses above it. BEST_SPEED keeps the
    * kernel ~100 MB/s/core; deterministic for a given JVM's zlib.
    */
  case class DeflateRatio(child: Expression)
      extends UnaryKernel[UTF8String](StringType) {
    override def dataType: DataType = DoubleType
    override def prettyName: String = "deflate_ratio"

    def compute(s: UTF8String): Double = {
      val bytes = s.getBytes
      if (bytes.isEmpty) return 1.0
      // one native zlib stream per executor thread, reset per row —
      // per-row Deflater construction pays JNI stream init/free that
      // dominates on short documents
      val d = DeflateRatio.local.get()
      d.reset()
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total.toDouble / bytes.length
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  object DeflateRatio {
    private[functions] val local: ThreadLocal[java.util.zip.Deflater] =
      ThreadLocal.withInitial(() =>
        new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED))
  }

  /** Single-pass per-document character statistics for quality scoring:
    * code-point count, distinct code points, the highest single-character
    * count, and the collision sum Σc² — the exact-integer ingredients of
    * Simpson diversity (1 − Σc²/n²) and top-character fraction, returned
    * as `array<long>` `[n, distinct, max_count, collision_sum]`. The
    * derived double scores are then SINGLE IEEE divisions of exact
    * integers — bit-identical in any engine — unlike a Shannon-entropy
    * term, whose `log` is not bit-specified across math libraries and
    * could never hash-match a foreign oracle. Replaces the naive
    * `explode(chars) + groupBy(doc_id, char)` form, which shuffles one
    * row PER CHARACTER (a ~5000× row blow-up at corpus scale): this is a
    * per-row kernel — one pass over the scan, zero exchanges.
    */
  case class CharDiversity(child: Expression)
      extends UnaryKernel[UTF8String](StringType) {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "char_diversity"

    def compute(s: UTF8String): ArrayData = {
      val str = s.toString
      val counts = new java.util.HashMap[Integer, Array[Long]]()
      var n = 0L
      var i = 0
      val len = str.length
      while (i < len) {
        val cp = str.codePointAt(i)
        i += Character.charCount(cp)
        n += 1
        val slot = counts.get(Integer.valueOf(cp))
        if (slot == null) counts.put(Integer.valueOf(cp), Array(1L)) else slot(0) += 1
      }
      var maxc = 0L
      var sumSq = 0L
      val it = counts.values().iterator()
      while (it.hasNext) {
        val c = it.next()(0)
        if (c > maxc) maxc = c
        sumSq += c * c
      }
      ArrayData.toArrayData(Array(n, counts.size().toLong, maxc, sumSq))
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Unicode normalization (`java.text.Normalizer`) as a codegen scalar:
    * NFC/NFD/NFKC/NFKD selected by a literal form name, validated at
    * plan time (an unknown form is an analysis error, not a per-row
    * throw). The canonical ingest step before any byte-equality dedup —
    * `"é"` precomposed and `"e"+U+0301` decomposed are the SAME text but
    * different bytes, so un-normalized corpora silently miss duplicates.
    */
  case class UnicodeNormalize(child: Expression, form: String)
      extends UnaryKernel[UTF8String](StringType) {
    require(Seq("NFC", "NFD", "NFKC", "NFKD").contains(form),
      s"unicode_normalize form must be one of NFC/NFD/NFKC/NFKD, got $form")
    @transient private lazy val normForm = java.text.Normalizer.Form.valueOf(form)
    override def dataType: DataType = StringType
    override def prettyName: String = "unicode_normalize"

    def compute(s: UTF8String): UTF8String = {
      val str = s.toString
      // fast path: Normalizer.isNormalized is a cheap scan, and real
      // corpora are overwhelmingly already-NFC — skip the rewrite
      if (java.text.Normalizer.isNormalized(str, normForm)) s
      else UTF8String.fromString(
        java.text.Normalizer.normalize(str, normForm))
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Accent stripping: NFD-decompose, drop combining marks (Unicode
    * category Mn), NFC-recompose — `"é" → "e"`, the transliteration step
    * search/dedup pipelines run before comparing text across sources.
    */
  case class StripAccents(child: Expression)
      extends UnaryKernel[UTF8String](StringType) {
    override def dataType: DataType = StringType
    override def prettyName: String = "strip_accents"

    def compute(s: UTF8String): UTF8String = {
      val nfd = java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFD)
      val sb = new java.lang.StringBuilder(nfd.length)
      var i = 0
      while (i < nfd.length) {
        val cp = nfd.codePointAt(i)
        if (Character.getType(cp) != Character.NON_SPACING_MARK) sb.appendCodePoint(cp)
        i += Character.charCount(cp)
      }
      UTF8String.fromString(
        java.text.Normalizer.normalize(sb, java.text.Normalizer.Form.NFC))
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** JPEG dimension extraction via a real SOF-marker segment walk — the
    * genuine codec path of the multimodal family (PNG/BMP/WAV headers sit
    * at fixed offsets; JPEG's frame header floats behind a variable-length
    * segment chain, so parsing it REQUIRES walking the container format:
    * SOI, then per segment `FF` + marker + big-endian u16 length, skipping
    * fill bytes and length-less standalone markers (TEM, RST0-7), until a
    * start-of-frame marker — any SOF0-15 except the DHT/JPG/DAC holes
    * C4/C8/CC — whose payload carries precision(1), height(2 BE),
    * width(2 BE). Returns NULL (never throws) on non-JPEG magic,
    * truncation mid-walk, a corrupt segment chain, or SOS/EOI reached
    * before any SOF — the wrong-format-safe contract a billion-blob
    * ingest needs. Entropy-coded scan payloads are never touched: the
    * walk ends at the SOF, bytes after it are irrelevant.
    */
  case class JpegSofDim(child: Expression, isWidth: Boolean)
      extends UnaryKernel[Array[Byte]](BinaryType) {
    override def dataType: DataType = LongType
    override protected def returnsNull: Boolean = true
    override def prettyName: String = if (isWidth) "jpeg_width" else "jpeg_height"

    def compute(b: Array[Byte]): java.lang.Long = {
      val n = b.length
      @inline def u8(i: Int): Int = b(i) & 0xFF
      if (n < 4 || u8(0) != 0xFF || u8(1) != 0xD8) return null
      var pos = 2
      while (pos + 1 < n) {
        if (u8(pos) != 0xFF) return null // lost sync: not a marker boundary
        // fill bytes: any number of 0xFF may pad before the marker code
        var m = u8(pos + 1)
        while (m == 0xFF && pos + 2 < n) { pos += 1; m = u8(pos + 1) }
        if (m == 0xFF) return null // truncated inside padding
        if (m == 0x01 || (m >= 0xD0 && m <= 0xD7) || m == 0xD8) pos += 2 // standalone
        else if (m == 0xD9 || m == 0xDA) return null // EOI/SOS before any SOF
        else {
          if (pos + 3 >= n) return null
          val segLen = (u8(pos + 2) << 8) | u8(pos + 3)
          if (segLen < 2) return null
          if (m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC) {
            if (segLen < 7 || pos + 8 >= n) return null // SOF too short for dims
            return java.lang.Long.valueOf(
              if (isWidth) (u8(pos + 7) << 8) | u8(pos + 8) else (u8(pos + 5) << 8) | u8(pos + 6))
          }
          pos += 2 + segLen
        }
      }
      null
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** SQL-side read access to a serialized Count-Min sketch:
    * `cms_estimate(sketch_bytes, token)` returns the sketch's frequency
    * estimate for the token — the read half Spark's own `count_min_sketch`
    * aggregate lacks (it ships an opaque binary with no SQL accessor, so
    * every consumer previously had to collect the sketch to the driver
    * and probe it there). With this, the 1-row sketch relation joins back
    * as a broadcast literal and the whole heavy-hitters pipeline stays in
    * the plan. The deserialized sketch is memoized per expression instance
    * keyed on the byte payload (each probed row arrives with its own copy
    * of the broadcast bytes; an `Arrays.equals` check is a memcmp, ~100×
    * cheaper than re-parsing the ~1 MB counter table per row).
    */
  case class CmsEstimate(sketch: Expression, item: Expression)
      extends BinaryKernel[Array[Byte], UTF8String](BinaryType, StringType) {
    override def left: Expression = sketch
    override def right: Expression = item
    override def dataType: DataType = LongType
    // NULL on bytes that are not a serialized sketch (never a throw) —
    // the same wrong-format-safe posture as the media parsers
    override protected def returnsNull: Boolean = true
    override def prettyName: String = "cms_estimate"

    @transient private var memoBytes: Array[Byte] = _
    @transient private var memoSketch: org.apache.spark.util.sketch.CountMinSketch = _

    def compute(bytes: Array[Byte], tok: UTF8String): java.lang.Long = {
      if (memoSketch == null || !java.util.Arrays.equals(memoBytes, bytes)) {
        memoSketch =
          try org.apache.spark.util.sketch.CountMinSketch.readFrom(
            new java.io.ByteArrayInputStream(bytes))
          catch { case _: java.io.IOException | _: RuntimeException => null }
        memoBytes = bytes
        if (memoSketch == null) return null
      }
      java.lang.Long.valueOf(memoSketch.estimateCount(tok.getBytes))
    }

    override protected def withNewChildrenInternal(
        l: Expression, r: Expression): Expression = copy(sketch = l, item = r)
  }

  /** WAV/PCM audio decode via a real RIFF chunk walk: locate the `fmt `
    * and `data` chunks (any number of other chunks — LIST/INFO/cue —
    * may precede them, and RIFF pads odd-sized chunks to even, so the
    * walk is genuinely format-driven, not fixed-offset), require
    * 16-bit integer PCM, then decode every little-endian signed sample
    * and return the five order-independent integers a corpus audio
    * pass needs: `[n_samples, sum, sum_of_squares, min, max]` (RMS and
    * peak level derive from these; the integers stay exact under any
    * aggregation order, so corpus rollups remain oracle-checkable).
    * PCM IS the decode for WAV — the samples are the signal — making
    * this the audio sibling of the x79 image path. NULL (never a
    * throw) on non-RIFF magic, truncation mid-chunk, a missing/short
    * `fmt `/`data` chunk, or non-16-bit-PCM encodings.
    */
  case class WavPcmStats(child: Expression)
      extends UnaryKernel[Array[Byte]](BinaryType) {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def returnsNull: Boolean = true
    override def prettyName: String = "wav_pcm_stats"

    def compute(b: Array[Byte]): ArrayData = {
      val n = b.length
      @inline def u8(i: Int): Int = b(i) & 0xFF
      @inline def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
      @inline def le32(i: Int): Long =
        u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
      @inline def tag(i: Int, t: String): Boolean =
        u8(i) == t.charAt(0) && u8(i + 1) == t.charAt(1) &&
          u8(i + 2) == t.charAt(2) && u8(i + 3) == t.charAt(3)
      if (n < 12 || !tag(0, "RIFF") || !tag(8, "WAVE")) return null
      var pos = 12
      var fmtOk = false
      while (pos + 8 <= n) {
        val size = le32(pos + 4)
        if (size < 0 || size > Int.MaxValue) return null
        val body = pos + 8
        if (tag(pos, "fmt ")) {
          if (size < 16 || body + 16 > n) return null
          // audioFormat(2) channels(2) rate(4) byteRate(4) align(2) bits(2)
          fmtOk = le16(body) == 1 && le16(body + 14) == 16
        } else if (tag(pos, "data")) {
          if (!fmtOk) return null // fmt must precede data (and be 16-bit PCM)
          val end = body + size.toInt
          if (end > n) return null // truncated payload
          var i = body
          var cnt = 0L; var sum = 0L; var sumSq = 0L
          var mn = Long.MaxValue; var mx = Long.MinValue
          while (i + 1 < end) {
            val s = le16(i).toShort.toLong // sign-extend the LE sample
            cnt += 1; sum += s; sumSq += s * s
            if (s < mn) mn = s
            if (s > mx) mx = s
            i += 2
          }
          if (cnt == 0L) return null
          return ArrayData.toArrayData(Array(cnt, sum, sumSq, mn, mx))
        }
        pos = body + size.toInt + (size.toInt & 1) // RIFF pads chunks to even
      }
      null
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** MJPEG (concatenated-JPEG video stream) demux: walk every frame —
    * SOI, segment chain to the SOF (dims) and the SOS, then the entropy
    * scan honouring JPEG's byte-stuffing (`FF 00` is a literal data
    * byte, not a marker) and restart markers (`FF D0-D7` continue the
    * scan) until the frame's EOI — and return
    * `[n_frames, first_w, first_h, last_w, last_h]`. This is the real
    * work of a video-ingest demuxer for the one video format whose
    * frames are independently decodable; frame COUNT and per-frame
    * dimensions cannot be read without correctly scanning the entropy
    * stream of every preceding frame, so a parser that mishandles
    * stuffing or restart markers gets the count wrong. NULL (never a
    * throw) on anything malformed: missing SOI, SOS before SOF,
    * truncation mid-segment or mid-scan, an invalid marker inside
    * entropy data, or trailing garbage after the last EOI.
    */
  case class MjpegStats(child: Expression)
      extends UnaryKernel[Array[Byte]](BinaryType) {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override protected def returnsNull: Boolean = true
    override def prettyName: String = "mjpeg_stats"

    def compute(b: Array[Byte]): ArrayData = {
      val n = b.length
      @inline def u8(i: Int): Int = b(i) & 0xFF
      var pos = 0
      var frames = 0L
      var fw = -1L; var fh = -1L; var lw = -1L; var lh = -1L
      while (pos < n) {
        if (pos + 1 >= n || u8(pos) != 0xFF || u8(pos + 1) != 0xD8) return null // no SOI
        pos += 2
        var w = -1L; var h = -1L
        var inFrame = true
        while (inFrame) {
          if (pos + 1 >= n || u8(pos) != 0xFF) return null
          var m = u8(pos + 1)
          while (m == 0xFF && pos + 2 < n) { pos += 1; m = u8(pos + 1) } // fill bytes
          if (m == 0xFF) return null
          if (m == 0x01 || (m >= 0xD0 && m <= 0xD7)) pos += 2 // standalone
          else if (m == 0xD8 || m == 0xD9) return null // nested SOI / EOI before SOS
          else if (m == 0xDA) { // SOS: skip header, scan entropy to EOI
            if (w < 0) return null // SOS before any SOF
            if (pos + 3 >= n) return null
            val segLen = (u8(pos + 2) << 8) | u8(pos + 3)
            if (segLen < 2) return null
            var i = pos + 2 + segLen
            var scanning = true
            while (scanning) {
              if (i >= n) return null // truncated mid-scan
              if (u8(i) == 0xFF) {
                if (i + 1 >= n) return null
                val nm = u8(i + 1)
                if (nm == 0x00 || (nm >= 0xD0 && nm <= 0xD7)) i += 2 // stuffed / restart
                else if (nm == 0xD9) { pos = i + 2; scanning = false } // EOI
                else return null // any other marker inside a scan is corrupt
              } else i += 1
            }
            frames += 1
            if (frames == 1L) { fw = w; fh = h }
            lw = w; lh = h
            inFrame = false
          } else { // length-carrying segment; SOF records dims
            if (pos + 3 >= n) return null
            val segLen = (u8(pos + 2) << 8) | u8(pos + 3)
            if (segLen < 2) return null
            if (m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC) {
              if (segLen < 7 || pos + 8 >= n) return null
              h = ((u8(pos + 5) << 8) | u8(pos + 6)).toLong
              w = ((u8(pos + 7) << 8) | u8(pos + 8)).toLong
            }
            pos += 2 + segLen
          }
        }
      }
      if (frames == 0L) null
      else ArrayData.toArrayData(Array(frames, fw, fh, lw, lh))
    }

    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Shared deterministic coefficient scheme for MinHash permutations. */
  object MinHash {
    /** 2^31−1 (Mersenne prime): a·h+b stays within Long under ANSI. */
    final val P = 2147483647L
    private def mix(seed: Long, i: Int): Long =
      math.abs(mix64(seed + 0x9E3779B97F4A7C15L * (i + 1))) % (P - 1) + 1
    def coefA(i: Int): Long = mix(42L, i)
    def coefB(i: Int): Long = mix(4242L, i)
  }

  /** The arguments of one SQL call, as its builder sees them at analysis.
    * A literal parameter given a column reference or a NULL fails with
    * Spark's standard error, as a misused built-in does.
    */
  final class Args private[ArrayExpressions] (funcName: String, es: Seq[Expression]) {
    def apply(i: Int): Expression = es(i)
    def int(i: Int, param: String): Int = literal(i, param, "INT").asInstanceOf[Number].intValue()
    def string(i: Int, param: String): String = literal(i, param, "STRING").toString

    private def literal(i: Int, param: String, paramType: String): Any = {
      val e = es(i)
      if (!e.foldable)
        throw new AnalysisException("NON_FOLDABLE_ARGUMENT",
          Map("funcName" -> s"`$funcName`", "paramName" -> s"`$param`",
            "paramType" -> s""""$paramType""""))
      val v = e.eval()
      if (v == null)
        throw new AnalysisException("INVALID_PARAMETER_VALUE.NULL",
          Map("parameter" -> s"`$param`", "functionName" -> s"`$funcName`"))
      v
    }
  }

  /** One (name, implementing class, builder) triple of [[functionBuilders]].
    * The builder checks the arity first and raises Spark's standard
    * WRONG_NUM_ARGS analysis error: a wrong-arity SQL call
    * (`minhash_signature(x)`, `lexicon_hits(x, extra)`) fails like a
    * misused built-in, not with an IndexOutOfBounds from inside the
    * builder or by silently ignoring extra arguments.
    */
  private def entry[E <: Expression: ClassTag](name: String, arity: Int)(
      build: Args => Expression): (String, String, Seq[Expression] => Expression) =
    (name, classTag[E].runtimeClass.getName, es => {
      if (es.length != arity)
        throw new AnalysisException(
          "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          Map(
            "functionName" -> s"`$name`",
            "expectedNum" -> arity.toString,
            "actualNum" -> es.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      build(new Args(name, es))
    })

  /** Every custom SQL function, the one list [[graft.GraftExtensions]]
    * injects into each session.
    */
  val functionBuilders: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    entry[SortedLongIntersectCount]("sorted_long_intersect_count", 2)(
      a => SortedLongIntersectCount(a(0), a(1))),
    entry[SortedLongIntersect]("sorted_long_intersect", 2)(a => SortedLongIntersect(a(0), a(1))),
    entry[CosineSimilarity]("cosine_similarity", 2)(a => CosineSimilarity(a(0), a(1))),
    entry[FixedPointDist2]("fixed_point_dist2", 2)(a => FixedPointDist2(a(0), a(1))),
    entry[MinHashSignature]("minhash_signature", 2)(
      a => MinHashSignature(a(0), a.int(1, "numPerms"))),
    entry[ShingleHashesSorted]("shingle_hashes_sorted", 2)(
      a => ShingleHashesSorted(a(0), a.int(1, "n"))),
    entry[TopKByScore]("top_k_by_score", 3)(a => TopKByScore(a(0), a(1), a.int(2, "k"))),
    entry[DeflateRatio]("deflate_ratio", 1)(a => DeflateRatio(a(0))),
    entry[SimHash64]("simhash64", 1)(a => SimHash64(a(0))),
    entry[AHash64]("ahash64", 1)(a => AHash64(a(0))),
    entry[HyperplaneBucket]("hyperplane_bucket", 2)(
      a => HyperplaneBucket(a(0), a.int(1, "nBits"))),
    entry[VectorSum]("vector_sum", 1)(a => VectorSum(a(0))),
    entry[CdcChunks]("cdc_chunks", 4)(
      a => CdcChunks(a(0), a.int(1, "minSize"), a.int(2, "avgBits"), a.int(3, "maxSize"))),
    entry[DocFingerprint]("doc_fingerprint", 2)(a => DocFingerprint(a(0), a.int(1, "n"))),
    entry[LexiconHits]("lexicon_hits", 1)(
      a => LexiconHits(a(0),
        graft.operators.TextAnalysis.LexiconOrder.map(
          graft.operators.TextAnalysis.Lexicons))),
    entry[CharDiversity]("char_diversity", 1)(a => CharDiversity(a(0))),
    entry[UnicodeNormalize]("unicode_normalize", 2)(
      a => UnicodeNormalize(a(0), a.string(1, "form"))),
    entry[StripAccents]("strip_accents", 1)(a => StripAccents(a(0))),
    entry[JpegSofDim]("jpeg_width", 1)(a => JpegSofDim(a(0), isWidth = true)),
    entry[JpegSofDim]("jpeg_height", 1)(a => JpegSofDim(a(0), isWidth = false)),
    entry[CmsEstimate]("cms_estimate", 2)(a => CmsEstimate(a(0), a(1))),
    entry[WavPcmStats]("wav_pcm_stats", 1)(a => WavPcmStats(a(0))),
    entry[MjpegStats]("mjpeg_stats", 1)(a => MjpegStats(a(0))))

  /** Column wrappers: each resolves its function by name in the session's
    * registry, where [[graft.GraftExtensions]] put it.
    */
  def sortedLongIntersectCount(a: Column, b: Column): Column =
    call_function("sorted_long_intersect_count", a, b)

  /** Intersection MEMBERS of two sorted long arrays ([[SortedLongIntersect]]). */
  def sortedLongIntersect(a: Column, b: Column): Column =
    call_function("sorted_long_intersect", a, b)

  def cosineSim(a: Column, b: Column): Column =
    call_function("cosine_similarity", a, b)

  /** Exact fixed-point squared L2 distance as bigint ([[FixedPointDist2]]). */
  def fixedPointDist2(a: Column, b: Column): Column =
    call_function("fixed_point_dist2", a, b)

  def minhashSignature(hashes: Column, numPerms: Int): Column =
    call_function("minhash_signature", hashes, lit(numPerms))

  def jpegWidth(payload: Column): Column = call_function("jpeg_width", payload)

  def jpegHeight(payload: Column): Column = call_function("jpeg_height", payload)

  def cmsEstimate(sketch: Column, item: Column): Column =
    call_function("cms_estimate", sketch, item)

  def wavPcmStats(payload: Column): Column = call_function("wav_pcm_stats", payload)

  def mjpegStats(payload: Column): Column = call_function("mjpeg_stats", payload)

  def shingleHashesSorted(text: Column, n: Int): Column =
    call_function("shingle_hashes_sorted", text, lit(n))

  /** Bounded-heap top-k aggregate ([[TopKByScore]]); use under groupBy. */
  def topKByScore(score: Column, id: Column, k: Int): Column =
    call_function("top_k_by_score", score, id, lit(k))

  def deflateRatio(text: Column): Column = call_function("deflate_ratio", text)

  def simhash64(tokens: Column): Column = call_function("simhash64", tokens)

  def ahash64(payload: Column): Column = call_function("ahash64", payload)

  def hyperplaneBucket(v: Column, nBits: Int): Column =
    call_function("hyperplane_bucket", v, lit(nBits))

  /** Element-wise vector-sum aggregate ([[VectorSum]]); use under groupBy. */
  def vectorSum(v: Column): Column = call_function("vector_sum", v)

  def cdcChunks(text: Column, minSize: Int, avgBits: Int, maxSize: Int): Column =
    call_function("cdc_chunks", text,
      lit(minSize),
      lit(avgBits),
      lit(maxSize))

  def docFingerprint(text: Column, n: Int): Column =
    call_function("doc_fingerprint", text, lit(n))

  /** Hit counts against [[graft.operators.TextAnalysis.Lexicons]] in
    * [[graft.operators.TextAnalysis.LexiconOrder]] order, as array<int>.
    */
  def lexiconHits(text: Column): Column = call_function("lexicon_hits", text)

  /** `array<long> [n_chars, distinct_chars, max_char_count, Σc²]` per row. */
  def charDiversity(text: Column): Column = call_function("char_diversity", text)

  def unicodeNormalize(text: Column, form: String): Column =
    call_function("unicode_normalize", text, lit(form))

  def stripAccents(text: Column): Column = call_function("strip_accents", text)
}
