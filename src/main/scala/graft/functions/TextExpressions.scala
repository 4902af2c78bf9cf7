package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shared primitive kernels for the shingle/minhash expressions, kept in a
  * plain object (no companion class conflicts) so generated code can call
  * them as static methods.
  *
  * Both kernels scan the raw UTF-8 bytes: the separator is the single byte
  * 0x20, which in UTF-8 can only ever encode a space (continuation bytes
  * have the high bit set), so token boundaries are byte positions and a
  * k-token shingle joined with ' ' is exactly a contiguous byte slice of
  * the input — zero string materialization until output.
  */
object TextOps {

  /** Token start offsets: starts(i) = byte offset of token i;
    * starts(nTokens) = len + 1 sentinel so token i ends at
    * starts(i+1) - 2 inclusive (the byte before its trailing space).
    * Mirrors `split(" ", -1)`: empty tokens from consecutive/leading/
    * trailing spaces are preserved.
    */
  private def tokenStarts(b: Array[Byte]): Array[Int] = {
    var nTokens = 1
    var i = 0
    while (i < b.length) { if (b(i) == ' '.toByte) nTokens += 1; i += 1 }
    val starts = new Array[Int](nTokens + 1)
    var t = 1
    i = 0
    while (i < b.length) {
      if (b(i) == ' '.toByte) { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(nTokens) = b.length + 1
    starts
  }

  /** k-token shingles of a space-separated string; empty array when the
    * string has fewer than k tokens. Each shingle is a byte slice of the
    * input (see object doc).
    */
  def shingles(input: UTF8String, k: Int): ArrayData = {
    val b = input.getBytes
    val starts = tokenStarts(b)
    val nTokens = starts.length - 1
    val n = nTokens - k + 1
    if (n <= 0) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](n)
      var i = 0
      while (i < n) {
        val off = starts(i)
        out(i) = UTF8String.fromBytes(b, off, starts(i + k) - 1 - off)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** Non-overlapping `width`-token chunks ("lines") joined with ' ' —
    * the docLines `transform(sequence…, i -> array_join(slice(t, i·w+1,
    * w), ' '))` chain as byte slices: a w-token chunk of a
    * space-separated string IS a contiguous byte slice, so nothing is
    * materialized but the output strings. ceil(nTokens/width) chunks,
    * short tail included — exactly the HOF's sequence bound.
    */
  def lineChunks(input: UTF8String, width: Int): ArrayData = {
    val b = input.getBytes
    val starts = tokenStarts(b)
    val nTokens = starts.length - 1
    val n = (nTokens + width - 1) / width
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      val a = i * width
      val e = math.min(a + width, nTokens)
      val off = starts(a)
      out(i) = UTF8String.fromBytes(b, off, starts(e) - 1 - off)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** In-window co-occurrence pair strings "t[i] t[j]" (i < j ≤ i+window,
    * both sides in token order) — the nested transform+flatten chain of
    * q_cooccur_window as one compiled loop over byte slices; the HOF's
    * empty array when fewer than 2 tokens. Pair order matches the HOF's
    * flatten exactly (outer i ascending, inner j ascending).
    */
  def cooccurPairs(input: UTF8String, window: Int): ArrayData = {
    val b = input.getBytes
    val starts = tokenStarts(b)
    val n = starts.length - 1
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    var total = 0
    var i = 0
    while (i < n - 1) { total += math.min(window, n - 1 - i); i += 1 }
    val out = new Array[Any](total)
    var p = 0
    i = 0
    while (i < n - 1) {
      val iOff = starts(i)
      val iLen = starts(i + 1) - 1 - iOff
      val jMax = math.min(i + window, n - 1)
      var j = i + 1
      while (j <= jMax) {
        val jOff = starts(j)
        val jLen = starts(j + 1) - 1 - jOff
        val arr = new Array[Byte](iLen + 1 + jLen)
        System.arraycopy(b, iOff, arr, 0, iLen)
        arr(iLen) = ' '.toByte
        System.arraycopy(b, jOff, arr, iLen + 1, jLen)
        out(p) = UTF8String.fromBytes(arr)
        p += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Count of space-delimited tokens byte-equal to any of `words` — the
    * `size(filter(split(text, ' '), x.isin(words…)))` HOF chain as one
    * byte scan: no token array, no per-token interpreted predicate.
    * Byte equality ≡ string equality in UTF-8 (multibyte lexicon entries
    * included), and an empty token can never match a non-empty word, so
    * consecutive/leading/trailing spaces count identically to the HOF.
    */
  def lexHits(input: UTF8String, words: Array[Array[Byte]]): Long = {
    // zero-copy: getByte reads the UnsafeRow bytes in place — a
    // getBytes() array copy per call measured SLOWER than the split
    // form it replaces when several signals scan the same text
    val nb = input.numBytes()
    var hits = 0L
    var start = 0
    var i = 0
    while (i <= nb) {
      if (i == nb || input.getByte(i) == ' '.toByte) {
        val len = i - start
        var w = 0
        var matched = false
        while (!matched && w < words.length) {
          val wb = words(w)
          if (wb.length == len) {
            var j = 0
            while (j < len && wb(j) == input.getByte(start + j)) j += 1
            matched = j == len
          }
          w += 1
        }
        if (matched) hits += 1
        start = i + 1
      }
      i += 1
    }
    hits
  }

  /** Count of space-delimited tokens fully matching `[a-z]+` — the
    * `size(filter(split(text, ' '), x.rlike("^[a-z]+\\z")))` chain as one
    * byte scan. ASCII a–z bytes never occur inside multibyte UTF-8
    * sequences, so the byte test IS the character test; an empty token
    * fails the `+`.
    */
  def alphaHits(input: UTF8String): Long = {
    val nb = input.numBytes()
    var hits = 0L
    var alpha = true
    var len = 0
    var i = 0
    while (i <= nb) {
      if (i == nb || input.getByte(i) == ' '.toByte) {
        if (alpha && len > 0) hits += 1
        alpha = true; len = 0
      } else {
        val c = input.getByte(i)
        if (c < 'a'.toByte || c > 'z'.toByte) alpha = false
        len += 1
      }
      i += 1
    }
    hits
  }

  /** `size(split(text, ' '))` without materializing the token array:
    * fields = single-space delimiters + 1 (split's limit −1 keeps
    * leading/trailing empties, so the identity is exact).
    */
  def tokCount(input: UTF8String): Long = {
    val nb = input.numBytes()
    var n = 1L
    var i = 0
    while (i < nb) { if (input.getByte(i) == ' '.toByte) n += 1; i += 1 }
    n
  }

  /** All C(n,2) ordered pairs (i < j positions) of a long array — the
    * posting-list pair generator for the inverted-index Jaccard path.
    * On a sorted list the output is exactly the (d1 < d2) pair multiset
    * of the equivalent self-join.
    */
  def suffixPairs(ds: ArrayData): ArrayData = {
    val n = ds.numElements()
    // quadratic output: n*(n-1)/2 overflows Int (→ negative allocation)
    // at n ≈ 65k and is a memory bomb well before that. Callers df-cap
    // their posting lists; fail fast with the intent spelled out rather
    // than letting a future uncapped caller hit the overflow path.
    val sz = n.toLong * (n - 1) / 2
    require(sz <= org.apache.spark.unsafe.array.ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH,
      s"suffix_pairs over a $n-element list would emit $sz pairs — " +
        "posting lists must be document-frequency-capped before pair generation")
    val out = new Array[Any](sz.toInt)
    var k = 0
    var i = 0
    while (i < n) {
      val a = ds.getLong(i)
      var j = i + 1
      while (j < n) {
        out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](a, ds.getLong(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  private val mdPool = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val hexDigits = "0123456789abcdef".toCharArray

  private def toHex(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexDigits((d(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = hexDigits(d(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Unsigned lexicographic compare of two 16-byte digests — the same
    * order as comparing their lowercase-hex strings, so the running min
    * can work on raw digests and hex-encode only the k final minima.
    */
  private def lessThan(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 16) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  /** Sentinel for "fewer than k tokens" from [[simhash]] — valid
    * signatures are unsigned 32-bit or 63-bit (top bit always 0 in the
    * wide mode), so -1 is unreachable at EITHER width.
    */
  val SimhashNull: Long = -1L

  /** Fused SimHash over the DISTINCT k-token shingles of one document at
    * `bits` ∈ {32, 63}: per-shingle hash from the leading md5 bytes
    * big-endian (32-bit ≡ the exploded form's
    * `conv(substring(md5, 1, 8), 16, 10)`; 63-bit = first 8 bytes
    * logically shifted right once, so the sign bit is clear and the -1
    * null sentinel stays unreachable), per-bit ±1 sums, sign → bit.
    * Distinctness is on the shingle STRING (a per-row hash set),
    * matching the exploded pipeline's `distinct()`. Width is a DERIVED
    * constant at the call sites ([[graft.llm.Dedup.simhashBitsFor]]):
    * 32-bit hamming≤6 collides at random with probability ≈ 2.7e-4, so
    * past ~16k documents the pair set becomes Θ(n²) noise — the 63-bit
    * mode (collision ≈ 1e-11) is the 100 TB path.
    */
  def simhash(input: UTF8String, k: Int, bits: Int): Long = {
    val b = input.getBytes
    val starts = tokenStarts(b)
    val nTokens = starts.length - 1
    val n = nTokens - k + 1
    if (n <= 0) return SimhashNull
    val md = mdPool.get()
    val seen = new java.util.HashSet[UTF8String]()
    val counts = new Array[Int](bits)
    var sh = 0
    while (sh < n) {
      val off = starts(sh)
      val len = starts(sh + k) - 1 - off
      val s = UTF8String.fromBytes(b, off, len)
      if (seen.add(s)) {
        md.update(b, off, len)
        val dig = md.digest()
        val hv =
          if (bits == 32)
            ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
              ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
          else {
            var w = 0L
            var i = 0
            while (i < 8) { w = (w << 8) | (dig(i) & 0xffL); i += 1 }
            w >>> 1
          }
        var bit = 0
        while (bit < bits) {
          if (((hv >> bit) & 1L) == 1L) counts(bit) += 1 else counts(bit) -= 1
          bit += 1
        }
      }
      sh += 1
    }
    var sig = 0L
    var bit = 0
    while (bit < bits) { if (counts(bit) > 0) sig |= 1L << bit; bit += 1 }
    sig
  }

  /** 32-bit form kept as the codegen entry point's default. */
  def simhash(input: UTF8String, k: Int): Long = simhash(input, k, 32)

  /** Fused count-min-sketch hash row: for depth rows r = 0..depth-1, the
    * value of the first 8 hex chars of md5("r:key") — bit-identical to
    * the exploded `conv(substring(md5(concat(cast(r as string), ':',
    * cast(k as string)).cast(binary)), 1, 8), 16, 10)` chain (8 hex
    * chars = the digest's first 4 bytes big-endian), but ONE pass per
    * input row with a thread-local digest and no string/hex
    * intermediates. The caller takes `% w` against the data-derived
    * width and posexplodes to (r, bucket).
    */
  def cmsHashes(key: Long, depth: Int): ArrayData = {
    val md = mdPool.get()
    val keyBytes = java.lang.Long.toString(key).getBytes
    val out = new Array[Any](depth)
    var r = 0
    while (r < depth) {
      md.update(java.lang.Integer.toString(r).getBytes)
      md.update(':'.toByte)
      md.update(keyBytes)
      val dig = md.digest()
      out(r) = ((dig(0) & 0xffL) << 24) | ((dig(1) & 0xffL) << 16) |
        ((dig(2) & 0xffL) << 8) | (dig(3) & 0xffL)
      r += 1
    }
    new GenericArrayData(out)
  }

  /** Fused MinHash signature: for each seed s, min over k-token shingles
    * of md5(seed_s || shingle), as lowercase hex — bit-identical to the
    * `array_min(transform(shingles, sh -> md5(seed || sh)))` HOF chain
    * (and to the oracle's `min(md5(seed || shingle))` over distinct
    * shingles; duplicates cannot change a min). One tokenize pass, one
    * md5 per (shingle, seed), no intermediate arrays/strings. Returns
    * null when the input has fewer than k tokens (the HOF form's
    * `size(shingles) >= 1` filter).
    */
  def minhash(input: UTF8String, k: Int, seeds: Array[Array[Byte]]): ArrayData = {
    val b = input.getBytes
    val starts = tokenStarts(b)
    val nTokens = starts.length - 1
    val n = nTokens - k + 1
    if (n <= 0) return null
    val md = mdPool.get()
    val nSeeds = seeds.length
    val mins = new Array[Array[Byte]](nSeeds)
    var sh = 0
    while (sh < n) {
      val off = starts(sh)
      val len = starts(sh + k) - 1 - off
      var s = 0
      while (s < nSeeds) {
        md.update(seeds(s))
        md.update(b, off, len)
        val dig = md.digest()
        if (mins(s) == null || lessThan(dig, mins(s))) mins(s) = dig
        s += 1
      }
      sh += 1
    }
    val out = new Array[Any](nSeeds)
    var s = 0
    while (s < nSeeds) { out(s) = toHex(mins(s)); s += 1 }
    new GenericArrayData(out)
  }
}

/** k-token shingles of a space-separated string, as one native expression.
  *
  * Semantically identical to
  * `transform(sequence(1, size(t)-k+1), i -> concat_ws(' ', t[i..i+k-1]))`
  * over `t = split(text, ' ')`, but the HOF chain is interpreted per
  * element (transform/element_at are CodegenFallback) and dominated the
  * shingle-dedup bench queries. One primitive pass here (a static call
  * inside whole-stage codegen — no per-row interpreted eval); empty result
  * for strings with fewer than k tokens (the HOF form's filtered guard).
  */
case class Shingles(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    TextOps.shingles(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextOps.shingles($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

/** Fused MinHash signature expression: `array<string>` of `seeds.size`
  * lowercase-hex minima (see [[TextOps.minhash]]). Replaces a pipeline of
  * one Shingles projection + `seeds.size` interpreted
  * `array_min(transform(md5))` HOFs with a single codegen-resident pass —
  * the `ArrayDot` playbook applied to the dedup family's inner loop
  * (SURVEY §7: compose builtins first, go native only where measured).
  *
  * Null when the input has fewer than k tokens, so
  * `filter(col.isNotNull)` replicates the HOF form's shingle-count guard.
  */
case class MinhashSignature(child: Expression, k: Int, seeds: Seq[String])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullable: Boolean = true

  @transient private lazy val seedBytes: Array[Array[Byte]] =
    seeds.map(_.getBytes("UTF-8")).toArray

  override def nullSafeEval(input: Any): Any =
    TextOps.minhash(input.asInstanceOf[UTF8String], k, seedBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val seedsRef = ctx.addReferenceObj("seeds", seedBytes, "byte[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.TextOps.minhash($c, $k, $seedsRef);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSignature =
    copy(child = newChild)
}

/** All ordered pairs of an `array<bigint>` posting list, as
  * `array<struct<d1,d2>>` (see [[TextOps.suffixPairs]]): one primitive
  * pass replacing a nested transform/slice/flatten HOF chain that
  * allocated O(d²) boxed intermediates per list in interpreted eval.
  * Bounded by the caller's document-frequency cap (worst list emits
  * maxDf·(maxDf−1)/2 structs).
  */
case class SuffixPairs(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("d1",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("d2",
        org.apache.spark.sql.types.LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, false) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"suffix_pairs requires array<bigint> (non-null elements), got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    TextOps.suffixPairs(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextOps.suffixPairs($c);")

  override protected def withNewChildInternal(newChild: Expression): SuffixPairs =
    copy(child = newChild)
}

/** Fused 32-bit SimHash signature over a document's DISTINCT k-token
  * shingles (see [[TextOps.simhash]]); null when the input has fewer than
  * k tokens. Replaces the exploded pipeline (shingle explode → distinct →
  * 32× bit explode → two groupBys — a 32×-row shuffle per shingle) with
  * one narrow codegen-resident pass; [[graft.llm.Dedup.simhash]] over the
  * exploded shingle table remains the semantic spec (LlmSpec pins exact
  * agreement).
  */
case class SimhashSignature(child: Expression, k: Int, bits: Int = 32)
    extends UnaryExpression {

  require(bits == 32 || bits == 63,
    s"simhash width must be 32 or 63 (63 keeps the null sentinel sound); got $bits")

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val r = TextOps.simhash(input.asInstanceOf[UTF8String], k, bits)
    if (r == TextOps.SimhashNull) null else java.lang.Long.valueOf(r)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = graft.functions.TextOps.simhash($c, $k, $bits);
         |if (${ev.value} == graft.functions.TextOps.SimhashNull()) { ${ev.isNull} = true; }
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): SimhashSignature =
    copy(child = newChild)
}

/** Fused CMS hash row over a bigint key (see [[TextOps.cmsHashes]]):
  * `array<bigint>` of `depth` md5-derived hash values, one codegen-
  * resident pass replacing the exploded per-(row, key) string-concat +
  * md5 + hex-substring + conv chain that dominated the sketch builds
  * (q_join_size_est) — the MinhashSignature/LshBucket fusion playbook
  * applied to the sketch family.
  */
case class CmsHashes(child: Expression, depth: Int) extends UnaryExpression {

  require(depth >= 1 && depth <= 16, s"cms depth must be in [1, 16], got $depth")

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cms_hashes requires bigint, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    TextOps.cmsHashes(input.asInstanceOf[Long], depth)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextOps.cmsHashes($c, $depth);")

  override protected def withNewChildInternal(newChild: Expression): CmsHashes =
    copy(child = newChild)
}

/** Per-row fixed-width token chunks (see [[TextOps.lineChunks]]) — the
  * round-16 codegen replacement for docLines' interpreted
  * transform+slice+array_join lambda on the boilerplate-dedup corpus
  * path. Null iff the text is null — downstream posexplode drops the
  * row either way, exactly the HOF's null propagation.
  */
case class LineChunks(child: Expression, width: Int)
    extends UnaryExpression {

  require(width >= 1, "line_chunks needs width >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    TextOps.lineChunks(input.asInstanceOf[UTF8String], width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextOps.lineChunks($c, $width);")

  override protected def withNewChildInternal(newChild: Expression): LineChunks =
    copy(child = newChild)
}

/** Per-row co-occurrence pair strings (see [[TextOps.cooccurPairs]]) —
  * the round-16 codegen replacement for q_cooccur_window's nested
  * transform+flatten lambda. Null iff the text is null, where the HOF's
  * CASE yields an empty array — indistinguishable downstream of the
  * consumer's explode (both drop the row); the real corpus has no null
  * text (spec-pinned row identity there).
  */
case class CooccurPairs(child: Expression, window: Int)
    extends UnaryExpression {

  require(window >= 1, "cooccur_pairs needs window >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    TextOps.cooccurPairs(input.asInstanceOf[UTF8String], window)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextOps.cooccurPairs($c, $window);")

  override protected def withNewChildInternal(newChild: Expression): CooccurPairs =
    copy(child = newChild)
}

/** Per-row lexicon-hit count (see [[TextOps.lexHits]]) — the round-16
  * codegen replacement for the interpreted `filter(split(text), isin)`
  * lambda on every stopword/density corpus path (quality ppm, gopher,
  * language-ID densities). Null iff the text is null, matching the HOF's
  * size(null) = null; the HOF form stays in-source as the spec-pinned
  * reference (TextAnalysis.lexCountHof).
  */
case class LexHits(child: Expression, words: Seq[String])
    extends UnaryExpression {

  require(words.nonEmpty && words.forall(_.nonEmpty),
    "lex_hits needs non-empty words")

  @transient private lazy val wordBytes: Array[Array[Byte]] =
    words.map(_.getBytes("UTF-8")).toArray

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(input: Any): Any =
    TextOps.lexHits(input.asInstanceOf[UTF8String], wordBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("lexwords", wordBytes, "byte[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextOps.lexHits($c, $wRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): LexHits =
    copy(child = newChild)
}

/** Per-row count of fully-alphabetic tokens (see [[TextOps.alphaHits]])
  * — replaces the interpreted per-token `rlike("^[a-z]+\\z")` filter on
  * the gopher/quality-model corpus paths.
  */
case class AlphaHits(child: Expression) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(input: Any): Any =
    TextOps.alphaHits(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextOps.alphaHits($c);")

  override protected def withNewChildInternal(newChild: Expression): AlphaHits =
    copy(child = newChild)
}

/** Per-row token count (see [[TextOps.tokCount]]) — `size(split(text,
  * ' '))` without the array materialization.
  */
case class TokCount(child: Expression) extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def nullSafeEval(input: Any): Any =
    TextOps.tokCount(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TextOps.tokCount($c);")

  override protected def withNewChildInternal(newChild: Expression): TokCount =
    copy(child = newChild)
}

object MinhashSignature {
  /** Default portable seed prefixes (the engine's 6 md5 "permutations");
    * [[graft.llm.Dedup.minhashSeeds]] aliases this so the expression, the
    * aggregated form, and the oracle SQL all share one definition.
    */
  val defaultSeeds: Seq[String] = (0 until 6).map(i => s"s$i:")
}

object TextExpressions {
  def shingles(text: Column, k: Int = 3): Column =
    ColumnBridge.column(Shingles(ColumnBridge.expression(text), k))

  def minhashSignature(text: Column, k: Int = 3,
      seeds: Seq[String] = MinhashSignature.defaultSeeds): Column =
    ColumnBridge.column(MinhashSignature(ColumnBridge.expression(text), k, seeds))

  def simhashSignature(text: Column, k: Int = 3, bits: Int = 32): Column =
    ColumnBridge.column(SimhashSignature(ColumnBridge.expression(text), k, bits))

  def suffixPairs(ds: Column): Column =
    ColumnBridge.column(SuffixPairs(ColumnBridge.expression(ds)))

  def cmsHashes(key: Column, depth: Int): Column =
    ColumnBridge.column(CmsHashes(ColumnBridge.expression(key), depth))

  def lineChunks(text: Column, width: Int): Column =
    ColumnBridge.column(LineChunks(ColumnBridge.expression(text), width))

  def cooccurPairs(text: Column, window: Int): Column =
    ColumnBridge.column(CooccurPairs(ColumnBridge.expression(text), window))

  def lexHits(text: Column, words: Seq[String]): Column =
    ColumnBridge.column(LexHits(ColumnBridge.expression(text), words))

  def alphaHits(text: Column): Column =
    ColumnBridge.column(AlphaHits(ColumnBridge.expression(text)))

  def tokCount(text: Column): Column =
    ColumnBridge.column(TokCount(ColumnBridge.expression(text)))
}
