package graft.expressions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Runtime for the array kernels [[SimhashFold]], [[MinhashBands]],
  * [[SortedIntersectCount]], [[ModalRunLength]] and [[WinnowMins]] — a
  * plain object, so each expression's generated code is one static
  * call into the code its `eval` runs (the [[GramHash]] pattern). The
  * hash folds (simhash, minhash bands, winnowing) read a null element
  * as 0 ([[NullAsZero]]).
  */
object TextKernels {
  private val MinhashA = graft.functions.TextFunctions.MinhashA.toArray
  private val MinhashB = graft.functions.TextFunctions.MinhashB.toArray
  private val MinhashP = graft.functions.TextFunctions.MinhashP

  /** Bit b of the result is set iff strictly more of the hashes have
    * bit b set than clear, for b below `bits`.
    */
  def simhash(hs: ArrayData, bits: Int): Long = {
    val n = hs.numElements()
    val counts = new Array[Int](bits)
    var i = 0
    while (i < n) {
      val h = NullAsZero.long(hs, i)
      var b = 0
      while (b < bits) {
        counts(b) += (((h >>> b) & 1L) * 2 - 1).toInt
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) {
      if (counts(b) > 0) out |= 1L << b
      b += 1
    }
    out
  }

  /** The 8 permutation minima paired into 4 band keys; null for an
    * empty array.
    */
  def minhashBands(hs: ArrayData): ArrayData = {
    val n = hs.numElements()
    if (n == 0) return null
    val mins = Array.fill(8)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = NullAsZero.long(hs, i)
      var k = 0
      while (k < 8) {
        val v = (MinhashA(k) * h + MinhashB(k)) % MinhashP
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(
      Array.tabulate(4)(b => mins(2 * b) * 1000003L + mins(2 * b + 1)))
  }

  /** Common elements of two ascending, duplicate-free string arrays,
    * by one merge walk.
    */
  def sortedIntersectCount(x: ArrayData, y: ArrayData): Long = {
    val (nx, ny) = (x.numElements(), y.numElements())
    var i = 0
    var j = 0
    var c = 0L
    while (i < nx && j < ny) {
      val cmp = x.getUTF8String(i).compareTo(y.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  /** Longest run of equal adjacent elements of a sorted string array;
    * nulls count as one value.
    */
  def modalRunLength(arr: ArrayData): Long = {
    val n = arr.numElements()
    var best = 0L
    var run = 0L
    var i = 0
    while (i < n) {
      // null-safe adjacency: the type accepts containsNull arrays (the
      // SQL registration makes arbitrary input reachable), and a sort
      // groups nulls together — treat them as one value, never deref
      val same = i > 0 && {
        val curNull = arr.isNullAt(i)
        val prevNull = arr.isNullAt(i - 1)
        if (curNull || prevNull) curNull && prevNull
        else arr.getUTF8String(i).equals(arr.getUTF8String(i - 1))
      }
      run = if (same) run + 1 else 1
      if (run > best) best = run
      i += 1
    }
    best
  }

  /** Ascending distinct minima of every `min(win, n)`-wide window, by
    * one monotonic-deque pass.
    */
  def winnowMins(arr: ArrayData, win: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return UnsafeArrayData.fromPrimitiveArray(Array.empty[Long])
    val w = math.min(win, n)
    val m = n - w + 1
    val mins = new Array[Long](m)
    // monotonic deque of indices: dq[head until tail] ascending values
    val dq = new Array[Int](n)
    var head = 0
    var tail = 0
    var i = 0
    while (i < n) {
      val h = NullAsZero.long(arr, i)
      while (tail > head && NullAsZero.long(arr, dq(tail - 1)) >= h) tail -= 1
      dq(tail) = i
      tail += 1
      if (dq(head) <= i - w) head += 1
      if (i >= w - 1) mins(i - w + 1) = NullAsZero.long(arr, dq(head))
      i += 1
    }
    java.util.Arrays.sort(mins)
    var out = 1
    var r = 1
    while (r < m) {
      if (mins(r) != mins(out - 1)) { mins(out) = mins(r); out += 1 }
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(mins, out))
  }
}

/** Native `bits`-wide SimHash fold over a pre-hashed word array.
  *
  * Replaces the built-in composition of `bits` per-bit
  * `aggregate(hashes, 0, acc + ((h >> b) & 1) * 2 - 1)` folds — higher-
  * order functions are interpreted (no codegen, no subexpression
  * elimination), so that shape re-walks the array `bits` times with
  * lambda dispatch per element. This expression walks it ONCE
  * ([[TextKernels.simhash]]), updating `bits` counters.
  *
  * Semantics are bit-identical to the folds it replaces (and to the
  * DuckDB oracle's per-bit `list_sum` CASE): bit b of the result is set
  * iff strictly more element-hashes have bit b set than clear. Input
  * elements are non-null by construction (md5-derived hashes of
  * non-null tokens). Width is capped at 60 so the signature (and the
  * 60-bit word hashes feeding it) stay positive in any engine's int64.
  */
case class SimhashFold(child: Expression, bits: Int = 16)
    extends UnaryExpression with ExpectsInputTypes {
  require(bits >= 1 && bits <= 60, s"simhash width must be in [1,60], got $bits")

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "simhash_fold"

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))

  override def nullSafeEval(input: Any): Any =
    TextKernels.simhash(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.expressions.TextKernels.simhash($x, $bits);")

  override protected def withNewChildInternal(newChild: Expression): SimhashFold =
    copy(child = newChild)
}

/** Native MinHash banding over a pre-hashed shingle array: all 8
  * universal-hash permutation minima in ONE array walk, paired into 4
  * LSH band keys (sig[2b]·1000003 + sig[2b+1]).
  *
  * Replaces 8 interpreted `array_min(transform(hs, a·h+b mod p))`
  * scans (higher-order functions carry no codegen). Integer-exact:
  * identical values to the composition it replaces and to the DuckDB
  * oracle's `list_min(list_transform(...))` fragments. Empty input →
  * NULL result (the composed form yields per-band nulls; both shapes
  * produce null band keys downstream, which never join).
  */
case class MinhashBands(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "minhash_bands"

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))

  override def nullSafeEval(input: Any): Any =
    TextKernels.minhashBands(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => s"""
       |${ev.value} = graft.expressions.TextKernels.minhashBands($x);
       |${ev.isNull} = ${ev.value} == null;
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinhashBands =
    copy(child = newChild)
}

/** Count of common elements between two SORTED string arrays with
  * distinct elements — a linear merge walk
  * ([[TextKernels.sortedIntersectCount]]), replacing
  * `size(array_intersect(a, b))` whose per-call hash-set build
  * dominates pairwise set-similarity verification (each candidate pair
  * pays O(|a|+|b|) hashing + allocation; the merge pays O(|a|+|b|)
  * comparisons and allocates nothing).
  *
  * Contract: inputs ascending-sorted (`array_sort`) and duplicate-free
  * (`array_distinct` upstream) — exactly what [[graft.functions
  * .TextFunctions.wordSet]]/`shingles2` produce. Under that contract
  * the result equals `size(array_intersect(a, b))` element-for-element,
  * so DuckDB oracles (`len(list_intersect(...))`) are unaffected.
  */
case class SortedIntersectCount(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with ExpectsInputTypes {

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "sorted_intersect_count"

  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(StringType), ArrayType(StringType))

  override def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.sortedIntersectCount(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.expressions.TextKernels.sortedIntersectCount($x, $y);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedIntersectCount =
    copy(left = newLeft, right = newRight)
}

/** Longest run of equal adjacent elements in a SORTED string array —
  * i.e. the modal element's occurrence count. One native array walk
  * ([[TextKernels.modalRunLength]]); replaces the interpreted
  * struct-state `aggregate` fold the repetition profiler started with
  * (higher-order functions don't codegen, and a per-element struct
  * copy made it the operator's dominant cost).
  *
  * Contract: input sorted (equal elements adjacent — what
  * `array_sort` produces). Empty array → 0.
  */
case class ModalRunLength(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "modal_run_length"

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override def nullSafeEval(input: Any): Any =
    TextKernels.modalRunLength(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.expressions.TextKernels.modalRunLength($x);")

  override protected def withNewChildInternal(
      newChild: Expression): ModalRunLength = copy(child = newChild)
}

/** Winnowing fingerprint extraction (Schleimer et al., SIGMOD'03) over
  * a pre-hashed positional k-gram array: every `win`-wide sliding
  * window's minimum, deduplicated and ascending-sorted.
  *
  * Replaces the built-in `transform(sequence(1, n-win+1),
  * i -> array_min(slice(hs, i, win)))` shape, which is quadratic in
  * practice: higher-order functions are interpreted with no
  * subexpression elimination, so the `hs` subtree — one md5 per k-gram
  * — re-evaluates per WINDOW POSITION, and each `slice` allocates.
  * Here `hs` is the child (evaluated once per row) and the window
  * minima come from one monotonic-deque pass
  * ([[TextKernels.winnowMins]]) — O(n) total. Measured on the sf0.1
  * `text_winnow` query: 43.5 s → sub-second.
  *
  * Short-doc conventions (identical to the composed form and the
  * DuckDB oracle CTE): fewer than `win` hashes → one fingerprint (the
  * global min); empty input → empty array. Both fall out of clamping
  * the window width to `min(win, n)`.
  */
case class WinnowMins(child: Expression, win: Int = 4)
    extends UnaryExpression with ExpectsInputTypes {
  require(win >= 1, s"winnow window must be >= 1, got $win")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "winnow_mins"

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))

  override def nullSafeEval(input: Any): Any =
    TextKernels.winnowMins(input.asInstanceOf[ArrayData], win)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.expressions.TextKernels.winnowMins($x, $win);")

  override protected def withNewChildInternal(newChild: Expression): WinnowMins =
    copy(child = newChild)
}


/** Runtime for [[GramHashes]] — a plain object so generated code can
  * call the static forwarder. One thread-local MessageDigest (md5
  * instantiation per gram was a measurable slice of the composed
  * form's cost); all arithmetic on digest BYTES (no hex round-trip).
  */
object GramHash {
  private val Space = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First `hexDigits` hex digits of md5(bytes) as an unsigned long —
    * bit-identical to `conv(substring(md5(x), 1, hexDigits), 16, 10)`:
    * the big-endian value of the first 8 digest bytes, logically
    * shifted down to keep the leading 4·hexDigits bits.
    */
  def hash(digest: java.security.MessageDigest, bytes: Array[Byte],
      hexDigits: Int): Long = {
    digest.reset()
    val d = digest.digest(bytes)
    var v = 0L
    var b = 0
    while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
    v >>> (64 - 4 * hexDigits)
  }

  def hashes(tokens: ArrayData, n: Int, distinct: Boolean,
      hexDigits: Int, mod: Long): ArrayData = {
    val cnt = tokens.numElements()
    val m = cnt - n + 1
    if (m <= 0)
      return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(Array.empty[Long])
    val out = new Array[Long](m)
    var outN = 0
    // dedup on the gram STRING (not its hash): byte-for-byte the
    // composed form's array_distinct semantics, no collision caveat
    val seen =
      if (distinct)
        new java.util.HashSet[org.apache.spark.unsafe.types.UTF8String]()
      else null
    val digest = md.get()
    val parts = new Array[org.apache.spark.unsafe.types.UTF8String](n)
    var i = 0
    while (i < m) {
      // a null token inside the window drops the whole gram — the
      // composed form's concat-null-propagation + filter(isNotNull)
      var ok = true
      var j = 0
      while (ok && j < n) {
        if (tokens.isNullAt(i + j)) ok = false
        else parts(j) = tokens.getUTF8String(i + j)
        j += 1
      }
      if (ok) {
        val gram = org.apache.spark.unsafe.types.UTF8String
          .concatWs(Space, parts: _*)
        if (seen == null || seen.add(gram)) {
          val h = hash(digest, gram.getBytes, hexDigits)
          out(outN) = if (mod > 0L) h % mod else h
          outN += 1
        }
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(java.util.Arrays.copyOf(out, outN))
  }
}

/** Fused word-n-gram hasher: the distinct (or positional) word
  * `n`-grams of a token array, each hashed to the engine-portable
  * md5-prefix value — ONE native walk per row.
  *
  * Replaces the composed `transform(shinglesNTokens(w, n),
  * conv(substring(md5(g), 1, hexDigits), 16, 10))` tree, which pays:
  * interpreted `zip_with` chains (no codegen, per-element lambda
  * dispatch), an `array_distinct` over gram STRINGS, a materialized
  * gram-string array crossing `explode`, a fresh MessageDigest per
  * md5 call, and a hex-encode → substring → base-16 re-parse per
  * gram. Here the token walk, windowed gram assembly, string-level
  * dedup, md5, and 60-/32-bit extraction happen in one pass with a
  * reused digest, emitting longs only.
  *
  * Value semantics are EXACTLY the composed form's (dedup is on the
  * gram string; the hash is the big-endian value of the digest's
  * first `hexDigits` nibbles; optional `mod` mirrors `pmod(h, p)` for
  * the minhash universal-hash family). Property-tested equal in
  * TextExpressionsSpec; every DuckDB oracle is unaffected because the
  * VALUES are unchanged.
  *
  * `distinct = false` preserves gram multiplicity and positional
  * order (the rare-bigram counter and the winnowing k-gram sequence
  * need occurrences, not the set).
  */
case class GramHashes(child: Expression, n: Int, distinct: Boolean,
    hexDigits: Int = 15, mod: Long = 0L)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"n must be >= 1, got $n")
  require(hexDigits >= 1 && hexDigits <= 15,
    s"hexDigits must be in [1,15] (signed-int64 portability), got $hexDigits")
  require(mod >= 0L, s"mod must be >= 0 (0 = none), got $mod")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "gram_hashes"

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))

  override def nullSafeEval(input: Any): Any =
    GramHash.hashes(input.asInstanceOf[ArrayData], n, distinct, hexDigits, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => s"""
       |${ev.value} = graft.expressions.GramHash.hashes(
       |  $x, $n, $distinct, $hexDigits, ${mod}L);
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): GramHashes =
    copy(child = newChild)
}

/** Runtime for [[CharGramBuckets]] — the character-n-gram sibling of
  * [[GramHash.hashes]]: one walk over the string's CHARACTERS
  * (UTF8String.substring is code-point aware, matching SQL `substr`
  * on multibyte text), md5-prefix hash per gram with a reused digest,
  * bucket modulo inline. Emits longs only — no gram-string array ever
  * materializes.
  */
object CharGramHash {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def buckets(text: org.apache.spark.unsafe.types.UTF8String, n: Int,
      mod: Long): ArrayData = {
    val chars = text.numChars()
    val m = chars - n + 1
    if (m <= 0)
      return org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(Array.empty[Long])
    val digest = md.get()
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      val gram = text.substring(i, i + n)
      out(i) = GramHash.hash(digest, gram.getBytes, 8) % mod
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }
}

/** Fused hashed character-n-gram bucketer — the trained language-ID
  * feature extractor ([[graft.operators.LangId]]). Replaces the
  * composed `transform(sequence(...), i -> pmod(conv(substring(
  * md5(text.substr(i, n)), 1, 8), 16, 10), B))` tree: the position
  * walk, code-point slicing, md5 (reused digest, digest BYTES — no
  * hex round-trip), and bucket modulo happen in one native pass.
  * Value semantics are exactly the composed form's (grams at
  * character positions 1..len−n+1; hash = first 8 md5 hex digits as
  * an unsigned value; positive % buckets) — equality property-tested
  * in TextExpressionsSpec, and the DuckDB oracle mirrors the
  * composed form unchanged.
  */
case class CharGramBuckets(child: Expression, n: Int, mod: Long)
    extends UnaryExpression with ExpectsInputTypes {
  require(n >= 1, s"n must be >= 1, got $n")
  require(mod >= 1L, s"mod must be >= 1, got $mod")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "char_gram_buckets"

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    CharGramHash.buckets(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => s"""
       |${ev.value} = graft.expressions.CharGramHash.buckets(
       |  $x, $n, ${mod}L);
     """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): CharGramBuckets =
    copy(child = newChild)
}

/** Runtime for [[NfcNormalize]] — plain object for codegen's static
  * forwarder call.
  */
object UnicodeNorm {
  def nfc(s: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.unsafe.types.UTF8String = {
    // ASCII fast path: NFC is the identity on ASCII, and bytes ==
    // codepoints iff every byte is ASCII — skips the String
    // round-trip for the overwhelmingly common case
    if (s.numBytes() == s.numChars()) return s
    val j = s.toString
    if (java.text.Normalizer.isNormalized(j, java.text.Normalizer.Form.NFC)) s
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(j, java.text.Normalizer.Form.NFC))
  }
}

/** Runtime for [[ScriptCounts]]: one code-point walk classifying each
  * character into a fixed script bucket. Buckets are contiguous
  * codepoint ranges only — the whole classification is replayable in
  * ANSI SQL as BETWEEN predicates over `unicode(ch)`, which is what
  * the DuckDB oracle does. Bucket order is the tie-break order for
  * the dominant-script argmax downstream.
  */
object ScriptCount {
  /** Bucket names in index order:
    * 0 latin (ASCII letters + Latin-1 Supplement/Extended-A/B letters)
    * 1 digit (ASCII 0-9)
    * 2 punct (ASCII space/punct/control-ws + General Punctuation)
    * 3 cyrillic  4 greek  5 cjk (kana + unified ideographs)
    * 6 arabic    7 hangul 8 other
    */
  val Buckets: Array[String] = Array("latin", "digit", "punct",
    "cyrillic", "greek", "cjk", "arabic", "hangul", "other")

  def classify(cp: Int): Int =
    if (cp >= 'A' && cp <= 'Z' || cp >= 'a' && cp <= 'z' ||
      cp >= 0xC0 && cp <= 0x24F) 0
    else if (cp >= '0' && cp <= '9') 1
    else if (cp >= 0x09 && cp <= 0x0D || cp >= 0x20 && cp <= 0x2F ||
      cp >= 0x3A && cp <= 0x40 || cp >= 0x5B && cp <= 0x60 ||
      cp >= 0x7B && cp <= 0x7E || cp >= 0x2000 && cp <= 0x206F) 2
    else if (cp >= 0x400 && cp <= 0x4FF) 3
    else if (cp >= 0x370 && cp <= 0x3FF) 4
    else if (cp >= 0x3040 && cp <= 0x30FF || cp >= 0x4E00 && cp <= 0x9FFF) 5
    else if (cp >= 0x600 && cp <= 0x6FF) 6
    else if (cp >= 0xAC00 && cp <= 0xD7AF) 7
    else 8

  def counts(text: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val out = new Array[Long](9)
    val s = text.toString
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      out(classify(cp)) += 1
      i += Character.charCount(cp)
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Per-document Unicode-script histogram: array<long> of 9 bucket
  * counts ([[ScriptCount.Buckets]]) from ONE code-point walk inside
  * whole-stage codegen. The language-routing / mojibake primitive: a
  * document whose secondary script count is a large fraction of its
  * primary is either genuinely multilingual or mis-decoded — both
  * worth flagging before training. The composed alternative (one
  * regexp_count per script class) re-walks the string per bucket and
  * pins Spark's regex dialect into the contract; contiguous ranges
  * keep the law engine-portable.
  */
case class ScriptCounts(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "script_counts"

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    ScriptCount.counts(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.expressions.ScriptCount.counts($x);")

  override protected def withNewChildInternal(newChild: Expression): ScriptCounts =
    copy(child = newChild)
}

/** Unicode NFC normalization (UAX #15 canonical composition) — the
  * text-canonicalization step an exact-dedup pipeline needs before
  * hashing: "é" as U+00E9 and as "e" + U+0301 are byte-different,
  * hash-different, and visually identical, so un-normalized corpora
  * leak duplicates past every byte-level screen.
  *
  * Implementation is the JDK's `java.text.Normalizer` (ICU-equivalent
  * NFC per the standard); the DuckDB oracle's `nfc_normalize` is the
  * same UAX #15 transform, verified byte-identical in
  * TextExpressionsSpec and through the `text_normalize_nfc` oracle
  * query. ASCII input short-circuits (identity) without leaving
  * UTF8String.
  */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = StringType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "nfc_normalize"

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    UnicodeNorm.nfc(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.expressions.UnicodeNorm.nfc($x);")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object TextExpressions {
  /** Column-level simhash fold backed by the codegen expression
    * (default 16-bit; pass `bits` for the wider Manku-style sketch).
    */
  def simhashFold(hashes: Column, bits: Int = 16): Column =
    GraftBridge.column(SimhashFold(GraftBridge.expression(hashes), bits))

  /** Column-level 4-band minhash key array backed by the codegen
    * expression.
    */
  def minhashBands(hashes: Column): Column =
    GraftBridge.column(MinhashBands(GraftBridge.expression(hashes)))

  /** Column-level sorted-set intersection count (see
    * [[SortedIntersectCount]]'s sortedness/distinctness contract).
    */
  def sortedIntersectCount(a: Column, b: Column): Column =
    GraftBridge.column(SortedIntersectCount(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Column-level modal-run-length over a sorted string array (see
    * [[ModalRunLength]]'s sortedness contract).
    */
  def modalRunLength(sorted: Column): Column =
    GraftBridge.column(ModalRunLength(GraftBridge.expression(sorted)))

  /** Column-level winnowing window-minima (sorted, deduped) over a
    * pre-hashed positional k-gram array (see [[WinnowMins]]).
    */
  def winnowMins(hashes: Column, win: Int = 4): Column =
    GraftBridge.column(WinnowMins(GraftBridge.expression(hashes), win))

  /** Column-level fused n-gram hashing over a token array (see
    * [[GramHashes]]): 60-bit md5-prefix values, distinct grams or the
    * positional sequence.
    */
  def gramHashes60(tokens: Column, n: Int, distinct: Boolean = true): Column =
    GraftBridge.column(GramHashes(GraftBridge.expression(tokens), n, distinct))

  /** [[GramHashes]] in the minhash universal-hash configuration: the
    * 32-bit md5 prefix reduced mod p over DISTINCT grams — the fused
    * `shingleHashes(shinglesN(...))` (TextFunctions) composition.
    */
  def gramHashesMod(tokens: Column, n: Int): Column =
    GraftBridge.column(GramHashes(GraftBridge.expression(tokens), n,
      distinct = true, hexDigits = 8,
      mod = graft.functions.TextFunctions.MinhashP))

  /** Column-level Unicode NFC normalization (see [[NfcNormalize]]). */
  def nfcNormalize(text: Column): Column =
    GraftBridge.column(NfcNormalize(GraftBridge.expression(text)))

  /** Column-level script histogram (see [[ScriptCounts]]). */
  def scriptCounts(text: Column): Column =
    GraftBridge.column(ScriptCounts(GraftBridge.expression(text)))

  /** Column-level fused hashed char-n-gram buckets (see
    * [[CharGramBuckets]]).
    */
  def charGramBuckets(text: Column, n: Int, buckets: Int): Column =
    GraftBridge.column(CharGramBuckets(GraftBridge.expression(text),
      n, buckets.toLong))
}
