package graft.expressions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}

/** Byte-pair-encoding vocabulary: a FIXED, ordered merge table
  * (Sennrich et al. 2016, "Neural Machine Translation of Rare Words
  * with Subword Units" — the standard subword procedure GPT-2-family
  * tokenizers build on).
  *
  * The table is DATA, not code: trained once offline by the standard
  * procedure (count adjacent token pairs over the corpus word
  * frequencies, merge the most frequent, repeat; ties broken
  * lexicographically for determinism) and embedded as a constant so
  * both engines — this expression and the DuckDB oracle's recursive
  * CTE — APPLY the same table rather than each training their own.
  * A production deployment swaps in its tokenizer's published merge
  * list (e.g. the GPT-2 `merges.txt`); nothing below depends on the
  * table's size or origin.
  *
  * Apply semantics (shared by both engines, and provably equal to the
  * usual all-occurrences-per-rank apply for any table produced by the
  * training procedure): start from single code points; repeatedly
  * merge the FIRST occurrence of the lowest-rank adjacent pair until
  * no adjacent pair is in the table. Equality holds because a merge
  * can only create pairs that were learned AFTER its own rank (they
  * contain its output token), so no better-ranked pair ever appears
  * mid-run.
  */
object BpeVocab {
  /** Rank-ordered merges (earlier = higher priority). */
  val Merges: IndexedSeq[(String, String)] = IndexedSeq(
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"), ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"), ("co", "lu"),
    ("colu", "m"), ("colum", "n"), ("cu", "st"), ("cust", "o"),
    ("custo", "mer"), ("f", "i"), ("fi", "l"), ("fil", "t"),
    ("filt", "er"), ("a", "l"), ("al", "l"), ("m", "all"),
    ("s", "mall"), ("g", "e"), ("l", "ow"), ("mer", "ge"),
    ("s", "low"), ("c", "t"), ("ct", "or"), ("d", "er"),
    ("e", "ctor"), ("or", "der"), ("v", "ector"))

  /** (left, right) → rank, keyed `left + '\\u0001' + right` (the corpus
    * is printable text; U+0001 cannot occur inside a token).
    */
  val RankMap: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](Merges.size * 2)
    Merges.zipWithIndex.foreach { case ((l, r), i) =>
      m.put(l + "\u0001" + r, Integer.valueOf(i))
    }
    m
  }
}

/** Runtime for [[BpeCount]] — plain object for codegen's static
  * forwarder call.
  */
object Bpe {
  /** Word → BPE token count memo. Natural-language vocabularies are
    * Zipfian, so a bounded cache turns the per-word merge loop into a
    * hash probe for the overwhelming majority of token instances; at
    * the cap the cache stops growing and cold words pay the plain
    * O(len²·|merges|-bounded) walk. Deterministic either way (the
    * cache stores pure-function results), shared across executor
    * threads.
    */
  private val MemoCap = 1 << 16
  private val memo = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** BPE token count of one word (no end-of-word marker; tokens start
    * as Unicode CODE POINTS — the same unit DuckDB's `w[i]` string
    * indexing yields, pinned by the oracle query).
    */
  def wordTokenCount(w: String): Int = {
    if (w.isEmpty) return 0
    val cached = memo.get(w)
    if (cached != null) return cached.intValue()
    val toks = new java.util.ArrayList[String](w.length)
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      toks.add(new String(Character.toChars(cp)))
      i += Character.charCount(cp)
    }
    var done = toks.size < 2
    while (!done) {
      var bestRank = Int.MaxValue
      var bestPos = -1
      var j = 0
      while (j < toks.size - 1) {
        val r = BpeVocab.RankMap.get(toks.get(j) + "\u0001" + toks.get(j + 1))
        if (r != null && r.intValue() < bestRank) {
          bestRank = r.intValue(); bestPos = j
        }
        j += 1
      }
      if (bestPos < 0) done = true
      else {
        toks.set(bestPos, toks.get(bestPos) + toks.get(bestPos + 1))
        toks.remove(bestPos + 1)
      }
    }
    val n = toks.size
    if (memo.size < MemoCap) memo.put(w, Integer.valueOf(n))
    n
  }

  /** Total BPE token count of a whitespace-tokenized document — the
    * sum of [[wordTokenCount]] over `split(text, " ")` words (the
    * corpus' single-space convention; empty words count 0 tokens).
    */
  def count(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    val text = s.toString
    var total = 0L
    var start = 0
    var i = 0
    while (i <= text.length) {
      if (i == text.length || text.charAt(i) == ' ') {
        if (i > start) total += wordTokenCount(text.substring(start, i))
        start = i + 1
      }
      i += 1
    }
    total
  }
}

/** Per-document BPE token count under the fixed [[BpeVocab]] merge
  * table — the REAL subword count `pack`/`selectBudget`/`domain_mix`
  * style token budgeting wants (the regex piece count in
  * `text_token_count` is the cheap approximation; this is the actual
  * merge walk). One codegen-resident call per row; the merge loop
  * runs behind a vocabulary memo, so hot (Zipf-head) words cost a
  * hash probe.
  */
case class BpeCount(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "bpe_token_count"

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    Bpe.count(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.expressions.Bpe.count($x);")

  override protected def withNewChildInternal(newChild: Expression): BpeCount =
    copy(child = newChild)
}

object BpeExpressions {
  /** Column-level BPE token count (see [[BpeCount]]). */
  def bpeCount(text: Column): Column =
    GraftBridge.column(BpeCount(GraftBridge.expression(text)))
}
