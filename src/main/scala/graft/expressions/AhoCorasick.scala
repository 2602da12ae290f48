package graft.expressions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}

/** Aho–Corasick multi-pattern automaton (Aho & Corasick, CACM 1975) —
  * the blocklist-screening primitive behind
  * [[graft.operators.Scrub.blocklistHits]].
  *
  * Why this exists: the regex route (`regexp_count(text,
  * "term1|term2|…")`) is linear in the PATTERN COUNT per position —
  * a 100k-term contraband/PII/trademark blocklist over a 100 TB
  * corpus is structurally infeasible that way. The automaton matches
  * EVERY term in one pass per row: O(len) transitions whatever the
  * blocklist size, built once on the driver and shipped to executors
  * with the serialized expression (the [[BloomMightContain]]
  * payload-rides-the-expression mechanism).
  *
  * Match semantics (what the oracle replays): a hit is every
  * (position, term) pair where the term ends at that position —
  * overlapping and nested matches all count ("aaa" vs "aa" → 2;
  * "the" also ends an inner "he"). This is the automaton's natural
  * output and the only order-free, engine-portable definition.
  */
object AhoCorasick {

  /** Immutable matching automaton, FROZEN to CSR primitive arrays
    * (node → sorted edge slice, binary-searched) plus a flat 64K
    * root dispatch table (one array read for the root transition —
    * the overwhelmingly common state on non-matching text). The
    * HashMap-per-node trie exists only during [[build]]: at 10⁵
    * terms (~0.9 M nodes) the boxed maps cost a pointer-chasing
    * cache miss per transition AND ~30 MB of task binary; the frozen
    * arrays measured ~25% faster per char and 13 MB serialized
    * (AhoCorasickSpec pins the law at 10⁵ terms). The BFS fail links
    * keep the walk O(1) amortized per char whatever the term count;
    * the remaining large-automaton per-char constant (~4× a 100-term
    * one on random text) is the working set outgrowing cache, not
    * extra transitions.
    */
  final class Automaton private[AhoCorasick] (
      private val base: Array[Int],
      private val edgeChars: Array[Char],
      private val edgeTargets: Array[Int],
      private val fail: Array[Int],
      private val outCount: Array[Long],
      private val rootNext: Array[Int]) extends Serializable {

    /** Target of the c-edge from s, or -1 — binary search in the
      * node's sorted slice (blocklist alphabets keep slices narrow).
      */
    private def goTo(s: Int, c: Char): Int = {
      var a = base(s)
      var b = base(s + 1) - 1
      while (a <= b) {
        val m = (a + b) >>> 1
        val mc = edgeChars(m)
        if (mc == c) return edgeTargets(m)
        else if (mc < c) a = m + 1
        else b = m - 1
      }
      -1
    }

    /** Total (position, term) hits in one left-to-right pass. */
    def countHits(text: org.apache.spark.unsafe.types.UTF8String): Long = {
      val s = text.toString
      var state = 0
      var hits = 0L
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        // rootNext encodes miss as 0 (the root is never an edge
        // target); at the root a miss stays at the root — exactly the
        // HashMap walk's semantics
        var t = if (state == 0) rootNext(c) - 1 else goTo(state, c)
        while (t < 0 && state != 0) {
          state = fail(state)
          t = if (state == 0) rootNext(c) - 1 else goTo(state, c)
        }
        state = if (t < 0) 0 else t
        hits += outCount(state)
        i += 1
      }
      hits
    }
  }

  /** Build the goto/fail/output automaton from the term list. Terms
    * must be non-empty; duplicates each count their own hits (the
    * oracle's per-(position, term) law needs multiplicity).
    */
  def build(terms: Seq[String]): Automaton = {
    require(terms.nonEmpty, "empty blocklist")
    terms.foreach(t => require(t.nonEmpty, "empty blocklist term"))
    val next = scala.collection.mutable.ArrayBuffer(
      new java.util.HashMap[Character, Integer]())
    val ends = scala.collection.mutable.ArrayBuffer(0L)
    terms.foreach { term =>
      var state = 0
      term.foreach { ch =>
        val c = Character.valueOf(ch)
        val t = next(state).get(c)
        if (t == null) {
          next += new java.util.HashMap[Character, Integer]()
          ends += 0L
          next(state).put(c, Integer.valueOf(next.length - 1))
          state = next.length - 1
        } else state = t.intValue()
      }
      ends(state) += 1L // multiplicity for duplicate terms
    }
    val n = next.length
    val fail = new Array[Int](n)
    val outCount = ends.toArray
    // BFS: fail(child) = deepest proper suffix that is also a prefix;
    // outCount accumulates along the fail chain so the walk never
    // follows suffix links at match time
    val queue = new java.util.ArrayDeque[Integer]()
    next(0).forEach((_, s) => queue.add(s))
    while (!queue.isEmpty) {
      val u = queue.poll().intValue()
      outCount(u) += outCount(fail(u))
      next(u).forEach { (c, v) =>
        var f = fail(u)
        var t = next(f).get(c)
        while (t == null && f != 0) { f = fail(f); t = next(f).get(c) }
        // t can never equal v: the walk starts from fail(u), strictly
        // shallower than u, so any target is at depth <= depth(u) <
        // depth(v) — no self-fail-link guard is needed
        fail(v) = if (t == null) 0 else t.intValue()
        queue.add(v)
      }
    }
    // freeze the boxed trie into CSR primitive arrays (class doc)
    val base = new Array[Int](n + 1)
    var total = 0
    var i = 0
    while (i < n) {
      base(i) = total
      total += next(i).size()
      i += 1
    }
    base(n) = total
    val edgeChars = new Array[Char](total)
    val edgeTargets = new Array[Int](total)
    i = 0
    while (i < n) {
      val ks = new Array[Char](next(i).size())
      var j = 0
      val it = next(i).keySet().iterator()
      while (it.hasNext) { ks(j) = it.next().charValue(); j += 1 }
      java.util.Arrays.sort(ks)
      j = 0
      while (j < ks.length) {
        edgeChars(base(i) + j) = ks(j)
        edgeTargets(base(i) + j) =
          next(i).get(Character.valueOf(ks(j))).intValue()
        j += 1
      }
      i += 1
    }
    // root dispatch: rootNext(c) = target + 1, 0 = miss
    val rootNext = new Array[Int](Char.MaxValue + 1)
    next(0).forEach((c, v) => rootNext(c.charValue()) = v.intValue() + 1)
    new Automaton(base, edgeChars, edgeTargets, fail, outCount, rootNext)
  }
}

/** Per-row total blocklist hits (see [[AhoCorasick]]): LongType, one
  * automaton walk inside whole-stage codegen via a reference object —
  * no boxing beyond the transition map lookups, no regex engine.
  */
case class BlocklistHits(child: Expression,
    automaton: AhoCorasick.Automaton)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = LongType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "blocklist_hits"

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    automaton.countHits(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("aho", automaton,
      classOf[AhoCorasick.Automaton].getName)
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = $ref.countHits($x);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): BlocklistHits = copy(child = newChild)
}

/** Leftmost-longest (FlashText-style) blocklist REDACTION: scan left
  * to right, at each position take the LONGEST term starting there,
  * emit the replacement, continue after the match — the greedy
  * non-overlapping discipline every keyword redactor uses, and exactly
  * what a regex alternation ordered longest-first produces (same
  * start wins by position; same position wins by order), which is how
  * the oracle replays it. A trie walk per position is O(len ·
  * maxTermLen) worst case — maxTermLen is a blocklist property, small
  * and fixed, while the term COUNT (the dimension that explodes) stays
  * out of the per-position cost entirely.
  */
object BlocklistTrie {
  final class Trie private[BlocklistTrie] (
      private val next: Array[java.util.HashMap[Character, Integer]],
      private val terminal: Array[Boolean],
      val replacement: String) extends Serializable {

    def scrub(text: org.apache.spark.unsafe.types.UTF8String)
        : org.apache.spark.unsafe.types.UTF8String = {
      val s = text.toString
      val out = new java.lang.StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        var state = 0
        var j = i
        var bestEnd = -1
        var cont = true
        while (cont && j < s.length) {
          val t = next(state).get(Character.valueOf(s.charAt(j)))
          if (t == null) cont = false
          else {
            state = t.intValue()
            j += 1
            if (terminal(state)) bestEnd = j
          }
        }
        if (bestEnd < 0) { out.append(s.charAt(i)); i += 1 }
        else { out.append(replacement); i = bestEnd }
      }
      org.apache.spark.unsafe.types.UTF8String.fromString(out.toString)
    }
  }

  def build(terms: Seq[String], replacement: String): Trie = {
    require(terms.nonEmpty, "empty blocklist")
    terms.foreach(t => require(t.nonEmpty, "empty blocklist term"))
    val next = scala.collection.mutable.ArrayBuffer(
      new java.util.HashMap[Character, Integer]())
    val terminal = scala.collection.mutable.ArrayBuffer(false)
    terms.foreach { term =>
      var state = 0
      term.foreach { ch =>
        val c = Character.valueOf(ch)
        val t = next(state).get(c)
        if (t == null) {
          next += new java.util.HashMap[Character, Integer]()
          terminal += false
          next(state).put(c, Integer.valueOf(next.length - 1))
          state = next.length - 1
        } else state = t.intValue()
      }
      terminal(state) = true
    }
    new Trie(next.toArray, terminal.toArray, replacement)
  }
}

/** Per-row leftmost-longest blocklist redaction (see [[BlocklistTrie]]). */
case class BlocklistScrub(child: Expression,
    trie: BlocklistTrie.Trie)
    extends UnaryExpression with ExpectsInputTypes {

  override def dataType: DataType = StringType

  override def nullIntolerant: Boolean = true

  override def prettyName: String = "blocklist_scrub"

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def nullSafeEval(input: Any): Any =
    trie.scrub(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("trie", trie,
      classOf[BlocklistTrie.Trie].getName)
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = $ref.scrub($x);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): BlocklistScrub = copy(child = newChild)
}

object BlocklistExpressions {
  /** Column-level blocklist hit count backed by the automaton. */
  def blocklistHits(text: Column, terms: Seq[String]): Column =
    GraftBridge.column(BlocklistHits(
      GraftBridge.expression(text), AhoCorasick.build(terms)))

  /** Column-level leftmost-longest redaction backed by the trie. */
  def blocklistScrub(text: Column, terms: Seq[String],
      replacement: String): Column =
    GraftBridge.column(BlocklistScrub(
      GraftBridge.expression(text), BlocklistTrie.build(terms, replacement)))
}
