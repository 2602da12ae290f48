package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.expressions.{BpeCount, GramHashes, HilbertIndex, HilbertIndexN, MinhashBands, MmrSelect, ModalRunLength, NfcNormalize, ScriptCounts, SimhashFold, TopKAgg, VecDot, VecDotLong, WinnowMins}

/** Session-extension entry point: registers the engine's native
  * expressions with the function registry so they're callable from SQL
  * (`SELECT vec_dot(a.embedding, b.embedding) …`) as well as from the
  * Column API. Wire it with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`
  * or `SparkSession.builder().withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit =
    functions.foreach { f =>
      ext.injectFunction((
        new FunctionIdentifier(f.name),
        new ExpressionInfo(f.cls.getName, f.name),
        (args: Seq[Expression]) => {
          require(f.arities.contains(args.length), f.usage)
          f.build(args)
        }))
    }
}

object GraftExtensions {

  /** One SQL function: its name, the expression class it documents,
    * the argument counts it accepts (checked before `build` runs, with
    * `usage` as the message), and the expression it builds.
    */
  private final case class Fn(name: String, cls: Class[_], arities: Set[Int],
      usage: String, build: Seq[Expression] => Expression)

  /** A literal argument's value: `what` names it in the error. */
  private def litArg[T](e: Expression, what: String, kind: String)(
      pick: PartialFunction[Any, T]): T = e match {
    case Literal(v, _) if pick.isDefinedAt(v) => pick(v)
    case other => throw new IllegalArgumentException(
      s"$what must be $kind literal, got $other")
  }

  private def intLit(e: Expression, what: String): Int =
    litArg(e, what, "an integer") { case v: Int => v }

  private val functions = Seq(
    Fn("vec_dot", classOf[VecDot], Set(2),
      "vec_dot(a, b) takes two array args",
      a => VecDot(a.head, a(1))),
    Fn("vec_dot_long", classOf[VecDotLong], Set(2),
      "vec_dot_long(a, b) takes two array<bigint> args",
      a => VecDotLong(a.head, a(1))),
    Fn("simhash_fold", classOf[SimhashFold], Set(1, 2),
      "simhash_fold(hashes[, bits]) takes an array arg and optional width",
      a => if (a.length == 1) SimhashFold(a.head)
        else SimhashFold(a.head, intLit(a(1), "simhash_fold's bits"))),
    Fn("minhash_bands", classOf[MinhashBands], Set(1),
      "minhash_bands(hashes) takes one array arg",
      a => MinhashBands(a.head)),
    Fn("modal_run_length", classOf[ModalRunLength], Set(1),
      "modal_run_length(sorted) takes one sorted array<string> arg",
      a => ModalRunLength(a.head)),
    Fn("winnow_mins", classOf[WinnowMins], Set(1, 2),
      "winnow_mins(hashes[, win]) takes an array arg and optional window",
      a => if (a.length == 1) WinnowMins(a.head)
        else WinnowMins(a.head, intLit(a(1), "winnow_mins's win"))),
    Fn("gram_hashes60", classOf[GramHashes], Set(2, 3),
      "gram_hashes60(tokens, n[, distinct]) takes a token array, an " +
        "integer n, and an optional distinct flag",
      a => GramHashes(a.head, intLit(a(1), "gram_hashes60's n"),
        a.length < 3 || litArg(a(2), "gram_hashes60's distinct",
          "a boolean") { case v: Boolean => v })),
    Fn("nfc_normalize", classOf[NfcNormalize], Set(1), // same name as DuckDB's
      "nfc_normalize(text) takes one string arg",
      a => NfcNormalize(a.head)),
    Fn("script_counts", classOf[ScriptCounts], Set(1),
      "script_counts(text) takes one string arg",
      a => ScriptCounts(a.head)),
    Fn("bpe_token_count", classOf[BpeCount], Set(1),
      "bpe_token_count(text) takes one string arg",
      a => BpeCount(a.head)),
    Fn("top_k", classOf[TopKAgg], Set(3),
      "top_k(score, label, k) takes three args",
      a => TopKAgg(a.head, a(1), intLit(a(2), "top_k's k"))
        .toAggregateExpression()),
    Fn("hilbert_index", classOf[HilbertIndex], Set(3),
      "hilbert_index(a, b, bits) takes two bigints and a literal width",
      a => HilbertIndex(a.head, a(1), intLit(a(2), "hilbert_index's bits"))),
    Fn("hilbert_index_n", classOf[HilbertIndexN], Set(3),
      "hilbert_index_n(coords, dims, bits) takes an array<bigint> and " +
        "two literal ints",
      a => HilbertIndexN(a.head, intLit(a(1), "hilbert_index_n's dims"),
        intLit(a(2), "hilbert_index_n's bits"))),
    Fn("mmr_select", classOf[MmrSelect], Set(2),
      "mmr_select(candidates, k) takes a struct array and a literal k",
      a => MmrSelect(a.head, intLit(a(1), "mmr_select's k"))))
}
