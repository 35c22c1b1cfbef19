package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Stopword-voting argmax over a token array — the fused form of
  * [[graft.functions.TextFunctions.langId]]'s per-language
  * `size(filter(toks, t => t.isin(words…)))` struct fold.
  *
  * Why a kernel (r16 optimization round, the r15 TokenGrams class):
  * the columnar form runs one INTERPRETED `filter` HOF per language
  * over the whole token array (4 passes × an 8-literal isin per
  * element on the default lists), the exact captured-HOF class r15
  * eliminated four times. Here ONE pass over the tokens looks each
  * token up in a word→language-bitmask hash map and bumps per-language
  * counts; the argmax keeps the EARLIEST index attaining the maximum
  * — exactly the columnar fold's "candidate wins only on strictly
  * greater score" rule.
  *
  * Bit-compat contract (spec-asserted vs the test-scope
  * `ReferenceForms.langIdColumnar`):
  *  - returns the 0-based index of the winning language list;
  *  - ties (including the all-zero empty/no-hit case) go to the
  *    LOWEST index (= the columnar reduceLeft's earlier-entry wins);
  *  - null token ELEMENTS vote for nothing (isin(null) is null, which
  *    the columnar `filter` drops);
  *  - a word present in several lists votes once per list (bitmask
  *    fan-out — `isin` membership per list);
  *  - null ARRAY → null (nullIntolerant; the caller coalesces to the
  *    first language, mirroring the columnar fold's null-score
  *    behavior where no candidate ever strictly beats the initial).
  */
case class LangVotes(child: Expression, langWords: Seq[Seq[String]])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "lang_votes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _)
        if langWords.nonEmpty && langWords.size <= 32 =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs 1..32 language lists, got ${langWords.size}")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs an array<string> input, got ${other.catalogString}")
  }

  @transient private lazy val kernel = new LangVotesKernel(langWords)

  protected override def nullSafeEval(input: Any): Any =
    kernel.vote(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lvKernel", kernel,
      classOf[LangVotesKernel].getName)
    defineCodeGen(ctx, ev, c => s"$ref.vote($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-task voting table: word → bitmask of language indexes. Only the
  * word lists serialize (the map rebuilds lazily per deserialization —
  * the [[AhoCorasickKernel]] convention). */
class LangVotesKernel(langWords: Seq[Seq[String]]) extends Serializable {
  require(langWords.nonEmpty && langWords.size <= 32,
    s"1..32 language lists required, got ${langWords.size}")
  private val nLangs = langWords.size

  @transient private lazy val mask: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    langWords.zipWithIndex.foreach { case (ws, li) =>
      ws.foreach { w =>
        val k = UTF8String.fromString(w)
        val prev = m.get(k)
        m.put(k, Integer.valueOf(
          (if (prev == null) 0 else prev.intValue()) | (1 << li)))
      }
    }
    m
  }

  /** 0-based winning-language index; ties to the lowest index. */
  def vote(toks: ArrayData): Int = {
    val table = mask
    val counts = new Array[Int](nLangs)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        val m = table.get(toks.getUTF8String(i))
        if (m != null) {
          var bits = m.intValue()
          while (bits != 0) {
            counts(java.lang.Integer.numberOfTrailingZeros(bits)) += 1
            bits &= bits - 1
          }
        }
      }
      i += 1
    }
    var best = 0
    var j = 1
    while (j < nLangs) { if (counts(j) > counts(best)) best = j; j += 1 }
    best
  }
}
