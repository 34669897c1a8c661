package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `graft_token_entropy(text)` → double: Shannon entropy (base 2) of
  * the document's token distribution — the lexical-diversity quality
  * signal (low entropy ⇒ repetitive/templated text, the CCNet/Gopher
  * family's cheap perplexity stand-in).
  *
  * Tokens follow the [[Tokens]] contract, so the oracle's
  * `entropy(unnest(string_split(...)))` sees the identical multiset.
  * H = log2(N) − Σ c·log2(c) / N over the EXACT counts of
  * `Tokens.runs` — no hashing, so no collision caveat; the only doubles
  * are the final logs. Map-side only: the signal runs at scan speed,
  * with no shuffle and no token-stream explode.
  */
case class TokenEntropy(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_token_entropy expects string, got ${t.simpleString}")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_token_entropy"

  private val log2 = math.log(2.0)

  override protected def nullSafeEval(input: Any): Any = {
    val t = new Tokens(input.asInstanceOf[UTF8String])
    var acc = 0.0
    t.runs(1) { (_, c) => if (c > 1) acc += c * math.log(c.toDouble) }
    math.log(t.count.toDouble) / log2 - acc / (t.count * log2)
  }

  override protected def withNewChildInternal(newChild: Expression): TokenEntropy =
    copy(child = newChild)
}
