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
  * Tokenization contract mirrors `split(text, " ")` / DuckDB
  * `string_split(text, ' ')` exactly: every 0x20 byte separates tokens
  * and empty tokens are PRESERVED (so the oracle's
  * `entropy(unnest(string_split(...)))` sees the identical multiset).
  *
  * One imperative pass: token boundaries from the byte sweep
  * (ShingleBytes contract), tokens sorted as zero-copy UTF8String
  * views, counts from run lengths, H = log2(N) − Σ c·log2(c) / N over
  * EXACT integer counts — no hashing, so no collision caveat; the only
  * doubles are the final logs. Map-side only: the signal runs at scan
  * speed over 100 TB, no shuffle, no token-stream explode (the r11
  * text_ngrams_top lesson applied at birth).
  *
  * CodegenFallback: the eval IS the tight loop (same rationale as
  * plans/ShingleExprs.scala).
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
    val s = input.asInstanceOf[UTF8String]
    val base = s.getBaseObject
    val off = s.getBaseOffset
    // token i spans [starts(i), starts(i+1) - 1) — see ShingleBytes
    var spaces = 0
    var i = 0
    val len = s.numBytes()
    while (i < len) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) spaces += 1
      i += 1
    }
    val n = spaces + 1
    val toks = new Array[UTF8String](n)
    var t = 0
    var st = 0
    i = 0
    while (i < len) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) {
        toks(t) = UTF8String.fromAddress(base, off + st, i - st)
        t += 1
        st = i + 1
      }
      i += 1
    }
    toks(t) = UTF8String.fromAddress(base, off + st, len - st)
    java.util.Arrays.sort(toks, (a: UTF8String, b: UTF8String) => a.compareTo(b))
    // run-length counts over the sorted views; Σ c·log2(c) in one pass
    var acc = 0.0
    var run = 1
    i = 1
    while (i <= n) {
      if (i < n && toks(i).equals(toks(i - 1))) run += 1
      else {
        if (run > 1) acc += run * math.log(run.toDouble)
        run = 1
      }
      i += 1
    }
    math.log(n.toDouble) / log2 - acc / (n * log2)
  }

  override protected def withNewChildInternal(newChild: Expression): TokenEntropy =
    copy(child = newChild)
}
