package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expression: the space-joined word n-grams of a text
 * column as strings — the unit stream the corpus n-gram count table
 * (`vocab_topk` with `ngramSize` > 1) aggregates over.
 *
 * Semantics match `tokens()` (split lowercase text on `\s+`, ASCII
 * whitespace) with empty tokens dropped, then each window of `n`
 * consecutive tokens joined by ONE space: exactly the DuckDB oracle's
 * `list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')`
 * + slice/join formulation. Documents with fewer than `n` tokens yield an
 * empty array (they contribute no n-grams).
 *
 * Why a custom Expression: the Column-API form — `transform(sequence(...),
 * i => array_join(slice(toks, i, n), " "))` — is a chain of higher-order
 * functions, which Spark evaluates INTERPRETED (lambda eval per element,
 * one array allocation per slice). Profiled at sf0.1 it made the bigram
 * count table (q82) the slowest query in the suite at ~3.3 s. Here the
 * scan is one pass over the UTF-8 bytes: token spans located once, each
 * n-gram copied directly into its output buffer; `doGenCode` emits a
 * static call so the explode stays inside whole-stage codegen.
 * (Byte-level scanning is UTF-8-safe: the 6 separator bytes 0x09-0x0D,
 * 0x20 never appear in multi-byte sequences.)
 */
case class WordNgramStrings(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(
      s"word_ngrams: n must be >= 1, got $n")
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_ngrams expects a string input, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    WordNgramStrings.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.WordNgramStrings.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/**
 * Native Catalyst expression: all `n`-character substrings of a string —
 * the gram stream `chargram_nll` aggregates over. Same motivation as
 * [[WordNgramStrings]]: the `transform(sequence(1, length - n + 1),
 * i -> substring(text, i, n))` Column form is an interpreted lambda with
 * one substring allocation per position and made q79 the suite's slowest
 * query. Here character start offsets (code points, matching
 * `substring`'s and DuckDB `substr`'s character counting — NOT bytes)
 * are located in one pass and each gram is sliced directly from the
 * UTF-8 buffer. Strings shorter than `n` characters yield an empty array.
 */
case class CharNgramStrings(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if n >= 1 => TypeCheckResult.TypeCheckSuccess
    case StringType => TypeCheckResult.TypeCheckFailure(
      s"char_ngrams: n must be >= 1, got $n")
    case other => TypeCheckResult.TypeCheckFailure(
      s"char_ngrams expects a string input, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    CharNgramStrings.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.CharNgramStrings.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharNgramStrings {
  def apply(text: Column, n: Int): Column =
    GraftBridge.column(CharNgramStrings(GraftBridge.expression(text), n))

  @inline private def charWidth(b: Byte): Int =
    if ((b & 0x80) == 0) 1
    else if ((b & 0xE0) == 0xC0) 2
    else if ((b & 0xF0) == 0xE0) 3
    else if ((b & 0xF8) == 0xF0) 4
    else 1 // defensive: stray continuation byte advances one

  /** Static so generated code calls it directly. */
  def compute(input: UTF8String, n: Int): ArrayData = {
    val bytes = input.getBytes
    // character start offsets + end sentinel
    val starts = new Array[Int](math.max(16, bytes.length + 1))
    var nChars = 0
    var i = 0
    while (i < bytes.length) {
      starts(nChars) = i
      nChars += 1
      i += charWidth(bytes(i))
    }
    starts(nChars) = bytes.length
    if (nChars < n) return new GenericArrayData(Array.empty[UTF8String])
    val out = new Array[AnyRef](nChars - n + 1)
    var w = 0
    while (w < out.length) {
      val s = starts(w); val e = starts(w + n)
      out(w) = UTF8String.fromBytes(bytes, s, e - s)
      w += 1
    }
    new GenericArrayData(out)
  }
}

object WordNgramStrings {
  def apply(text: Column, n: Int): Column =
    GraftBridge.column(WordNgramStrings(GraftBridge.expression(text), n))

  /** Java-regex `\s` parity: the 6 ASCII whitespace bytes. */
  @inline private def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0D)

  /** One pass: locate token byte spans, then copy each n-window into its
    * own buffer with single-space joins. Static so generated code calls
    * it directly. */
  def compute(input: UTF8String, n: Int): ArrayData = {
    val bytes = input.toLowerCase.getBytes
    // token spans as (start, end) pairs packed flat
    var spans = new Array[Int](32)
    var nTokens = 0
    var i = 0
    while (i < bytes.length) {
      while (i < bytes.length && isWs(bytes(i))) i += 1
      val start = i
      while (i < bytes.length && !isWs(bytes(i))) i += 1
      if (i > start) {
        if (2 * nTokens == spans.length) {
          val grown = new Array[Int](spans.length * 2)
          System.arraycopy(spans, 0, grown, 0, spans.length)
          spans = grown
        }
        spans(2 * nTokens) = start
        spans(2 * nTokens + 1) = i
        nTokens += 1
      }
    }
    if (nTokens < n) return new GenericArrayData(Array.empty[UTF8String])
    val out = new Array[AnyRef](nTokens - n + 1)
    var w = 0
    while (w < out.length) {
      var len = n - 1 // the joining spaces
      var j = 0
      while (j < n) { len += spans(2 * (w + j) + 1) - spans(2 * (w + j)); j += 1 }
      val buf = new Array[Byte](len)
      var pos = 0
      j = 0
      while (j < n) {
        if (j > 0) { buf(pos) = 0x20; pos += 1 }
        val s = spans(2 * (w + j)); val e = spans(2 * (w + j) + 1)
        System.arraycopy(bytes, s, buf, pos, e - s)
        pos += e - s
        j += 1
      }
      out(w) = UTF8String.fromBytes(buf)
      w += 1
    }
    new GenericArrayData(out)
  }
}
