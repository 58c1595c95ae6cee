package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expression: EVERY per-token quality/language/identity
 * signal in ONE walk of a token array —
 *
 *   - `n`          token count (`size(toks)`)
 *   - `sum_len`    total token length in characters (the mean-word-length
 *                  numerator)
 *   - `stop_hits`  stopword OCCURRENCES against `stops`
 *   - `alpha`      tokens containing any `a-z` character (rlike("[a-z]")
 *                  parity: unanchored contains; a-z are single-byte UTF-8,
 *                  so a byte scan cannot false-positive on multi-byte chars)
 *   - `distinct_stop_hits`  DISTINCT tokens present in `distinctStops`
 *                  (`size(array_intersect(toks, stops))` parity)
 *   - `fp`         the rolling xxhash64 fingerprint chain
 *                  `acc ← xxhash64(acc, token)` from 0L — reproduced via
 *                  [[XxHash64Function]] itself, so it is bit-identical to
 *                  the `aggregate(...)` fold by construction
 *   - `lang`       hit counts per language profile, in profile order
 *
 * Why a custom Expression (same case as [[CosineSimilarity]]): the
 * composable forms are 6+ separate higher-order-function walks per row
 * (filter × stopwords, filter × 5 language profiles, two aggregate folds),
 * each evaluated INTERPRETED per element. Signal scoring fronts every
 * quality-gating pass over a training corpus; profiled at sf0.1 the HOF
 * chains made q24/q91/q109 three of the suite's slowest queries. Results
 * are integer counts and an exact hash chain — bit-identical to the HOF
 * reference forms (spec-asserted), so oracle checks are unaffected.
 *
 * Input is the ALREADY-TOKENIZED array (`TextFunctions.tokens`), not raw
 * text: tokenization stays the native codegen'd `split` everyone already
 * agrees on, and this expression has no regex-parity surface at all.
 */
case class TokenSignals(child: Expression, stops: Seq[String],
                        distinctStops: Seq[String],
                        langProfiles: Seq[Seq[String]],
                        withFingerprint: Boolean = true)
    extends UnaryExpression {

  override def dataType: DataType = TokenSignals.outType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_signals expects array<string> (the token array), got ${other.simpleString}")
  }

  @transient private lazy val stopSet = TokenSignals.toSet(stops)
  @transient private lazy val distinctStopSet = TokenSignals.toSet(distinctStops)
  @transient private lazy val profileSets = langProfiles.map(TokenSignals.toSet).toArray

  def compute(input: ArrayData): GenericInternalRow = {
    val n = input.numElements()
    var sumLen = 0L; var stopHits = 0; var alpha = 0; var distinctHits = 0
    var fp = 0L
    val lang = new Array[Int](profileSets.length)
    val seen = new java.util.HashSet[UTF8String]()
    var i = 0
    while (i < n) {
      // internal callers feed split() output (never null elements), but the
      // expression is constructible over any array<string> — skip nulls
      // rather than NPE, matching ItemCounts. Null slots DO count toward
      // `n` by design (size() parity, pinned by spec): n must agree with
      // SQL size() so oracle re-derivations line up, and the ratio signals
      // (mean length, stopword rate) are only consumed over split() output
      // where null slots cannot occur.
      if (input.isNullAt(i)) { i += 1 }
      else {
      val w = input.getUTF8String(i)
      sumLen += w.numChars()
      if (stopSet.contains(w)) stopHits += 1
      if (TokenSignals.containsLowerAlpha(w)) alpha += 1
      if (distinctStopSet.contains(w) && seen.add(w)) distinctHits += 1
      var p = 0
      while (p < profileSets.length) {
        if (profileSets(p).contains(w)) lang(p) += 1
        p += 1
      }
      if (withFingerprint)
        fp = XxHash64Function.hash(w, StringType,
          XxHash64Function.hash(fp, LongType, 42L))
      i += 1
      }
    }
    new GenericInternalRow(Array[Any](n, sumLen, stopHits, alpha, distinctHits,
      fp, new GenericArrayData(lang)))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the instance carries the configured word sets — reference it
    val ref = ctx.addReferenceObj("tokenSignals", this, classOf[TokenSignals].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenSignals {
  def apply(toks: Column, stops: Seq[String], distinctStops: Seq[String],
            langProfiles: Seq[Seq[String]],
            withFingerprint: Boolean): Column =
    GraftBridge.column(TokenSignals(GraftBridge.expression(toks),
      stops, distinctStops, langProfiles, withFingerprint))

  def apply(toks: Column, stops: Seq[String], distinctStops: Seq[String],
            langProfiles: Seq[Seq[String]]): Column =
    apply(toks, stops, distinctStops, langProfiles, withFingerprint = true)

  private[expressions] def outType: DataType = StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("sum_len", LongType, nullable = false),
    StructField("stop_hits", IntegerType, nullable = false),
    StructField("alpha", IntegerType, nullable = false),
    StructField("distinct_stop_hits", IntegerType, nullable = false),
    StructField("fp", LongType, nullable = false),
    StructField("lang", ArrayType(IntegerType, containsNull = false),
      nullable = false)))

  private def toSet(words: Seq[String]): java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](words.length * 2)
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }

  /** rlike("[a-z]") parity: does the token contain any of bytes 0x61-0x7A?
    * UTF-8 continuation/lead bytes are >= 0x80, so this cannot match inside
    * a multi-byte character. */
  @inline private[expressions] def containsLowerAlpha(w: UTF8String): Boolean = {
    val b = w.getBytes
    var i = 0
    while (i < b.length) {
      if (b(i) >= 'a'.toByte && b(i) <= 'z'.toByte) return true
      i += 1
    }
    false
  }
}

/**
 * Native Catalyst expression: per-line structural signals in one walk of a
 * line array (`split(text, "\n")`) —
 *
 *   - `n`        line count
 *   - `bullets`  lines whose first non-space character is `-`, `*` or `•`
 *                (`ltrim(l).rlike("^[-*•]")` parity; Spark `ltrim` strips
 *                ASCII spaces only, reproduced exactly)
 *   - `ellipsis` lines ending (after `rtrim`) in `...` or `…`
 *
 * Same motivation as [[TokenSignals]]: each fraction was an interpreted
 * `filter` lambda invoking a regex per line.
 */
case class LineSignals(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n", IntegerType, nullable = false),
    StructField("bullets", IntegerType, nullable = false),
    StructField("ellipsis", IntegerType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"line_signals expects array<string> (the line array), got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    LineSignals.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.LineSignals.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LineSignals {
  def apply(lines: Column): Column =
    GraftBridge.column(LineSignals(GraftBridge.expression(lines)))

  /** Static so generated code calls it directly. */
  def compute(input: ArrayData): GenericInternalRow = {
    val n = input.numElements()
    var bullets = 0; var ellipsis = 0
    var i = 0
    while (i < n) {
      // same null-element guard as TokenSignals.compute — and same size()
      // parity: null slots count toward n by design, internal split()
      // callers never produce them
      if (input.isNullAt(i)) { i += 1 }
      else {
      val b = input.getUTF8String(i).getBytes
      // ltrim (ASCII space only) then first char in {-, *, •(E2 80 A2)}
      var s = 0
      while (s < b.length && b(s) == ' '.toByte) s += 1
      if (s < b.length && (b(s) == '-'.toByte || b(s) == '*'.toByte ||
          (b(s) == 0xE2.toByte && s + 2 < b.length &&
            b(s + 1) == 0x80.toByte && b(s + 2) == 0xA2.toByte)))
        bullets += 1
      // rtrim (ASCII space only) then ends with "..." or "…"(E2 80 A6)
      var e = b.length
      while (e > 0 && b(e - 1) == ' '.toByte) e -= 1
      if (e >= 3 && ((b(e - 1) == '.'.toByte && b(e - 2) == '.'.toByte &&
          b(e - 3) == '.'.toByte) ||
          (b(e - 3) == 0xE2.toByte && b(e - 2) == 0x80.toByte &&
            b(e - 1) == 0xA6.toByte)))
        ellipsis += 1
      i += 1
      }
    }
    new GenericInternalRow(Array[Any](n, bullets, ellipsis))
  }
}
