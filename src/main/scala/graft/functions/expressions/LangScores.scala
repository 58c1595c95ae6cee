package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * The trained language-ID model as ONE serializable reference object —
 * the [[BpeEncode]] merges-object pattern. Labels ride sorted ascending;
 * each gram carries a SPARSE (labelIdx, ln(cnt+1)) pair list (label
 * indices ascending), so a label lacking the gram contributes exactly 0
 * (ln 1) with no storage at all and grams absent from the store entirely
 * need no lookup; `lnDen(i)` holds ln(total_i + V). The smoothed
 * per-label log-likelihood then factors as
 * `score_i = Σ_occurrences lnNum(gram, i) − n_grams · lnDen(i)` —
 * algebraically identical to Σ tf·ln((cnt+1)/(total+V)) for matched
 * grams plus the all-unseen mass for the rest, with the per-gram ln
 * PRECOMPUTED at model build (no libm call in the row loop).
 *
 * Sparsity is the scale contract: footprint is O(store rows), NOT
 * distinct_grams × labels, so a label-disjoint store (every label its
 * own vocabulary) costs the same memory as a shared-vocabulary one —
 * the former dense representation needed the `maxModelCells` ceiling
 * precisely because that product exploded while every factor looked
 * bounded. Score values are IDENTICAL to the dense path's (the dense
 * cells this layout drops were exact 0.0 contributions).
 *
 * Serialization ships plain String/Array fields; the UTF8String-keyed
 * lookup table builds lazily once per executor.
 */
final class LangLmModel(val labels: Array[String], val lnDen: Array[Double],
                        gramKeys: Array[String],
                        gramLabelIdx: Array[Array[Int]],
                        gramLnNum: Array[Array[Double]])
    extends Serializable {
  require(labels.length == lnDen.length)
  require(gramKeys.length == gramLabelIdx.length &&
    gramKeys.length == gramLnNum.length)
  @transient lazy val table: java.util.HashMap[UTF8String, LangLmModel.Entry] = {
    val m = new java.util.HashMap[UTF8String, LangLmModel.Entry](gramKeys.length * 2)
    var i = 0
    while (i < gramKeys.length) {
      m.put(UTF8String.fromString(gramKeys(i)),
        new LangLmModel.Entry(gramLabelIdx(i), gramLnNum(i)))
      i += 1
    }
    m
  }
}

object LangLmModel {
  /** One gram's sparse per-label numerators: `idx` ASCENDING label
    * indices, `ln(k)` = ln(cnt_{idx(k)}(gram) + 1). Ascending order is
    * load-bearing: [[LmNll]] binary-searches it. */
  final class Entry(val idx: Array[Int], val ln: Array[Double])
}

/**
 * Per-row trained language classification — struct(label, score) of the
 * argmax add-one-smoothed char-n-gram log-likelihood, or NULL when the
 * (lowercased) text yields no grams (shorter than n, or null). A whole
 * document scores in one pass over its gram stream against the broadcast
 * [[LangLmModel]], so `lang_classify` is a ZERO-SHUFFLE codegen'd
 * projection — no explode, no (doc, label) aggregation, no join-back
 * (the first implementation paid three; measured equal predictions).
 * Ties break toward the LARGER label (ascending scan keeps >= winners) —
 * the langId / q109 struct-max convention.
 */
case class LangScores(child: Expression, model: LangLmModel, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"lang_scores: n must be >= 1, got $n")

  override def nullable: Boolean = true

  override def prettyName: String = "lang_scores"

  override def dataType: DataType = StructType(Seq(
    StructField("label", StringType, nullable = false),
    StructField("score", DoubleType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lang_scores expects a string input, got ${other.simpleString}")
  }

  def compute(input: UTF8String): GenericInternalRow = {
    val grams = CharNgramStrings.compute(input.toLowerCase, n)
    val m = grams.numElements()
    if (m == 0) return null
    val nL = model.labels.length
    val acc = new Array[Double](nL)
    val table = model.table
    var i = 0
    while (i < m) {
      val e = table.get(grams.getUTF8String(i))
      if (e != null) {
        // sparse: touch only the labels that stored this gram (absent
        // labels contribute ln(1) = 0 exactly, as the dense path did)
        var k = 0
        while (k < e.idx.length) { acc(e.idx(k)) += e.ln(k); k += 1 }
      }
      i += 1
    }
    var best = 0
    var bestScore = acc(0) - m * model.lnDen(0)
    var j = 1
    while (j < nL) {
      val s = acc(j) - m * model.lnDen(j)
      if (s >= bestScore) { best = j; bestScore = s }
      j += 1
    }
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(model.labels(best)), bestScore))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("langScores", this, classOf[LangScores].getName)
    val resultTerm = ctx.freshName("langScoresRow")
    nullSafeCodeGen(ctx, ev, c => s"""
      org.apache.spark.sql.catalyst.expressions.GenericInternalRow $resultTerm =
        $ref.compute($c);
      if ($resultTerm == null) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = $resultTerm;
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LangScores {
  def apply(text: Column, model: LangLmModel, n: Int): Column =
    GraftBridge.column(LangScores(GraftBridge.expression(text), model, n))
}

/**
 * Per-row add-one-smoothed char-n-gram NLL under ONE stored label — the
 * CCNet-style perplexity gate against a persisted reference model
 * (chargram_lm's `modelView` mode), as the same zero-shuffle codegen'd
 * projection as [[LangScores]]:
 * `nll = ln(total_L + V) − (Σ_occurrences ln(cnt_L + 1)) / n_grams`
 * (the factored form of −Σ tf·ln((cnt+1)/(total+V)) / Σ tf). NULL when
 * the lowercased text yields no grams. Smoothed, unlike the self-mode
 * corpus NLL (whose model by construction contains every doc gram).
 */
case class LmNll(child: Expression, model: LangLmModel, labelIdx: Int, n: Int)
    extends UnaryExpression {
  require(labelIdx >= 0 && labelIdx < model.labels.length)
  require(n >= 1, s"lm_nll: n must be >= 1, got $n")

  override def nullable: Boolean = true
  override def prettyName: String = "lm_nll"
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lm_nll expects a string input, got ${other.simpleString}")
  }

  def compute(input: UTF8String): Any = {
    val grams = CharNgramStrings.compute(input.toLowerCase, n)
    val m = grams.numElements()
    if (m == 0) return null
    val table = model.table
    var acc = 0.0
    var i = 0
    while (i < m) {
      val e = table.get(grams.getUTF8String(i))
      if (e != null) {
        // the sparse idx array is ascending by contract — binary search
        val p = java.util.Arrays.binarySearch(e.idx, labelIdx)
        if (p >= 0) acc += e.ln(p)
      }
      i += 1
    }
    java.lang.Double.valueOf(model.lnDen(labelIdx) - acc / m)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lmNll", this, classOf[LmNll].getName)
    val boxed = ctx.freshName("lmNllVal")
    nullSafeCodeGen(ctx, ev, c => s"""
      Object $boxed = $ref.compute($c);
      if ($boxed == null) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = ((java.lang.Double) $boxed).doubleValue();
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LmNll {
  def apply(text: Column, model: LangLmModel, labelIdx: Int, n: Int): Column =
    GraftBridge.column(LmNll(GraftBridge.expression(text), model, labelIdx, n))
}

/**
 * Store-drift observability for chargram_lm consumers — the
 * [[BpeOovCount]] discipline stated for gram models: the fraction of a
 * row's gram OCCURRENCES absent from the store's union vocabulary
 * (0.0 = fully covered, 1.0 = the model has never seen any of this text;
 * NULL when the text yields no grams, mirroring the scorers). A model
 * trained on corpus A scoring corpus B drifts LOUDLY through this column
 * (`avg(unseen)` over a run) instead of silently degrading into
 * smoothed-constant scores. `failAbove` (NaN = off) arms the per-row
 * threshold guard: a row whose unseen mass exceeds it refuses the run
 * with guidance — for pipelines that would rather stop than classify
 * garbage. Zero-shuffle codegen'd projection against the same broadcast
 * [[LangLmModel]], same scale shape as the scorers.
 */
case class LmUnseenFrac(child: Expression, model: LangLmModel, n: Int,
                        failAbove: Double = Double.NaN)
    extends UnaryExpression {
  require(n >= 1, s"lm_unseen_frac: n must be >= 1, got $n")

  override def nullable: Boolean = true
  override def prettyName: String = "lm_unseen_frac"
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lm_unseen_frac expects a string input, got ${other.simpleString}")
  }

  def compute(input: UTF8String): Any = {
    val grams = CharNgramStrings.compute(input.toLowerCase, n)
    val m = grams.numElements()
    if (m == 0) return null
    val table = model.table
    var unseen = 0
    var i = 0
    while (i < m) {
      if (table.get(grams.getUTF8String(i)) == null) unseen += 1
      i += 1
    }
    val frac = unseen.toDouble / m
    if (!failAbove.isNaN && frac > failAbove) throw new graft.api.TransformException(
      f"lm_unseen_frac: a row's text has $frac%.4f of its gram occurrences " +
        s"outside the store's vocabulary, above maxUnseenFrac=$failAbove — " +
        "the corpus has drifted outside what the model was trained on; " +
        "retrain the store on representative data, raise the threshold, " +
        "or drop the guard and watch the unseen column instead")
    java.lang.Double.valueOf(frac)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lmUnseenFrac", this, classOf[LmUnseenFrac].getName)
    val boxed = ctx.freshName("lmUnseenVal")
    nullSafeCodeGen(ctx, ev, c => s"""
      Object $boxed = $ref.compute($c);
      if ($boxed == null) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = ((java.lang.Double) $boxed).doubleValue();
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LmUnseenFrac {
  def apply(text: Column, model: LangLmModel, n: Int,
            failAbove: Double): Column =
    GraftBridge.column(LmUnseenFrac(GraftBridge.expression(text), model, n,
      failAbove))
}
