package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native Catalyst expression: the multiset counts of a string array —
 * `["a","b","a"]` → `[{item:"a", cnt:2}, {item:"b", cnt:1}]` in
 * first-occurrence order.
 *
 * This is the per-row half of a distributed (id, item) frequency table:
 * `explode(ItemCounts(items))` yields the same rows as
 * `explode(items)` + `groupBy(id, item).count()` — WITHOUT the shuffle.
 * All of a row's items live in that row, so collapsing repeats is local
 * work; the cluster-wide hash exchange of one row per item occurrence
 * (the corpus's total token/gram count — billions of rows at 100 TB)
 * disappears entirely. Profiled at sf0.1 the `(doc, gram)` aggregation
 * was the whole cost of `chargram_nll` (1.35 s of a 1.6 s query); this
 * expression replaces it with a per-row hash map.
 *
 * Null elements in the input array are skipped (the downstream frequency
 * frames never count nulls); a null array row yields a null output under
 * `UnaryExpression`'s default null-intolerance. Output order is
 * first-occurrence, which is deterministic in the input array — callers
 * that aggregate downstream are order-insensitive anyway.
 */
case class ItemCounts(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ItemCounts.outType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"item_counts expects array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    ItemCounts.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.ItemCounts.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ItemCounts {
  def apply(items: Column): Column =
    GraftBridge.column(ItemCounts(GraftBridge.expression(items)))

  private[expressions] val outType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false))),
    containsNull = false)

  /** Static so generated code calls it directly. LinkedHashMap keeps
    * first-occurrence order (deterministic per input). */
  def compute(input: ArrayData): ArrayData = {
    val n = input.numElements()
    val counts = new java.util.LinkedHashMap[UTF8String, java.lang.Long](math.max(16, n * 2))
    var i = 0
    while (i < n) {
      if (!input.isNullAt(i)) {
        val s = input.getUTF8String(i)
        val prev = counts.get(s)
        counts.put(s, if (prev == null) java.lang.Long.valueOf(1L)
                      else java.lang.Long.valueOf(prev.longValue() + 1L))
      }
      i += 1
    }
    val out = new Array[AnyRef](counts.size())
    val it = counts.entrySet().iterator()
    var w = 0
    while (it.hasNext) {
      val e = it.next()
      out(w) = new GenericInternalRow(Array[Any](e.getKey, e.getValue))
      w += 1
    }
    new GenericArrayData(out)
  }
}
