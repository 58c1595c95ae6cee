package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{ConfigException, Opt, RunContext}
import graft.config.{ExprUtils, TransformConfig}

/**
 * frequent_items — mergeable heavy-hitters sketches (Spark 4's native
 * `approx_top_k` family, DataSketches frequent-items under the hood):
 * the incremental "top domains / top tokens / top licenses to date"
 * pattern. Like the HLL [[SketchTransform]], a 100 TB corpus is never
 * re-scanned: each ingest `build`s a fixed-size sketch per (group,
 * column), later runs `merge` the stored sketches, and `estimate` emits
 * the (item, count) rows. Counts are exact while distinct items fit in
 * `maxItemsTracked`; beyond that they are over-estimates with a bounded
 * error (the sketch guarantee), never under-estimates.
 *
 * Modes:
 *  - `build` (default): aggregate a data column → one row per `groupBy`
 *    value with a `<col>_topk` sketch STRUCT column each.
 *  - `merge`: aggregate EXISTING `<col>_topk` sketch columns (from build
 *    outputs read back) — same output shape.
 *  - `estimate`: explode each group's `<col>_topk` into `(item, count)`
 *    rows, `k` items per group, ordered count-descending.
 *  - `topk`: one-shot build+estimate (no persisted sketch).
 *
 * Scale shape: one hash aggregation with map-side partial sketches — the
 * shuffle carries `groups × sketch` bytes regardless of corpus size;
 * estimate is a per-row explode of an already-tiny frame.
 *
 * {{{
 * - name: top-sources
 *   type: frequent_items
 *   options: {columns: source, mode: topk, k: "20"}
 * }}}
 *
 * Options: `columns` required (comma-separated); `k` (estimate/topk,
 * default 10); `maxItemsTracked` sketch capacity (default 10000, must be
 * >= k); `groupBy` optional.
 */
object FrequentItemsTransform extends SketchColumns {
  val transformType = "frequent_items"
  override protected def modes = Seq("build", "merge", "estimate", "topk")
  override protected def rawModes = Set("build", "topk")
  private val K = Opt.int("k", min = 1).default(10)
  private val MaxItemsTracked = Opt.int("maxItemsTracked").default(10000)

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val cols = Columns(config)
    val k = K(config)
    val maxTracked = MaxItemsTracked(config)
    if (maxTracked < k) throw new ConfigException(
      s"frequent_items: maxItemsTracked ($maxTracked) must be >= k ($k)")
    def estimated(df: DataFrame) = {
      // each column's explode has its own row count — estimate emits rows
      // for ONE column at a time
      if (cols.size != 1) throw new ConfigException(
        "frequent_items: estimate/topk take exactly one column (each column's " +
          "item rows have different cardinality); run one step per column")
      val c = cols.head
      // estimate returns ARRAY<STRUCT<item,count>>; explode to rows — one
      // output row per (carried columns, item). Whatever rode alongside
      // the sketch (the build's group keys, however they were named)
      // passes through; the sketch column itself is consumed.
      val carried = df.columns.filterNot(_ == s"${c}_topk").map(col).toSeq
      // a carried column named item/est_count/rank would emit a silently
      // duplicate-named output column; __rank/__e would fail analysis with
      // an ambiguous reference — guard both classes loudly
      ExprUtils.requireNoHelperCollision("frequent_items",
        df.columns.filterNot(_ == s"${c}_topk").toSeq,
        "__rank", "__e", "item", "est_count", "rank")
      df.select((carried :+
          posexplode(expr(s"approx_top_k_estimate(`${c}_topk`, $k)"))
            .as(Seq("__rank", "__e"))): _*)
        .select((carried :+ col("__e.item").as("item") :+
          col("__e.count").cast("long").as("est_count") :+
          (col("__rank") + 1).as("rank")): _*)
    }
    Mode(config) match {
      case "build" =>
        val aggs = cols.map(c =>
          expr(s"approx_top_k_accumulate(`$c`, $maxTracked)").as(s"${c}_topk"))
        grouped(input, config).agg(aggs.head, aggs.tail: _*)
      case "merge" =>
        val aggs = cols.map(c =>
          expr(s"approx_top_k_combine(`${c}_topk`, $maxTracked)").as(s"${c}_topk"))
        grouped(input, config).agg(aggs.head, aggs.tail: _*)
      case "estimate" => estimated(input)
      case _ =>
        val aggs = cols.map(c =>
          expr(s"approx_top_k_accumulate(`$c`, $maxTracked)").as(s"${c}_topk"))
        estimated(grouped(input, config).agg(aggs.head, aggs.tail: _*))
    }
  }
}
