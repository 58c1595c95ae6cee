package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.api.{Transform, RunContext, ConfigException}
import graft.config.{ExprUtils, Options, TransformConfig}

/**
 * windowing — time-window bucketing + aggregation.
 * Reference: transformer/WindowingTransformer.scala:50-85 (tumbling/sliding).
 * We also implement the two features the reference declares but never ships
 * (SURVEY §2.5): extra groupBy keys alongside the window
 * (docs/CONFIGURATION.md:236) and session windows (spec FR-011) via
 * Spark's session_window(). Output flattens window.start/window.end to
 * window_start/window_end (the shape the reference's sink tables use,
 * quickstart.md:144-148); `flatten=false` keeps the struct.
 */
object WindowTransform extends Transform {
  val transformType = "windowing"
  override val columnOptions = Seq("timeColumn", "groupBy")

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    required(config, "timeColumn", "aggregations")
    val ts = col(config.options("timeColumn"))
    val windowType = config.options.getOrElse("windowType", "tumbling")
    val bucket: Column = windowType match {
      case "tumbling" =>
        window(ts, config.options.getOrElse("windowDuration",
          throw new ConfigException(s"windowing '${config.name}': windowDuration required")))
      case "sliding" =>
        val dur = config.options.getOrElse("windowDuration",
          throw new ConfigException(s"windowing '${config.name}': windowDuration required"))
        val slide = config.options.getOrElse("slideDuration",
          throw new ConfigException(s"windowing '${config.name}': sliding windows require slideDuration"))
        window(ts, dur, slide)
      case "session" =>
        session_window(ts, config.options.getOrElse("gapDuration",
          throw new ConfigException(s"windowing '${config.name}': session windows require gapDuration")))
      case other =>
        throw new ConfigException(s"windowing '${config.name}': unknown windowType '$other'")
    }
    val extraKeys = config.options.get("groupBy").map(ExprUtils.parseColumns).getOrElse(Nil)
    val aggs = ExprUtils.parseAggregations(config.options("aggregations"))
    // aggregations: "" parses to Nil and aggs.head would be a bare
    // NoSuchElementException — same guard as the aggregation transform
    if (aggs.isEmpty) throw new ConfigException(
      s"windowing '${config.name}': no aggregations")
    val winCol = if (windowType == "session") "session_window" else "window"
    val agged = input
      .groupBy(bucket.as(winCol) +: extraKeys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    if (boolOption(config, "flatten", true)) {
      val rest = agged.columns.filter(_ != winCol).map(col)
      agged.select(
        col(s"$winCol.start").as("window_start") +:
        col(s"$winCol.end").as("window_end") +: rest.toIndexedSeq: _*)
    } else agged
  }
}

/**
 * window_rank — analytic-window superset (SURVEY §2.5): row_number / rank /
 * dense_rank / percent_rank / ntile over Window.partitionBy(...).orderBy(...),
 * with optional `topK` per-partition filter (the benchmark's top-N-per-group
 * shape, QueryPlanAnalysisSpec.scala:312-340). One shuffle on the partition
 * keys; the topK filter happens before any further wide op. lag/lead are
 * value (not ranking) window functions — reach them through `window_agg`'s
 * aggregations option, which takes the column and offset arguments they need.
 */
object WindowRankTransform extends Transform {
  val transformType = "window_rank"
  override val columnOptions = Seq("partitionBy")
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    required(config, "orderBy")
    val partCols = config.options.get("partitionBy").map(ExprUtils.parseColumns).getOrElse(Nil)
    // same opt-in foot-gun policy as window_agg and sort: an unpartitioned
    // ordered window is a SinglePartition exchange — the whole input
    // through one task — and must be requested explicitly
    if (partCols.isEmpty && !boolOption(config, "global", false))
      throw new ConfigException(
        "window_rank: partitionBy is required — an unpartitioned ordered " +
          "window moves the entire input through ONE task; set " +
          "global=\"true\" to opt in for small frames")
    val orderExprs = ExprUtils.splitTopLevel(config.options("orderBy"))
      .map(ExprUtils.parseOrder)
    val w0 = if (partCols.isEmpty) W.partitionBy() else W.partitionBy(partCols.map(col): _*)
    val w = w0.orderBy(orderExprs: _*)
    val fn = config.options.getOrElse("function", "row_number") match {
      case "row_number" => row_number()
      case "rank"       => rank()
      case "dense_rank" => dense_rank()
      case "percent_rank" => percent_rank()
      case "ntile"      => ntile(intOption(config, "n", 4))
      case other        => throw new ConfigException(s"window_rank: unknown function '$other'")
    }
    val alias = config.options.getOrElse("alias", "rank")
    val ranked = input.withColumn(alias, fn.over(w))
    intOption(config, "topK").fold(ranked)(k => ranked.filter(col(alias) <= k))
  }
}

/**
 * window_agg — analytic aggregations over an ordered window: rolling
 * sums/averages, running totals, lag/lead deltas — the time-series half of
 * the analytic-window surface (`window_rank` covers ranking).
 *
 * Options: `orderBy` (required), `partitionBy`, `aggregations`
 * (`alias:expr,…` — any aggregate or analytic function; the function must
 * be OUTERMOST since `.over` binds to the top expression — put scalar
 * wrappers like round() in a following `map` step), and an optional
 * explicit frame via `frameType: rows|range` + `frameStart`/`frameEnd`
 * (integers, `unbounded`, or `current`). Without a frame Spark's default
 * applies (RANGE UNBOUNDED PRECEDING → CURRENT ROW), which is also the
 * mode in which lag/lead/first/last are legal (they reject custom
 * frames) — chain two `window_agg` steps to mix framed and frameless
 * analytics.
 *
 * Scale shape: ONE shuffle on `partitionBy`, per-partition incremental
 * frame evaluation, all aggregations sharing the single sort. Requiring
 * `partitionBy` unless `global: "true"` keeps the 100 TB foot-gun —
 * an un-partitioned ordered window is a SinglePartition exchange —
 * opt-in, same policy as `sort`.
 */
object WindowAggTransform extends Transform {
  val transformType = "window_agg"
  override val columnOptions = Seq("partitionBy")
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    required(config, "orderBy", "aggregations")
    val partCols = config.options.get("partitionBy").map(ExprUtils.parseColumns).getOrElse(Nil)
    if (partCols.isEmpty && !boolOption(config, "global", false))
      throw new ConfigException(
        "window_agg without partitionBy funnels ALL data through one task; " +
          "set global=\"true\" to accept that, or partition")
    val w0 = if (partCols.isEmpty) W.partitionBy() else W.partitionBy(partCols.map(col): _*)
    val w1 = w0.orderBy(ExprUtils.splitTopLevel(config.options("orderBy"))
      .map(ExprUtils.parseOrder): _*)
    def bound(key: String, dflt: Long): Long = config.options.get(key).map {
      case "unbounded" if key == "frameStart" => W.unboundedPreceding
      case "unbounded"                        => W.unboundedFollowing
      case "current"                          => W.currentRow
      case n                                  => Options.long(transformType, key, n)
    }.getOrElse(dflt)
    val framed = (config.options.get("frameType"),
                  config.options.contains("frameStart") || config.options.contains("frameEnd")) match {
      case (None, false) => w1 // Spark default frame; lag/lead legal here
      case (t, _) =>
        val (s, e) = (bound("frameStart", W.unboundedPreceding), bound("frameEnd", W.currentRow))
        t.getOrElse("rows") match {
          case "rows"  => w1.rowsBetween(s, e)
          case "range" => w1.rangeBetween(s, e)
          case other => throw new ConfigException(
            s"window_agg: frameType must be rows|range, got '$other'")
        }
    }
    val pairs = ExprUtils.parseExprList(config.options("aggregations"))
    val dups = pairs.map(_._1).diff(pairs.map(_._1).distinct).distinct
    if (dups.nonEmpty) throw new ConfigException(
      s"window_agg: duplicate aliases: ${dups.mkString(", ")}")
    // fold, not withColumns(Map): spec order is user-visible schema and an
    // immutable Map stops preserving insertion order above 4 entries
    pairs.foldLeft(input) { case (df, (a, e)) => df.withColumn(a, expr(e).over(framed)) }
  }
}
