package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._

import graft.api.{Transform, RunContext, ConfigException, Opt}
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
  private val TimeColumn = Opt.column("timeColumn").required
  private val GroupBy = Opt.columns("groupBy").default(Nil)
  private val Aggregations = Opt.expr("aggregations").required
  private val WindowType = Opt.oneOf("windowType", "tumbling", "sliding", "session")
    .default("tumbling")
  // each duration is required by the window types that read it
  private val WindowDuration = Opt.string("windowDuration")
  private val SlideDuration = Opt.string("slideDuration")
  private val GapDuration = Opt.string("gapDuration")
  private val Flatten = Opt.bool("flatten").default(true)

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val ts = col(TimeColumn(config))
    val windowType = WindowType(config)
    val bucket: Column = windowType match {
      case "tumbling" => window(ts, WindowDuration(config))
      case "sliding"  => window(ts, WindowDuration(config), SlideDuration(config))
      case _          => session_window(ts, GapDuration(config))
    }
    val extraKeys = GroupBy(config)
    val aggs = ExprUtils.parseAggregations(Aggregations(config))
    // aggregations: "" parses to Nil and aggs.head would be a bare
    // NoSuchElementException — same guard as the aggregation transform
    if (aggs.isEmpty) throw new ConfigException(
      s"windowing '${config.name}': no aggregations")
    val winCol = if (windowType == "session") "session_window" else "window"
    val agged = input
      .groupBy(bucket.as(winCol) +: extraKeys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    if (Flatten(config)) {
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
  private val PartitionBy = Opt.columns("partitionBy").default(Nil)
  private val OrderBy = Opt.expr("orderBy").required
  private val Global = Opt.bool("global").default(false)
  private val Function = Opt.oneOf("function", "row_number", "rank", "dense_rank",
    "percent_rank", "ntile").default("row_number")
  private val N = Opt.int("n", min = 1).default(4)
  private val Alias = Opt.string("alias").default("rank")
  private val TopK = Opt.int("topK")
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val partCols = PartitionBy(config)
    // same opt-in foot-gun policy as window_agg and sort: an unpartitioned
    // ordered window is a SinglePartition exchange — the whole input
    // through one task — and must be requested explicitly
    if (partCols.isEmpty && !Global(config))
      throw new ConfigException(
        "window_rank: partitionBy is required — an unpartitioned ordered " +
          "window moves the entire input through ONE task; set " +
          "global=\"true\" to opt in for small frames")
    val orderExprs = ExprUtils.splitTopLevel(OrderBy(config)).map(ExprUtils.parseOrder)
    val w0 = if (partCols.isEmpty) W.partitionBy() else W.partitionBy(partCols.map(col): _*)
    val w = w0.orderBy(orderExprs: _*)
    val fn = Function(config) match {
      case "row_number"   => row_number()
      case "rank"         => rank()
      case "dense_rank"   => dense_rank()
      case "percent_rank" => percent_rank()
      case _              => ntile(N(config))
    }
    val alias = Alias(config)
    val ranked = input.withColumn(alias, fn.over(w))
    TopK.get(config).fold(ranked)(k => ranked.filter(col(alias) <= k))
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
  private val PartitionBy = Opt.columns("partitionBy").default(Nil)
  private val OrderBy = Opt.expr("orderBy").required
  private val Aggregations = Opt.expr("aggregations").required
  private val Global = Opt.bool("global").default(false)
  private val FrameType = Opt.oneOf("frameType", "rows", "range")
  private def bound(key: String, unbounded: Long) = Opt.parsed(key) {
    case "unbounded" => unbounded
    case "current"   => W.currentRow
    case n           => Options.long(transformType, key, n)
  }
  private val FrameStart = bound("frameStart", W.unboundedPreceding)
    .default(W.unboundedPreceding)
  private val FrameEnd = bound("frameEnd", W.unboundedFollowing).default(W.currentRow)
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val partCols = PartitionBy(config)
    if (partCols.isEmpty && !Global(config))
      throw new ConfigException(
        "window_agg without partitionBy funnels ALL data through one task; " +
          "set global=\"true\" to accept that, or partition")
    val w0 = if (partCols.isEmpty) W.partitionBy() else W.partitionBy(partCols.map(col): _*)
    val w1 = w0.orderBy(ExprUtils.splitTopLevel(OrderBy(config)).map(ExprUtils.parseOrder): _*)
    val framed =
      if (!Seq(FrameType, FrameStart, FrameEnd).exists(_.isSet(config)))
        w1 // Spark default frame; lag/lead legal here
      else if (FrameType.get(config).contains("range"))
        w1.rangeBetween(FrameStart(config), FrameEnd(config))
      else w1.rowsBetween(FrameStart(config), FrameEnd(config))
    val pairs = ExprUtils.parseExprList(Aggregations(config))
    val dups = pairs.map(_._1).diff(pairs.map(_._1).distinct).distinct
    if (dups.nonEmpty) throw new ConfigException(
      s"window_agg: duplicate aliases: ${dups.mkString(", ")}")
    // fold, not withColumns(Map): spec order is user-visible schema and an
    // immutable Map stops preserving insertion order above 4 entries
    pairs.foldLeft(input) { case (df, (a, e)) => df.withColumn(a, expr(e).over(framed)) }
  }
}
