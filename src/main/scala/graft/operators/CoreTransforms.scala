package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{Transform, RunContext, ConfigException, Opt}
import graft.config.{TransformConfig, ExprUtils}

/**
 * filter — SQL WHERE expression over rows.
 * Reference: transformer/FilterTransformer.scala:22-54 (`input.filter(expr(cond))`).
 * Declarative, so Catalyst pushes it into the scan (PushedFilters) whenever
 * the expression is pushdown-able.
 */
object FilterTransform extends Transform {
  val transformType = "filter"
  private val Condition = Opt.expr("condition").required
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame =
    input.filter(expr(Condition(config)))
}

/**
 * map — comma-separated `alias:expression` pairs, each a new/replaced column.
 * Reference: transformer/MapTransformer.scala:24-73. Unlike the reference we
 * apply all expressions in ONE select (withColumns), so N mapped columns is
 * one projection node, and the splitter handles nested commas
 * (`concat(a, b)`) that the reference's split(",") breaks on.
 * Option `project=true` keeps ONLY the mapped columns (plus `keep` list).
 * Duplicate aliases are rejected (the single-projection form would silently
 * last-win), and an expression cannot reference a sibling alias mapped in
 * the SAME transform — use two map steps for sequential derivation.
 */
object MapTransform extends Transform {
  val transformType = "map"
  private val Expressions = Opt.expr("expressions").required
  private val Project = Opt.bool("project").default(false)
  private val Keep = Opt.columns("keep").default(Nil)
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val pairs = ExprUtils.parseExprList(Expressions(config))
    if (pairs.isEmpty) throw new ConfigException(s"map '${config.name}': empty expressions")
    // case-INsensitive, like Spark's default resolution (and the keep-clash
    // guard below): "Price: a, price: b" is a duplicate, not two columns.
    // Locale.ROOT so a Turkish-locale JVM folds I/i the same as Spark does.
    val dups = pairs.groupBy(_._1.toLowerCase(java.util.Locale.ROOT))
      .collect { case (_, ps) if ps.size > 1 => ps.head._1 }
    if (dups.nonEmpty) throw new ConfigException(
      s"map '${config.name}': duplicate alias(es) ${dups.mkString(", ")}")
    if (Project(config)) {
      val keep = Keep(config)
      // a keep column colliding with a mapped alias would emit two columns
      // of the same name — the exact ambiguity the duplicate-alias guard
      // above exists to prevent
      val clash = keep.filter(k => pairs.exists(_._1.equalsIgnoreCase(k)))
      if (clash.nonEmpty) throw new ConfigException(
        s"map '${config.name}': keep column(s) ${clash.mkString(", ")} collide " +
          "with mapped alias(es) — drop them from keep (the alias wins)")
      input.select(keep.map(col) ++ pairs.map { case (a, e) => expr(e).as(a) }: _*)
    } else {
      input.withColumns(pairs.map { case (a, e) => a -> expr(e) }.toMap)
    }
  }
}

/**
 * aggregation — groupBy columns + aggregate expressions.
 * Reference: transformer/AggregationTransformer.scala:28-82 (9 functions) +
 * compact `alias:func(expr)` strings (quickstart-1 yaml:17). Supersets:
 * arbitrary Spark aggregate expressions (count_distinct,
 * approx_count_distinct, stddev, …) and `groupingSets=cube|rollup`.
 * Spark plans this as partial (map-side) + final hash aggregation — no
 * custom combiner logic needed, and it scales with key cardinality.
 */
object AggregateTransform extends Transform {
  val transformType = "aggregation"
  private val GroupBy = Opt.columns("groupBy").default(Nil)
  private val Aggregations = Opt.expr("aggregations").required
  private val GroupingSets = Opt.oneOf("groupingSets", "cube", "rollup")
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val aggs = ExprUtils.parseAggregations(Aggregations(config))
    if (aggs.isEmpty) throw new ConfigException(s"aggregation '${config.name}': no aggregations")
    val groupCols = GroupBy(config).map(col)
    val grouped = GroupingSets.get(config) match {
      case Some("cube")   => input.cube(groupCols: _*)
      case Some("rollup") => input.rollup(groupCols: _*)
      case _              => input.groupBy(groupCols: _*)
    }
    grouped.agg(aggs.head, aggs.tail: _*)
  }
}

/**
 * join — pipeline DataFrame (left) ⋈ named temp view (right).
 * Reference: transformer/JoinTransformer.scala:31-93 — single leftKey ==
 * rightKey, types inner/left/right/full, dedup of shared columns keeping
 * left. Supersets (SURVEY §2.3): multi-key `joinKeys: a,b` (USING-style, no
 * duplicate columns), `leftsemi`/`leftanti`, and a `broadcast=true` hint so
 * small dimension tables take the BroadcastHashJoin path instead of a
 * full shuffle at 100 TB.
 */
object JoinTransform extends Transform {
  val transformType = "join"
  private val RightDataset = Opt.view("rightDataset").required
  private val JoinType = Opt.oneOf("joinType", "inner", "left", "right", "full", "left_outer",
    "right_outer", "full_outer", "leftsemi", "left_semi", "leftanti", "left_anti", "cross")
    .default("inner")
  private val Hint = Opt.oneOfIgnoringCase("hint", "broadcast", "merge", "shuffle_hash", "shuffle_replicate_nl")
  private val Broadcast = Opt.bool("broadcast").default(false)
  private val JoinKeys = Opt.columns("joinKeys")
  private val LeftKey = Opt.column("leftKey")
  private val RightKey = Opt.string("rightKey")
  private val SelectColumns = Opt.parsed("selectColumns")(ExprUtils.parseColumns)

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val joinType = JoinType(config)
    val right0 = RightDataset.table(config, input.sparkSession)
    // strategy hints: broadcast (dims), or force merge / shuffle_hash when
    // the optimizer's stats-blind default picks wrong at scale (e.g. a
    // sort-merge over pre-sorted bucketed inputs, or hash when one side
    // is memory-tight). Catalyst still validates applicability.
    val right = Hint.get(config) match {
      case Some(h) => right0.hint(h)
      case None    => if (Broadcast(config)) broadcast(right0) else right0
    }

    val joined = (JoinKeys.get(config), LeftKey.get(config), RightKey.get(config)) match {
      case (Some(keys), _, _) =>
        input.join(right, keys, joinType)
      case (None, Some(lk), Some(rk)) =>
        val j = input.join(right, input(lk) === right(rk), joinType)
        // reference semantics: drop right-side duplicates of shared names, keep left
        val dup = input.columns.toSet.intersect(right0.columns.toSet)
        dup.foldLeft(j)((d, c) => d.drop(right0(c)))
      // an actual Cartesian product — previously in the accepted joinType
      // set but unreachable (the no-keys branch always threw). PlanLint
      // still flags CartesianProductExec as a scale error, so pipelines
      // running under planLint=fail must consciously allow it.
      case _ if joinType == "cross" => input.crossJoin(right)
      case _ =>
        throw new ConfigException(s"join '${config.name}': need joinKeys or leftKey+rightKey")
    }
    SelectColumns.get(config) match {
      case Some(cols) => joined.select(cols.map(col): _*)
      case None       => joined
    }
  }
}
