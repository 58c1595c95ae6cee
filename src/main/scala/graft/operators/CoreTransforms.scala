package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.api.{Transform, RunContext, ConfigException, TransformException}
import graft.config.{TransformConfig, ExprUtils}

/**
 * filter — SQL WHERE expression over rows.
 * Reference: transformer/FilterTransformer.scala:22-54 (`input.filter(expr(cond))`).
 * Declarative, so Catalyst pushes it into the scan (PushedFilters) whenever
 * the expression is pushdown-able.
 */
object FilterTransform extends Transform {
  val transformType = "filter"
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    required(config, "condition")
    input.filter(expr(config.options("condition")))
  }
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
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    required(config, "expressions")
    val pairs = ExprUtils.parseExprList(config.options("expressions"))
    if (pairs.isEmpty) throw new ConfigException(s"map '${config.name}': empty expressions")
    // case-INsensitive, like Spark's default resolution (and the keep-clash
    // guard below): "Price: a, price: b" is a duplicate, not two columns.
    // Locale.ROOT so a Turkish-locale JVM folds I/i the same as Spark does.
    val dups = pairs.groupBy(_._1.toLowerCase(java.util.Locale.ROOT))
      .collect { case (_, ps) if ps.size > 1 => ps.head._1 }
    if (dups.nonEmpty) throw new ConfigException(
      s"map '${config.name}': duplicate alias(es) ${dups.mkString(", ")}")
    if (boolOption(config, "project", false)) {
      val keep = config.options.get("keep").map(ExprUtils.parseColumns).getOrElse(Nil)
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
  override val columnOptions = Seq("groupBy")
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    required(config, "aggregations")
    val aggs = ExprUtils.parseAggregations(config.options("aggregations"))
    if (aggs.isEmpty) throw new ConfigException(s"aggregation '${config.name}': no aggregations")
    val groupCols = config.options.get("groupBy").map(ExprUtils.parseColumns).getOrElse(Nil)
    val grouped = config.options.get("groupingSets") match {
      case Some("cube")   => input.cube(groupCols.map(col): _*)
      case Some("rollup") => input.rollup(groupCols.map(col): _*)
      case None           => input.groupBy(groupCols.map(col): _*)
      // a typo ("CUBE", "roll_up") must not silently fall back to a plain
      // groupBy and drop every super-aggregate row
      case Some(other) => throw new ConfigException(
        s"aggregation '${config.name}': groupingSets must be cube|rollup, got '$other'")
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
  override val columnOptions = Seq("joinKeys", "leftKey")
  private val types = Set("inner", "left", "right", "full", "left_outer", "right_outer",
    "full_outer", "leftsemi", "left_semi", "leftanti", "left_anti", "cross")

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    required(config, "rightDataset")
    val spark = input.sparkSession
    val joinType = config.options.getOrElse("joinType", "inner")
    if (!types.contains(joinType))
      throw new ConfigException(s"join '${config.name}': unknown joinType '$joinType'")
    val right0 = spark.table(config.options("rightDataset"))
    // strategy hints: broadcast (dims), or force merge / shuffle_hash when
    // the optimizer's stats-blind default picks wrong at scale (e.g. a
    // sort-merge over pre-sorted bucketed inputs, or hash when one side
    // is memory-tight). Catalyst still validates applicability.
    val right = config.options.get("hint").map(_.trim.toLowerCase) match {
      case Some(h @ ("merge" | "shuffle_hash" | "shuffle_replicate_nl" | "broadcast")) =>
        right0.hint(h)
      case Some(other) => throw new ConfigException(
        s"join '${config.name}': unknown hint '$other' " +
          "(broadcast|merge|shuffle_hash|shuffle_replicate_nl)")
      case None =>
        if (boolOption(config, "broadcast", false)) broadcast(right0) else right0
    }

    val joined = (config.options.get("joinKeys"), config.options.get("leftKey"), config.options.get("rightKey")) match {
      case (Some(keys), _, _) =>
        input.join(right, ExprUtils.parseColumns(keys), joinType)
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
    config.options.get("selectColumns") match {
      case Some(cols) => joined.select(ExprUtils.parseColumns(cols).map(col): _*)
      case None       => joined
    }
  }
}
