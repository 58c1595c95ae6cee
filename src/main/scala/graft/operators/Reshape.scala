package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{ConfigException, Opt, RunContext, Transform}
import graft.config.{ExprUtils, TransformConfig}

/**
 * Reshaping transforms the reference lacks (its transformer surface stops at
 * aggregation/join/window/filter/map — `pipeline/TransformerRegistry.scala:13-19`):
 * pivot (long→wide), unpivot (wide→long), and multiset set operations.
 * All are declarative plan compositions — no actions, no driver loops.
 */

/**
 * pivot — `groupBy(...).pivot(col, values).agg(...)`.
 *
 * `values` is REQUIRED, not discovered: Spark's value-less `pivot` first
 * runs a distinct scan of the pivot column and inlines the result into the
 * plan — an extra full pass over the corpus, a nondeterministic schema, and
 * an unbounded column explosion at 100 TB. Explicit values make the plan a
 * single scan with one shuffle (the groupBy) and a schema known before any
 * job runs.
 *
 * {{{
 * - name: status-matrix
 *   type: pivot
 *   options: {groupBy: l_returnflag, pivotColumn: l_linestatus,
 *             values: "O,F", aggregations: "sum(l_quantity)"}
 * }}}
 *
 * With a single unaliased aggregate the output columns are exactly the
 * pivot values; with aliases/multiple aggregates Spark emits
 * `{value}_{alias}`.
 */
object PivotTransform extends Transform {
  val transformType = "pivot"
  private val GroupBy = Opt.columns("groupBy").required
  private val PivotColumn = Opt.column("pivotColumn").required
  private val Values = Opt.parsed("values")(ExprUtils.splitTopLevel(_)).required
  private val Aggregations = Opt.expr("aggregations").required
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val grouped = input.groupBy(GroupBy(config).map(col): _*)
      .pivot(PivotColumn(config), Values(config))
    val aggs = ExprUtils.parseAggregations(Aggregations(config))
    grouped.agg(aggs.head, aggs.tail: _*)
  }
}

/**
 * unpivot — wide→long melt via Spark's native `unpivot` (an Expand node:
 * rows × |cols|, zero shuffle, streams through whole-stage codegen).
 *
 * {{{
 * - name: melt-measures
 *   type: unpivot
 *   options: {ids: "l_orderkey,l_linenumber", cols: "l_quantity,l_discount",
 *             variableColumn: measure, valueColumn: amount}
 * }}}
 *
 * Value columns must share a least common type (Spark analysis enforces
 * it); cast upstream with a `map` step when mixing types.
 */
object UnpivotTransform extends Transform {
  val transformType = "unpivot"
  private val Ids = Opt.columns("ids").required
  private val Cols = Opt.columns("cols").required
  private val VariableColumn = Opt.string("variableColumn").default("variable")
  private val ValueColumn = Opt.string("valueColumn").default("value")
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    input.unpivot(Ids(config).map(col).toArray, Cols(config).map(col).toArray,
      VariableColumn(config), ValueColumn(config))
  }
}

/**
 * setop — intersect / except against a registered view (the same
 * right-side convention as `join`/`union`). Distinct variants plan as an
 * aggregate over a left-semi/anti join; `*_all` variants keep multiset
 * multiplicity (SQL INTERSECT ALL / EXCEPT ALL). All four are one shuffle
 * on the full row — co-partitioned, no broadcast of the big side, and AQE
 * still gets to pick the join strategy.
 *
 * {{{
 * - name: new-rows-only
 *   type: setop
 *   options: {rightDataset: yesterday, mode: except}
 * }}}
 */
object SetOpTransform extends Transform {
  val transformType = "setop"
  private val RightDataset = Opt.view("rightDataset").required
  private val Mode = Opt.oneOf("mode", "intersect", "intersect_all", "except", "except_all")
    .required
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val right = RightDataset.table(config, input.sparkSession)
    Mode(config) match {
      case "intersect"     => input.intersect(right)
      case "intersect_all" => input.intersectAll(right)
      case "except"        => input.except(right)
      case _               => input.exceptAll(right)
    }
  }
}

/**
 * explode — one output row per element of an array (or map) column: the
 * nested-to-flat reshape (multi-valued fields, tokenized text, struct
 * lists from JSON sources). Zero shuffle — Generate is a per-partition
 * row amplifier, and Catalyst prunes unreferenced columns through it.
 *
 * {{{
 * - name: flatten-tags
 *   type: explode
 *   options: {column: tags, as: tag, outer: "true", positionColumn: pos}
 * }}}
 *
 * `column` required; `as` (output name, default = column — replaces it;
 * for a MAP column, two comma-separated names, default `key,value`),
 * `outer` (false — `true` keeps rows with empty/null arrays as one null
 * row), `positionColumn` (absent → plain explode; set → posexplode's
 * 0-based element index; arrays only — maps have no position).
 */
object ExplodeTransform extends Transform {
  val transformType = "explode"
  private val Column = Opt.column("column").required
  private val Outer = Opt.bool("outer").default(false)
  private val As = Opt.string("as")
  private val PositionColumn = Opt.string("positionColumn")
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val c = Column(config)
    val outer = Outer(config)
    // case-insensitive, like validation and Spark's own resolution — an
    // exact-case filter would KEEP the original array column alongside the
    // exploded one, breaking the documented replace and making any
    // downstream reference ambiguous
    val others = input.columns.filterNot(_.equalsIgnoreCase(c)).map(col).toSeq
    val isMap = input.schema.fields.find(_.name.equalsIgnoreCase(c))
      .exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
    // a map explodes to TWO columns (key, value) — one alias would fail
    // analysis with a generator-arity error
    val outNames: Seq[String] =
      if (!isMap) Seq(As.get(config).getOrElse(c))
      else {
        val names = As.get(config).map(ExprUtils.parseColumns).getOrElse(Seq("key", "value"))
        if (names.length != 2) throw new ConfigException(
          "explode: a map column explodes to two columns — give `as` two " +
            s"comma-separated names (got '${names.mkString(",")}')")
        names
      }
    PositionColumn.get(config) match {
      case None =>
        val gen = if (outer) explode_outer(col(c)) else explode(col(c))
        input.select(others :+ gen.as(outNames): _*)
      case Some(_) if isMap => throw new ConfigException(
        "explode: positionColumn applies to array columns only — a map has " +
          "no element order to index")
      case Some(pos) =>
        val gen = if (outer) posexplode_outer(col(c)) else posexplode(col(c))
        input.select(others :+ gen.as(pos +: outNames): _*)
    }
  }
}
