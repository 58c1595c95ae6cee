package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{ConfigException, RunContext, Transform}
import graft.config.{ExprUtils, TransformConfig}

/** The column options of the mergeable-sketch transforms (`sketch`,
  * `quantile_sketch`, `frequent_items`): `columns` names input columns
  * only in the modes that read raw values; the others read the
  * `<column>_<state>` columns a build step wrote. */
private[operators] trait SketchColumns extends Transform {
  protected def rawModes: Set[String] = Set("build")
  override def columnOptions: Seq[String] = Seq("columns", "groupBy")
  override def validate(config: TransformConfig,
                        schema: org.apache.spark.sql.types.StructType): List[String] =
    super.validate(
      if (rawModes(config.options.getOrElse("mode", "build"))) config
      else config.copy(options = config.options - "columns"), schema)
}

/**
 * sketch — mergeable distinct-count sketches (Apache DataSketches HLL via
 * Spark's `hll_sketch_agg`/`hll_union_agg`/`hll_sketch_estimate`): the
 * incremental-ingest cardinality pattern. A 100 TB corpus is never
 * re-scanned to update "distinct users to date" — each ingest `build`s a
 * fixed-size binary sketch per (group, column), sketches land in the
 * catalog next to the data, and later runs `merge` yesterday's sketches
 * with today's and `estimate` the running total. Error is ~1.6%/√(2^lgK)
 * and the sketch is bytes-bounded regardless of cardinality.
 *
 * Modes:
 *  - `build` (default): aggregate data columns → one row per `groupBy`
 *    value with a `<col>_sketch` BINARY column each.
 *  - `merge`: aggregate EXISTING sketch columns (from build outputs read
 *    back) with `hll_union_agg` — same output shape.
 *  - `estimate`: per-row projection turning each `<col>_sketch` into a
 *    `<col>_ndv` LONG (no aggregation).
 *
 * {{{
 * - name: daily-ndv
 *   type: sketch
 *   options: {columns: "user_id,session_id", groupBy: ingest_date}
 * }}}
 */
object SketchTransform extends SketchColumns {
  val transformType = "sketch"
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    required(config, "columns")
    val cols = ExprUtils.parseColumns(config.options("columns"))
    if (cols.isEmpty) throw new ConfigException(
      "sketch: columns lists no column names")
    val groups = config.options.get("groupBy").map(ExprUtils.parseColumns).getOrElse(Nil)
    val lgK = intOption(config, "lgConfigK", 12)
    def grouped(df: DataFrame) =
      if (groups.isEmpty) df.groupBy() else df.groupBy(groups.map(col): _*)
    config.options.getOrElse("mode", "build") match {
      case "build" =>
        val aggs = cols.map(c =>
          expr(s"hll_sketch_agg(`$c`, $lgK)").as(s"${c}_sketch"))
        grouped(input).agg(aggs.head, aggs.tail: _*)
      case "merge" =>
        // allowDifferentLgConfigK=false: silently unioning sketches built
        // at different precisions degrades to the coarser one — fail instead
        val aggs = cols.map(c =>
          expr(s"hll_union_agg(`${c}_sketch`, false)").as(s"${c}_sketch"))
        grouped(input).agg(aggs.head, aggs.tail: _*)
      case "estimate" =>
        cols.foldLeft(input) { (df, c) =>
          df.withColumn(s"${c}_ndv", expr(s"hll_sketch_estimate(`${c}_sketch`)"))
        }
      case other => throw new ConfigException(
        s"sketch mode must be build|merge|estimate, got '$other'")
    }
  }
}
