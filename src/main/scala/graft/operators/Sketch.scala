package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{Opt, RunContext, Transform}
import graft.config.TransformConfig

/** The column options of the mergeable-sketch transforms (`sketch`,
  * `quantile_sketch`, `frequent_items`): `columns` names input columns
  * only in the modes that read raw values; the others read the
  * `<column>_<state>` columns a build step wrote. */
private[operators] trait SketchColumns extends Transform {
  protected def modes: Seq[String] = Seq("build", "merge", "estimate")
  protected def rawModes: Set[String] = Set("build")
  protected val Columns = Opt.columns("columns").required.nonEmpty
  protected val GroupBy = Opt.columns("groupBy").default(Nil)
  protected val Mode = Opt.oneOf("mode", modes: _*).default("build")
  protected def grouped(df: DataFrame, config: TransformConfig) =
    df.groupBy(GroupBy(config).map(col): _*)
  override def validate(config: TransformConfig,
                        schema: org.apache.spark.sql.types.StructType): List[String] =
    checkOptions(config) match {
      case Nil => missingColumns(schema, "groupBy", GroupBy(config)) ++
        (if (rawModes(Mode(config))) missingColumns(schema, "columns", Columns(config)) else Nil)
      case errs => errs
    }
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
  private val LgConfigK = Opt.int("lgConfigK").default(12)
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val cols = Columns(config)
    val lgK = LgConfigK(config)
    Mode(config) match {
      case "build" =>
        val aggs = cols.map(c =>
          expr(s"hll_sketch_agg(`$c`, $lgK)").as(s"${c}_sketch"))
        grouped(input, config).agg(aggs.head, aggs.tail: _*)
      case "merge" =>
        // allowDifferentLgConfigK=false: silently unioning sketches built
        // at different precisions degrades to the coarser one — fail instead
        val aggs = cols.map(c =>
          expr(s"hll_union_agg(`${c}_sketch`, false)").as(s"${c}_sketch"))
        grouped(input, config).agg(aggs.head, aggs.tail: _*)
      case _ =>
        cols.foldLeft(input) { (df, c) =>
          df.withColumn(s"${c}_ndv", expr(s"hll_sketch_estimate(`${c}_sketch`)"))
        }
    }
  }
}
