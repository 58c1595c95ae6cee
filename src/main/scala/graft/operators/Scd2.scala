package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.{ConfigException, Opt, RunContext, Transform}
import graft.config.TransformConfig

/**
 * SCD Type-2 history builder: turn a raw change log (key, attributes,
 * event time) into the classic slowly-changing-dimension shape — one row
 * per ATTRIBUTE VERSION with `effective_from` / `effective_to` validity
 * bounds and an `is_current` flag. The warehouse-dimension operator every
 * ETL framework grows eventually:
 *
 *   1. collapse no-op updates — a row survives only if it is the key's
 *      first event or any compared attribute differs (null-safely) from
 *      the previous event's;
 *   2. validity ranges over the survivors — `effective_from` = the event
 *      time, `effective_to` = the NEXT version's event time (null while
 *      current), `is_current` = no successor.
 *
 * Scale shape: both steps are windows over the SAME (key, time)
 * partitioning, so the plan carries ONE hash exchange on the keys; the
 * per-column `lag` comparisons and the `lead` all ride that exchange
 * (no self-join formulation, which would scan and shuffle the log
 * twice). `timeColumn` must be unique per key — it is the version order,
 * ties would make survivor choice partitioning-dependent (same contract
 * as `assign_ids`' orderBy).
 */
object Scd2 {

  def build(df: DataFrame, keyCols: Seq[String], timeCol: String,
            compareCols: Seq[String], fromCol: String = "effective_from",
            toCol: String = "effective_to",
            currentCol: String = "is_current"): DataFrame = {
    require(keyCols.nonEmpty, "scd2: no key columns")
    require(compareCols.nonEmpty, "scd2: no compare columns")
    // the generated history columns must not silently OVERWRITE existing
    // ones: stale effective_from/to/is_current from a previous build would
    // first inflate the default compare set, then vanish — fail instead
    // (fromCol == timeCol is the documented keep-the-name overlap)
    val collisions = (Seq(toCol, currentCol) ++
      (if (fromCol == timeCol) Nil else Seq(fromCol))).filter(df.columns.contains)
    if (collisions.nonEmpty) throw new graft.api.ConfigException(
      s"scd2: output column(s) ${collisions.mkString(", ")} already exist in " +
        "the input — drop/rename them or set fromColumn/toColumn/currentColumn")
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(timeCol))
    // map-typed (or map-nested) columns are not <=>-comparable — compare
    // their JSON serialization instead of failing at analysis
    def comparable(c: String): org.apache.spark.sql.Column =
      graft.config.ExprUtils.orderableOrJson(df.schema, c)
    val changed = compareCols
      .map { c => val cc = comparable(c); !(cc <=> lag(cc, 1).over(w)) }
      .reduce(_ || _)
    val kept = df
      .withColumn("__keep", row_number().over(w) === 1 || changed)
      .where(col("__keep")).drop("__keep")
    val next = lead(col(timeCol), 1).over(w)
    val ranged = kept
      .withColumn(fromCol, col(timeCol))
      .withColumn(toCol, next)
      .withColumn(currentCol, next.isNull)
    // fromColumn may BE the time column (keep its name) — don't drop it then
    if (fromCol == timeCol) ranged else ranged.drop(timeCol)
  }
}

/**
 * `scd2` — declarative wrapper over [[Scd2.build]].
 *
 * {{{
 * - name: customer-history
 *   type: scd2
 *   options: {keyColumns: customer_id, timeColumn: updated_at,
 *             compareColumns: "tier, region"}
 * }}}
 *
 * `keyColumns`/`timeColumn` required; `compareColumns` (default: every
 * column that is neither a key nor the time), `fromColumn`
 * (`effective_from`), `toColumn` (`effective_to`), `currentColumn`
 * (`is_current`).
 */
object Scd2Transform extends Transform {
  val transformType = "scd2"
  private val KeyColumns = Opt.columns("keyColumns").required
  private val TimeColumn = Opt.column("timeColumn").required
  private val CompareColumns = Opt.columns("compareColumns")
  private val FromColumn = Opt.string("fromColumn").default("effective_from")
  private val ToColumn = Opt.string("toColumn").default("effective_to")
  private val CurrentColumn = Opt.string("currentColumn").default("is_current")

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val keys = KeyColumns(config)
    val ts = TimeColumn(config)
    val cmp = CompareColumns.get(config).getOrElse(
      input.columns.filterNot(c => keys.contains(c) || c == ts).toList)
    if (cmp.isEmpty) throw new ConfigException("scd2: no compare columns")
    Scd2.build(input, keys, ts, cmp, FromColumn(config), ToColumn(config),
      CurrentColumn(config))
  }
}
