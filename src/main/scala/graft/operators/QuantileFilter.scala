package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.api.{ConfigException, Opt, RunContext, Transform}
import graft.config.TransformConfig

/**
 * quantile_filter — percentile-threshold selection over a numeric column:
 * "keep the middle 80% by quality score", "drop everything above the
 * 99th length percentile", "winsorize outliers per language". The
 * standard distribution-relative quality gate of an LLM data pipeline —
 * absolute cutoffs drift as the corpus mix changes; percentile cutoffs
 * do not.
 *
 * Modes:
 *  - `keep` (default): retain rows whose value lies inside
 *    [quantile(lower), quantile(upper)]; rows with a NULL value are
 *    dropped (they have no position in the distribution).
 *  - `clip`: winsorize — values are clamped into the threshold range in a
 *    `<col>_clipped` column, no rows removed, NULL stays NULL.
 *
 * Thresholds come from `approx_percentile` by default (KLL-style bounded
 * buffer — one pass, fixed memory at any corpus size) and from exact
 * interpolated `percentile` with `exact: "true"` (per-group sorted-value
 * maps — only sane when each group fits an executor; the oracle path).
 * With `groupBy` the thresholds are computed PER GROUP (per-language
 * percentiles differ by an order of magnitude in a multilingual corpus).
 *
 * Scale shape: one aggregation collapses the corpus to one threshold row
 * per group (map-side partials), which rides a broadcast (cross-)join
 * into a pure filter/projection — two narrow passes, zero wide shuffles,
 * no driver-side data. The corpus itself never re-partitions.
 *
 * {{{
 * - name: length-gate
 *   type: quantile_filter
 *   options: {column: n_chars, lower: "0.05", upper: "0.95", groupBy: lang}
 * }}}
 *
 * Options: `column` required; at least one of `lower`/`upper` (fractions
 * in [0,1]); `mode` keep|clip; `exact` true|false (default false);
 * `groupBy` comma-separated; `accuracy` for the approx sketch (default
 * 10000 — error ~1/accuracy of the rank).
 */
object QuantileFilterTransform extends Transform {
  val transformType = "quantile_filter"

  private val Target = Opt.column("column").required
  private val Lower = Opt.double("lower", min = 0.0, max = 1.0)
  private val Upper = Opt.double("upper", min = 0.0, max = 1.0)
  private val GroupBy = Opt.columns("groupBy").default(Nil)
  private val Exact = Opt.bool("exact").default(false)
  private val Accuracy = Opt.int("accuracy").default(10000)
  private val Mode = Opt.oneOf("mode", "keep", "clip").default("keep")

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val c = Target(config)
    val lower = Lower.get(config)
    val upper = Upper.get(config)
    if (lower.isEmpty && upper.isEmpty) throw new ConfigException(
      "quantile_filter: at least one of lower/upper is required")
    for (lo <- lower; hi <- upper; if lo > hi) throw new ConfigException(
      s"quantile_filter: lower ($lo) must be <= upper ($hi)")
    val groups = GroupBy(config)
    val exact = Exact(config)
    val accuracy = Accuracy(config)

    def pct(p: Double): Column = {
      val v = if (exact) expr(s"percentile(`$c`, $p)")
              else expr(s"approx_percentile(`$c`, $p, $accuracy)")
      v.cast("double")
    }
    val aggs = lower.map(p => pct(p).as("__q_lo")).toList ++
               upper.map(p => pct(p).as("__q_hi")).toList
    val thresholds =
      (if (groups.isEmpty) input.groupBy() else input.groupBy(groups.map(col): _*))
        .agg(aggs.head, aggs.tail: _*)
    val mode = Mode(config)
    // clip removes no rows, so a NULL group key (which joins nothing) must
    // not drop the row — it passes through unclamped. keep drops it: a row
    // outside every group has no distribution position, like a NULL value.
    val joined =
      if (groups.isEmpty) input.crossJoin(broadcast(thresholds))
      else input.join(broadcast(thresholds), groups, if (mode == "clip") "left" else "inner")

    val x = col(c).cast("double")
    mode match {
      case "keep" =>
        // NaN sorts ABOVE every double, so `x >= lo` alone would pass a
        // NaN score through a lower-bound quality gate — NaN has no
        // distribution position and drops, exactly like NULL
        val cond = (Seq(!isnan(x)) ++
                    lower.map(_ => x >= col("__q_lo")).toList ++
                    upper.map(_ => x <= col("__q_hi")).toList).reduce(_ && _)
        joined.filter(cond).drop("__q_lo", "__q_hi")
      case _ =>
        // clamp in the COLUMN's type family? No — percentiles interpolate,
        // so the clipped value is inherently a double
        val lo = lower.map(_ => col("__q_lo"))
        val hi = upper.map(_ => col("__q_hi"))
        val clamped0 = lo.map(l => when(x < l, l).otherwise(x)).getOrElse(x)
        val clamped = hi.map(h => when(clamped0 > h, h).otherwise(clamped0)).getOrElse(clamped0)
        joined.withColumn(s"${c}_clipped",
          // NaN would clamp to the upper threshold (NaN > h is true) —
          // a fabricated value; like NULL it has no position, clip to null
          when(x.isNull || isnan(x), lit(null).cast("double")).otherwise(clamped))
          .drop("__q_lo", "__q_hi")
    }
  }
}
