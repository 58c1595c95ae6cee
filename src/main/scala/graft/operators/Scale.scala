package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{Opt, RunContext, Transform}
import graft.config.TransformConfig

/**
 * scale — numeric feature normalization: z-score (`(x − μ) / σ`),
 * min-max (`(x − min) / (max − min)`), or robust
 * (`(x − median) / (1.4826 · MAD)`, MAD = median(|x − median|); 1.4826
 * makes the MAD a consistent σ estimate under normality) per column, the
 * standard prep before distance-based models, quantization, and
 * outlier-gated curation (robust scores survive the heavy-tailed length /
 * score distributions of web corpora that wreck μ/σ). Appends
 * `<col>_scaled` columns.
 *
 * Scale shape: zscore/minmax — ONE aggregation computes every column's
 * statistics (map-side partials → a 1-row frame), which then rides a
 * broadcast cross-join into a pure projection: two narrow passes over the
 * corpus, zero wide shuffles, no driver-side data. robust — the MAD is
 * defined around the median, so it is inherently TWO sequential
 * aggregations (median, then deviations around it): three narrow passes,
 * still zero wide shuffles. Medians default to approx_percentile
 * (bounded-memory sketch — the only safe choice at 100 TB); `exact: true`
 * opts into Spark's exact percentile, which collects each column's values
 * per partition (the q65/profile exact-mode contract: small frames only).
 * Degenerate columns (σ = 0, max = min, or MAD = 0) scale to 0.0 rather
 * than NaN; null inputs stay null in every branch.
 *
 * {{{
 * - name: normalize-features
 *   type: scale
 *   options: {columns: "quality_score,n_tokens", method: robust}
 * }}}
 */
object ScaleTransform extends Transform {
  val transformType = "scale"
  private val Columns = Opt.columns("columns").required
  private val Method = Opt.oneOf("method", "zscore", "minmax", "robust").default("zscore")
  private val RoundTo = Opt.int("roundTo")
  private val Exact = Opt.bool("exact").default(false)
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val cols = Columns(config)
    val method = Method(config)
    val round2 = RoundTo.get(config)
    def maybeRound(c: org.apache.spark.sql.Column) =
      round2.map(r => round(c, r)).getOrElse(c)
    val exact = Exact(config)
    def med(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      if (exact) percentile(c, lit(0.5))
      else percentile_approx(c, lit(0.5), lit(10000)).cast("double")

    val one = method match {
      case "zscore" =>
        val stats = cols.flatMap { c => Seq(
          avg(col(c)).as(s"__mu_$c"), stddev_samp(col(c)).as(s"__sd_$c")) }
        input.agg(stats.head, stats.tail: _*)
      case "minmax" =>
        val stats = cols.flatMap { c => Seq(
          min(col(c)).cast("double").as(s"__lo_$c"),
          max(col(c)).cast("double").as(s"__hi_$c")) }
        input.agg(stats.head, stats.tail: _*)
      case _ =>
        // MAD is defined around the median → two sequential 1-row aggs;
        // both broadcast, the corpus never shuffles
        val medStats = cols.map(c => med(col(c).cast("double")).as(s"__med_$c"))
        val medOne = input.agg(medStats.head, medStats.tail: _*)
        val madStats = cols.map(c =>
          med(abs(col(c).cast("double") - col(s"__med_$c"))).as(s"__mad_$c"))
        val madOne = input.crossJoin(broadcast(medOne))
          .agg(madStats.head, madStats.tail: _*)
        medOne.crossJoin(broadcast(madOne))
    }
    val joined = input.crossJoin(broadcast(one))
    val scaled = cols.foldLeft(joined) { (df, c) =>
      val x = col(c).cast("double")
      // null inputs stay null in the degenerate branch too (the normal
      // branch propagates null arithmetically; when() otherwise would not)
      val v = method match {
        case "zscore" =>
          when(x.isNull, lit(null).cast("double"))
            .when(col(s"__sd_$c").isNull || col(s"__sd_$c") === 0.0, 0.0)
            .otherwise((x - col(s"__mu_$c")) / col(s"__sd_$c"))
        case "robust" =>
          when(x.isNull, lit(null).cast("double"))
            .when(col(s"__mad_$c").isNull || col(s"__mad_$c") === 0.0, 0.0)
            .otherwise((x - col(s"__med_$c")) / (lit(1.4826) * col(s"__mad_$c")))
        case _ =>
          when(x.isNull, lit(null).cast("double"))
            .when(col(s"__hi_$c") === col(s"__lo_$c"), 0.0)
            .otherwise((x - col(s"__lo_$c")) / (col(s"__hi_$c") - col(s"__lo_$c")))
      }
      df.withColumn(s"${c}_scaled", maybeRound(v))
    }
    scaled.drop(one.columns: _*)
  }
}
