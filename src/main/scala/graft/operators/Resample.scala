package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._

import graft.api.{Opt, RunContext, Transform}
import graft.config.{ExprUtils, TransformConfig}

/**
 * resample — time-series regularization: bucket events into fixed
 * intervals, aggregate each bucket, and FILL THE GAPS so every key carries
 * a row for every interval between its first and last observation (the
 * prerequisite for rolling windows, lag-based deltas and charting, all of
 * which silently mis-align on missing buckets).
 *
 * {{{
 * - name: hourly-series
 *   type: resample
 *   options: {timeColumn: ts, interval: "6 hours", groupBy: user_id,
 *             aggregations: "n_events:count(*),sum_value:round(sum(value), 2)"}
 * }}}
 *
 * Missing buckets carry nulls for the aggregated columns (coalesce them
 * downstream with a `map` step if zeros are wanted); rows whose time
 * column is null are excluded — they belong to no bucket. Output: groupBy keys,
 * `bucket_start`, aggregations.
 *
 * Scale shape: one hash aggregation on (keys, bucket) — map-side partials,
 * the ONLY full-data scan and shuffle. Gap rows are then generated
 * single-path: a `lead()` window over the bucket-cardinality-sized
 * aggregate finds each bucket's successor and `explode(sequence(bucket,
 * next − interval))` emits the bucket itself plus its trailing gaps, with
 * aggregates nulled on generated rows. (The textbook bounds-frame +
 * grid-join formulation plans the corpus aggregation TWICE — the two
 * plan branches prune differently, so not even exchange reuse merges
 * them.) The explode is bounded by (max−min)/interval per key — a key
 * silent for a year at 1-hour resolution adds 8,760 rows, independent of
 * event count.
 */
object ResampleTransform extends Transform {
  val transformType = "resample"
  private val TimeColumn = Opt.column("timeColumn").required
  private val Interval = Opt.string("interval").required
  private val GroupBy = Opt.columns("groupBy").default(Nil)
  private val Aggregations = Opt.expr("aggregations").required
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val ts = TimeColumn(config)
    val interval = Interval(config)
    val keys = GroupBy(config)
    val aggs = ExprUtils.parseAggregations(Aggregations(config))

    // rows with a null time belong to no bucket: excluded EXPLICITLY here
    // (a null bucket group would otherwise survive the aggregation and then
    // vanish silently in the gap explode — data loss with no trace)
    val bucketed = input.where(col(ts).isNotNull)
      .groupBy((keys.map(col) :+ window(col(ts), interval).getField("start")
        .as("bucket_start")): _*)
      .agg(aggs.head, aggs.tail: _*)
    // user-controlled aliases/keys must not collide with the gap-fill
    // helper columns or the output bucket column (an aggregation aliased
    // __next would be silently replaced by the lead() timestamps — wrong
    // data, no error); diff removes the ONE legitimate bucket_start
    ExprUtils.requireNoHelperCollision("resample",
      bucketed.columns.toSeq.diff(Seq("bucket_start")),
      "__next", "__orig", "bucket_start")
    val aggCols = bucketed.columns.filterNot((keys :+ "bucket_start").contains)
    val wk = (if (keys.isEmpty) W.partitionBy() else W.partitionBy(keys.map(col): _*))
      .orderBy(col("bucket_start"))
    // gap stepping uses a FIXED duration in microseconds, never the raw
    // calendar interval: window() buckets are epoch-aligned fixed
    // durations, but `interval 1 day` in sequence() is zone-aware calendar
    // arithmetic — in a DST timezone it steps 23h/25h across transitions
    // and the synthetic buckets drift off the window grid
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(interval))
    require(iv.months == 0, s"resample: month-based intervals are not " +
      s"fixed-duration; got '$interval'")
    val stepMicros = iv.days * 86400000000L + iv.microseconds
    require(stepMicros > 0, s"resample: interval must be positive, got '$interval'")
    val gapped = bucketed
      .withColumn("__next", lead("bucket_start", 1).over(wk))
      .select((keys.map(col) :+ col("bucket_start").as("__orig") :+
        explode(expr(s"sequence(bucket_start, " +
          s"coalesce(__next - interval $stepMicros microsecond, bucket_start), " +
          s"interval $stepMicros microsecond)"))
          .as("bucket_start")) ++ aggCols.map(col): _*)
    gapped.select((keys.map(col) :+ col("bucket_start")) ++ aggCols.map(c =>
      when(col("bucket_start") === col("__orig"), col(c)).as(c)): _*)
  }
}
