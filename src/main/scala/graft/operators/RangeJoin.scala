package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.api.{Opt, RunContext, Transform}
import graft.config.{ExprUtils, TransformConfig}

/**
 * Range (interval-containment) join: pair every left "point" row with the
 * right "interval" rows satisfying `lo <= point < hi` (plus optional equi
 * keys) — point-in-window attribution, IP-range lookups, validity-interval
 * joins. The reference engine has only equi-joins
 * (`src/main/scala/com/etl/transformer/JoinTransformer.scala`), and Spark
 * plans a raw inequality join as BroadcastNestedLoopJoin (quadratic work,
 * broadcast-sized right side) — unusable at scale, so this operator does
 * the standard bin-overlap rewrite instead:
 *
 *   1. each interval is exploded to the fixed-width bins it overlaps
 *      (`ceil(span / binWidth)` rows — bounded by `maxBins`, oversized
 *      intervals fail fast with a clear error rather than OOMing a task);
 *   2. each point computes its single containing bin;
 *   3. one hash equi-join on (keys…, bin), then the exact `lo <= p < hi`
 *      predicate filters bin-collision false positives.
 *
 * A point's bin is unique, so a matching interval meets it in exactly one
 * bin — no post-join dedup needed. Cost is a plain shuffled hash join on
 * |left| + |right| × avg-bins rows: linear, partitionable, AQE-skew-safe.
 * Pick `binWidth` near the TYPICAL interval span so the replication factor
 * stays small; at 100 TB the bin key is exactly the co-partitioning key a
 * dedicated interval-join operator would shuffle on anyway.
 *
 * Works on timestamp points/bounds (binWidth in MICROSECONDS) or integral
 * ones (binWidth in raw units). Floor division is `(x - pmod(x, w)) div w`,
 * exact for negative ticks too (pmod is nonnegative).
 */
object RangeJoin {

  def rangeJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                pointCol: String, loCol: String, hiCol: String,
                binWidth: Long, maxBins: Int = 4096,
                prefix: String = "range_"): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive, got $binWidth")
    require(maxBins > 0, s"maxBins must be positive, got $maxBins")
    ExprUtils.requireNoHelperCollision("join_range",
      left.columns ++ right.columns, "__bin", "__lo", "__hi", "__blo", "__bhi")
    val payloadCols = right.columns.filterNot(c =>
      keys.contains(c) || c == loCol || c == hiCol)
    require(payloadCols.nonEmpty,
      "right side must carry at least one payload column besides keys and bounds")

    // the bin rewrite is exact only for integral ticks: a cast("long") on
    // double/decimal points or bounds would TRUNCATE and silently mis-join
    // (5.7 would match [5.9, 6.2)) — reject fractional types instead
    import org.apache.spark.sql.types._
    def integral(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      // scale-0 decimals (JDBC NUMERIC(p,0) tick axes) are exact integral
      // values — cast("long") is lossless for p <= 18
      case d: DecimalType if d.scale == 0 && d.precision <= 18 => true
      case _ => false
    }
    val timeIsTs = left.schema(pointCol).dataType match {
      case TimestampType | TimestampNTZType => true
      case _ => false
    }
    if (!timeIsTs) {
      val badTypes = Seq(
        pointCol -> left.schema(pointCol).dataType,
        loCol -> right.schema(loCol).dataType,
        hiCol -> right.schema(hiCol).dataType).filterNot(t => integral(t._2))
      if (badTypes.nonEmpty) throw new graft.api.ConfigException(
        "join_range: point/bound columns must be timestamps or integral " +
          s"numbers — got ${badTypes.map { case (c, t) => s"$c: ${t.simpleString}" }
            .mkString(", ")}; fractional values would be truncated into " +
          "silently wrong bins (scale them to integral ticks upstream)")
    }
    def tick(c: Column): Column =
      if (timeIsTs) unix_micros(c.cast(TimestampType)) else c.cast("long")
    // exact integral floor division at any magnitude: the numerator is an
    // exact multiple of binWidth, and SQL `div` stays in long arithmetic
    def floorDiv(c: Column): Column =
      call_function("div", c - pmod(c, lit(binWidth)), lit(binWidth))

    val lB = left.withColumn("__bin", floorDiv(tick(col(pointCol))))
    val rTicked = right
      .select(keys.map(right(_)) ++ Seq(
        tick(right(loCol)).as("__lo"), tick(right(hiCol)).as("__hi")) ++
        payloadCols.map(c => right(c).as(prefix + c)): _*)
      .filter(col("__lo") < col("__hi")) // empty/inverted intervals match nothing
    val rB = rTicked
      .withColumn("__blo", floorDiv(col("__lo")))
      .withColumn("__bhi", floorDiv(col("__hi") - 1)) // hi is exclusive
      .withColumn("__bin", explode(when(
        col("__bhi") - col("__blo") < lit(maxBins.toLong),
        sequence(col("__blo"), col("__bhi"))).otherwise(raise_error(concat(
          lit(s"range join interval spans more than maxBins=$maxBins bins of width $binWidth; "),
          lit("raise binWidth or maxBins, or clamp the interval"))))))
      .drop("__blo", "__bhi")

    lB.join(rB, (keys :+ "__bin").toSeq)
      .filter(col("__lo") <= tick(col(pointCol)) && tick(col(pointCol)) < col("__hi"))
      .drop("__bin", "__lo", "__hi")
  }
}

/**
 * Declarative range join; right side is a registered view (see `register`).
 *
 * {{{
 * - name: attribute-clicks
 *   type: join_range
 *   options: {rightDataset: campaign_windows, on: user_id, point: ts,
 *             lo: window_start, hi: window_end, binWidth: "3600000000"}
 * }}}
 *
 * Options: rightDataset/point/lo/hi/binWidth required; on (comma equi-key
 * list, optional), maxBins (default 4096), prefix (default "range_").
 * binWidth is in microseconds for timestamp columns, raw units otherwise.
 */
object RangeJoinTransform extends Transform {
  val transformType = "join_range"
  private val RightDataset = Opt.view("rightDataset").required
  private val On = Opt.columns("on").default(Nil)
  private val Point = Opt.column("point").required
  // interval bounds: columns of the right side
  private val Lo = Opt.string("lo").required
  private val Hi = Opt.string("hi").required
  private val BinWidth = Opt.long("binWidth").required
  private val MaxBins = Opt.int("maxBins").default(4096)
  private val Prefix = Opt.string("prefix").default("range_")
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame =
    RangeJoin.rangeJoin(input, RightDataset.table(config, ctx.spark),
      On(config), Point(config), Lo(config), Hi(config),
      binWidth = BinWidth(config), maxBins = MaxBins(config), prefix = Prefix(config))
}
