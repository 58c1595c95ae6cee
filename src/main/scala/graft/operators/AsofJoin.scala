package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.api.{Opt, RunContext, Transform}
import graft.config.{ExprUtils, TransformConfig}

/**
 * As-of (time-travel) join: attach to every left row the single right row
 * with the greatest right-time <= left-time (`backward`, the default) or the
 * least right-time >= left-time (`forward`), matching on equal keys — the
 * canonical "price as of the trade", "most recent state before the event"
 * lookup. The reference engine has no such operator (its joins are pure
 * equi-joins, `src/main/scala/com/etl/transformer/JoinTransformer.scala`);
 * Spark itself lacks it too, so this is a first-class superset operator.
 *
 * Implementation is deliberately NOT a join node: both sides are tagged and
 * unioned, then a single running window per key picks the latest-seen right
 * payload at each left row:
 *
 *   union → exchange(hash keys) → sort(key, time, side) → running last()
 *
 * That is one shuffle of left+right and one sort — exactly the physical
 * shape of a dedicated sort-merge as-of join, with no row amplification at
 * any point (a naive range-join rewrite explodes to |left|×|right-per-key|
 * intermediate rows before picking the max — quadratic on hot keys). The
 * running-frame `last(_, ignoreNulls)` over ROWS UNBOUNDED PRECEDING is
 * evaluated incrementally by WindowExec, so the pass over each key group is
 * linear. At 100 TB the cost is the unavoidable co-partitioning shuffle;
 * a single pathologically hot key serializes its own group only (mitigate
 * upstream with [[Skew.saltedJoin]]-style pre-splitting if one key is a
 * double-digit fraction of the corpus).
 *
 * Determinism: the sort key is (time, side), and right rows carrying equal
 * (key, time) would make `last` pick the physically-later one — callers
 * needing byte-stable output should ensure right-side (key, time) uniqueness
 * (one `dedup` transform upstream); with unique right times the result is a
 * pure function of the data, independent of partitioning.
 */
object AsofJoin {

  /**
   * @param keys       equi-join key columns (present on both sides)
   * @param leftTime   left ordering column (timestamp or numeric)
   * @param rightTime  right ordering column (same type class as leftTime)
   * @param direction  "backward" (greatest right <= left) or "forward"
   * @param tolerance  optional max distance |leftTime - rightTime|, in
   *                   MICROSECONDS for timestamp columns, raw units for
   *                   numeric ones; matches farther away become nulls
   * @param prefix     prefix for attached right payload columns
   */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTime: String, rightTime: String,
               direction: String = "backward",
               tolerance: Option[Long] = None,
               prefix: String = "asof_"): DataFrame = {
    require(keys.nonEmpty, "asof join needs at least one key column")
    require(direction == "backward" || direction == "forward",
      s"direction must be backward|forward, got '$direction'")
    require(tolerance.forall(_ >= 0),
      s"tolerance must be >= 0, got ${tolerance.get} — a negative tolerance " +
        "can never be satisfied and would silently null every match")
    // same guided collision error as the other helper-column operators —
    // a leaked __t/__p/... input column would be silently overwritten
    ExprUtils.requireNoHelperCollision("join_asof",
      left.columns ++ right.columns,
      "__t", "__side", "__p", "__l", "__m", "__mt", "__mg")
    val payloadCols = right.columns.filterNot(c => keys.contains(c) || c == rightTime)
    require(payloadCols.nonEmpty,
      "right side must carry at least one payload column besides keys and time")

    val pStruct = struct(payloadCols.map(right(_)): _*)
    val pType = right.select(pStruct.as("p")).schema("p").dataType
    val lStruct = struct(left.columns.map(left(_)): _*)
    val lType = left.select(lStruct.as("l")).schema("l").dataType

    // a right row with ANY null key — or a null time — can never
    // legitimately match (join semantics: NULL equals/compares to
    // nothing) — but Window.partitionBy groups NULLs together and ASC
    // sorts them FIRST, so without these filters null-keyed left rows
    // would silently receive null-keyed right payloads and a null-time
    // right row could donate its payload with a DIFFERENT row's __mt
    val rSide = right
      .filter(keys.map(right(_).isNotNull).reduce(_ && _) &&
        right(rightTime).isNotNull)
      .select(keys.map(right(_)) ++ Seq(
        right(rightTime).as("__t"), lit(0).as("__side"),
        pStruct.as("__p"), lit(null).cast(lType).as("__l")): _*)
    val lSide = left.select(keys.map(left(_)) ++ Seq(
      left(leftTime).as("__t"), lit(1).as("__side"),
      lit(null).cast(pType).as("__p"), lStruct.as("__l")): _*)

    val backward = direction == "backward"
    // backward: right rows sort BEFORE the left row at equal time (side 0<1)
    // so an exactly-simultaneous right row is visible; forward mirrors it.
    val order =
      if (backward) Seq(col("__t").asc, col("__side").asc)
      else Seq(col("__t").asc, col("__side").desc)
    val w0 = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val w =
      if (backward) w0.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      else w0.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    def pick(c: Column): Column =
      if (backward) last(c, ignoreNulls = true).over(w)
      else first(c, ignoreNulls = true).over(w)

    val timeIsTs = left.schema(leftTime).dataType match {
      case TimestampType | org.apache.spark.sql.types.TimestampNTZType => true
      case _ => false
    }
    // fractional time columns compare RAW (a cast("long") would truncate
    // and let tolerance gates pass on values actually farther apart), but
    // narrow integral types still WIDEN to long — an Int-typed gap can
    // overflow (wrap, or throw under ANSI) on legal data; timestamps tick
    // in exact microseconds
    val timeIsNarrowIntegral = left.schema(leftTime).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    def tick(c: Column): Column =
      if (timeIsTs) unix_micros(c.cast(TimestampType))
      else if (timeIsNarrowIntegral) c.cast("long")
      else c

    val matched = lSide.unionByName(rSide)
      .withColumn("__m", pick(col("__p")))
      .withColumn("__mt", pick(when(col("__side") === 0, col("__t"))))
      .filter(col("__side") === 1)
    // a null LEFT time can never satisfy either direction's inequality —
    // but ASC NULLS FIRST sorts the row before every right row, where the
    // forward window would hand it the earliest payload
    val withinTol = tolerance match {
      case None => col("__t").isNotNull && col("__mt").isNotNull
      case Some(tol) =>
        val gap = if (backward) tick(col("__t")) - tick(col("__mt"))
                  else tick(col("__mt")) - tick(col("__t"))
        col("__t").isNotNull && col("__mt").isNotNull && gap <= lit(tol)
    }
    val gated = matched.withColumn("__mg", when(withinTol, col("__m")))
    gated.select(
      left.columns.toSeq.map(c => col("__l").getField(c).as(c)) ++
        payloadCols.toSeq.map(c => col("__mg").getField(c).as(prefix + c)): _*)
  }
}

/**
 * Declarative as-of join: the right side is a registered view (same
 * resolution as `join`'s `rightDataset`, creatable in-pipeline with
 * `register`).
 *
 * {{{
 * - name: latest-state
 *   type: join_asof
 *   options: {rightDataset: state_snapshots, on: user_id,
 *             leftTime: ts, rightTime: snapshot_ts,
 *             direction: backward, tolerance: "3600000000"}
 * }}}
 *
 * Options: rightDataset/on/leftTime required; rightTime (default leftTime),
 * direction backward|forward (default backward), tolerance (long; micros
 * for timestamps), prefix (default "asof_").
 */
object AsofJoinTransform extends Transform {
  val transformType = "join_asof"
  private val RightDataset = Opt.view("rightDataset").required
  private val On = Opt.columns("on").required
  private val LeftTime = Opt.column("leftTime").required
  private val RightTime = Opt.string("rightTime")
  private val Direction = Opt.oneOf("direction", "backward", "forward").default("backward")
  private val Tolerance = Opt.long("tolerance")
  private val Prefix = Opt.string("prefix").default("asof_")
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val leftTime = LeftTime(config)
    AsofJoin.asofJoin(input, RightDataset.table(config, ctx.spark), On(config), leftTime,
      rightTime = RightTime.get(config).getOrElse(leftTime),
      direction = Direction(config),
      tolerance = Tolerance.get(config),
      prefix = Prefix(config))
  }
}
