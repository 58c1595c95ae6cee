package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.api.{ConfigException, Opt, RunContext, Transform}
import graft.config.TransformConfig

/**
 * sessionize — declarative reach for [[Sessionize]]'s arbitrary-state
 * streaming sessionization: gap-break sessions per key, each emitted
 * exactly once when it closes (gap exceeded in-stream, or the watermark
 * passes last-event + gap). In a `micro-batch` pipeline the executor's
 * `streaming.watermarkColumn/Delay` MUST cover the `tsColumn`
 * (EventTimeTimeout requires a watermark — Spark rejects the query
 * otherwise, at start, loudly). On a BATCH frame the same output contract
 * comes from a keyed gaps-and-islands window instead of the state store
 * (whose batch mode would silently drop each key's final open session).
 *
 * Output replaces the frame: (<keyColumn>, session_start, session_end,
 * n_events, total_value). State per key = one open session — bounded by
 * key cardinality, evicted on close; the scale property that lets this
 * run forever on an unbounded stream.
 *
 * {{{
 * executionMode: micro-batch
 * streaming: {watermarkColumn: ts, watermarkDelay: 10 minutes}
 * transformations:
 *   - name: user-sessions
 *     type: sessionize
 *     options: {keyColumn: user_id, tsColumn: ts, valueColumn: value,
 *               gap: "30 minutes"}
 * }}}
 */
object SessionizeTransform extends Transform {
  val transformType = "sessionize"
  private val KeyColumn = Opt.column("keyColumn").required
  private val TsColumn = Opt.column("tsColumn").required
  private val ValueColumn = Opt.column("valueColumn")

  private val durationRe =
    "^(\\d+)\\s*(ms|milliseconds?|s|sec|seconds?|m|min|minutes?|h|hours?)$".r
  private[graft] def durationMs(s: String): Long = s.trim.toLowerCase match {
    case durationRe(n, u) => graft.config.Options.long(transformType, "gap", n) * (u.head match {
      case 'h'            => 3600000L
      case 'm' if u != "ms" && !u.startsWith("mill") => 60000L
      case 's'            => 1000L
      case _              => 1L // ms / millisecond(s)
    })
    case other => throw new ConfigException(
      s"sessionize: gap must be '<n> <ms|seconds|minutes|hours>', got '$other'")
  }
  private val Gap = Opt.parsed("gap")(durationMs).map { ms =>
    if (ms <= 0) throw new ConfigException("sessionize: gap must be positive") else ms }.required

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val keyName = KeyColumn(config, input.schema)
    val gapMs = Gap(config)
    import input.sparkSession.implicits._
    import org.apache.spark.sql.functions._
    val keyType = input.schema(keyName).dataType
    keyType match {
      case _: org.apache.spark.sql.types.StructType |
           _: org.apache.spark.sql.types.ArrayType |
           _: org.apache.spark.sql.types.MapType =>
        throw new ConfigException(
          s"sessionize: keyColumn must be an atomic type, got ${keyType.simpleString}")
      case org.apache.spark.sql.types.BinaryType =>
        // binary→string is a lossy UTF-8 decode: distinct byte keys can
        // collide (merging unrelated sessions) and the round-trip back to
        // binary corrupts the key — reject rather than silently mangle
        throw new ConfigException(
          "sessionize: keyColumn of type binary is not supported " +
            "(cast it to a lossless string encoding, e.g. base64, first)")
      case _ => ()
    }
    val tsName = TsColumn(config, input.schema)
    // do NOT re-cast an already-timestamp column: the cast mints a new
    // attribute WITHOUT the watermark metadata the executor attached, and
    // EventTimeTimeout then rejects the query as unwatermarked
    val tsCol = input.schema(tsName).dataType match {
      case org.apache.spark.sql.types.TimestampType => col(tsName)
      case _ => col(tsName).cast("timestamp")
    }
    // any atomic key sessionizes: cast to string for grouping, cast back
    // on the way out so the output key keeps the input's type. The value
    // coalesces to 0.0 — Event.value is a primitive Double, so one null
    // (or uncastable) value would kill a streaming query with the
    // non-nullable-field encoder error; batch sum treats 0 like a skipped
    // null, so the paths stay consistent.
    val events = input.select(
      col(keyName).cast("string").as("user_id"),
      tsCol.as("ts"),
      coalesce(ValueColumn.get(config).map(col(_).cast("double"))
        .getOrElse(lit(0.0)), lit(0.0)).as("value"))
    val sessions =
      if (input.isStreaming)
        // null timestamps cannot be sessioned and would NPE the state
        // function's sort (the watermark's late-row predicate passes null
        // through); the batch branch below has always filtered them
        Sessionize.sessions(
          events.where(col("ts").isNotNull).as[Sessionize.Event], gapMs).toDF()
      else {
        // BATCH equivalent via gaps-and-islands: flatMapGroupsWithState in
        // batch mode never fires timeouts and DISCARDS end-of-iterator
        // state, silently dropping every key's final (often only) session
        // — so batch pipelines get the same output contract from a keyed
        // window instead of a state store
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts")
        events.where(col("ts").isNotNull)
          .withColumn("__t", unix_millis(col("ts")))
          .withColumn("__new",
            when(col("__t") - lag("__t", 1).over(w) > gapMs, 1L).otherwise(0L))
          .withColumn("__sid", sum("__new").over(w.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
          .groupBy("user_id", "__sid")
          .agg(min("ts").as("session_start"),
            timestamp_millis(max("__t") + gapMs).as("session_end"),
            count(lit(1)).as("n_events"),
            sum("value").as("total_value"))
          .drop("__sid")
      }
    sessions.select(col("user_id").cast(keyType).as(keyName),
      col("session_start"), col("session_end"),
      col("n_events"), col("total_value"))
  }
}
