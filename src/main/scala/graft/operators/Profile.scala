package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._

import graft.api.{Opt, RunContext, Transform}
import graft.config.TransformConfig

/**
 * Single-pass numeric column profiling: one row per profiled column with
 * (n_values, n_nulls, n_distinct, min, max, avg, p50). The reference's
 * quality layer counts nulls per column but has no distributional stats
 * (`src/main/scala/com/etl/quality/DataQualityChecker.scala`); a real
 * curation pipeline profiles every ingest before filtering thresholds are
 * chosen, so this is a first-class quality operator here.
 *
 * Scale shape: ALL stats for ALL columns ride ONE aggregation over ONE scan
 * — map-side partial aggregation reduces each partition to a single row of
 * stat buffers before the 1-row exchange. Two knobs trade exactness for
 * boundedness at 100 TB:
 *
 *  - `exact=false` (default): `approx_count_distinct` (HLL++, fixed-size
 *    sketch) and `approx_percentile` (KLL-style, bounded buffer) — both
 *    mergeable partial aggregates, constant memory per executor at any
 *    data size.
 *  - `exact=true`: exact distinct counts and exact interpolated p50,
 *    computed from a melted value-frequency frame (see [[profileExact]]) —
 *    cost bounded by the columns' CARDINALITY, not row count; deliberate
 *    opt-in for petabyte corpora (near-all-distinct columns belong on the
 *    sketch path).
 *
 * The one-row frame is unpivoted to long format with `stack` — a driverless
 * projection over a 1-row DataFrame, not a second pass.
 */
object Profile {
  /** SQL-text escaping for the interpolated fragments below: a column
    * named "it's" or "a`b" is legal in Spark/Parquet schemas and must not
    * terminate the literal/identifier early (opaque ParseException or,
    * worse, a mislabeled stat row). */
  private def ident(c: String) = "`" + c.replace("`", "``") + "`"
  private def strLit(c: String) = "'" + c.replace("'", "''") + "'"

  /** ANSI-safe numeric view of a column: malformed values become null
    * (plain cast THROWS under Spark 4's default ANSI mode). */
  private def tryDouble(c: String) = expr(s"try_cast(${ident(c)} as double)")

  /** @param groupBy optional grouping keys: stats per (group, column) — the
    *                per-language / per-source ingest report. Same one-pass
    *                shape; the aggregation just keys on the groups. */
  def profile(df: DataFrame, cols: Seq[String], exact: Boolean = false,
              groupBy: Seq[String] = Nil): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val missing = (cols ++ groupBy).filterNot(df.columns.contains)
    require(missing.isEmpty, s"profile columns not in input: ${missing.mkString(", ")}")
    if (exact) return profileExact(df, cols, groupBy)
    val aggs = cols.flatMap { c =>
      val d = tryDouble(c) // ANSI-safe: non-numeric values null out, not throw
      Seq(
        count(col(c)).as(s"__cnt_$c"),
        count_if(col(c).isNull).as(s"__nul_$c"),
        approx_count_distinct(col(c)).cast("long").as(s"__ndv_$c"),
        min(d).as(s"__min_$c"),
        max(d).as(s"__max_$c"),
        round(avg(d), 4).as(s"__avg_$c"),
        round(expr(s"approx_percentile(try_cast(${ident(c)} as double), 0.5)").cast("double"), 4)
          .as(s"__p50_$c"))
    }
    val one =
      if (groupBy.isEmpty) df.agg(aggs.head, aggs.tail: _*)
      else df.groupBy(groupBy.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols.map { c =>
      (strLit(c) +: Seq("__cnt_", "__nul_", "__ndv_", "__min_", "__max_",
        "__avg_", "__p50_").map(p => ident(p + c))).mkString(", ")
    }.mkString(", ")
    one.selectExpr(groupBy.map(ident) :+
      (s"stack(${cols.size}, $stackArgs) as " +
        "(column_name, n_values, n_nulls, n_distinct, min_value, max_value, avg_value, p50_value)"): _*)
  }

  /**
   * Exact profile via value frequencies. The naive exact plan — N
   * `count(DISTINCT)` aggregates plus N exact `percentile`s in one
   * aggregation — makes Catalyst Expand the scan (rows × (N+1)) and pushes
   * every expanded row through per-value percentile hash maps (~2.7 s for 3
   * columns of sf0.1 lineitem). Here instead:
   *
   *   1. melt to (groups…, column_name, value) — explode of an
   *      N-struct array, stays inside whole-stage codegen, no Expand;
   *   2. ONE hash aggregation to (…, value) → n — map-side partials
   *      collapse each partition to ~cardinality rows, so the only full
   *      shuffle moves ~|distinct values| rows, not the corpus;
   *   3. every stat falls out of the tiny counts frame: n_distinct is a
   *      row count, avg is sum(v·n)/sum(n), and the exact interpolated
   *      p50 reads the two values bracketing rank 0.5·(n−1) off a
   *      cumulative-count window (same `lo + frac·(hi−lo)` the built-in
   *      `percentile` and DuckDB's `quantile_cont` compute).
   *
   * The p50 window partitions by (groups…, column_name): one row per
   * profiled column sorting its distinct values — trivially parallel across
   * columns and groups, bounded by per-column cardinality.
   *
   * Non-numeric columns (string/date/…) melt BOTH a canonical string form
   * `__s` (for count/null/distinct — exact on any type) and the double cast
   * `__v` (null for non-numeric values, so min/max/avg/p50 come out null,
   * matching the approx path's behavior on such columns instead of silently
   * reporting every value as null).
   */
  private def profileExact(df: DataFrame, cols: Seq[String],
                           groupBy: Seq[String]): DataFrame = {
    val gcols = groupBy.map(col)
    val melted = df
      .select(gcols :+ explode(array(cols.map(c =>
        struct(lit(c).as("column_name"), tryDouble(c).as("__v"),
          col(c).cast("string").as("__s"))): _*)).as("__cv"): _*)
      .select(gcols ++ Seq(col("__cv.column_name"), col("__cv.__v"), col("__cv.__s")): _*)
    val keys = groupBy :+ "column_name"
    // __s functionally determines __v (both derive from the same raw value),
    // so grouping on both keeps one row per distinct raw value
    val counts = melted.groupBy((keys ++ Seq("__s", "__v")).map(col): _*)
      .agg(count(lit(1)).as("__n"))

    val part = W.partitionBy(keys.map(col): _*)
    // nulls sort first and contribute 0, so cum_before counts non-null
    // values strictly below v — the 0-based index of v's first occurrence
    val ord = part.orderBy(col("__v").asc_nulls_first)
      .rowsBetween(W.unboundedPreceding, -1)
    val nn = when(col("__s").isNotNull, col("__n")) // raw-non-null contribution
    // numeric-only contribution: a non-null value that does NOT cast to
    // double (a string column mixing "1","2","x") must not enter the avg
    // denominator or the percentile rank totals — avg/p50 describe the
    // CASTABLE values, exactly like the approx path's avg/percentile over
    // try_cast (which skip nulls)
    val nv = when(col("__v").isNotNull, col("__n"))
    val ranked = counts
      .withColumn("__cum_before", coalesce(sum(nv).over(ord), lit(0L)))
      .withColumn("__rk", (sum(nv).over(part) - 1) * 0.5)
    ranked.groupBy(keys.map(col): _*).agg(
        coalesce(sum(nn), lit(0L)).as("n_values"),
        coalesce(sum(when(col("__s").isNull, col("__n"))), lit(0L)).as("n_nulls"),
        count(nn).as("n_distinct"),
        min(col("__v")).as("min_value"),
        max(col("__v")).as("max_value"),
        round(sum(col("__v") * nv) / sum(nv), 4).as("avg_value"),
        max(when(col("__v").isNotNull && col("__cum_before") <= floor(col("__rk")), col("__v")))
          .as("__lo"),
        max(when(col("__v").isNotNull && col("__cum_before") <= ceil(col("__rk")), col("__v")))
          .as("__hi"),
        max(col("__rk")).as("__rank"))
      .withColumn("p50_value",
        round(col("__lo") + (col("__rank") - floor(col("__rank"))) *
          (col("__hi") - col("__lo")), 4))
      .drop("__lo", "__hi", "__rank")
  }
}

/**
 * Declarative profile step. Replaces the pipeline frame with the stats
 * frame (route it to its own sink, or `register` the main frame first if
 * both are needed downstream).
 *
 * {{{
 * - name: ingest-stats
 *   type: profile
 *   options: {columns: "l_quantity,l_extendedprice", exact: "false"}
 * }}}
 */
object ProfileTransform extends Transform {
  val transformType = "profile"
  private val Columns = Opt.columns("columns").required
  private val GroupBy = Opt.columns("groupBy").default(Nil)
  private val Exact = Opt.bool("exact").default(false)
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame =
    Profile.profile(input, Columns(config, input.schema),
      exact = Exact(config), groupBy = GroupBy(config, input.schema))
}

/**
 * Declarative corpus TF-IDF (see [[graft.functions.TextFunctions.tfidf]]):
 * replaces the frame with one row per (doc, term) carrying tf/df/tfidf.
 *
 * {{{
 * - name: score-terms
 *   type: tfidf
 *   options: {idColumn: doc_id, textColumn: text}
 * }}}
 */
object TfidfTransform extends Transform {
  val transformType = "tfidf"
  private val IdColumn = Opt.column("idColumn").required
  private val TextColumn = Opt.column("textColumn").required
  private val Scoring = Opt.oneOf("scoring", "tfidf", "bm25").default("tfidf")
  private val K1 = Opt.double("k1").default(1.2)
  private val B = Opt.double("b").default(0.75)
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val id = IdColumn(config); val text = TextColumn(config)
    if (Scoring(config) == "tfidf") graft.functions.TextFunctions.tfidf(input, id, text)
    else graft.functions.TextFunctions.bm25(input, id, text, k1 = K1(config), b = B(config))
  }
}
