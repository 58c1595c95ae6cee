package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{ConfigException, Opt, RunContext, Transform}
import graft.config.TransformConfig

/**
 * Distribution-drift monitoring between a current batch and a reference
 * corpus — the Population Stability Index per numeric column, the
 * standard "did this crawl/feed change shape since last month" gate
 * (PSI < 0.1 stable, 0.1–0.25 moderate, > 0.25 action). Bins are
 * `bins` fixed-width intervals spanning the REFERENCE min/max (fixed-
 * width, not quantile, so the bin arithmetic is exact double floor math —
 * cross-engine reproducible — and out-of-range current values clamp into
 * the edge bins, which is precisely where range drift should show up).
 *
 * PSI = Σ_bins (q_i − p_i) · ln(max(q_i, ε) / max(p_i, ε)) with p/q the
 * reference/current bin proportions over NON-NULL values and ε guarding
 * empty bins.
 *
 * Scale shape: all columns travel in ONE `stack` long-form pass per side
 * (reference pays one extra min/max scan), so drift over C columns of a
 * 100 TB batch costs 2 reference scans + 1 current scan, never C each;
 * everything after the per-(column, bin) counts — including `n_current`,
 * derived from those counts — is column-count-sized. The stats frame is
 * broadcast (C rows). A column with zero non-null values on either side
 * reports a visible row with NULL psi (and the TRUE count of whichever
 * side does have data) rather than vanishing — gate with
 * `psi IS NULL OR psi > t`.
 */
object Drift {

  def psi(current: DataFrame, ref: DataFrame, columns: Seq[String],
          bins: Int = 10, epsilon: Double = 1e-6): DataFrame = {
    require(columns.nonEmpty, "drift: no columns")
    require(bins >= 2, s"drift: bins must be >= 2, got $bins")
    require(epsilon > 0, s"drift: epsilon must be positive, got $epsilon")
    def longForm(df: DataFrame): DataFrame = {
      // case-INSENSITIVE resolution, matching validate() and Spark's
      // default — an exact-case lookup passed validation then failed at
      // runtime for a config that only differs in case. Exact match WINS
      // when two columns differ only in case (the orderableOrJson rule),
      // so "value" never silently resolves to a sibling "Value".
      def fieldIdx(name: String): Option[Int] = {
        val exact = df.schema.fields.indexWhere(_.name == name)
        val i = if (exact >= 0) exact
                else df.schema.fields.indexWhere(_.name.equalsIgnoreCase(name))
        if (i >= 0) Some(i) else None
      }
      val missing = columns.filterNot(c => fieldIdx(c).isDefined)
      require(missing.isEmpty, s"drift: columns not in frame: ${missing.mkString(", ")}")
      // positional rename sidesteps name parsing entirely: a column called
      // `weird'na`me` travels through as _c<i>, its real name only ever a
      // string literal in the struct
      val safe = df.toDF(df.columns.indices.map(i => s"_c$i"): _*)
      val structs = columns.map(c => fieldIdx(c).get).zip(columns).map {
        case (i, name) =>
          struct(lit(name).as("cname"), col(s"_c$i").cast("double").as("x"))
      }
      // NaN excluded like null: one NaN would poison max() (NaN sorts
      // greatest), making every bin expression NaN → bin 0 — the whole
      // column silently reports "stable" regardless of drift
      safe.select(inline(array(structs: _*)))
        .where(col("x").isNotNull && !isnan(col("x")))
    }
    val stats = longForm(ref).groupBy("cname")
      .agg(min(col("x")).as("lo"), max(col("x")).as("hi"),
        count(lit(1)).as("n_ref"))
    // BOTH sides bin in ONE union pass tagged by side, aggregated once to
    // (cname, bin, n_p, n_q) — the previous per-side binned() aggregations
    // plus their full_outer re-join cost two extra exchanges and a join
    // for the same counts (a row absent on one side is a 0 here exactly as
    // na.fill(0) made it there). The stats join stays a broadcast left
    // join: a current-side value whose column has NO reference stats lands
    // in a null bin instead of being dropped, so n_current stays truthful
    // even when the reference side is empty for that column.
    val counts = longForm(ref).withColumn("__side", lit(0))
      .unionByName(longForm(current).withColumn("__side", lit(1)))
      .join(broadcast(stats), Seq("cname"), "left")
      .withColumn("bin",
        when(col("lo").isNull, lit(null).cast("long")).otherwise(
          // constant reference column: split matches-the-constant vs
          // everything-else — one collapsed bin would make ANY current
          // drift away from the constant invisible (psi = 0)
          when(col("hi") === col("lo"),
            when(col("x") === col("lo"), lit(0L)).otherwise(lit(1L))).otherwise(
            least(lit(bins - 1L), greatest(lit(0L),
              floor((col("x") - col("lo")) / ((col("hi") - col("lo")) / bins)))))))
      .groupBy("cname", "bin")
      .agg(sum(when(col("__side") === 0, 1L).otherwise(0L)).as("n_p"),
        sum(when(col("__side") === 1, 1L).otherwise(0L)).as("n_q"))
    // n_current derives from the already-binned counts (null bin included)
    // — no second scan of the current frame. A column with ZERO current
    // rows must have NO totQ row (the per-side shape this replaces had
    // none), so its psi stays NULL instead of dividing by zero
    val totQ = counts.groupBy("cname").agg(sum(col("n_q")).as("n_cur"))
      .where(col("n_cur") > 0)
    val psiPerCol = counts.where(col("bin").isNotNull)
      .join(stats.select("cname", "n_ref"), Seq("cname"))
      .join(totQ, Seq("cname"))
      .withColumn("pp", col("n_p").cast("double") / col("n_ref"))
      .withColumn("qq", col("n_q").cast("double") / col("n_cur"))
      .groupBy("cname")
      .agg(round(sum((col("qq") - col("pp")) *
        log(greatest(col("qq"), lit(epsilon)) / greatest(col("pp"), lit(epsilon)))), 6)
        .as("psi"))
    // seed with EVERY requested column: a side with zero non-null values
    // must surface as a visible (column, null psi, 0 count) row — the
    // schema-break case a drift monitor exists for — never vanish from
    // the report. Gate with `psi IS NULL OR psi > t`.
    val sp = current.sparkSession
    import sp.implicits._
    columns.toDF("cname")
      .join(broadcast(stats.select("cname", "n_ref")), Seq("cname"), "left")
      .join(broadcast(totQ), Seq("cname"), "left")
      .join(psiPerCol, Seq("cname"), "left")
      .select(col("cname").as("column"),
        when(col("n_ref").isNull || col("n_cur").isNull, lit(null).cast("double"))
          .otherwise(col("psi")).as("psi"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_current"))
  }
}

/**
 * `drift` — declarative wrapper over [[Drift.psi]].
 *
 * {{{
 * - name: crawl-drift
 *   type: drift
 *   options: {columns: "n_chars, quality_score", referenceView: last_month,
 *             bins: "10"}
 * }}}
 *
 * `columns` and `referenceView` required; `bins` (10), `epsilon` (1e-6).
 * One row per column: (column, psi, n_ref, n_current). Gate afterwards
 * with `filter` (`psi > 0.25`) like any other signal.
 */
object DriftTransform extends Transform {
  val transformType = "drift"
  private val Columns = Opt.columns("columns").required
  private val ReferenceView = Opt.view("referenceView").required
  private val Bins = Opt.int("bins").default(10)
  private val Epsilon = Opt.double("epsilon").default(1e-6)

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    try Drift.psi(input, ReferenceView.table(config, ctx.spark), Columns(config),
      bins = Bins(config), epsilon = Epsilon(config))
    catch { case e: IllegalArgumentException => throw new ConfigException(e.getMessage) }
  }
}
