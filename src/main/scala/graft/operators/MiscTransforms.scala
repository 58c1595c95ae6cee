package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.{Window => W}
import org.apache.spark.sql.functions._

import graft.api.{Transform, RunContext, ConfigException, Opt}
import graft.config.{ExprUtils, Options, TransformConfig}

/**
 * Superset transformers the reference lacks entirely (SURVEY §2.6: no sort /
 * limit / union / dedup in its product surface) — all zero-Catalyst-work
 * DataFrame compositions.
 */

/**
 * register — reads a secondary source and registers it as a temp view,
 * passing the pipeline DataFrame through unchanged. Closes the reference's
 * usability gap where join/union right sides must be pre-registered
 * programmatically (JoinTransformer.scala:50-53 `spark.table(...)` with no
 * way to create the view from YAML): a multi-source pipeline is now fully
 * declarative — `register(viewName, sourceType, options…)` then
 * `join(rightDataset=viewName)`.
 */
object RegisterTransform extends graft.api.Transform {
  val transformType = "register"
  private val ViewName = Opt.viewDef("viewName").required
  private val SourceType = Opt.string("sourceType").default("file")
  private val Expressions = Opt.expr("expressions")
  private val Project = Opt.bool("project")
  private val Keep = Opt.string("keep")
  private val Condition = Opt.expr("condition")
  private val SourceOptions = Opt.passthrough
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val sourceType = SourceType(config)
    // resolve through the executor's registry (threaded via RunContext) so
    // user-registered source types work inside register transforms
    val src = ctx.sources.getOrElse(graft.runtime.Registries.sources()).get(sourceType)
    val raw = src.read(graft.config.SourceConfig(sourceType, SourceOptions(config)))(
      input.sparkSession)
    // optional map-style projection before registering (e.g. parsing a
    // kafka JSON value into typed columns for the join key); `project`
    // and `keep` are map's own options
    val shaped =
      if (Expressions.isSet(config))
        MapTransform(raw, TransformConfig(config.name, MapTransform.transformType,
          Seq(Expressions, Project, Keep).flatMap(_.setting(config)).toMap), ctx)
      else raw
    // optional row filter (applied after the projection so it can
    // reference mapped columns; Catalyst pushes it to the scan) — e.g.
    // registering one corpus half as a dedup/decontamination reference
    val filtered = Condition.get(config).map(shaped.where).getOrElse(shaped)
    filtered.createOrReplaceTempView(ViewName(config))
    input
  }
}

/**
 * materialize — a RECOMPUTE BARRIER between pipeline stages: truncates
 * the frame's lineage via [[graft.api.Checkpointing.checkpoint]] (the
 * session's `spark.graft.checkpoint` mode — `local` by default,
 * `reliable` for executor-loss-safe cluster jobs), so everything
 * upstream evaluates ONCE and everything downstream reads the
 * materialized rows. Semantically the identity.
 *
 * Why a pipeline needs it: Catalyst freely INLINES a projected
 * expression into every downstream reference — a cleaned-text column
 * built by an html_strip → normalize_text chain gets its whole
 * regex/NFC tower re-evaluated inside each later gate's filter (and
 * pushed into the scan's DataFilters), multiplying the most expensive
 * per-row work in the pipeline by the number of rules that read it
 * (measured on the q154 composition: the un-barriered plan re-ran the
 * strip chain per Gopher rule — 9.5 s where ~3 s is the honest cost).
 * Place `materialize` right after the expensive text-rewrite stages;
 * the 100 TB shape is unchanged (one extra write of the already-shuffled
 * partitioning, no new exchange).
 *
 * Options: `eager` (default false — materializes lazily on first use,
 * so --dry-run / compose stay side-effect-free).
 */
object MaterializeTransform extends Transform {
  val transformType = "materialize"
  private val Eager = Opt.bool("eager").default(false)
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    // a streaming frame cannot checkpoint its lineage (Spark would throw a
    // deep AnalysisException at start); say it in pipeline terms instead
    if (input.isStreaming) throw new ConfigException(
      "materialize: not available in a micro-batch pipeline — lineage " +
        "checkpointing is a batch concept; streaming recovery is the " +
        "streaming.checkpointLocation's job, and per-batch plans are " +
        "re-optimized anyway")
    // compose/--dry-run promise "nothing evaluated": an eager checkpoint
    // would run the upstream job at PLAN time — force lazy there (the
    // barrier's plan shape is identical either way). ctx.sideEffects is
    // the executor's buildPlan flag, not a runId string match.
    graft.api.Checkpointing.checkpoint(input, Eager(config) && ctx.sideEffects)
  }
}

/** sort — global orderBy. A full range-shuffle; at scale prefer
  * sortWithinPartitions (`global=false`) unless a total order is required. */
object SortTransform extends Transform {
  val transformType = "sort"
  private val OrderBy = Opt.expr("orderBy").required
  private val Global = Opt.bool("global").default(true)
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val cols = ExprUtils.splitTopLevel(OrderBy(config)).map(ExprUtils.parseOrder)
    if (Global(config)) input.orderBy(cols: _*)
    else input.sortWithinPartitions(cols: _*)
  }
}

/** limit — df.limit(n). Catalyst plans CollectLimit/GlobalLimit with
  * partial per-partition limits, so it never materializes the full input. */
object LimitTransform extends Transform {
  val transformType = "limit"
  private val N = Opt.int("n").required
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame =
    input.limit(N(config))
}

/** union — unionByName with another registered temp view;
  * allowMissingColumns option fills gaps with nulls. */
object UnionTransform extends Transform {
  val transformType = "union"
  private val RightDataset = Opt.view("rightDataset").required
  private val AllowMissingColumns = Opt.bool("allowMissingColumns").default(false)
  private val Distinct = Opt.bool("distinct").default(false)
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val unioned = input.unionByName(RightDataset.table(config, input.sparkSession),
      AllowMissingColumns(config))
    if (Distinct(config)) unioned.distinct() else unioned
  }
}

/**
 * dedup — exact deduplication.
 * No `columns` → whole-row distinct. With `columns` and no `orderBy` →
 * dropDuplicates(cols) (arbitrary survivor, matches reference's semantics).
 * With `orderBy` → deterministic survivor via row_number()=1 over
 * partitionBy(cols).orderBy(...): one shuffle on the dedup keys, same cost
 * as dropDuplicates but reproducible — required for oracle checks and for
 * idempotent re-runs at scale.
 */
object DedupTransform extends Transform {
  val transformType = "dedup"
  private val Columns = Opt.columns("columns")
  private val OrderBy = Opt.expr("orderBy")
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    (Columns.get(config), OrderBy.get(config)) match {
      case (None, _) => input.distinct()
      case (Some(cols), None) => input.dropDuplicates(cols)
      case (Some(cols), Some(order)) =>
        val w = W.partitionBy(cols.map(col): _*)
          .orderBy(ExprUtils.splitTopLevel(order).map(ExprUtils.parseOrder): _*)
        val rn = ExprUtils.freshName(input.columns.toSeq, "__rn")
        input.withColumn(rn, row_number().over(w)).filter(col(rn) === 1).drop(rn)
    }
  }
}

/**
 * fillna — declarative null handling, the ingestion-cleanup step every
 * warehouse load starts with. Two modes, both pure per-row plan nodes
 * (zero shuffle):
 *
 *  - `fill` (default): `values: "col:literal, col2:literal"` — each
 *    literal coerced by the TARGET column's type (a string column keeps
 *    "00501" verbatim; numeric/boolean columns parse or fail loudly),
 *    then applied with `DataFrame.na.fill`;
 *  - `drop`: remove rows with nulls in `columns` (default: any column);
 *    `how: any (default) | all`.
 *
 * {{{
 * - name: clean-nulls
 *   type: fillna
 *   options: {values: "lang:unk, score:-1"}
 * }}}
 */
object FillNaTransform extends Transform {
  val transformType = "fillna"
  private val Mode = Opt.oneOf("mode", "fill", "drop").default("fill")
  private val How = Opt.oneOf("how", "any", "all").default("any")
  private val Columns = Opt.columns("columns")
  // quote-aware split so a fill literal can carry a comma
  private val Values = Opt.parsed("values") { v =>
    val pairs = ExprUtils.splitTopLevel(v).map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split(":", 2) match {
        case Array(c, lit) => c.trim -> lit
        case _ => throw new ConfigException(s"fillna: values entry '$kv' is not col:literal")
      }
    }
    if (pairs.isEmpty) throw new ConfigException("fillna: values is empty")
    pairs
  }
  // `values` is a `col:literal` list: its columns are the keys
  override def validate(config: TransformConfig,
                        schema: org.apache.spark.sql.types.StructType): List[String] = {
    val errs = super.validate(config, schema)
    if (errs.nonEmpty) errs
    else missingColumns(schema, "values", Values.get(config).toList.flatten.map(_._1))
  }

  /** Literal coercion is driven by the TARGET COLUMN's type, not the
    * literal's shape: "00501" filling a string column stays the string
    * "00501" (shape-based parsing turned it into 501, and Spark's na.fill
    * then silently skipped the type-mismatched column — nulls survived a
    * configured fill with no error). */
  private def parseLiteral(s: String, dt: org.apache.spark.sql.types.DataType,
                           colName: String): Any = {
    import org.apache.spark.sql.types._
    val t = s.trim
    val key = s"values[$colName]"
    dt match {
      // a quoted string literal ('San Jose, CA') unwraps — the quotes are
      // how a fill value carries a comma past the top-level list split
      case StringType =>
        if (t.length >= 2 &&
            ((t.head == '\'' && t.last == '\'') || (t.head == '"' && t.last == '"')))
          t.substring(1, t.length - 1)
        else t
      case BooleanType => Options.bool(transformType, key, t)
      case ByteType | ShortType | IntegerType | LongType =>
        Options.long(transformType, key, t)
      case FloatType | DoubleType | _: DecimalType =>
        Options.double(transformType, key, t)
      case other => throw new ConfigException(
        s"fillna: cannot fill column '$colName' of type ${other.simpleString}")
    }
  }

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame =
    Mode(config) match {
      case "fill" =>
        input.na.fill(Values(config).map { case (name, v) =>
          val dt = input.schema.fields.find(_.name.equalsIgnoreCase(name))
            .getOrElse(throw new ConfigException(s"fillna: column '$name' not found in input"))
            .dataType
          name -> parseLiteral(v, dt, name)
        }.toMap)
      case _ =>
        Columns.get(config) match {
          case Some(cs) => input.na.drop(How(config), cs)
          case None     => input.na.drop(How(config))
        }
    }
}
