package graft.quality

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.api.RunContext
import graft.config.NullCheck
import graft.sources.FileSource

/** Recursive StructType diff: missing/extra columns, type mismatches
  * (descending into struct/array/map), nullability violations.
  * Reference: quality/SchemaValidator.scala:34-96. Pure driver-side schema
  * work — no data scan. */
object SchemaValidator {
  final case class SchemaIssue(path: String, issue: String)

  def validate(actual: StructType, expected: StructType): List[SchemaIssue] =
    diff(actual, expected, "")

  private def diff(actual: StructType, expected: StructType, prefix: String): List[SchemaIssue] = {
    val issues = List.newBuilder[SchemaIssue]
    val actualMap = actual.fields.map(f => f.name -> f).toMap
    val expectedMap = expected.fields.map(f => f.name -> f).toMap
    expected.fields.foreach { ef =>
      actualMap.get(ef.name) match {
        case None => issues += SchemaIssue(prefix + ef.name, "missing column")
        case Some(af) =>
          issues ++= diffType(af.dataType, ef.dataType, prefix + ef.name)
          if (af.nullable && !ef.nullable)
            issues += SchemaIssue(prefix + ef.name, "nullable but expected non-nullable")
      }
    }
    actual.fields.foreach { af =>
      if (!expectedMap.contains(af.name))
        issues += SchemaIssue(prefix + af.name, "unexpected extra column")
    }
    issues.result()
  }

  private def diffType(actual: DataType, expected: DataType, path: String): List[SchemaIssue] =
    (actual, expected) match {
      case (a: StructType, e: StructType) => diff(a, e, path + ".")
      case (a: ArrayType, e: ArrayType) =>
        // element nullability is part of the promised check — an array
        // declared containsNull=false must not accept nullable elements
        diffType(a.elementType, e.elementType, path + "[]") :::
        (if (a.containsNull && !e.containsNull)
          List(SchemaIssue(path + "[]", "nullable elements but expected non-nullable"))
        else Nil)
      case (a: MapType, e: MapType) =>
        diffType(a.keyType, e.keyType, path + ".key") :::
        diffType(a.valueType, e.valueType, path + ".value") :::
        (if (a.valueContainsNull && !e.valueContainsNull)
          List(SchemaIssue(path + ".value", "nullable values but expected non-nullable"))
        else Nil)
      case (a, e) if a == e => Nil
      case (a, e) => List(SchemaIssue(path, s"type mismatch: $a vs expected $e"))
    }
}

/**
 * One-pass data-quality metrics. The reference runs a separate
 * filter().count() job per checked column plus a distinct().count()
 * (quality/DataQualityChecker.scala:61-96) — O(columns) full scans. Here all
 * null counters collapse into ONE aggregation job, and the duplicate count
 * is a groupBy-count over the checked columns — two scans total regardless
 * of column count, both partial-aggregated map-side.
 */
object QualityChecker {

  /**
   * One-row metrics frame: total_rows, null_<c> per checked column, and
   * distinct_<c> per distinct-profiled column — ALL in a single aggregation
   * (the count-distinct rides the same job via Spark's expand rewrite), so
   * profiling N columns costs one scan at 100 TB, not N.
   * DataFrame-returning (lazy) so pipelines and the verify gate exercise
   * this component rather than re-deriving inline aggregates.
   */
  def metricsFrame(df: DataFrame, nullColumns: Seq[String],
                   distinctColumns: Seq[String] = Nil): DataFrame = {
    // coalesce: sum() over ZERO rows is SQL NULL, and a null metric cell
    // NPEs the report reader — an empty frame is in-contract (zero counts)
    val aggs = count(lit(1)).as("total_rows") +:
      (nullColumns.map(c =>
        coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L)).as(s"null_$c")) ++
       distinctColumns.map(c => countDistinct(col(c)).as(s"distinct_$c")))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Single validity predicate for the configured null checks (conjunction
    * of IS NOT NULL). Reference: quality/DataQualityChecker.scala:139-153. */
  def validPredicate(checks: Seq[NullCheck]): org.apache.spark.sql.Column =
    checks.map(nc => col(nc.column).isNotNull).reduceOption(_ && _).getOrElse(lit(true))

  /**
   * Split into (valid, invalid) branches. Both are cheap filters over the
   * same scan — deliberately NOT cached: at 100 TB persisting the whole
   * source is not viable, and a null-check predicate is far cheaper to
   * recompute than to materialize. Callers that know the source is small
   * and expensive (e.g. a JDBC query) can persist upstream themselves.
   */
  def splitValidInvalid(df: DataFrame, checks: Seq[NullCheck]): (DataFrame, DataFrame) = {
    val pred = validPredicate(checks)
    (df.filter(pred), df.filter(!pred))
  }
}

/**
 * Quarantine writer — invalid rows appended as parquet with audit columns
 * (quarantine_timestamp, pipeline_id, run_id, validation_errors).
 * Reference: quality/QuarantineWriter.scala:26-91 (+ the validation_errors
 * column its docs promise but code lacks, docs/CONFIGURATION.md:485-490).
 */
object QuarantineWriter {
  def write(invalid: DataFrame, path: String, ctx: RunContext, checks: Seq[NullCheck]): Unit = {
    writeCounted(invalid, path, ctx, nullErrorsCol(checks))
    ()
  }

  /** Per-row error description for failed null checks. */
  def nullErrorsCol(checks: Seq[NullCheck]): org.apache.spark.sql.Column =
    if (checks.isEmpty) lit("")
    else concat_ws("; ",
      checks.map(nc => when(col(nc.column).isNull, lit(s"null value in column '${nc.column}'"))): _*)

  /**
   * Write quarantined rows and return how many were written — counted via
   * an `Observation` riding the write action itself, NOT a separate
   * count() job (the reference pays an extra full scan for this count,
   * PipelineExecutor.scala:110-117). Deliberate tradeoff: the write runs
   * even when nothing is invalid (an empty parquet append), because the
   * alternative — an isEmpty probe — costs a second full scan exactly in
   * the common all-clean case.
   */
  def writeCounted(invalid: DataFrame, path: String, ctx: RunContext,
                   errorsCol: org.apache.spark.sql.Column): Long = {
    val obs = new org.apache.spark.sql.Observation(
      s"graft_quarantine_${ctx.runId}_${System.nanoTime()}")
    // the run's time rides a zero-argument UDF, not current_timestamp():
    // Catalyst folds that into a long literal which codegen inlines, so
    // every gate run generated (and compiled) new classes; the UDF is a
    // reference object, so the generated source is identical run to run
    val now = java.sql.Timestamp.from(java.time.Instant.now())
    invalid
      .observe(obs, count(lit(1)).as("rows"))
      .withColumn("validation_errors", errorsCol)
      .withColumn("quarantine_timestamp", udf(() => now).apply())
      .withColumn("pipeline_id", lit(ctx.pipelineId))
      .withColumn("run_id", lit(ctx.runId))
      .write.mode(SaveMode.Append).parquet(path)
    // a missing metric is an anomaly, not a count: the executor ADDS this
    // return to its failed-row accumulator, so a -1 sentinel would corrupt
    // the metric downward silently — report 0 and warn instead
    obs.get.get("rows").map(_.toString.toLong).getOrElse {
      new graft.runtime.StructuredLogger("QuarantineWriter").warn(
        "quarantine write produced no 'rows' observation; reporting 0",
        Map("path" -> path, "run_id" -> ctx.runId))
      0L
    }
  }

  def read(path: String, ctx: RunContext, pipelineId: Option[String] = None,
           runId: Option[String] = None): DataFrame = {
    val df = FileSource.parquet(ctx.spark, path)
    val f1 = pipelineId.map(p => df.filter(col("pipeline_id") === p)).getOrElse(df)
    runId.map(r => f1.filter(col("run_id") === r)).getOrElse(f1)
  }
}
