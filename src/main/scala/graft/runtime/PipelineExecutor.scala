package graft.runtime

import java.util.UUID

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.api._
import graft.config._
import graft.lineage.Lineage
import graft.quality.{QualityChecker, QuarantineWriter}

/** One pipeline stage's bookkeeping (reference: logging/MetricsCollector
  * .scala:11-218 records extraction/transformation/load/quality stages).
  * Record counts come from Observations on the single action; transform and
  * load share one wall-clock segment because Spark executes them fused in
  * the sink's write action — splitting them would require a second action,
  * which this executor refuses to pay. */
final case class StageMetric(stage: String, records: Long, durationMs: Long)

final case class ExecutionMetrics(
    pipelineId: String,
    runId: String,
    status: String, // SUCCESS | FAILED
    recordsExtracted: Long,
    recordsLoaded: Long,
    recordsFailed: Long,
    durationMs: Long,
    error: Option[String] = None,
    stages: List[StageMetric] = Nil)

/**
 * Batch pipeline executor: source → fold(transforms) → sink.
 * Reference: pipeline/PipelineExecutor.scala:23-164.
 *
 * Execution-model differences from the reference (SURVEY §3.4), all
 * behavior-preserving:
 *  - ONE Spark action per pipeline (the sink write). The reference runs
 *    count() three+ times, recomputing the whole lineage each time; we get
 *    row counts from `Observation` metrics attached to the same plan, so a
 *    10 GB pipeline reads its input once, not four times.
 *  - Lineage is stamped once at sink time from driver-side state (constant
 *    folded by codegen), not re-read per transformer with first().
 *  - Performance knobs the reference parses but ignores are wired:
 *    shufflePartitions → session conf, repartition → df.repartition,
 *    cacheIntermediate → persist.
 */
final class PipelineExecutor(
    sources: Registry[Source] = Registries.sources(),
    transforms: Registry[Transform] = Registries.transforms(),
    sinks: Registry[Sink] = Registries.sinks()) {

  def execute(config: PipelineConfig)(implicit spark: SparkSession): ExecutionMetrics = {
    val runId = UUID.randomUUID().toString
    val ctx = RunContext(spark, config.pipelineId, runId, Some(sources))
    val t0 = System.nanoTime()
    var persisted: List[DataFrame] = Nil
    try PipelineExecutor.withPerformanceConf(config) {
      // sink config errors are cheap driver-side checks — catch them
      // BEFORE buildPlan, whose quality gate runs eager scans and appends
      // quarantine parquet (an invalid sink previously still paid a full
      // source scan and left permanent quarantine side effects)
      val sink = sinks.get(config.sink.sinkType)
      val sinkErrs = sink.validate(config.sink)
      if (sinkErrs.nonEmpty) throw new ConfigException(sinkErrs.mkString("; "))
      val stampLineage = config.sink.options.get("lineage") match {
        case None => false
        case Some(v) if v.equalsIgnoreCase("true") => true
        case Some(v) if v.equalsIgnoreCase("false") => false
        case Some(other) => throw new ConfigException(
          s"sink option lineage must be true|false, got '$other'")
      }

      val plan = buildPlan(config, ctx)
      persisted = plan.persisted
      val planMs = (System.nanoTime() - t0) / 1000000
      val inObs = new Observation(s"graft_in_$runId")
      val outObs = new Observation(s"graft_out_$runId")
      val observed = plan.in.observe(inObs, count(lit(1)).as("rows"))
      val transformed = plan.rest(observed).observe(outObs, count(lit(1)).as("rows"))
      val stamped =
        if (stampLineage)
          Lineage.stamp(transformed, Lineage.forPipeline(config, runId, System.currentTimeMillis()))
        else transformed

      // plan lint (spark.graft.planLint = off | warn | fail, default off):
      // audit the final physical plan for scale anti-patterns before
      // paying for the write. `fail` refuses error-severity findings
      // (cartesian product, global window) — the knob to set on any
      // pipeline that will meet real data volumes.
      spark.conf.get("spark.graft.planLint", "off") match {
        case "off" => ()
        case mode @ ("warn" | "fail") =>
          val findings = graft.plans.PlanLint.audit(stamped)
          if (findings.nonEmpty) {
            val log = new StructuredLogger("PlanLint")
            findings.foreach(f => log.info("plan finding", Map(
              "pipelineId" -> config.pipelineId, "rule" -> f.rule,
              "severity" -> f.severity, "detail" -> f.detail)))
          }
          val bad = findings.filter(_.severity == "error")
          if (mode == "fail" && bad.nonEmpty) throw new GraftException(
            s"plan lint: ${bad.mkString("; ")}")
        case other => throw new ConfigException(
          s"spark.graft.planLint must be off|warn|fail, got '$other'")
      }
      // parsed BEFORE the write: a malformed knob must fail the run while
      // it is still side-effect-free — failing after sink.write() reports
      // FAILURE for a committed write, and an orchestrated retry then
      // double-writes append-mode sinks
      val obsTimeoutMs = {
        val raw = spark.conf.get("spark.graft.observationTimeoutMs", "2000")
        val v = try raw.toLong catch { case _: NumberFormatException =>
          throw new ConfigException(
            s"spark.graft.observationTimeoutMs must be a non-negative " +
              s"integer of milliseconds, got '$raw'") }
        if (v < 0) throw new ConfigException(
          s"spark.graft.observationTimeoutMs must be >= 0, got $v")
        // clamp so the nanos multiply below cannot overflow a huge knob
        // into a negative deadline (= no polling at all)
        math.min(v, Long.MaxValue / 2000000L)
      }
      val tw0 = System.nanoTime()
      val loadResult = sink.write(stamped, config.sink, ctx)
      val writeMs = (System.nanoTime() - tw0) / 1000000

      // plan.in observes the POST-quality frame (the quality gate runs its
      // own actions with early-out limits, which would corrupt a pre-split
      // observation), so raw extracted = observed + rows the gate removed.
      // BOUNDED reads, never Observation.get: a transform chain that
      // REPLACES the source frame with one not derived from it (bpe_vocab
      // reading a store view; any future store-export transform) never
      // executes the observed input plan, so its metrics never arrive and
      // a blocking get deadlocks the pipeline AFTER its write succeeded.
      // The listener is async, so poll briefly (getOrEmpty waits ~100 ms
      // per call) and fall back to the -1 "unobserved" sentinel. The
      // deadline is configurable (`spark.graft.observationTimeoutMs`,
      // default 2000): on a busy driver the QueryExecutionListener can lag
      // past any fixed window AFTER the write committed, and a normal
      // pipeline would then spuriously report extracted=-1 — raise the
      // knob where metrics completeness matters more than a few seconds of
      // post-write latency (the orphaned-plan case still only ever costs
      // ONE timeout per run, on the input observation). The knob itself is
      // parsed before the write (side-effect-free failure), above.
      def observedRows(obs: Observation): Option[Long] = {
        import org.apache.spark.sql.GraftBridge.observationOrEmpty
        // 0 = metrics poll DISABLED (the infinitely-slow-listener limit):
        // even the first getRowOrEmpty call waits ~100 ms, so a literal
        // zero deadline must mean "don't wait at all", not "wait once" —
        // extracted degrades to the honest -1 and loaded to the write
        // count, deterministically
        if (obsTimeoutMs == 0L) return None
        val deadline = System.nanoTime() + obsTimeoutMs * 1000000L
        var m = observationOrEmpty(obs)
        while (m.isEmpty && System.nanoTime() < deadline) m = observationOrEmpty(obs)
        m.get("rows").map(_.toString.toLong)
      }
      val observedIn = observedRows(inObs).getOrElse(-1L)
      val extracted = if (observedIn < 0) -1L else observedIn + math.max(plan.failedRows, 0L)
      val loaded = observedRows(outObs)
        .filter(_ >= 0).orElse(Some(loadResult.recordsWritten)).getOrElse(-1L)
      ExecutionMetrics(config.pipelineId, runId, "SUCCESS",
        extracted, loaded, plan.failedRows, (System.nanoTime() - t0) / 1000000,
        stages = List(
          StageMetric("extract", extracted, math.max(planMs - plan.qualityMs, 0L)),
          StageMetric("quality", plan.failedRows, plan.qualityMs),
          // single-action execution: transforms and the sink write run FUSED
          // in one Spark job, so there is exactly one wall-clock to report.
          // It lives on the fused stage; stage durations sum to ~wall time.
          StageMetric("transform+load", math.max(loadResult.recordsWritten, loaded), writeMs)))
    } catch {
      case e: Throwable =>
        ExecutionMetrics(config.pipelineId, runId, "FAILED", -1, -1, -1,
          (System.nanoTime() - t0) / 1000000, Option(e.getMessage))
    } finally persisted.foreach(_.unpersist())
  }

  /** Library-composition entry (reference §3.3): build the full lazy
    * DataFrame for a pipeline without writing — used by tests, the verify
    * gate, and anyone embedding the engine. `performance.cacheIntermediate`
    * is NOT applied here (only `execute` persists): the caller receives
    * just the frame, so an internal persist would be impossible to
    * unpersist — persist the returned frame yourself if you want caching. */
  def compose(config: PipelineConfig)(implicit spark: SparkSession): DataFrame = {
    val ctx = RunContext(spark, config.pipelineId, "compose", Some(sources),
      sideEffects = false)
    // sideEffects = false: compose (and --dry-run on top of it) promises
    // "nothing written, nothing evaluated" — the quality gate's FRAME
    // shape (quarantined rows filtered out, duplicate extras dropped) is
    // applied lazily so the composed plan matches what execute() feeds
    // the sink, but the fail-check counts and quarantine parquet writes
    // that execute() runs are skipped
    val plan = buildPlan(config, ctx, sideEffects = false)
    plan.rest(plan.in)
  }

  private final case class Plan(in: DataFrame, rest: DataFrame => DataFrame,
                                failedRows: Long, persisted: List[DataFrame],
                                qualityMs: Long)

  /** Compose the lazy plan: read, optional quality gate, transform fold.
    * `sideEffects = false` suppresses every Spark action and write the
    * quality gate would run (fail-check counts, quarantine appends) while
    * keeping its lazy frame shape. */
  private def buildPlan(config: PipelineConfig, ctx: RunContext,
                        sideEffects: Boolean = true)(implicit spark: SparkSession): Plan = {
    val source = sources.get(config.source.sourceType)
    val sErrs = source.validate(config.source)
    if (sErrs.nonEmpty) throw new ConfigException(sErrs.mkString("; "))

    // schemaValidation (real, unlike the reference's always-valid stub at
    // SchemaValidator.scala:106-113): read with the SOURCE's own schema
    // (embedded/inferred — forcing the declared one would make the check
    // vacuous), then diff actual vs declared and fail fast, driver-side,
    // before any compute.
    val validateSchema = config.quality.exists(_.schemaValidation)
    val declared = graft.sources.FileSource.explicitSchema(config.source)
    val srcFmt = config.source.options.getOrElse("format", "parquet").toLowerCase
    // compose/--dry-run promise "nothing evaluated": a csv/json inference
    // read is a full data-scan JOB, so text formats only schema-validate
    // in execute(); self-describing formats (parquet/orc/avro footers)
    // stay driver-side and validate in both paths
    val canValidateHere =
      sideEffects || !Set("csv", "json", "text").contains(srcFmt)
    var df =
      if (validateSchema && declared.isDefined && canValidateHere) {
        // format-aware inference: csv without inferSchema self-describes
        // as all-strings, which would flag every typed column; and text
        // formats cannot prove non-nullability, so that check only
        // applies to self-describing formats (parquet/orc/avro)
        val fmt = srcFmt
        val stripped = config.source.options - "schema"
        val inferOpts =
          if (fmt == "csv" && !stripped.contains("inferSchema"))
            stripped + ("inferSchema" -> "true") else stripped
        val raw = source.read(config.source.copy(
          options = inferOpts, schemaPath = None))
        val issues0 = graft.quality.SchemaValidator.validate(raw.schema, declared.get)
        val issues =
          if (Set("csv", "json", "text").contains(fmt))
            issues0.filterNot(_.issue == "nullable but expected non-nullable")
          else issues0
        if (issues.nonEmpty) throw new GraftException(
          "schema validation failed: " +
            issues.map(i => s"${i.path}: ${i.issue}").mkString("; "))
        // the pipeline still runs on the DECLARED-schema read — the
        // inference read exists only to diff against
        source.read(config.source)
      } else source.read(config.source)

    // quality gate: null checks (fail | quarantine), then duplicate check
    // (fail | quarantine, reference docs/CONFIGURATION.md:463-476).
    // Quarantined rows are counted by an Observation on the quarantine
    // write itself — no separate count() action, no caching of the source.
    var failedRows = 0L
    val tq0 = System.nanoTime()
    config.quality.foreach { q =>
      val quarantinePath =
        q.quarantinePath.getOrElse(s"/tmp/graft-quarantine/${config.pipelineId}")
      val failChecks = q.nullChecks.filter(_.action == NullAction.Fail)
      val quarChecks = q.nullChecks.filter(_.action == NullAction.Quarantine)
      if (failChecks.nonEmpty && sideEffects) {
        val bad = df.filter(!QualityChecker.validPredicate(failChecks)).limit(1).count()
        if (bad > 0) throw new GraftException(
          s"quality gate: null values in fail-action columns ${failChecks.map(_.column).mkString(", ")}")
      }
      if (quarChecks.nonEmpty) {
        val (valid, invalid) = QualityChecker.splitValidInvalid(df, quarChecks)
        if (sideEffects)
          failedRows += QuarantineWriter.writeCounted(
            invalid, quarantinePath, ctx, QuarantineWriter.nullErrorsCol(quarChecks))
        df = valid
      }
      q.duplicateCheck.foreach { dc =>
        val cols = if (dc.columns.nonEmpty) dc.columns else df.columns.toList
        // non-orderable columns (MapType) cannot feed groupBy/partitionBy/
        // orderBy directly — key them by their JSON serialization instead
        // of crashing; same substitution gives the tie-break a TOTAL
        // deterministic order, so the quarantine write and the sink write
        // (two separate actions recomputing this window) cannot disagree
        // on which copy survives
        def keyed(name: String): org.apache.spark.sql.Column =
          graft.config.ExprUtils.orderableOrJson(df.schema, name)
        val keyCols = cols.map(keyed)
        dc.action match {
          case NullAction.Fail =>
            if (sideEffects) {
              val dup = df.groupBy(keyCols: _*).count()
                .filter(col("count") > 1).limit(1).count()
              if (dup > 0) throw new GraftException(
                s"quality gate: duplicate rows on (${cols.mkString(", ")})")
            }
          case NullAction.Quarantine =>
            // keep the first row per key, ties broken by EVERY other
            // column (non-orderable ones via their JSON form) so the
            // survivor is deterministic across runs/retries; extra copies
            // are quarantined. One shuffle on the checked columns.
            val tieBreak = df.schema.fields
              .filter(f => !cols.contains(f.name))
              .map(f => keyed(f.name)).toSeq
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy(keyCols: _*)
              .orderBy(keyCols ++ tieBreak: _*)
            // fixed staging name — a same-named user column would be
            // silently overwritten then dropped (the repo-standard guard)
            graft.config.ExprUtils.requireNoHelperCollision(
              "duplicate quarantine gate", df.columns, "__graft_rn")
            val marked = df.withColumn("__graft_rn", row_number().over(w))
            val dups = marked.filter(col("__graft_rn") > 1).drop("__graft_rn")
            if (sideEffects)
              failedRows += QuarantineWriter.writeCounted(
                dups, quarantinePath, ctx,
                lit(s"duplicate row on (${cols.mkString(", ")})"))
            df = marked.filter(col("__graft_rn") === 1).drop("__graft_rn")
        }
      }
    }

    val qualityMs =
      if (config.quality.isDefined) (System.nanoTime() - tq0) / 1000000 else 0L

    config.performance.flatMap(_.repartition).foreach(n => df = df.repartition(n))
    // persist only under execute(): compose() returns just the frame, so
    // a persist() registered here would be unreachable for the caller to
    // unpersist and leak a CacheManager entry per compose() call
    val persisted =
      if (sideEffects && config.performance.exists(_.cacheIntermediate)) {
        df = df.persist(); List(df)
      } else Nil

    val rest = (observed: DataFrame) =>
      config.transformations.foldLeft(observed) { (d, tc) =>
        val t = transforms.get(tc.transformType)
        val tErrs = t.validate(tc, d.schema)
        if (tErrs.nonEmpty) throw new ConfigException(tErrs.mkString("; "))
        t.apply(d, tc, ctx)
      }
    Plan(df, rest, failedRows, persisted, qualityMs)
  }
}

object PipelineExecutor {
  /** Run `body` with the session confs a config's `performance` block
    * sets (shuffle partitions, checkpoint mode and dir, plan lint), then
    * restore each key's previous value, unset ones included. These are
    * per-PIPELINE settings: without the restore, one pipeline's
    * shufflePartitions, `fail` gate or reliable-checkpoint dir leaked into
    * every later run in a long-lived session (pipeline B silently
    * shuffling at A's 8). `execute`, `--dry-run` and
    * `graft.tools.Profile` share it, so a dry-run or profiled
    * plan is the plan `execute` runs. */
  private[graft] def withPerformanceConf[A](config: PipelineConfig)(body: => A)(
      implicit spark: SparkSession): A = {
    val perf = config.performance
    val settings = Seq(
      "spark.sql.shuffle.partitions" -> perf.flatMap(_.shufflePartitions).map(_.toString),
      Checkpointing.ModeKey -> perf.flatMap(_.checkpoint),
      Checkpointing.DirKey -> perf.flatMap(_.checkpointDir),
      "spark.graft.planLint" -> perf.flatMap(_.planLint))
    val prev = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      settings.foreach { case (k, v) => v.foreach(spark.conf.set(k, _)) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
