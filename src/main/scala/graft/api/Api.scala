package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.config.{ExprUtils, Options, SourceConfig, TransformConfig, SinkConfig}

/**
 * Component contracts — the Spark-first restatement of the reference's
 * DataExtractor / DataTransformer / DataLoader traits
 * (core/DataExtractor.scala:27, core/DataTransformer.scala:36-41,
 * core/DataLoader.scala:28-33). Everything consumes/produces a lazy
 * DataFrame; no action is ever triggered inside a component — the executor
 * decides when to materialize (via the write itself + observe()), so a
 * pipeline is exactly one Catalyst plan end to end.
 */
final case class RunContext(
    spark: SparkSession,
    pipelineId: String,
    runId: String,
    /** The executor's source registry, so transforms that read secondary
      * sources (register) see user-registered source types; None falls back
      * to the built-in registry. */
    sources: Option[Registry[Source]] = None,
    /** False when the run promises "nothing written, nothing evaluated"
      * (compose / --dry-run): the executor's quality gate skips its counts
      * and quarantine writes, and transforms with optional eager behavior
      * (e.g. materialize's eager checkpoint) stay lazy. The one carrier of
      * that promise — test it, never the runId string. */
    sideEffects: Boolean = true)

final case class ValidationError(component: String, message: String)

class GraftException(msg: String, cause: Throwable = null) extends RuntimeException(msg, cause)
class ConfigException(msg: String) extends GraftException(msg)
class TransformException(msg: String, cause: Throwable = null) extends GraftException(msg, cause)
class ExtractException(msg: String, cause: Throwable = null) extends GraftException(msg, cause)
class LoadException(msg: String, cause: Throwable = null) extends GraftException(msg, cause)

trait Source {
  def sourceType: String
  /** Build a lazy DataFrame. MUST NOT trigger an action. */
  def read(config: SourceConfig)(implicit spark: SparkSession): DataFrame
  /** Fail-fast config validation (error accumulation, not first-error). */
  def validate(config: SourceConfig): List[String] = Nil
}

/** A registry-dispatched pipeline step. Its options arrive as strings:
  * read a numeric or boolean one with `intOption`/`longOption`/
  * `doubleOption`/`boolOption`, which decode through
  * [[graft.config.Options]], and range-check the typed value here. The
  * options that name input columns are declared once in `columnOptions`,
  * and the default `validate` checks them against the input schema
  * before any job runs. */
trait Transform {
  def transformType: String
  /** Compose more plan on top of `input`. MUST NOT trigger an action. */
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame

  /** The options whose value `apply` resolves as plain input column names:
    * a comma list read through [[graft.config.ExprUtils.parseColumns]], so
    * a single name is a one-element list. Expressions, output names and
    * another view's columns are never declared here. */
  def columnOptions: Seq[String] = Nil

  /** Fail-fast check against the schema the step will see (error
    * accumulation, not first-error). The default reports every column a
    * declared column option names and the schema lacks; an override that
    * checks more calls `super.validate`. */
  def validate(config: TransformConfig, schema: StructType): List[String] =
    columnOptions.toList.flatMap(o =>
      missingColumns(schema, o, config.options.get(o).toList.flatMap(ExprUtils.parseColumns)))

  /** One error per entry of `columns` absent from `schema`, matched
    * case-insensitively like Spark's own column resolution:
    * `<transformType>: <option> '<column>' not found in input schema`. */
  protected def missingColumns(schema: StructType, option: String,
                               columns: Seq[String]): List[String] = {
    val present = schema.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    columns.filterNot(c => present(c.toLowerCase(java.util.Locale.ROOT)))
      .map(c => s"$transformType: $option '$c' not found in input schema").toList
  }

  protected def required(config: TransformConfig, keys: String*): Unit = {
    val absent = keys.filterNot(config.options.contains)
    if (absent.nonEmpty) missing(config, absent: _*)
  }

  /** Fails like [[required]]: the default of a required typed option,
    * as in `intOption(config, "k", missing(config, "k"))`. */
  protected def missing(config: TransformConfig, keys: String*): Nothing =
    throw new ConfigException(
      s"${transformType} transform '${config.name}' missing required option(s): ${keys.mkString(", ")}")

  /** Typed option readers: each decodes through [[graft.config.Options]],
    * so `k: "lots"` fails as a ConfigException naming this transform and
    * the option, never as a bare NumberFormatException from inside the
    * operator. Without a default the result is None when the option is
    * absent. */
  protected def intOption(config: TransformConfig, key: String): Option[Int] =
    config.options.get(key).map(Options.int(transformType, key, _))
  protected def intOption(config: TransformConfig, key: String, default: => Int): Int =
    intOption(config, key).getOrElse(default)
  protected def longOption(config: TransformConfig, key: String): Option[Long] =
    config.options.get(key).map(Options.long(transformType, key, _))
  protected def longOption(config: TransformConfig, key: String, default: => Long): Long =
    longOption(config, key).getOrElse(default)
  protected def doubleOption(config: TransformConfig, key: String): Option[Double] =
    config.options.get(key).map(Options.double(transformType, key, _))
  protected def doubleOption(config: TransformConfig, key: String, default: => Double): Double =
    doubleOption(config, key).getOrElse(default)
  protected def boolOption(config: TransformConfig, key: String, default: Boolean): Boolean =
    config.options.get(key).fold(default)(Options.bool(transformType, key, _))
}

final case class LoadResult(
    recordsWritten: Long,
    recordsFailed: Long = 0L,
    success: Boolean = true,
    errorMessage: Option[String] = None)

trait Sink {
  def sinkType: String
  /** Write `data`. The single action of a batch pipeline happens here; row
    * counts come from the write via `Observation`, never an extra count(). */
  def write(data: DataFrame, config: SinkConfig, ctx: RunContext): LoadResult
  def validate(config: SinkConfig): List[String] = Nil
}

/** Type-string → implementation registry (reference: pipeline/~Registry.scala),
  * with user extensibility via register(). */
final class Registry[T](kind: String, builtin: Map[String, T]) {
  @volatile private var entries: Map[String, T] = builtin
  def get(t: String): T = entries.getOrElse(
    t, throw new ConfigException(
      s"unknown $kind type '$t'; known: ${entries.keys.toList.sorted.mkString(", ")}"))
  def register(t: String, impl: T): Unit = synchronized { entries = entries + (t -> impl) }
  def list: List[String] = entries.keys.toList.sorted
}
