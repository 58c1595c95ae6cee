package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.config.{ExprUtils, SourceConfig, TransformConfig, SinkConfig}

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

/** A registry-dispatched pipeline step. Its whole option surface is
  * declared once, as [[Opt]] vals in its body (`Opt.int("k", min = 1)
  * .default(10)`); constructing one declares it, and it is the only way
  * `apply` reads that option. The declarations drive every check: unknown
  * keys, missing required keys, undecodable, out-of-range and one-of
  * values ([[checkOptions]]), input columns ([[checkColumns]]) and views
  * (`PipelineExecutor.checkSteps`), all before any Spark job. A transform
  * that declares nothing is checked for nothing. */
trait Transform {
  def transformType: String
  /** Compose more plan on top of `input`. MUST NOT trigger an action. */
  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame

  /** The owner every `Opt` built in this transform's body declares itself on. */
  protected implicit final def optOwner: Transform = this

  private val declared = scala.collection.mutable.LinkedHashMap.empty[String, Opt[_]]

  /** A later declaration of the same key (a refined copy) replaces the earlier. */
  private[api] def declare(o: Opt[_]): Unit = declared(o.key) = o

  /** The declared option surface, in declaration order. */
  final def options: Seq[Opt[_]] = declared.values.toSeq

  /** Schema-free checks of `config` against the declarations (error
    * accumulation, not first-error): unknown keys with a nearest-name
    * hint, missing required keys, then every present value's decode,
    * range and one-of check. */
  final def checkOptions(config: TransformConfig): List[String] = {
    val known = options.flatMap(_.keys)
    val unknown =
      if (declared.isEmpty || options.exists(_.kind == Opt.Passthrough)) Nil
      else config.options.keys.toList.sorted.filterNot(known.contains).map(k =>
        s"$transformType transform '${config.name}': unknown option '$k'${Opt.hint(k, known)}")
    val absent = options.filter(o => o.isRequired && !o.isSet(config)).map(_.key)
    unknown ++ absent.headOption.map(_ => missingMessage(config, absent)) ++
      options.flatMap(_.problem(config))
  }

  /** Every column a declared column option names and `schema` lacks,
    * matched case-insensitively like Spark's own column resolution:
    * `<transformType>: <option> '<column>' not found in input schema`. */
  final def checkColumns(config: TransformConfig, schema: StructType): List[String] =
    options.toList.filter(_.kind == Opt.Column).flatMap(_.setting(config))
      .flatMap { case (k, v) => missingColumns(schema, k, ExprUtils.parseColumns(v)) }

  protected final def missingColumns(schema: StructType, option: String,
                                     columns: Seq[String]): List[String] = {
    val present = schema.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    columns.filterNot(c => present(c.toLowerCase(java.util.Locale.ROOT)))
      .map(c => s"$transformType: $option '$c' not found in input schema").toList
  }

  /** Fail-fast check against the schema the step will see: the declared
    * option and column checks. An override that checks more calls
    * `super.validate`. */
  def validate(config: TransformConfig, schema: StructType): List[String] =
    checkOptions(config) ++ checkColumns(config, schema)

  private[api] def missingMessage(config: TransformConfig, keys: Seq[String]): String =
    s"$transformType transform '${config.name}' missing required option(s): ${keys.mkString(", ")}"
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
