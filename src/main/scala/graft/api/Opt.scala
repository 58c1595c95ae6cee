package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.config.{ExprUtils, Options, TransformConfig}

/** One declared option of a [[Transform]]: its key and aliases, its kind,
  * its decoder (which holds any range or allowed values), and whether it
  * is required or has a default. Building one in a transform's body
  * declares it on that transform; a refined copy (`.required`,
  * `.default(v)`, `.alias(k)`) replaces the declaration of its key.
  *
  * Reading goes through the declaration, so a read checks the value the
  * same way the pipeline checker does: `apply(config)` is the value or the
  * default, and an absent option without a default fails with the
  * missing-required message; `get(config)` is `None` instead. */
final class Opt[A] private (
    owner: Transform,
    val key: String,
    val kind: Opt.Kind,
    decode: (String, String, String) => A, // (transform type, key, raw) => value
    default: Option[A],
    val isRequired: Boolean,
    val aliases: Seq[String],
    fields: (A, StructType) => A) {

  owner.declare(this)

  /** The key and its aliases, in precedence order. */
  def keys: Seq[String] = key +: aliases

  /** The key the config sets (the first of `keys`) and its raw value. */
  def setting(config: TransformConfig): Option[(String, String)] =
    keys.iterator.flatMap(k => config.options.get(k).map(k -> _)).nextOption()

  def isSet(config: TransformConfig): Boolean = setting(config).isDefined

  def get(config: TransformConfig): Option[A] =
    if (kind == Opt.Passthrough)
      Some((config.options -- owner.options.flatMap(_.keys)).asInstanceOf[A])
    else setting(config).map { case (k, v) => decode(owner.transformType, k, v) }.orElse(default)

  def apply(config: TransformConfig): A =
    get(config).getOrElse(throw new ConfigException(owner.missingMessage(config, Seq(key))))

  /** The value with every column it names resolved to the schema's own
    * field name (matched case-insensitively, as the column check matches). */
  def apply(config: TransformConfig, schema: StructType): A = fields(apply(config), schema)

  /** The registered view or table this option names. */
  def table(config: TransformConfig, spark: SparkSession)(implicit ev: A <:< String): DataFrame =
    Opt.table(owner.transformType, key, ev(apply(config)), spark)

  def tableIfSet(config: TransformConfig, spark: SparkSession)(
      implicit ev: A <:< String): Option[DataFrame] =
    if (isSet(config)) Some(table(config, spark)) else None

  def required: Opt[A] = copy(isRequired = true)
  def default(v: A): Opt[A] = copy(default = Some(v))
  def alias(k: String): Opt[A] = copy(aliases = aliases :+ k)
  /** The same list option, refusing an empty list. */
  def nonEmpty(implicit ev: A <:< Iterable[_]): Opt[A] = map { v =>
    if (ev(v).isEmpty) throw new ConfigException(s"${owner.transformType}: $key is empty")
    v
  }
  /** The same option with its decoded value mapped; a refusal in `f`
    * throws a ConfigException, which the checker reports. */
  def map[B](f: A => B): Opt[B] = new Opt[B](owner, key, kind, (t, k, v) => f(decode(t, k, v)),
    default.map(f), isRequired, aliases, (b, _) => b)

  /** The decode error of the value `config` sets, if any (a parser's
    * `require` counts as one). */
  private[api] def problem(config: TransformConfig): Option[String] =
    try { get(config); None }
    catch { case e @ (_: ConfigException | _: IllegalArgumentException) => Some(e.getMessage) }

  private def copy(default: Option[A] = default, isRequired: Boolean = isRequired,
                   aliases: Seq[String] = aliases): Opt[A] =
    new Opt[A](owner, key, kind, decode, default, isRequired, aliases, fields)
}

object Opt {
  sealed trait Kind
  /** Input column(s) of the step: a comma list, checked against the schema. */
  case object Column extends Kind
  /** A registered view or table the step reads. */
  case object View extends Kind
  /** A view name the step defines for later steps (`register`). */
  case object ViewDef extends Kind
  case object Expression extends Kind
  case object Number extends Kind
  case object Flag extends Kind
  final case class OneOf(values: Seq[String]) extends Kind
  case object Text extends Kind
  /** Every undeclared key, handed on to a source (`register`). */
  case object Passthrough extends Kind

  private def of[A](key: String, kind: Kind, fields: (A, StructType) => A = (a: A, _: StructType) => a)(
      decode: (String, String, String) => A)(implicit owner: Transform): Opt[A] =
    new Opt[A](owner, key, kind, decode, None, false, Nil, fields)

  /** One input column. */
  def column(key: String)(implicit owner: Transform): Opt[String] =
    of[String](key, Column, (c, s) => field(s, c))((_, _, v) => v.trim)
  /** A comma list of input columns. */
  def columns(key: String)(implicit owner: Transform): Opt[List[String]] =
    of[List[String]](key, Column, (cs, s) => cs.map(field(s, _)))(
      (_, _, v) => ExprUtils.parseColumns(v))
  def view(key: String)(implicit owner: Transform): Opt[String] = of(key, View)((_, _, v) => v.trim)
  def viewDef(key: String)(implicit owner: Transform): Opt[String] =
    of(key, ViewDef)((_, _, v) => v.trim)
  def expr(key: String)(implicit owner: Transform): Opt[String] = of(key, Expression)((_, _, v) => v)
  def string(key: String)(implicit owner: Transform): Opt[String] = of(key, Text)((_, _, v) => v)
  def bool(key: String)(implicit owner: Transform): Opt[Boolean] = of(key, Flag)(Options.bool)
  /** A value `f` parses from the raw string (a list, a pattern, …). */
  def parsed[A](key: String)(f: String => A)(implicit owner: Transform): Opt[A] =
    of(key, Text)((_, _, v) => f(v))
  /** Every option the transform does not declare, as a map: the one kind
    * that lets undeclared keys through the checker. */
  def passthrough(implicit owner: Transform): Opt[Map[String, String]] =
    of[Map[String, String]]("*", Passthrough)((_, _, _) => Map.empty)

  /** Numbers within the inclusive bounds `min`/`max`. */
  def int(key: String, min: Double = Double.NegativeInfinity,
          max: Double = Double.PositiveInfinity)(implicit owner: Transform): Opt[Int] =
    bounded(key, min, max)(Options.int)
  def long(key: String, min: Double = Double.NegativeInfinity,
           max: Double = Double.PositiveInfinity)(implicit owner: Transform): Opt[Long] =
    bounded(key, min, max)(Options.long)
  def double(key: String, min: Double = Double.NegativeInfinity,
             max: Double = Double.PositiveInfinity)(implicit owner: Transform): Opt[Double] =
    bounded(key, min, max)(Options.double)

  private def bounded[N](key: String, min: Double, max: Double)(
      parse: (String, String, String) => N)(implicit owner: Transform, num: Numeric[N]): Opt[N] =
    of(key, Number) { (t, k, v) =>
      val n = parse(t, k, v)
      val d = num.toDouble(n)
      def fmt(b: Double) = if (b == math.rint(b)) b.toLong.toString else b.toString
      if (d < min || d > max) throw new ConfigException(s"$t: $k must be " + (
        if (max.isPosInfinity) s">= ${fmt(min)}" else if (min.isNegInfinity) s"<= ${fmt(max)}"
        else s"in [${fmt(min)}, ${fmt(max)}]") + s", got $n")
      n
    }

  /** One of `values`, exactly. */
  def oneOf(key: String, values: String*)(implicit owner: Transform): Opt[String] =
    choice(key, values, _ == _)
  /** One of `values`, matched trimmed and case-insensitively; the value
    * reads back as declared. */
  def oneOfIgnoringCase(key: String, values: String*)(implicit owner: Transform): Opt[String] =
    choice(key, values, (d, v) => d.equalsIgnoreCase(v.trim))

  private def choice(key: String, values: Seq[String], same: (String, String) => Boolean)(
      implicit owner: Transform): Opt[String] =
    of(key, OneOf(values)) { (t, k, v) =>
      values.find(same(_, v)).getOrElse(throw new ConfigException(
        s"$t: $k must be one of ${values.mkString("|")}, got '$v'"))
    }

  /** The view or table named `view`, or a ConfigException saying it is
    * not registered. */
  private[graft] def table(transformType: String, key: String, view: String,
                           spark: SparkSession): DataFrame =
    if (exists(spark, view)) spark.table(view)
    else throw new ConfigException(notRegistered(transformType, key, view))

  private[graft] def exists(spark: SparkSession, view: String): Boolean =
    try spark.catalog.tableExists(view)
    catch { case _: org.apache.spark.sql.AnalysisException => false }

  private[graft] def notRegistered(transformType: String, key: String, view: String): String =
    s"$transformType: $key '$view' is not a registered view/table — define it " +
      "with an earlier register step (or createOrReplaceTempView) first"

  /** ` (did you mean '<k>'?)` for the nearest of `known` within a third of
    * the key's length (at least 2 edits), else the known keys. */
  private[api] def hint(key: String, known: Seq[String]): String = {
    val lev = org.apache.commons.text.similarity.LevenshteinDistance.getDefaultInstance
    known.map(k => k -> lev.apply(key.toLowerCase, k.toLowerCase).intValue)
      .filter(_._2 <= math.max(2, key.length / 3)).sortBy(_._2).headOption
      .fold(s"; known: ${known.mkString(", ")}")(n => s" (did you mean '${n._1}'?)")
  }

  private def field(schema: StructType, name: String): String =
    schema.fieldNames.find(_.equalsIgnoreCase(name)).getOrElse(name)
}
