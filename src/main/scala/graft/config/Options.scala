package graft.config

import graft.api.ConfigException

/**
 * The one reader that turns an option string into a typed value. Options
 * are a `Map[String, String]` in every config dialect, so each source,
 * transform, sink and YAML block decodes its numbers and flags here, and
 * a bad value fails the same way everywhere:
 *
 *  - `int` / `long`: trimmed, whole number, in range ("50.9" is refused,
 *    not truncated);
 *  - `double`: trimmed, finite (NaN and ±Infinity are refused);
 *  - `bool`: `true` or `false` in any case, nothing else.
 *
 * A refused value throws `ConfigException("<component>: <key> must be an
 * integer|a number|true|false, got '<value>'")`. Range checks stay with
 * the option's owner: a transform declares its ranges with the option
 * ([[graft.api.Opt]]).
 */
object Options {
  def int(component: String, key: String, value: String): Int =
    value.trim.toIntOption.getOrElse(refuse(component, key, "an integer", value))

  def long(component: String, key: String, value: String): Long =
    value.trim.toLongOption.getOrElse(refuse(component, key, "an integer", value))

  def double(component: String, key: String, value: String): Double =
    value.trim.toDoubleOption.filter(java.lang.Double.isFinite)
      .getOrElse(refuse(component, key, "a number", value))

  def bool(component: String, key: String, value: String): Boolean =
    value.trim.toLowerCase(java.util.Locale.ROOT) match {
      case "true"  => true
      case "false" => false
      case _       => refuse(component, key, "true|false", value)
    }

  private def refuse(component: String, key: String, expected: String,
                     value: String): Nothing =
    throw new ConfigException(s"$component: $key must be $expected, got '$value'")
}
