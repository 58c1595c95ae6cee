package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.api.{Opt, RunContext, Transform}
import graft.config.TransformConfig

/**
 * Blocklist term filtering — the C4-style "bad words" gate (Raffel et al.
 * 2020, "Exploring the Limits of Transfer Learning with a Unified
 * Text-to-Text Transformer", §2.2 removes any page containing a word from
 * a public blocklist). The list itself is user-supplied config — corpora
 * disagree violently about what belongs on it — the operator is the
 * matching machinery: one compiled alternation regex, counted per
 * document in a single codegen'd projection. Zero shuffle, linear; the
 * pattern is built from the RE2-safe subset (literal alternation, `\b`,
 * `(?i)`) so an external engine replays the exact same decisions.
 */
object Blocklist {

  /** Escape a literal term for use inside a regex alternation. Avoids
    * `Pattern.quote`'s `\Q…\E` (Java-only) so the built pattern stays
    * portable across regex engines. */
  private[operators] def escape(term: String): String =
    term.flatMap {
      case c if "\\.^$|?*+()[]{}".contains(c) => s"\\$c"
      case c => c.toString
    }

  private def isWordChar(c: Char): Boolean = // \w = [A-Za-z0-9_], ASCII
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_'

  /** The alternation pattern for a term list (shared by Spark and any
    * oracle restatement). `wholeWord` anchors each term with `\b` — but
    * only at edges that ARE word characters (`\b` before/after a
    * non-word edge like `)` or `+` can never match, so terms such as
    * `c++` anchor on the left only). `matchCase=false` LOWERCASES the
    * terms — [[hits]] lowercases the text to match — instead of emitting
    * `(?i)`: Java's inline `(?i)` is ASCII-only while RE2's is
    * Unicode-aware, so the same pattern text would make different
    * decisions on non-ASCII terms in the two engines; lower() on both
    * sides folds identically everywhere. */
  def pattern(terms: Seq[String], wholeWord: Boolean, matchCase: Boolean): String = {
    require(terms.nonEmpty, "blocklist: empty term list")
    // Locale.ROOT: default-locale lowercasing would fold 'I' differently
    // under a Turkish JVM locale than Spark's locale-independent lower()
    val folded =
      if (matchCase) terms else terms.map(_.toLowerCase(java.util.Locale.ROOT))
    val alts = folded.map { t =>
      val e = escape(t)
      if (!wholeWord) e
      else (if (isWordChar(t.head)) "\\b" else "") + e +
           (if (isWordChar(t.last)) "\\b" else "")
    }
    s"(?:${alts.mkString("|")})"
  }

  /** Number of blocklist matches in `text` (0 for null text). */
  def hits(text: Column, terms: Seq[String],
           wholeWord: Boolean = true, matchCase: Boolean = false): Column = {
    val subject = if (matchCase) text else lower(text)
    when(text.isNull, lit(0L))
      .otherwise(regexp_count(subject,
        lit(pattern(terms, wholeWord, matchCase))).cast("long"))
  }
}

/**
 * `blocklist` — declarative blocklist gate.
 *
 * {{{
 * - name: badwords
 *   type: blocklist
 *   options: {textColumn: text, terms: "foo, bar baz", mode: filter}
 * }}}
 *
 * `terms` is comma-separated (terms may contain spaces — phrases match as
 * literal sequences). `mode: annotate (default — appends `blocklist_hits`
 * + `blocklist_keep`) | filter` (keeps only hit-free rows);
 * `wholeWord` (true), `matchCase` (false).
 */
object BlocklistTransform extends Transform {
  val transformType = "blocklist"
  private val TextColumn = Opt.column("textColumn").required
  private val Terms = Opt.parsed("terms")(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    .required.nonEmpty
  private val WholeWord = Opt.bool("wholeWord").default(true)
  private val MatchCase = Opt.bool("matchCase").default(false)
  private val Mode = Opt.oneOf("mode", "annotate", "filter").default("annotate")

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val h = Blocklist.hits(col(TextColumn(config)), Terms(config), WholeWord(config),
      MatchCase(config))
    if (Mode(config) == "filter") input.where(h === 0L)
    else input.withColumn("blocklist_hits", h).withColumn("blocklist_keep", h === 0L)
  }
}
