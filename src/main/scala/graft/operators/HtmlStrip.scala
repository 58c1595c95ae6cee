package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.api.{Opt, RunContext, Transform}
import graft.config.TransformConfig

/**
 * html_strip — markup removal for web-corpus ingestion: the step that runs
 * BEFORE the text-quality gates (Gopher word/symbol ratios on raw HTML
 * measure the markup, not the prose). A fixed, documented chain of
 * RE2-safe regexp projections (no backreferences, no lookaround — Java
 * regex and DuckDB/RE2 reproduce it identically), zero shuffle, codegen'd:
 *
 *   1. `<script>…</script>` and `<style>…</style>` blocks removed WHOLE
 *      (their content is code, not prose) — `(?is)`, non-greedy;
 *   2. HTML comments `<!-- … -->` and `<!DOCTYPE …>` removed;
 *   3. block-closing / line-breaking tags (`<br>`, `</p>`, `</div>`,
 *      `</li>`, `</tr>`, `</h1..6>`, `</ul>`, `</ol>`, `</table>`)
 *      become NEWLINES — document structure survives for the line-level
 *      operators (dedup_lines, bullet/ellipsis ratios) instead of the
 *      whole page collapsing into one line;
 *   4. every remaining tag-shaped run `</?letter…>` is stripped — text
 *      that merely contains '<' (`a < b`) is untouched because a tag
 *      must open with a letter or slash-letter;
 *   5. the conservative entity set decodes: `&lt; &gt; &quot; &#39;
 *      &nbsp;` then `&amp;` LAST (so literal `&amp;lt;` renders `&lt;`,
 *      matching a single display pass — never double-decoded).
 *
 * This is honest regexp stripping, not a DOM parser: malformed nesting
 * degrades gracefully (stray tags vanish, text survives), which is the
 * right trade for a 100 TB pass — a real parser is per-row CPU the
 * corpus pays millions of times over, and boilerplate REMOVAL beyond
 * markup is `dedup_lines` / `line_signatures`' job afterwards.
 *
 * Options: `columns` (required, comma list — rewritten in place);
 * `collapseWhitespace` (default false — horizontal runs become one
 * space, 3+ newlines become a paragraph break, per-line trim);
 * `trim` (default false — strip leading/trailing whitespace last).
 *
 * {{{
 * - name: strip
 *   type: html_strip
 *   options: {columns: text, collapseWhitespace: "true", trim: "true"}
 * }}}
 */
object HtmlStripTransform extends Transform {
  val transformType = "html_strip"

  /** The fixed (pattern, replacement) chain — RE2-safe by construction. */
  private[operators] val steps: Seq[(String, String)] = Seq(
    "(?is)<script\\b[^>]*>.*?</script\\s*>" -> "",
    "(?is)<style\\b[^>]*>.*?</style\\s*>" -> "",
    "(?s)<!--.*?-->" -> "",
    "(?i)<!DOCTYPE[^>]*>" -> "",
    "(?i)<(?:br|/p|/div|/li|/tr|/h[1-6]|/ul|/ol|/table)\\b[^>]*/?>" -> "\n",
    "(?s)</?[A-Za-z][^>]*>" -> "",
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&nbsp;" -> " ",
    "&amp;" -> "&")

  private[operators] def strip(c: Column, collapse: Boolean,
                               doTrim: Boolean): Column = {
    val stripped = steps.foldLeft(c) { case (acc, (re, repl)) =>
      regexp_replace(acc, re, repl)
    }
    val collapsed =
      if (!collapse) stripped
      else regexp_replace(regexp_replace(regexp_replace(
        stripped,
        "[ \\t\\x0B\\f\\r]+", " "),   // horizontal runs → one space
        " ?\\n ?", "\n"),             // per-line trim around newlines
        "\\n{3,}", "\n\n")            // 3+ breaks → one paragraph break
    // Spark's trim() strips SPACES only — the flag means "all leading and
    // trailing whitespace", newlines from the block-tag rewrite included
    if (doTrim) regexp_replace(collapsed, "^\\s+|\\s+$", "") else collapsed
  }

  private val Columns = Opt.columns("columns").required.nonEmpty
  private val CollapseWhitespace = Opt.bool("collapseWhitespace").default(false)
  private val Trim = Opt.bool("trim").default(false)

  def apply(input: DataFrame, config: TransformConfig, ctx: RunContext): DataFrame = {
    val (collapse, doTrim) = (CollapseWhitespace(config), Trim(config))
    Columns(config).foldLeft(input) { (df, c) =>
      df.withColumn(c, strip(col(c), collapse, doTrim))
    }
  }
}
