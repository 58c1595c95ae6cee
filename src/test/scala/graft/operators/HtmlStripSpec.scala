package graft.operators


import graft.SparkTestBase
import graft.api.{ConfigException, RunContext}
import graft.config.TransformConfig

class HtmlStripSpec extends SparkTestBase {
  import spark.implicits._

  private def ctx = RunContext(spark, "t", "r")
  private def t(opts: (String, String)*) =
    TransformConfig("x", "html_strip", opts.toMap)

  private def run(text: String, opts: (String, String)*): String =
    HtmlStripTransform(Seq((1L, text)).toDF("id", "text"),
      t(("columns" -> "text") +: opts: _*), ctx)
      .select("text").as[String].head()

  test("script/style blocks vanish WHOLE; comments and doctype go; tags strip") {
    run("<!DOCTYPE html><html><head><style>p { color: red }</style>" +
      "<script type=\"text/javascript\">var x = 1 < 2;</script></head>" +
      "<body><!-- hidden --><b>bold</b> plain <span class=\"x\">span</span>" +
      "</body></html>") shouldBe "bold plain span"
    // case-insensitive, multi-line content
    run("<SCRIPT>\nif (a>b) {}\n</SCRIPT>keep") shouldBe "keep"
  }

  test("block tags become newlines — structure survives for line-level operators") {
    // </li> and </ul> EACH break a line — the trailing blank collapses
    // under collapseWhitespace, or stays for exact-position consumers
    run("<h1>Title</h1><p>one</p><p>two</p><ul><li>a</li><li>b</li></ul>") shouldBe
      "Title\none\ntwo\na\nb\n\n"
    run("line<br>break<br/>again") shouldBe "line\nbreak\nagain"
  }

  test("entities decode conservatively, &amp; last (no double decode); non-HTML '<' untouched") {
    run("1 &lt; 2 &amp;&amp; 3 &gt; 2, a&nbsp;&quot;b&quot;, it&#39;s") shouldBe
      "1 < 2 && 3 > 2, a \"b\", it's"
    // &amp;lt; is the TEXT "&lt;" after one display pass — never '<'
    run("literal &amp;lt; stays") shouldBe "literal &lt; stays"
    // '<' not followed by a letter or /letter is not a tag
    run("if a < b and c <= d then") shouldBe "if a < b and c <= d then"
  }

  test("collapseWhitespace and trim flags; null text passes through") {
    // one PARAGRAPH break survives the 3+-newline collapse by design
    run("<p>  spaced   out  </p>\n\n\n\n<p>next</p>",
      "collapseWhitespace" -> "true", "trim" -> "true") shouldBe
      "spaced out\n\nnext"
    val out = HtmlStripTransform(
      Seq((1L, null.asInstanceOf[String])).toDF("id", "text"),
      t("columns" -> "text"), ctx).select("text").as[String].collect()
    out.toSeq shouldBe Seq(null)
  }

  test("config guards and plan shape: in-place rewrite, zero shuffle") {
    an[ConfigException] should be thrownBy HtmlStripTransform(
      Seq((1L, "x")).toDF("id", "text"), t("columns" -> "text",
        "collapseWhitespace" -> "yes"), ctx)
    an[ConfigException] should be thrownBy HtmlStripTransform(
      Seq((1L, "x")).toDF("id", "text"), t("columns" -> ""), ctx)
    HtmlStripTransform.validate(t("columns" -> "nope"),
      Seq((1L, "x")).toDF("id", "text").schema) should not be empty
    val dir = tmpDir("htmlplan")
    Seq((1L, "<p>a</p>")).toDF("id", "text").write.mode("overwrite").parquet(dir)
    val plan = HtmlStripTransform(spark.read.parquet(dir),
      t("columns" -> "text"), ctx).queryExecution.executedPlan.toString
    plan should not include "Exchange"
  }
}
