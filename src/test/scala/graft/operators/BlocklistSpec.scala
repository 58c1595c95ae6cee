package graft.operators


import graft.SparkTestBase
import graft.api.{ConfigException, RunContext}
import graft.config.TransformConfig

class BlocklistSpec extends SparkTestBase {
  import spark.implicits._

  private val ctx = RunContext(spark, "t", "r")
  private def run(opts: (String, String)*)(rows: (Long, String)*) =
    BlocklistTransform(rows.toDF("id", "text"),
      TransformConfig("b", "blocklist", opts.toMap), ctx)

  test("phrase terms, case-insensitive, word boundaries") {
    val out = run("textColumn" -> "text", "terms" -> "forbidden widget, spamword")(
      (1L, "a FORBIDDEN Widget appears"),
      (2L, "spamword then spamword again"),
      (3L, "unspamworded and spamwordy are fine"),
      (4L, "clean text"),
      (5L, null)).select("id", "blocklist_hits", "blocklist_keep")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    out shouldBe Array((1L, 1L, false), (2L, 2L, false),
      (3L, 0L, true), (4L, 0L, true), (5L, 0L, true))
  }

  test("matchCase and substring (wholeWord=false) modes") {
    val rows = Seq((1L, "Bad bad"), (2L, "embadded"))
    run("textColumn" -> "text", "terms" -> "bad", "matchCase" -> "true")(rows: _*)
      .select("blocklist_hits").as[Long].collect().sorted shouldBe Array(0L, 1L)
    run("textColumn" -> "text", "terms" -> "bad", "wholeWord" -> "false")(rows: _*)
      .select("blocklist_hits").as[Long].collect().sorted shouldBe Array(1L, 2L)
  }

  test("case folding is Unicode-correct (lower() on both sides, not Java's " +
    "ASCII-only inline (?i)) and the pattern carries no engine-varying flag") {
    run("textColumn" -> "text", "terms" -> "müll")(
      (1L, "the MÜLL bin"), (2L, "the müll bin"), (3L, "the mull bin"))
      .select("id", "blocklist_hits").as[(Long, Long)].collect().sortBy(_._1)
      .map(_._2) shouldBe Array(1L, 1L, 0L)
    Blocklist.pattern(Seq("müll"), wholeWord = true, matchCase = false) should
      not include "(?i)"
  }

  test("regex metacharacters in terms match literally") {
    run("textColumn" -> "text", "terms" -> "c++ (lang)")(
      (1L, "I know c++ (lang) well"), (2L, "cxx lang"))
      .select("blocklist_hits").as[Long].collect().sorted shouldBe Array(0L, 1L)
  }

  test("filter mode keeps hit-free rows; zero-shuffle plan; bad config fails") {
    val out = run("textColumn" -> "text", "terms" -> "bad", "mode" -> "filter")(
      (1L, "bad row"), (2L, "good row"))
    out.select("id").as[Long].collect() shouldBe Array(2L)
    out.queryExecution.executedPlan.toString should not include "Exchange"
    an[ConfigException] should be thrownBy
      run("textColumn" -> "text", "terms" -> " , ")((1L, "x"))
    an[ConfigException] should be thrownBy
      run("textColumn" -> "text", "terms" -> "x", "mode" -> "purge")((1L, "x"))
    BlocklistTransform.validate(TransformConfig("b", "blocklist",
      Map("textColumn" -> "nope")), Seq((1L, "x")).toDF("id", "text").schema) should not be empty
  }
}
