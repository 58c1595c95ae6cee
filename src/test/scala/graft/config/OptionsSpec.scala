package graft.config

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.api.ConfigException

class OptionsSpec extends AnyFunSuite with Matchers {

  private def refused(f: => Any): String = (the[ConfigException] thrownBy f).getMessage

  test("int and long: trimmed whole numbers in range; fractions, words and overflow refused") {
    Options.int("c", "k", " 42 ") shouldBe 42
    Options.int("c", "k", "-7") shouldBe -7
    Options.long("c", "k", "9000000000") shouldBe 9000000000L
    refused(Options.int("topk", "k", "50.9")) shouldBe "topk: k must be an integer, got '50.9'"
    refused(Options.int("c", "k", "ten")) shouldBe "c: k must be an integer, got 'ten'"
    refused(Options.int("c", "k", "3000000000")) shouldBe
      "c: k must be an integer, got '3000000000'"
    refused(Options.long("c", "k", "")) shouldBe "c: k must be an integer, got ''"
  }

  test("double: finite numbers only") {
    Options.double("c", "x", " 1e-4 ") shouldBe 1e-4
    Options.double("c", "x", "3") shouldBe 3.0
    for (v <- Seq("NaN", "Infinity", "-Infinity", "half"))
      refused(Options.double("mix", "temperature", v)) shouldBe
        s"mix: temperature must be a number, got '$v'"
  }

  test("bool: true or false in any case, nothing else") {
    for (v <- Seq("true", "TRUE", " True ")) Options.bool("c", "b", v) shouldBe true
    for (v <- Seq("false", "FALSE", "False")) Options.bool("c", "b", v) shouldBe false
    for (v <- Seq("yes", "1", "t", ""))
      refused(Options.bool("join", "broadcast", v)) shouldBe
        s"join: broadcast must be true|false, got '$v'"
  }

  /** A numeric or boolean conversion on a line that reads it from an
    * option map, from a placeholder over an option value (`_.toInt`), from
    * a trimmed list element, or inside a local try/catch parser. */
  private val Conversion = """\.(toInt|toLong|toDouble|toBoolean)(Option)?\b""".r
  private val OptionEvidence = Seq(
    """\b(options|opts)\b""".r,
    ("""\b_""" + Conversion.regex).r,
    ("""\.trim""" + Conversion.regex).r,
    """\btry\b""".r)

  /** Out of scope: the reader itself; the harness mains (benchmark,
    * verification and profiling tools); and the media decoders under
    * multimodal/, whose string parses read container metadata from the
    * decoded file, not config. */
  private def inScope(rel: String): Boolean =
    !rel.matches("""(Bench\w*|Verify)\.scala|tools/.*|multimodal/.*|config/Options\.scala""")

  private def rawOptionParses(root: Path): Seq[String] = {
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    for {
      f <- files
      rel = root.relativize(f).toString.replace('\\', '/')
      if inScope(rel)
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.split("//", 2)(0)
      if !code.trim.startsWith("*") && !code.trim.startsWith("/*")
      if Conversion.findFirstIn(code).isDefined
      if OptionEvidence.exists(_.findFirstIn(code).isDefined)
    } yield s"src/main/scala/graft/$rel:${i + 1}: ${line.trim}"
  }

  test("every numeric and boolean option value decodes through graft.config.Options") {
    val hits = rawOptionParses(Paths.get("src/main/scala/graft"))
    withClue(hits.mkString("raw option parses outside the reader:\n", "\n", "\n")) {
      hits shouldBe empty
    }
  }

  test("the structural check sees each shape of raw option parse") {
    val dir = Paths.get(graft.Scratch.dir("options-scan"))
    Files.write(dir.resolve("Probe.scala"), Seq(
      """val k = config.options("k").toInt""",
      """val n = cfg.get("n").map(_.toLong)""",
      """val w = w0.trim.toDouble""",
      """val b = try raw.toBoolean catch { case _: Exception => false }""",
      """val fine = total.toDouble / n""",
      """// a comment about options("k").toInt""").asJava)
    rawOptionParses(dir).map(_.split(":")(1).toInt) shouldBe Seq(1, 2, 3, 4)
  }
}
