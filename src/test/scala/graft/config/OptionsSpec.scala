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
    * a trimmed list element, or inside a local try/catch parser; or one
    * applied to a name bound from an option earlier in the file (see
    * [[OptionBound]]). */
  private val Conversion = """\.(toInt|toLong|toDouble|toBoolean)(Option)?\b""".r
  private val OptionMap = """\b(options|opts)\b""".r
  private val OptionEvidence = Seq(
    OptionMap,
    ("""\b_""" + Conversion.regex).r,
    ("""\.trim""" + Conversion.regex).r,
    """\btry\b""".r)

  /** Names bound from an option value, tracked line by line through a
    * file: a `val` or lambda parameter on a line that reads an option map;
    * the pattern variables of a `case` under a `match` (or `.map {` block)
    * whose scrutinee reads one; and the groups of a regex extractor (a
    * `val` ending in `.r`), which are always strings. A binding lives
    * while later lines are indented deeper than it (a `val`: at least as
    * deep), which approximates its scope. */
  private final class OptionBound {
    private case class Binding(name: String, indent: Int, deeper: Boolean)
    private var live = List.empty[Binding]
    private var regexes = Set.empty[String]
    private var optionBlock = false
    private var pendingRegex: Option[String] = None
    private val Val = """\b(?:val|var) (\w+)\s*=""".r
    private val Lambda = """\b([a-z]\w*)\s*=>""".r
    private val Block = """\bmatch\b|\.\w+\s*\{\s*(\w+\s*=>)?\s*$""".r
    private val Case = """^\s*case (.*?)=>""".r.unanchored
    private val Extractor = """^\s*(\w+)\((.*)\)\s*$""".r
    private val Var = """(?<![.\w"])([a-z]\w*)\b(?!\s*[(.])""".r
    private val Converted = ("""\b([a-z]\w*)""" + Conversion.regex).r

    /** Reads one line of code; true when it converts a bound name. */
    def convertsBound(code: String): Boolean = {
      val indent = code.takeWhile(_ == ' ').length
      live = live.filter(b => if (b.deeper) indent > b.indent else indent >= b.indent)
      pendingRegex.filter(_ => code.trim.endsWith(".r")).foreach(r => regexes += r)
      pendingRegex = None
      Val.findFirstMatchIn(code).foreach { m =>
        if (code.trim.endsWith(".r")) regexes += m.group(1)
        else if (code.trim.endsWith("=")) pendingRegex = Some(m.group(1))
      }
      val readsOption = OptionMap.findFirstIn(code).isDefined
      if (Block.findFirstIn(code).isDefined) optionBlock = readsOption
      val bound =
        (if (readsOption)
          Val.findAllMatchIn(code).map(m => Binding(m.group(1), indent, deeper = false)) ++
            Lambda.findAllMatchIn(code).map(m => Binding(m.group(1), indent, deeper = true))
        else Iterator.empty) ++
          (code match {
            case Case(pattern) => (pattern.trim match {
              case Extractor(re, groups) if regexes(re) => Var.findAllMatchIn(groups)
              case _ if optionBlock => Var.findAllMatchIn(pattern).filter(_.group(1) != "if")
              case _ => Iterator.empty
            }).map(m => Binding(m.group(1), indent, deeper = true))
            case _ => Iterator.empty
          })
      live = live ++ bound
      Converted.findAllMatchIn(code).exists(m => live.exists(_.name == m.group(1)))
    }
  }

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
      bound = new OptionBound
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.split("//", 2)(0)
      if !code.trim.startsWith("*") && !code.trim.startsWith("/*") && code.trim.nonEmpty
      if bound.convertsBound(code) || (Conversion.findFirstIn(code).isDefined &&
        OptionEvidence.exists(_.findFirstIn(code).isDefined))
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

  test("the structural check follows a name bound from an option to a later line") {
    val dir = Paths.get(graft.Scratch.dir("options-scan-bound"))
    Files.write(dir.resolve("Probe.scala"), Seq(
      // a tuple of option reads matched, the bound element converted below
      """    (config.options.get("keep"), config.options.get("splits")) match {""",
      """      case (Some(k), None) =>""",
      """        val keep = k.toInt""",
      """      case _ => 0""",
      """    }""",
      // an Option match whose case converts its variable
      """    config.options.get("topK") match {""",
      """      case Some(k) => ranked.filter(col(alias) <= k.toInt)""",
      """      case None => ranked""",
      """    }""",
      // a lambda parameter over an option, converted lines later
      """    val bucketSpec = config.options.get("buckets").map { n =>""",
      """      val cols = parse(config.options.getOrElse("bucketBy", ""))""",
      """      (n.toInt, cols)""",
      """    }""",
      // a regex group of an option value
      """  private val durationRe =""",
      """    "^(\\d+)\\s*(ms|s)$".r""",
      """  def durationMs(s: String): Long = s.trim match {""",
      """    case durationRe(n, u) => n.toLong""",
      """  }""",
      // out of scope: the same names once their bindings end, and a
      // conversion of a name no option bound
      """  def fine(n: Long, k: Double): Int = n.toInt + k.toInt""").asJava)
    rawOptionParses(dir).map(_.split(":")(1).toInt) shouldBe Seq(3, 7, 12, 17)
  }
}
