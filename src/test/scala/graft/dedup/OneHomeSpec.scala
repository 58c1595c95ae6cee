package graft.dedup

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Each step the dedup families share has one home: the capped-block step
  * (`BucketCapObserver.cappedBlocks`, the only caller of `observeCap`)
  * and the bloom-probe builder (`Dedup.bloomProbe`, the only place that
  * builds a `BloomFilterMightContain`). A copy of either step elsewhere
  * under `src/main/scala` fails here, naming `file:line`. */
class OneHomeSpec extends AnyFunSuite with Matchers {

  /** (call shape, home file name, the defs in it that may make the call). */
  private val homes = Seq(
    ("""\bobserveCap\s*\(""".r, "BucketCapObserver.scala", Set("cappedBlocks", "observeCap")),
    ("""\bBloomFilterMightContain\s*\(""".r, "Dedup.scala", Set("bloomProbe")))

  private val Def = """^(\s*)(?:(?:private|protected|final|override)(?:\[\w+\])?\s+)*def\s+(\w+)""".r

  /** The innermost `def` enclosing line `i` (by indentation), if any. */
  private def enclosingDef(lines: IndexedSeq[String], i: Int): Option[String] = {
    val indent = lines(i).takeWhile(_ == ' ').length
    (i to 0 by -1).iterator.flatMap(j => Def.findPrefixMatchOf(lines(j))
      .filter(m => m.group(1).length < indent || j == i).map(_.group(2))).nextOption()
  }

  private def strays(root: Path): Seq[String] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
      .flatMap { f =>
        val lines = Files.readAllLines(f).asScala.toIndexedSeq
        lines.indices.flatMap { i =>
          val code = lines(i).trim
          val comment = code.startsWith("*") || code.startsWith("//") || code.startsWith("/*")
          homes.collect { case (call, home, defs) if !comment &&
              call.findFirstIn(lines(i)).isDefined &&
              !(f.getFileName.toString == home && enclosingDef(lines, i).exists(defs)) =>
            s"$f:${i + 1}: $code"
          }
        }
      }

  test("the capped-block step and the bloom probe each have one home under src/main/scala") {
    val hits = strays(Paths.get("src/main/scala"))
    withClue(hits.mkString("copies outside the shared helper:\n", "\n", "\n")) {
      hits shouldBe empty
    }
  }

  test("the structural check sees each shape of a copied step") {
    val dir = Paths.get(graft.Scratch.dir("one-home-scan"))
    Files.write(dir.resolve("Probe.scala"), Seq(
      """object Probe {""",
      """  def capped(df: DataFrame) = graft.runtime.BucketCapObserver.observeCap(""",
      """    df, "op", "bucket_n", 10, selfPairs = false)""",
      """  def probe(b: Expression, h: Expression) =""",
      """    org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(b, h)""",
      """  // observeCap(df) in a comment is not a copy""",
      """  def bloomProbe(b: Expression, h: Expression) = BloomFilterMightContain (b, h)""",
      """}""").asJava)
    // a home file: only its named defs may make the call
    Files.write(dir.resolve("BucketCapObserver.scala"), Seq(
      """object BucketCapObserver {""",
      """  def cappedBlocks(df: DataFrame) =""",
      """    observeCap(df, "op", "n", 1, true)""",
      """  private def observeCap(df: DataFrame, op: String, c: String, cap: Int,""",
      """                         selfPairs: Boolean) = df""",
      """  def other(df: DataFrame) = observeCap(df, "op", "n", 1, true)""",
      """}""").asJava)
    strays(dir).map(h => h.split(":").take(2).mkString(":").split("/").last) shouldBe
      Seq("BucketCapObserver.scala:6", "Probe.scala:2", "Probe.scala:5", "Probe.scala:7")
  }
}
