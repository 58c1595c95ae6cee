package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Every batch parquet read under `src/main/scala` goes through
  * [[FileSource]] (`read`, or `parquet` for a bare path), so every one of
  * them infers its schema from one driver-side footer read. A direct
  * `read.parquet(…)` or `read.format("parquet")` would start a Spark job
  * per read again. Writes and streaming reads (which always declare a
  * schema) are out of scope. */
class OneParquetReaderSpec extends AnyFunSuite with Matchers {

  /** A batch `read`, any chain of option/schema calls, then parquet. */
  private val DirectRead =
    """\bread\s*(?:\.\s*\w+\s*\([^()]*\)\s*)*\.\s*(?:parquet\s*\(|format\s*\(\s*"parquet"\s*\))""".r

  private def directReads(root: Path): Seq[String] =
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
      .flatMap { f =>
        val text = Files.readString(f)
        DirectRead.findAllMatchIn(text).map { m =>
          val line = text.substring(0, m.start).count(_ == '\n') + 1
          s"$f:$line: ${text.linesIterator.drop(line - 1).next().trim}"
        }
      }

  test("every parquet read under src/main/scala goes through FileSource") {
    val hits = directReads(Paths.get("src/main/scala"))
    withClue(hits.mkString("parquet reads outside FileSource:\n", "\n", "\n")) {
      hits shouldBe empty
    }
  }

  test("the structural check sees each shape of direct parquet read") {
    val dir = Paths.get(graft.Scratch.dir("parquet-read-scan"))
    Files.write(dir.resolve("Probe.scala"), Seq(
      """val a = spark.read.parquet(path)""",
      """val b = s.read.option("mergeSchema", "true").parquet(p)""",
      """val c = spark.read.format("parquet").load(p)""",
      """val d = spark.read""",
      """  .parquet(p)""",
      """df.write.parquet(out)""",
      """df.write.format("parquet").save(out)""",
      """val e = spark.readStream.schema(st).parquet(in)""",
      """val f = FileSource.parquet(spark, p)""").asJava)
    directReads(dir).map(_.split(":")(1).toInt) shouldBe Seq(1, 2, 3, 4)
  }
}
