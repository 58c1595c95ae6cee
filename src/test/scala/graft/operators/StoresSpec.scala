package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.ann.Ann
import graft.api.{ConfigException, RunContext}
import graft.config.TransformConfig
import graft.dedup.{Dedup, LineDedup, SpanDedup}
import graft.multimodal.Multimodal
import graft.text.{Bpe, ChargramLm}

/** The persisted-store contract, family by family: every one of the
  * eleven loaders rejects a dropped stamp column, a null stamp, two
  * differently-stamped builds appended together, and a caller mismatch
  * with the guided ConfigException, and loads a valid persisted store in
  * no more Spark jobs than its hand-written predecessor did. */
class StoresSpec extends SparkTestBase {
  import spark.implicits._

  private val corpus = (0 until 40).map { i =>
    (i.toLong, Array.tabulate(8)(j =>
      (math.sin(i * 7.0 + j * 3.0) + (if (j == i % 8) 1.0 else 0.0)).toFloat))
  }.toDF("vec_id", "embedding")
  private val queries = corpus.where("vec_id IN (0, 1)")
    .select(col("vec_id").as("query_id"), col("embedding"))
  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog\nshared footer line"),
    (2L, "a stitch in time saves nine stitches today\nshared footer line"),
    (3L, "low low lower newest newest widest widest")).toDF("doc_id", "text")
  private val inc = Seq(
    (10L, "the quick brown fox jumps over the lazy cat\nshared footer line"),
    (11L, "something else entirely")).toDF("doc_id", "text")
  private lazy val cbs = Ann.pqCodebooks(corpus, "vec_id", "embedding",
    m = 2, k = 4, kmeansIters = 1)
  private lazy val retrained = Ann.pqCodebooks(corpus.where("vec_id >= 10"),
    "vec_id", "embedding", m = 2, k = 4, kmeansIters = 1)
  private def ivfStore(c: DataFrame) = Ann.ivfPqStoreFrame(c, "vec_id",
    "embedding", nLists = 4, m = 2, nCentroids = 4, kmeansIters = 1)
  private lazy val quantizer = Ann.loadIvfPqStore(ivfStore(corpus))
  private lazy val requantized = Ann.loadIvfPqStore(ivfStore(corpus.where("vec_id >= 10")))
  private def media: DataFrame = {
    val png = udf((id: Long) => Multimodal.syntheticImagePng(id % 5, 24, 24))
    MediaSignaturesTransform((0L until 3L).toDF("doc_id")
        .select(col("doc_id"), png(col("doc_id")).as("bytes")),
      TransformConfig("s", "media_signatures", Map("idColumn" -> "doc_id",
        "bytesColumn" -> "bytes", "modality" -> "image")),
      RunContext(spark, "t", "r"))
  }

  /** One family: how to build a store, load it as a caller would, load it
    * with a parameter the store was not built with, the stamp column the
    * failure inputs corrupt (with a second valid value for it), and the
    * most Spark jobs a valid load may start — what the family's loader
    * started before the shared checker replaced it. */
  private case class Fam(name: String, build: () => DataFrame,
                         load: DataFrame => Any, mismatch: DataFrame => Any,
                         stamp: String, other: Any, maxJobs: Int)

  private val fams = Seq(
    Fam("minhash signatures", () => Dedup.minhashSignatures(docs, "doc_id",
        "text", bands = 8, rowsPerBand = 4),
      s => Dedup.minhashNearDupsAgainstSignatures(inc, s, "doc_id", "text",
        bands = 8, rowsPerBand = 4),
      s => Dedup.minhashNearDupsAgainstSignatures(inc, s, "doc_id", "text",
        bands = 16, rowsPerBand = 4),
      "mh_bands", 16, maxJobs = 2),
    Fam("line signatures", () => LineDedup.lineSignatures(docs, "text"),
      s => LineDedup.dedupLinesAgainstSignatures(inc, "doc_id", "text", s),
      s => LineDedup.dedupLinesAgainstSignatures(inc, "doc_id", "text", s,
        minLength = 5),
      "ld_min_length", 7, maxJobs = 2),
    Fam("gram signatures", () => SpanDedup.gramSignatures(docs, "text", n = 4),
      s => SpanDedup.referenceSpans(inc, "doc_id", "text",
        SpanDedup.storeHashes(s, n = 4), n = 4),
      s => SpanDedup.referenceSpans(inc, "doc_id", "text",
        SpanDedup.storeHashes(s, n = 5), n = 5),
      "sg_n", 5, maxJobs = 2),
    Fam("codebook", () => Ann.codebookFrame(corpus, "vec_id", "embedding",
        nLists = 4, kmeansIters = 1),
      s => Ann.loadCodebook(s),
      s => Ann.loadCodebook(s, wantNLists = Some(7)),
      "cb_n_lists", 7, maxJobs = 7),
    Fam("pq codebook", () => Ann.pqCodebookFrame(corpus, "vec_id", "embedding",
        m = 2, k = 4, kmeansIters = 1),
      s => Ann.loadPqCodebooks(s),
      s => Ann.loadPqCodebooks(s, wantK = Some(9)),
      "pq_k", 9, maxJobs = 1),
    Fam("pq codes", () => Ann.pqCodesFrame(corpus, "vec_id", "embedding", cbs),
      s => Ann.pqTopK(corpus, queries, "vec_id", "embedding", "query_id", 2,
        codebooks = Some(cbs), codesStore = Some(s)),
      s => Ann.pqTopK(corpus, queries, "vec_id", "embedding", "query_id", 2,
        codebooks = Some(retrained), codesStore = Some(s)),
      "pq_codes_m", 3, maxJobs = 2),
    Fam("ivfpq store", () => ivfStore(corpus),
      s => Ann.loadIvfPqStore(s),
      s => Ann.loadIvfPqStore(s, wantK = Some(9)),
      "ivfpq_k", 9, maxJobs = 1),
    Fam("ivfpq codes", () => Ann.ivfPqCodesFrame(corpus, "vec_id", "embedding",
        quantizer._1, quantizer._2),
      s => Ann.ivfPqTopK(corpus, queries, "vec_id", "embedding", "query_id", 2,
        nProbe = 2, store = Some(quantizer), codesStore = Some(s)),
      s => Ann.ivfPqTopK(corpus, queries, "vec_id", "embedding", "query_id", 2,
        nProbe = 2, store = Some(requantized), codesStore = Some(s)),
      "ivfpq_codes_m", 3, maxJobs = 2),
    Fam("bpe merges", () => Bpe.mergesFrame(docs, "text", numMerges = 6,
        maxWords = 100),
      s => Bpe.load(s),
      s => Bpe.load(s, wantNumMerges = Some(99)),
      "bpe_num_merges", 3, maxJobs = 5),
    Fam("chargram_lm", () => ChargramLm.modelFrame(
        docs.withColumn("label", when(col("doc_id") === 2L, "b").otherwise("a")),
        "label", "text", n = 2),
      s => ChargramLm.load(s),
      s => ChargramLm.load(s, wantN = Some(3)),
      "clm_n", 3, maxJobs = 5),
    Fam("media signatures", () => media,
      s => Multimodal.loadMediaSignatures(s, "image"),
      s => Multimodal.loadMediaSignatures(s, "audio"),
      "ms_version", 2, maxJobs = 2))

  /** Each family's store, built once and read back from parquet — the
    * shape a consuming run sees. */
  private lazy val persisted: Map[String, DataFrame] = fams.map { f =>
    val dir = tmpDir("stores-" + f.name.replace(' ', '-'))
    f.build().write.mode("overwrite").parquet(dir)
    f.name -> spark.read.parquet(dir)
  }.toMap

  private def jobs(body: => Any): Int = {
    val j0 = org.apache.spark.scheduler.JobCount.started(spark.sparkContext)
    body
    org.apache.spark.scheduler.JobCount.started(spark.sparkContext) - j0
  }

  fams.foreach { f =>
    test(s"${f.name}: a valid persisted store loads within ${f.maxJobs} " +
      "Spark job(s); every malformed input fails with the guided error") {
      val store = persisted(f.name)
      val n = jobs(f.load(store))
      info(s"a valid load started $n Spark job(s)")
      n should be <= f.maxJobs
      val tpe = store.schema(f.stamp).dataType
      val bad = Seq[(String, () => Any)](
        "dropped stamp" -> (() => f.load(store.drop(f.stamp))),
        "null stamp" -> (() => f.load(store.withColumn(f.stamp, lit(null).cast(tpe)))),
        "mixed builds" -> (() => f.load(store.unionByName(
          store.withColumn(f.stamp, lit(f.other).cast(tpe))))),
        "caller mismatch" -> (() => f.mismatch(store)))
      // every input is tried, so a failure report names all that slipped
      val wrong = bad.flatMap { case (what, load) =>
        try { load(); Some(s"$what: loaded") }
        catch {
          case _: ConfigException => None
          case e: Exception => Some(s"$what: ${e.getClass.getName}: " +
            String.valueOf(e.getMessage).take(120))
        }
      }
      wrong shouldBe empty
    }
  }

  test("a null vector element or a null vector in a PQ or IVFADC store " +
    "fails the load with the guided error, never reads as 0.0") {
    def corrupt(s: DataFrame, at: Column, vec: Column) =
      s.withColumn("vec", when(at, vec).otherwise(col("vec")))
    val nullElem = transform(col("vec"),
      (x, i) => when(i === 0, lit(null).cast("float")).otherwise(x))
    val nullVec = lit(null).cast("array<float>")
    val pq = persisted("pq codebook")
    val ivf = persisted("ivfpq store")
    val pqCell = col("subspace") === 1 && col("list_id") === 2
    Seq(nullElem, nullVec).foreach { v =>
      (the[ConfigException] thrownBy Ann.loadPqCodebooks(corrupt(pq, pqCell, v)))
        .getMessage should include ("null vector")
      (the[ConfigException] thrownBy Ann.loadIvfPqStore(corrupt(ivf,
        col("part") === "ivf" && col("list_id") === 1, v)))
        .getMessage should include ("null vector")
      (the[ConfigException] thrownBy Ann.loadIvfPqStore(corrupt(ivf,
        col("part") === "pq" && pqCell, v)))
        .getMessage should include ("null vector")
    }
  }

  test("an empty line-signature store drops nothing, like the other " +
    "signature stores, because line_signatures builds one from an empty corpus") {
    val empty = LineDedup.lineSignatures(docs.where("doc_id < 0"), "text")
    empty.count() shouldBe 0L
    LineDedup.dedupLinesAgainstSignatures(inc, "doc_id", "text", empty)
      .as[(Long, String)].collect().toMap shouldBe
      inc.as[(Long, String)].collect().toMap
  }

  test("docs/STORES.md's family table names exactly the stamps each " +
    "store definition carries") {
    val src = scala.io.Source.fromFile("docs/STORES.md", "UTF-8")
    val lines = try src.getLines().toVector finally src.close()
    val table = lines.dropWhile(_ != "## The families")
      .dropWhile(!_.startsWith("|")).takeWhile(_.startsWith("|")).drop(2)
    val tick = "`([a-z0-9_]+)`".r
    val documented = table.map { row =>
      val cells = row.split('|').map(_.trim)
      val transform = "\\(`([a-z_]+)`".r.findFirstMatchIn(cells(1)).map(_.group(1))
      transform.get -> tick.findAllMatchIn(cells(3)).map(_.group(1)).toSet
    }.toMap
    Stores.families.foreach { f =>
      withClue(s"${f.transform}: ") {
        documented.get(f.transform) shouldBe Some(f.stamps.map(_.column).toSet)
      }
    }
    // a row without a store definition documents no stamps
    (documented -- Stores.families.map(_.transform)).values
      .foreach(_ shouldBe empty)
  }
}
