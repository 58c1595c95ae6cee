package graft.runtime

import java.io.{ByteArrayOutputStream, PrintStream}

import graft.SparkTestBase
import graft.dedup.Dedup

class BucketCapObserverSpec extends SparkTestBase {
  import spark.implicits._

  // 6 identical docs: every minhash band bucket holds all 6, so a cap of 2
  // drops EVERY band row — the planted mega-bucket
  private def megaCorpus = (0 until 6)
    .map(i => (i.toLong, "the same boilerplate text repeated across the corpus"))
    .toDF("doc_id", "text")

  test("cap drops are observable via observedMetrics on a planted mega-bucket") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val out = Dedup.minhashNearDups(megaCorpus, "doc_id", "text",
        bands = 4, rowsPerBand = 4, threshold = 0.5, maxBucketSize = 2)
      out.collect() shouldBe empty // every candidate came from an over-cap bucket
      val metrics = out.queryExecution.observedMetrics
        .filter { case (name, _) => name.startsWith("graft.cap.minhash.") }
      metrics should not be empty
      val row = metrics.values.head
      row.getAs[Long]("rows_dropped") shouldBe 24L       // 6 docs × 4 bands
      row.getAs[Double]("pairs_dropped") shouldBe 60.0   // 4 buckets × C(6,2)
      row.getAs[Long]("max_bucket_n") shouldBe 6L
      row.getAs[Long]("cap") shouldBe 2L
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("an uncapped run reports zero drops and full results") {
    val out = Dedup.minhashNearDups(megaCorpus, "doc_id", "text",
      bands = 4, rowsPerBand = 4, threshold = 0.5, maxBucketSize = 1000)
    // collect() (not count()) so THIS df's QueryExecution is the one that
    // ran and carries the observed metrics
    out.collect().length shouldBe 15 // C(6,2) identical pairs all survive
    val row = out.queryExecution.observedMetrics
      .collectFirst { case (n, r) if n.startsWith("graft.cap.minhash.") => r }.get
    row.getAs[Long]("rows_dropped") shouldBe 0L
    row.getAs[Long]("max_bucket_n") shouldBe 6L
  }

  test("an EMPTY observed frame yields zeroed metrics, not nulls — the " +
    "no-new-docs increment must not NPE the listener") {
    val noDocs = megaCorpus.where("doc_id < 0")
    val out = Dedup.minhashNearDups(noDocs, "doc_id", "text",
      bands = 4, rowsPerBand = 4, threshold = 0.5, maxBucketSize = 2)
    out.collect() shouldBe empty
    out.queryExecution.observedMetrics
      .collectFirst { case (n, r) if n.startsWith("graft.cap.minhash.") => r }
      .foreach { row =>
        // AQE may empty-propagate the subtree away (documented caveat);
        // when the metric DOES materialize, every slot must be non-null
        row.getAs[Long]("rows_dropped") shouldBe 0L
        row.getAs[Double]("pairs_dropped") shouldBe 0.0
        row.getAs[Long]("max_bucket_n") shouldBe 0L
        row.getAs[Long]("cap") shouldBe 2L
      }
  }

  test("cross-join candidate paths report the -1 pairs sentinel, not a " +
    "self-join count that overstates the forgone recall") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val inc = (0 until 3)
        .map(i => (i.toLong, "the same boilerplate text repeated across the corpus"))
        .toDF("doc_id", "text")
      val out = Dedup.minhashNearDupsAgainst(inc, megaCorpus,
        "doc_id", "text", "doc_id", "text",
        bands = 4, rowsPerBand = 4, threshold = 0.5, maxBucketSize = 2)
      out.collect() shouldBe empty // both sides' mega-buckets capped
      val rows = out.queryExecution.observedMetrics
        .collect { case (n, r) if n.startsWith("graft.cap.minhash.") => r }
      rows should have size 2 // one cap per side
      rows.foreach { row =>
        row.getAs[Long]("rows_dropped") should be > 0L
        row.getAs[Double]("pairs_dropped") shouldBe -1.0
      }
      // the hamming engine's increment × store join: 6 identical
      // signatures put every chunk bucket of both sides over the cap
      val sigs = (0 until 6).map(i => (i.toLong, 0x0f0f0f0f0f0f0f0fL)).toDF("doc_id", "sig")
      val hits = Dedup.hammingNearDupsAgainstSignatures(sigs.where("doc_id < 3"), sigs,
        maxHamming = 3, maxBucketSize = 2)
      hits.collect() shouldBe empty
      val hamming = hits.queryExecution.observedMetrics
        .collect { case (n, r) if n.startsWith("graft.cap.hamming-") => n -> r }
      hamming.keys.map(_.split('.')(2)).toSet shouldBe Set("hamming-new", "hamming-store")
      hamming.values.foreach { row =>
        row.getAs[Long]("rows_dropped") should be > 0L
        row.getAs[Double]("pairs_dropped") shouldBe -1.0
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("the session listener emits a structured WARN line for non-zero drops") {
    val buf = new ByteArrayOutputStream()
    val prevErr = System.err
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    System.setErr(new PrintStream(buf, true, "UTF-8"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Dedup.minhashNearDups(megaCorpus, "doc_id", "text",
        bands = 4, rowsPerBand = 4, threshold = 0.5, maxBucketSize = 2).collect()
      // QueryExecutionListener fires on the async listener bus
      val deadline = System.nanoTime() + 10_000_000_000L
      var logged = buf.toString("UTF-8")
      while (!logged.contains("bucket cap dropped candidates")
             && System.nanoTime() < deadline) {
        Thread.sleep(100)
        logged = buf.toString("UTF-8")
      }
      logged should include("bucket cap dropped candidates")
      logged should include(""""rows_dropped":"24"""")
      logged should include(""""component":"BucketCap"""")
    } finally {
      System.setErr(prevErr)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }
}
