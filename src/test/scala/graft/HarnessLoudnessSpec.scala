package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Round-7 lesson: a broken driver query must produce a LOUD artifact, not a
  * hole. These specs inject a deliberately-throwing query and assert both
  * harness mains surface it. */
class HarnessLoudnessSpec extends SparkTestBase {
  private val good: (SparkSession, String) => DataFrame =
    (s, _) => s.range(3).toDF("id")
  private val bad: (SparkSession, String) => DataFrame =
    (_, _) => throw new RuntimeException("injected failure")

  test("Verify writes a _failed.json manifest naming the broken query") {
    val out = tmpDir("verifyloud")
    val failures = Verify.run(spark,
      Map("good_q" -> good, "bad_q" -> bad),
      Map("good_q" -> "SELECT 1"), "unused", out)
    failures.keySet shouldBe Set("bad_q")
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/_failed.json"))
    manifest should include("bad_q")
    manifest should include("injected failure")
    assert(new java.io.File(s"$out/good_q").exists(),
      "good query output must still be written")
    assert(new java.io.File(s"$out/oracle_sql.json").exists())
  }

  test("Verify deletes a failed query's STALE parquet from a previous run " +
    "instead of leaving green-looking output next to its _failed entry") {
    val out = tmpDir("verifystale")
    // run 1: the query succeeds and writes parquet
    Verify.run(spark, Map("flip_q" -> good), Map.empty, "unused", out)
    assert(new java.io.File(s"$out/flip_q").exists())
    // run 2 into the SAME dir: the query now throws — stale output must go
    Verify.run(spark, Map("flip_q" -> bad), Map.empty, "unused", out)
    assert(!new java.io.File(s"$out/flip_q").exists(),
      "stale parquet must not survive next to a _failed.json entry")
    java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/_failed.json")) should include("flip_q")
  }

  test("Bench JSON escapes sfDir and query names (a backslash or quote " +
    "would invalidate every redundant report channel at once)") {
    val (big, compact) = Bench.render(
      List("good_q" -> List(0.5)), """C:\data\sf"0.1""", 0.0)
    for (line <- Seq(big, compact)) {
      val parsed = com.fasterxml.jackson.databind.json.JsonMapper.builder()
        .build().readTree(line)
      parsed.get("sf").asText() shouldBe """C:\data\sf"0.1"""
    }
  }

  test("Verify writes an empty manifest when every query runs") {
    val out = tmpDir("verifyclean")
    val failures = Verify.run(spark, Map("good_q" -> good), Map.empty, "unused", out)
    failures shouldBe empty
    java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/_failed.json")).trim shouldBe "{}"
  }

  test("Bench scores a throwing query -1, excludes it from total, lists it, " +
    "and records EVERY pass time for the rest") {
    val results = Bench.measure(spark, Map("good_q" -> good, "bad_q" -> bad),
      "unused", runs = 2)
    val byName = results.toMap
    byName("bad_q") shouldBe Nil                  // failure sentinel
    byName("good_q") should have size 2           // one entry per timed pass
    all(byName("good_q")) should be >= 0.0
    val (big, compact) = Bench.render(results, "sfX", 0.0)
    big should include(""""bad_q":-1.0000""")
    big should include(""""failed":["bad_q"]""")
    // per-pass array visible in the report: "good_q":[a,b] inside "passes"
    big should include regex """"passes":\{"bad_q":\[\],"good_q":\[[0-9.]+,[0-9.]+\]\}"""
    compact should include(""""n_failed":1""")
    compact should include(""""n_queries":1""")
    // total must equal the good query's best time alone (never polluted by -1)
    val total = """"value":([0-9.]+)""".r.findFirstMatchIn(compact).get.group(1).toDouble
    total shouldBe byName("good_q").min +- 1e-4   // render rounds to 4 decimals
  }

  test("Bench with no failures emits an empty failed list; queries carry " +
    "the per-query min of the passes") {
    val (big, compact) = Bench.render(List("good_q" -> List(0.7, 0.5)), "sfX", 0.0)
    big should include(""""failed":[]""")
    big should include(""""good_q":0.5000""")
    big should include(""""passes":{"good_q":[0.7000,0.5000]}""")
    compact should include(""""n_failed":0""")
  }

  test("Bench reports stamp the 1-minute load average in both JSON lines " +
    "(shared-box contention must be readable from the artifact)") {
    val (big, compact) = Bench.render(List("good_q" -> List(0.5)), "sfX", Bench.loadAvg())
    val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
    for (line <- Seq(big, compact)) {
      val load = mapper.readTree(line).get("load_avg_1m")
      assert(load != null && load.isNumber,
        s"load_avg_1m missing or non-numeric in: $line")
      // a real load average is >= 0; -1 is the documented can't-read sentinel
      load.asDouble() should be >= -1.0
    }
    // the stamp is the PRE-RUN sample passed in by main, not a fresh read
    // at render time (which would mostly measure the bench's own threads)
    val (big2, _) = Bench.render(List("good_q" -> List(0.5)), "sfX", 2.25)
    big2 should include(""""load_avg_1m":2.2500""")
  }

  test("Bench marks the report contended above the load threshold, in both " +
    "JSON lines (a noisy artifact must be self-describing, not judgeable " +
    "as a regression)") {
    val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
    val quiet = Bench.render(List("good_q" -> List(0.5)), "sfX", 0.55)
    val noisy = Bench.render(List("good_q" -> List(0.5)), "sfX", 2.75)
    for (line <- Seq(quiet._1, quiet._2))
      mapper.readTree(line).get("contended").asBoolean() shouldBe false
    for (line <- Seq(noisy._1, noisy._2))
      mapper.readTree(line).get("contended").asBoolean() shouldBe true
    // the can't-read sentinel (-1) must not read as contended
    mapper.readTree(Bench.render(List("good_q" -> List(0.5)), "sfX", -1.0)._2)
      .get("contended").asBoolean() shouldBe false
  }

  test("Bench waits out a contended window (bounded) and stamps the LAST " +
    "load sample — the one the run actually started under") {
    // load falls below the threshold on the third sample: the wait must
    // stop there and return that sample, not the first
    val falling = Iterator(4.0, 2.0, 0.8, 99.0)
    Bench.waitForQuiet(maxWaitSec = 60, pollSec = 0,
      sample = () => falling.next()) shouldBe 0.8
    // never-quiet box: the wait must give up at maxWaitSec and return the
    // (still-contended) sample for render to mark, not hang
    var calls = 0
    val stuck = () => { calls += 1; 3.0 }
    Bench.waitForQuiet(maxWaitSec = 3, pollSec = 1, sample = stuck) shouldBe 3.0
    calls shouldBe 4 // initial + one per elapsed second
  }

  test("Bench quiet wait holds out for the TIGHT target, not just the " +
    "contended marker: a 1.2-load box (r16's 1.39 pattern) keeps waiting") {
    // below ContendedLoadThreshold (1.5) but above QuietLoadTarget (0.8):
    // the r16 driver artifact started exactly here and ran 1.21x over the
    // quiet committed total — the wait must not accept it
    Bench.QuietLoadTarget should be < Bench.ContendedLoadThreshold
    val falling = Iterator(1.2, 1.1, 0.7, 99.0)
    Bench.waitForQuiet(maxWaitSec = 60, pollSec = 0,
      sample = () => falling.next()) shouldBe 0.7
  }

  test("Bench per-query lines are short, complete, and carry a running total") {
    val lines = Bench.perQueryLines(
      List("q_a" -> List(0.25, 0.3), "q_bad" -> Nil, "q_c" -> List(0.5)))
    lines shouldBe List(
      "#bench q_a 0.2500 cum=0.2500",
      "#bench q_bad FAILED cum=0.2500",   // failures never pollute the total
      "#bench q_c 0.5000 cum=0.7500")
    // any tail window of the stream ends in a complete line whose cum=<total>
    lines.last should endWith("cum=0.7500")
  }

  test("Bench counts codegen compiles per query over its timed passes: 0 " +
    "for a plan the cache holds, one per pass for a plan with a new literal " +
    "inlined each run") {
    var calls = 0L
    val fresh: (SparkSession, String) => DataFrame = (s, _) => {
      calls += 1; s.range(3).selectExpr(s"id + ${1000003L * calls} AS id")
    }
    val stable: (SparkSession, String) => DataFrame =
      (s, _) => s.range(3).selectExpr("id + 1000001 AS id")
    val compiles = new Bench.CompileCounter
    val results = Bench.measure(spark, Map("fresh_q" -> fresh, "stable_q" -> stable),
      "unused", runs = 2, compiles = compiles)
    compiles.snapshot("stable_q") shouldBe 0L   // compiled in the warmup pass
    compiles.snapshot("fresh_q") should be >= 2L
    val (big, _) = Bench.render(results, "sfX", 0.0, compiles = compiles.snapshot)
    big should include regex """"compiles":\{"fresh_q":[0-9]+,"stable_q":0\},"""
  }

  test("Bench writes the full report to a file artifact") {
    val out = tmpDir("benchout")
    val (big, _) = Bench.render(List("good_q" -> List(0.5)), "sfX", 0.0)
    Bench.writeArtifact(out, big)
    val onDisk = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/bench.json")).trim
    onDisk shouldBe big
  }

  test("Bench passes are CYCLE-ordered — pass 1 of every query runs before " +
    "pass 2 of any, so one transient spike cannot inflate BOTH samples of " +
    "one query (the round-15 phantom-q87 scheduling hole)") {
    val order = scala.collection.mutable.ArrayBuffer[String]()
    def rec(tag: String): (SparkSession, String) => DataFrame = (s, _) => {
      order += tag; s.range(1).toDF("id")
    }
    Bench.measure(spark, Map("a_q" -> rec("a"), "b_q" -> rec("b")),
      "unused", runs = 2)
    // warmup cycle, then timed cycle 1, then timed cycle 2
    order.toList shouldBe List("a", "b", "a", "b", "a", "b")
  }

  test("Bench contention guard: a query with contaminated-pass spread is " +
    "re-run ONCE after an external-CPU-quiet wait, and the scored min " +
    "lands at the quiet sample") {
    // simulate a ~0.8 s contention spike hitting exactly one timed pass:
    // invocation 2 (= timed pass 1; invocation 1 is the warmup) sleeps
    var calls = 0
    val spiky: (SparkSession, String) => DataFrame = (s, _) => {
      calls += 1
      if (calls == 2) Thread.sleep(800)
      s.range(1).toDF("id")
    }
    val ext = Iterator(0.0, 0.0, 0.0) // post-run, settle-wait, post-extra
    val (results, endExt, extras) = Bench.measureGuarded(spark,
      Map("spiky_q" -> spiky, "calm_q" -> good), "unused", runs = 2,
      extSample = () => ext.next(), settleWaitSec = 0)
    extras shouldBe 1
    val byName = results.toMap
    byName("spiky_q") should have size 3  // 2 cycles + 1 guard re-run
    byName("calm_q") should have size 2   // not a suspect: never re-run
    // the scored statistic discards the contaminated pass
    byName("spiky_q").min should be < 0.3
    byName("spiky_q").max should be > 0.8
    endExt shouldBe 0.0
    // and the guard TERMINATES even though the quiet re-run WIDENED the
    // spread (a re-run suspect is never re-run again)
    calls shouldBe 4
  }

  test("Bench contention guard: sustained external load with NO spread " +
    "suspects re-runs the whole registry once; a box that never settles " +
    "stamps the loud sample and gives up instead of spinning") {
    // sustained: post-run ext loud, settles immediately, post-extra quiet
    val ext1 = Iterator(0.6, 0.05, 0.05)
    val (r1, e1, x1) = Bench.measureGuarded(spark,
      Map("a_q" -> good, "b_q" -> good), "unused", runs = 2,
      extSample = () => ext1.next(), settleWaitSec = 0)
    x1 shouldBe 1
    e1 shouldBe 0.05
    all(r1.map(_._2.size)) shouldBe 3     // every query got the quiet cycle
    // never settles: guard must stop with ZERO extra cycles, loud stamp
    val (r2, e2, x2) = Bench.measureGuarded(spark,
      Map("a_q" -> good), "unused", runs = 2,
      extSample = () => 0.9, settleWaitSec = 0)
    x2 shouldBe 0
    e2 shouldBe 0.9
    all(r2.map(_._2.size)) shouldBe 2
    // a loud end sample marks the artifact contended on its own scale
    val (big, _) = Bench.render(r2, "sfX", 0.0, e2, x2)
    big should include(""""contended":true""")
    big should include(""""external_cpu_end":0.9000""")
    big should include(""""extra_cycles":0""")
  }

  test("BenchLongDoc.derive: factor-k corpus is deterministic, k lines per " +
    "doc, boilerplate every 4th slot, ~k× token mass at fixed row count") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq((1L, "s1", "en", "alpha beta gamma"),
                   (2L, "s2", "de", "delta epsilon"),
                   (3L, "s3", "fr", null: String))
      .toDF("doc_id", "source", "lang", "text")
    val d = BenchLongDoc.derive(docs, 8)
    d.count() shouldBe 2 // null text excluded
    val row = d.where("doc_id = 1").select("text").as[String].head()
    val lines = row.split("\n", -1)
    lines.length shouldBe 8
    lines(0) shouldBe "alpha beta gamma r0"
    lines(3) should include ("shared boilerplate")
    lines(7) should include ("shared boilerplate")
    lines(6) shouldBe "alpha beta gamma r6"
    // deterministic: same bytes on a second derivation
    BenchLongDoc.derive(docs, 8).where("doc_id = 1")
      .select("text").as[String].head() shouldBe row
    // mass grows with k while rows stay fixed (the exact multiple depends
    // on text length vs the fixed boilerplate line, so only the lower
    // bound is structural)
    val m1 = BenchLongDoc.derive(docs, 1).agg(sum(org.apache.spark.sql.functions.length(col("text"))))
      .head().getLong(0)
    val m8 = d.agg(sum(org.apache.spark.sql.functions.length(col("text")))).head().getLong(0)
    m8 should be > m1 * 4
    // n_chars is the real length (the pack_sequences weight column)
    d.where("length(text) <> n_chars").count() shouldBe 0
  }

  test("the shared subset selector fails loudly on an empty list (naming " +
    "the variable) and on an unknown name (naming it)") {
    val empty = the[IllegalArgumentException] thrownBy
      Bench.selectQueries("SPARK_GRAFT_BENCH_ONLY", "")
    empty.getMessage should include("SPARK_GRAFT_BENCH_ONLY")
    val unknown = the[IllegalArgumentException] thrownBy
      Bench.selectQueries("SPARK_GRAFT_VERIFY_ONLY", "q1_agg,nope")
    unknown.getMessage should include("nope")
    unknown.getMessage should not include("q1_agg")
    Bench.selectQueries("SPARK_GRAFT_BENCH_ONLY", "q1_agg").keySet shouldBe Set("q1_agg")
  }

  test("the shared harness env clamps timed passes to at least one and " +
    "falls back to each caller's defaults") {
    Bench.env(vars = Map("SPARK_GRAFT_BENCH_RUNS" -> "0")).runs shouldBe 1
    Bench.env("sfX", Map.empty) shouldBe Bench.Env("sfX", "8", 2)
    Bench.env("sfX", Map("SPARK_GRAFT_CPUS" -> "5",
      "SPARK_GRAFT_SF_DIR" -> "sfY")) shouldBe Bench.Env("sfY", "5", 2)
  }
}
