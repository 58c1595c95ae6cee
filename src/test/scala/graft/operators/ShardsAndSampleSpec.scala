package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.api.RunContext
import graft.config.TransformConfig

class ShardsAndSampleSpec extends SparkTestBase {
  import spark.implicits._

  private def ctx = RunContext(spark, "shards-spec", "test")
  private def t(typ: String, opts: (String, String)*): TransformConfig =
    TransformConfig(s"$typ-spec", typ, opts.toMap)

  private def docs(n: Int): DataFrame =
    (1 to n).map(i => (i.toLong, s"doc $i", (i * 37 % 500 + 1).toLong))
      .toDF("doc_id", "text", "n_tokens")

  test("assignShards matches the SQL-window prefix sum across partition boundaries") {
    val d = docs(1000)
    // expected = the single-partition window formulation
    val w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    val expected = d
      .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .withColumn("shard_id", col("cum_before") / lit(1000L) cast "long")
      .select("doc_id", "cum_before", "shard_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // small partitions force many boundary crossings
    val got = Shards.assignShards(d, "doc_id", "n_tokens", 1000L, numPartitions = 7)
      .select("doc_id", "cum_before", "shard_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    got shouldBe expected
  }

  test("assignShards is distributed: keeps the range partitioning, no window node") {
    val out = Shards.assignShards(docs(200), "doc_id", "n_tokens", 500L, numPartitions = 5)
    out.rdd.getNumPartitions shouldBe 5
    out.queryExecution.executedPlan.toString should not include "Window"
    // rows within each partition stay id-sorted (the export order)
    val perPartition = out.select("doc_id")
      .rdd.mapPartitions(it => Iterator(it.map(_.getLong(0)).toSeq)).collect()
    perPartition.foreach(ids => ids shouldBe ids.sorted)
  }

  test("assignShards output is invariant under partition count") {
    val d = docs(500)
    def run(n: Int) = Shards.assignShards(d, "doc_id", "n_tokens", 700L, numPartitions = n)
      .select("doc_id", "cum_before", "shard_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    run(1) shouldBe run(13)
    run(13) shouldBe run(64) // more partitions than fit evenly
  }

  test("assignShards edge cases: empty input, single row, null weights") {
    val empty = Shards.assignShards(docs(0), "doc_id", "n_tokens", 100L)
    empty.count() shouldBe 0L
    empty.columns should contain allOf ("cum_before", "shard_id")

    val one = Shards.assignShards(docs(1), "doc_id", "n_tokens", 100L)
      .select("cum_before", "shard_id").head()
    (one.getLong(0), one.getLong(1)) shouldBe ((0L, 0L))

    val withNulls = docs(10).withColumn("n_tokens",
      when(col("doc_id") % 2 === 0, lit(null)).otherwise(col("n_tokens")))
    val stamped = Shards.assignShards(withNulls, "doc_id", "n_tokens", 100L)
    // null weights count 0: doc 10 (null weight) accumulates only odd ids 1..9
    val lastBefore = stamped.orderBy(desc("doc_id")).select("cum_before").head().getLong(0)
    val oddSum = (1 to 9 by 2).map(i => (i * 37 % 500 + 1).toLong).sum
    lastBefore shouldBe oddSum
  }

  test("assignShards rejects non-integral weights and non-positive budgets") {
    val d = docs(5).withColumn("w", col("n_tokens").cast("double"))
    an[IllegalArgumentException] should be thrownBy
      Shards.assignShards(d, "doc_id", "w", 100L)
    an[IllegalArgumentException] should be thrownBy
      Shards.assignShards(d, "doc_id", "n_tokens", 0L)
  }

  test("sample hash: reproducible across runs, seed-sensitive, roughly uniform") {
    val d = docs(2000)
    def run(seed: String): Set[Long] =
      SampleTransform(d, t("sample", "on" -> "doc_id", "buckets" -> "10",
        "keep" -> "3", "seed" -> seed), ctx)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val a = run("0")
    run("0") shouldBe a                       // deterministic re-run
    val b = run("42")
    b should not be a                          // independent draw per seed
    // keep/buckets = 30%; hash-uniform within a loose band
    a.size.toDouble / 2000 shouldBe 0.30 +- 0.05
    b.size.toDouble / 2000 shouldBe 0.30 +- 0.05
  }

  test("sample mod matches plain modulus filtering; bad options rejected") {
    val d = docs(100)
    val got = SampleTransform(d, t("sample", "on" -> "doc_id", "buckets" -> "10",
      "keep" -> "3", "method" -> "mod"), ctx)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    got shouldBe (1 to 100).filter(_ % 10 < 3).map(_.toLong).toSet

    an[IllegalArgumentException] should be thrownBy
      SampleTransform(d, t("sample", "on" -> "doc_id", "keep" -> "11",
        "buckets" -> "10"), ctx)
    an[graft.api.ConfigException] should be thrownBy
      SampleTransform(d, t("sample", "on" -> "doc_id", "keep" -> "1",
        "method" -> "nope"), ctx)
  }

  test("sample probColumn: importance sampling is deterministic and rate-faithful") {
    val d = docs(1000).withColumn("p_keep",
      least(lit(1.0), col("n_tokens") / lit(400.0)))
    def run() = SampleTransform(d, t("sample", "on" -> "doc_id",
      "probColumn" -> "p_keep", "method" -> "mod", "buckets" -> "1000"), ctx)
    val ids = run().select("doc_id").collect().map(_.getLong(0)).toSet
    // exactly the closed-form keep set: bucket < p·buckets
    val expected = (1 to 1000).filter { i =>
      (i % 1000).toDouble < math.min(1.0, (i * 37 % 500 + 1) / 400.0) * 1000.0
    }.map(_.toLong).toSet
    ids shouldBe expected
    run().select("doc_id").collect().map(_.getLong(0)).toSet shouldBe ids // reproducible
    // p = 1 rows always survive; p = 0 rows never do; NaN and null scores
    // DROP (NaN sorts above every double, so an unguarded clamp would
    // keep every corrupt-scored row with probability 1)
    val extreme = Seq((1L, Some(1.0)), (2L, Some(0.0)), (3L, Some(2.0)),
      (4L, Some(-0.5)), (5L, Some(Double.NaN)), (6L, None: Option[Double]))
      .toDF("doc_id", "p_keep")
    SampleTransform(extreme, t("sample", "on" -> "doc_id",
      "probColumn" -> "p_keep", "method" -> "hash", "buckets" -> "1000"), ctx)
      .select("doc_id").collect().map(_.getLong(0)).toSet shouldBe Set(1L, 3L)
    // zero shuffle: a pure filter
    run().queryExecution.executedPlan.toString should not include "Exchange"
    // mutually exclusive with the other modes
    an[IllegalArgumentException] should be thrownBy
      SampleTransform(d, t("sample", "on" -> "doc_id",
        "probColumn" -> "p_keep", "keep" -> "3"), ctx)
  }

  test("sample splits: total stable labeling, weights honored, bad configs rejected") {
    val d = docs(1000)
    val labeled = SampleTransform(d, t("sample", "on" -> "doc_id", "buckets" -> "10",
      "splits" -> "train:8,val:1,test:1"), ctx)
    labeled.count() shouldBe 1000L                       // labels, never filters
    labeled.where(col("split").isNull).count() shouldBe 0L
    val byLabel = labeled.groupBy("split").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    byLabel.keySet shouldBe Set("train", "val", "test")
    byLabel("train").toDouble / 1000 shouldBe 0.8 +- 0.06 // hash-uniform weights
    // group-stable: same key → same slice on every run
    val again = SampleTransform(d, t("sample", "on" -> "doc_id", "buckets" -> "10",
      "splits" -> "train:8,val:1,test:1"), ctx)
    labeled.select("doc_id", "split").exceptAll(again.select("doc_id", "split"))
      .count() shouldBe 0L

    an[IllegalArgumentException] should be thrownBy      // weights must sum to buckets
      SampleTransform(d, t("sample", "on" -> "doc_id", "buckets" -> "10",
        "splits" -> "train:5,val:1"), ctx)
    an[IllegalArgumentException] should be thrownBy      // keep XOR splits
      SampleTransform(d, t("sample", "on" -> "doc_id", "keep" -> "3",
        "splits" -> "train:99,val:1"), ctx)
    an[IllegalArgumentException] should be thrownBy
      SampleTransform(d, t("sample", "on" -> "doc_id"), ctx)
    // perGroup is part of the same "exactly one of" contract: a co-present
    // mode must fail, not silently lose to the stratified path
    an[IllegalArgumentException] should be thrownBy
      SampleTransform(d, t("sample", "on" -> "doc_id", "perGroup" -> "5",
        "groupBy" -> "source", "keep" -> "5"), ctx)
  }

  test("redact: builtin PII patterns, rule order, custom rule, bad pattern rejected") {
    val d = Seq(
      (1L, "mail a.b+c@x-corp.io now", "keep"),
      (2L, "call +555-123-4567 or 555 123 4567", "keep"),
      (3L, "host 192.168.0.1 up", "keep"),
      (4L, "no pii here at all", "keep"))
      .toDF("id", "text", "other")
    val out = RedactTransform(d, t("redact", "columns" -> "text"), ctx)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toList
    out should contain ((1L, "mail <EMAIL> now", "keep"))
    out should contain ((2L, "call <PHONE> or <PHONE>", "keep"))
    out should contain ((3L, "host <IP> up", "keep"))
    out should contain ((4L, "no pii here at all", "keep")) // untouched, other column untouched
    // longer digit runs (card numbers, long ids) are NEVER partially
    // redacted: no boundary exists mid-run, so the phone pattern skips them
    val long = RedactTransform(
      Seq((9L, "card 4111111111111111 and id 12345678901 end")).toDF("id", "text"),
      t("redact", "columns" -> "text"), ctx).collect().head.getString(1)
    long shouldBe "card 4111111111111111 and id 12345678901 end"

    val custom = RedactTransform(d.where("id = 4"),
      t("redact", "columns" -> "text", "patterns" -> "email",
        "regex" -> "pii", "replacement" -> "<X>"), ctx)
      .select("text").head().getString(0)
    custom shouldBe "no <X> here at all"

    an[IllegalArgumentException] should be thrownBy
      RedactTransform(d, t("redact", "columns" -> "text", "patterns" -> "ssn"), ctx)
  }

  test("stratified sample: exact quota per group, window-equivalent, no window node") {
    val d = (1 to 300).map(i => (i.toLong, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c"))
      .toDF("doc_id", "grp").repartition(7)
    val out = SampleTransform(d,
      t("sample", "on" -> "doc_id", "groupBy" -> "grp", "perGroup" -> "10",
        "method" -> "mod", "buckets" -> "17"), ctx)
    out.groupBy("grp").count().collect().map(_.getLong(1)).toSet shouldBe Set(10L)
    // matches the row_number() window formulation exactly
    val w = Window.partitionBy("grp").orderBy(pmod(col("doc_id"), lit(17)), col("doc_id"))
    val expected = d.withColumn("rn", row_number().over(w)).where("rn <= 10")
      .select("doc_id").as[Long].collect().toSet
    out.select("doc_id").as[Long].collect().toSet shouldBe expected
    // scale shape: partial-aggregate top-k + broadcast semi join, no WindowExec
    val plan = out.queryExecution.executedPlan.toString
    plan should not include "Window"
    plan.toLowerCase should include ("broadcast")
    // undersized groups keep all their rows
    val tiny = SampleTransform(d.where("doc_id <= 5"),
      t("sample", "on" -> "doc_id", "groupBy" -> "grp", "perGroup" -> "10"), ctx)
    tiny.count() shouldBe 5
    // string/UUID doc ids work under hash bucketing: same quota, same
    // partial-aggregate shape (no window), deterministic across runs
    val s = d.withColumn("doc_id", concat(lit("doc-"), col("doc_id").cast("string")))
    val strOut = SampleTransform(s,
      t("sample", "on" -> "doc_id", "groupBy" -> "grp", "perGroup" -> "10"), ctx)
    strOut.groupBy("grp").count().collect().map(_.getLong(1)).toSet shouldBe Set(10L)
    strOut.queryExecution.executedPlan.toString should not include "Window"
    strOut.select("doc_id").as[String].collect().toSet shouldBe
      SampleTransform(s, t("sample", "on" -> "doc_id", "groupBy" -> "grp",
        "perGroup" -> "10"), ctx).select("doc_id").as[String].collect().toSet
    // string ids under mod bucketing still rejected (needs integral arithmetic)
    an[IllegalArgumentException] should be thrownBy SampleTransform(s,
      t("sample", "on" -> "doc_id", "groupBy" -> "grp", "perGroup" -> "10",
        "method" -> "mod"), ctx)
  }

  test("mix: per-group weights down- and up-sample deterministically, zero shuffle") {
    val d = (0 until 400).map(i => (i.toLong, if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "grp")
    // downsample en to 0.5, keep de, via mod buckets: expected exact sets
    val down = MixTransform(d, t("mix", "on" -> "doc_id", "groupBy" -> "grp",
      "weights" -> "en:0.5,de:1.0", "method" -> "mod", "buckets" -> "100"), ctx)
    val ids = down.select("doc_id").as[Long].collect().toSet
    ids shouldBe (0 until 400).filter(i =>
      (i % 2 == 0 && i % 100 < 50) || i % 2 == 1).map(_.toLong).toSet
    // upsampling: weight 2.5 → every row 2 or 3 times, mean multiplicity 2.5
    val up = MixTransform(d.where("grp = 'en'"),
      t("mix", "on" -> "doc_id", "groupBy" -> "grp",
        "weights" -> "en:2.5", "method" -> "mod", "buckets" -> "100"), ctx)
    val counts = up.groupBy("doc_id").count().select("count").as[Long].collect()
    counts.toSet shouldBe Set(2L, 3L)
    counts.sum shouldBe (200 * 2 + 200 / 2) // exact: floor 2 + half the buckets
    // unlisted groups drop by default, defaultWeight keeps them
    MixTransform(d, t("mix", "on" -> "doc_id", "groupBy" -> "grp",
      "weights" -> "en:1.0"), ctx).where("grp = 'de'").count() shouldBe 0
    MixTransform(d, t("mix", "on" -> "doc_id", "groupBy" -> "grp",
      "weights" -> "en:1.0", "defaultWeight" -> "1.0"), ctx)
      .where("grp = 'de'").count() shouldBe 200
    // pure per-row plan: no exchange anywhere
    down.queryExecution.executedPlan.toString should not include "Exchange"
    an[IllegalArgumentException] should be thrownBy MixTransform(
      d, t("mix", "on" -> "doc_id", "groupBy" -> "grp", "weights" -> "en:-1"), ctx)
  }

  test("weighted sample: exponential race selects exactly k, skews toward " +
    "heavy weights, never picks non-positive weights, and is seed-stable") {
    // 400 light rows (w=1) + 100 heavy rows (w=50): heavy mass ~ 92.6%
    val d = (0 until 500).map(i =>
      (i.toLong, if (i < 400) 1.0 else 50.0)).toDF("doc_id", "w")
    def sel(frame: org.apache.spark.sql.DataFrame, opts: (String, String)*) =
      SampleTransform(frame, t("sample", (Seq("on" -> "doc_id",
        "weightColumn" -> "w", "k" -> "100") ++ opts): _*), ctx)
    val out = sel(d, "seed" -> "7")
    out.count() shouldBe 100
    // P(selected) ∝ w: the heavy tenth of rows should dominate the sample
    out.where("doc_id >= 400").count().toDouble should be > 60.0
    // deterministic: same seed reproduces the set, a new seed moves it
    sel(d, "seed" -> "7").select("doc_id").as[Long].collect().toSet shouldBe
      out.select("doc_id").as[Long].collect().toSet
    sel(d, "seed" -> "8").select("doc_id").as[Long].collect().toSet should not be
      out.select("doc_id").as[Long].collect().toSet
    // zero/negative/null weights can never win, even when k exceeds the
    // valid row count
    val mixed = Seq((1L, 2.0), (2L, 0.0), (3L, -1.0), (4L, Double.NaN))
      .toDF("doc_id", "w").union(Seq((5L, null.asInstanceOf[java.lang.Double]))
        .toDF("doc_id", "w"))
    sel(mixed).select("doc_id").as[Long].collect().toSeq shouldBe Seq(1L)
    // never a global window: bounded-heap partial aggregation
    out.queryExecution.executedPlan.toString should not include "Window"
    // guided errors: missing/invalid k, unknown column, mode combos
    an[graft.api.ConfigException] should be thrownBy SampleTransform(d,
      t("sample", "on" -> "doc_id", "weightColumn" -> "w"), ctx)
    an[graft.api.ConfigException] should be thrownBy SampleTransform(d,
      t("sample", "on" -> "doc_id", "weightColumn" -> "w", "k" -> "0"), ctx)
    an[graft.api.ConfigException] should be thrownBy SampleTransform(d,
      t("sample", "on" -> "doc_id", "weightColumn" -> "nope", "k" -> "5"), ctx)
    an[IllegalArgumentException] should be thrownBy SampleTransform(d,
      t("sample", "on" -> "doc_id", "weightColumn" -> "w", "k" -> "5",
        "keep" -> "3"), ctx)
  }

  test("weighted sample with groupBy: an independent race per group, " +
    "correct even when ids repeat ACROSS groups") {
    val d = (0 until 300).map(i =>
      (i.toLong, if (i % 3 == 0) "a" else "b", 1.0 + i % 5))
      .toDF("doc_id", "grp", "w")
    val out = SampleTransform(d, t("sample", "on" -> "doc_id",
      "weightColumn" -> "w", "k" -> "20", "groupBy" -> "grp"), ctx)
    out.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe
      Map("a" -> 20L, "b" -> 20L)
    // per-group ids: doc_id 0..99 exists in BOTH groups. The winner
    // join-back is group-qualified, so a's winner id must never pull b's
    // same-id row past b's own race — exactly k per group, still
    val dup = (0 until 100).flatMap(i =>
      Seq((i.toLong, "a", 1.0), (i.toLong, "b", 1.0))).toDF("doc_id", "grp", "w")
    val dupOut = SampleTransform(dup, t("sample", "on" -> "doc_id",
      "weightColumn" -> "w", "k" -> "10", "groupBy" -> "grp"), ctx)
    dupOut.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap shouldBe
      Map("a" -> 10L, "b" -> 10L)
    // guided errors for the remaining option surface: malformed seed,
    // non-numeric weight column
    an[graft.api.ConfigException] should be thrownBy SampleTransform(d,
      t("sample", "on" -> "doc_id", "weightColumn" -> "w", "k" -> "5",
        "seed" -> "7x"), ctx)
    an[graft.api.ConfigException] should be thrownBy SampleTransform(d,
      t("sample", "on" -> "doc_id", "weightColumn" -> "grp", "k" -> "5"), ctx)
  }

  test("mix temperature: derives n^alpha weights — natural at 1, equalizing " +
    "at 0, budget-scaled, reproducible, and guided errors on misuse") {
    // 300 en / 100 de / 0-null rows: sizes chosen so every derived weight
    // is exact at 4 decimals (no rounding-boundary flakiness)
    val d = (0 until 400).map(i =>
      (i.toLong, if (i % 4 == 3) "de" else "en")).toDF("doc_id", "grp")
    // alpha = 1: w_d = B*n/( Z*n ) = 1 for every group — identity multiset
    val natural = MixTransform(d, t("mix", "on" -> "doc_id", "groupBy" -> "grp",
      "temperature" -> "1.0", "method" -> "mod", "buckets" -> "100"), ctx)
    natural.count() shouldBe 400
    natural.groupBy("doc_id").count().where("count > 1").count() shouldBe 0
    // alpha = 0: p_d uniform → w_en = 400/(2*300) = 0.6667, w_de = 400/200
    // = 2.0 → expected sizes 300*0.6667 ≈ 200 and 100*2 = 200 (equalized)
    val eq = MixTransform(d, t("mix", "on" -> "doc_id", "groupBy" -> "grp",
      "temperature" -> "0", "method" -> "mod", "buckets" -> "100"), ctx)
    // exact determinism: en keeps floor(0.6667)=0 + (id%100 < 67); de
    // emits every row twice (floor(2.0)=2, zero fractional share)
    val enIds = eq.where("grp = 'en'").select("doc_id").as[Long].collect()
    enIds.toSet shouldBe (0 until 400).filter(i =>
      i % 4 != 3 && i % 100 < 67).map(_.toLong).toSet
    enIds.length shouldBe enIds.toSet.size  // no duplicate en copies
    eq.where("grp = 'de'").groupBy("doc_id").count()
      .select("count").as[Long].collect().toSet shouldBe Set(2L)
    // budgetRows scales every weight: half budget at alpha=1 → w = 0.5
    MixTransform(d, t("mix", "on" -> "doc_id", "groupBy" -> "grp",
      "temperature" -> "1", "budgetRows" -> "200",
      "method" -> "mod", "buckets" -> "100"), ctx)
      .count() shouldBe (0 until 400).count(_ % 100 < 50)
    // null-group rows drop (not part of any mixture)
    val withNull = d.withColumn("grp",
      when(col("doc_id") < 10, lit(null: String)).otherwise(col("grp")))
    MixTransform(withNull, t("mix", "on" -> "doc_id", "groupBy" -> "grp",
      "temperature" -> "1", "method" -> "mod", "buckets" -> "100"), ctx)
      .where("grp IS NULL").count() shouldBe 0
    // plan stays a zero-exchange projection AFTER the bounded derivation
    natural.queryExecution.executedPlan.toString should not include "Exchange"
    // guided errors: both modes, neither mode, defaultWeight, bad alpha,
    // maxGroups overflow
    an[graft.api.ConfigException] should be thrownBy MixTransform(d,
      t("mix", "on" -> "doc_id", "groupBy" -> "grp",
        "weights" -> "en:1.0", "temperature" -> "0.5"), ctx)
    an[graft.api.ConfigException] should be thrownBy MixTransform(d,
      t("mix", "on" -> "doc_id", "groupBy" -> "grp"), ctx)
    an[graft.api.ConfigException] should be thrownBy MixTransform(d,
      t("mix", "on" -> "doc_id", "groupBy" -> "grp",
        "temperature" -> "0.5", "defaultWeight" -> "1"), ctx)
    an[graft.api.ConfigException] should be thrownBy MixTransform(d,
      t("mix", "on" -> "doc_id", "groupBy" -> "grp", "temperature" -> "-1"), ctx)
    // NaN parses via toDouble and slips past a plain < 0 check; Infinity
    // overflows pow — both must fail guided, not as BigDecimal crashes
    an[graft.api.ConfigException] should be thrownBy MixTransform(d,
      t("mix", "on" -> "doc_id", "groupBy" -> "grp", "temperature" -> "NaN"), ctx)
    an[graft.api.ConfigException] should be thrownBy MixTransform(d,
      t("mix", "on" -> "doc_id", "groupBy" -> "grp",
        "temperature" -> "Infinity"), ctx)
    an[graft.api.ConfigException] should be thrownBy MixTransform(d,
      t("mix", "on" -> "doc_id", "groupBy" -> "grp",
        "temperature" -> "1", "budgetRows" -> "NaN"), ctx)
    an[graft.api.ConfigException] should be thrownBy MixTransform(d,
      t("mix", "on" -> "doc_id", "groupBy" -> "doc_id",
        "temperature" -> "0.5", "maxGroups" -> "10"), ctx)
  }

  test("mix temperature weightColumn: group sizes in TOKENS, not documents " +
    "— zero/null-sum groups drop; guided misuse errors") {
    // 100 en docs of 9 tokens each vs 300 de docs of 1: by DOCUMENTS de
    // dominates 3:1, by TOKENS en dominates 3:1 — alpha=0 must equalize
    // token shares, so the derived rates differ from the count-based run
    val d = (0 until 400).map { i =>
      if (i % 4 == 0) (i.toLong, "en", 9L) else (i.toLong, "de", 1L)
    }.toDF("doc_id", "grp", "toks")
    // alpha = 1 in token units: w_d = B*n_d/(Z*n_d) = 1 — identity
    MixTransform(d, t("mix", "on" -> "doc_id", "groupBy" -> "grp",
      "temperature" -> "1", "weightColumn" -> "toks",
      "method" -> "mod", "buckets" -> "100"), ctx).count() shouldBe 400
    // alpha = 0: n_en = 900, n_de = 300, B = 1200, Z = 2 →
    // w_en = 1200/(2*900) = 0.6667, w_de = 1200/(2*300) = 2.0: en keeps
    // (id%100 < 67), de doubles — token-equalized, document counts ignored
    val eq = MixTransform(d, t("mix", "on" -> "doc_id", "groupBy" -> "grp",
      "temperature" -> "0", "weightColumn" -> "toks",
      "method" -> "mod", "buckets" -> "100"), ctx)
    eq.where("grp = 'en'").select("doc_id").as[Long].collect().toSet shouldBe
      (0 until 400).filter(i => i % 4 == 0 && i % 100 < 67).map(_.toLong).toSet
    eq.where("grp = 'de'").groupBy("doc_id").count()
      .select("count").as[Long].collect().toSet shouldBe Set(2L)
    // a zero-token group derives weight 0 and its rows drop
    val withZero = d.withColumn("toks",
      when(col("grp") === "de", lit(0L)).otherwise(col("toks")))
    MixTransform(withZero, t("mix", "on" -> "doc_id", "groupBy" -> "grp",
      "temperature" -> "1", "weightColumn" -> "toks",
      "method" -> "mod", "buckets" -> "100"), ctx)
      .where("grp = 'de'").count() shouldBe 0
    // maxGroups fires on raw cardinality even when zero-sum groups would
    // shrink the filtered set back under the limit — truncation must
    // never silently drop groups
    an[graft.api.ConfigException] should be thrownBy MixTransform(
      d.withColumn("toks", when(col("doc_id") % 2 === 0, lit(0L)).otherwise(lit(1L))),
      t("mix", "on" -> "doc_id", "groupBy" -> "doc_id",
        "temperature" -> "1", "weightColumn" -> "toks",
        "maxGroups" -> "250"), ctx)
    // guided: unknown / non-numeric weight column, and weightColumn with
    // explicit weights (group sizes never enter that mode)
    an[graft.api.ConfigException] should be thrownBy MixTransform(d,
      t("mix", "on" -> "doc_id", "groupBy" -> "grp",
        "temperature" -> "1", "weightColumn" -> "nope"), ctx)
    an[graft.api.ConfigException] should be thrownBy MixTransform(d,
      t("mix", "on" -> "doc_id", "groupBy" -> "grp",
        "temperature" -> "1", "weightColumn" -> "grp"), ctx)
    an[graft.api.ConfigException] should be thrownBy MixTransform(d,
      t("mix", "on" -> "doc_id", "groupBy" -> "grp",
        "weights" -> "en:1.0", "weightColumn" -> "toks"), ctx)
  }

  test("shuffle: seeded permutation — exact, stable, seed-dependent, windowless") {
    val d = docs(500)
    val out = ShuffleTransform(d,
      t("shuffle", "idColumn" -> "doc_id", "seed" -> "7", "numPartitions" -> "7"), ctx)
    // positions are exactly 0..n-1 (a permutation, no gaps or dups)
    out.select("shuffle_pos").as[Long].collect().sorted shouldBe (0L until 500L).toArray
    // the permutation equals the window formulation over the same md5 key
    val expected = d
      .withColumn("shuffle_pos",
        row_number().over(Window.orderBy(
          md5(concat_ws(":", lit("7"), col("doc_id").cast("string"))),
          col("doc_id"))).cast("long") - 1)
      .select("doc_id", "shuffle_pos")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    out.select("doc_id", "shuffle_pos")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet shouldBe expected
    // same seed reproduces; a different seed is a different permutation
    val again = ShuffleTransform(d,
      t("shuffle", "idColumn" -> "doc_id", "seed" -> "7", "numPartitions" -> "13"), ctx)
      .select("doc_id", "shuffle_pos")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    again shouldBe expected
    val other = ShuffleTransform(d,
      t("shuffle", "idColumn" -> "doc_id", "seed" -> "8", "numPartitions" -> "7"), ctx)
      .select("doc_id", "shuffle_pos")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    other should not be expected
    // distributed: range-partitioned, never a global-window plan
    out.queryExecution.executedPlan.toString should not include "Window"
    // position=false just reorders — no stamp column, no second job
    val plain = ShuffleTransform(d,
      t("shuffle", "idColumn" -> "doc_id", "position" -> "false"), ctx)
    plain.columns should not contain "shuffle_pos"
    plain.count() shouldBe 500L
    // xxhash64 mode is a valid permutation too (engine-local hash)
    ShuffleTransform(d,
      t("shuffle", "idColumn" -> "doc_id", "hash" -> "xxhash64",
        "numPartitions" -> "5"), ctx)
      .select("shuffle_pos").as[Long].collect().sorted shouldBe (0L until 500L).toArray
    an[graft.api.ConfigException] should be thrownBy ShuffleTransform(
      d, t("shuffle", "idColumn" -> "doc_id", "hash" -> "sha1"), ctx)
  }

  test("vocabTopK counts lowercased whitespace tokens with deterministic ties") {
    val d = Seq(
      (1L, "The cat sat"), (2L, "the CAT ran"), (3L, "a dog  sat"), (4L, " ")
    ).toDF("doc_id", "text")
    val rows = graft.functions.TextFunctions.vocabTopK(d, "text", 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    rows shouldBe Array(("cat", 2L), ("sat", 2L), ("the", 2L))
    // top-k is TakeOrderedAndProject, not a global sort
    graft.functions.TextFunctions.vocabTopK(d, "text", 3)
      .queryExecution.executedPlan.toString should include ("TakeOrderedAndProject")
  }
}
