package graft.tools

import java.nio.file.{Files, Paths}

import graft.SparkTestBase

class ProfileSpec extends SparkTestBase {
  import spark.implicits._

  /** A 3-transform pipeline over a small parquet input, as a YAML file. */
  private def pipelineYaml(extra: String = ""): String = {
    val in = tmpDir("profile-in")
    Seq((1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0)).toDF("id", "k", "v")
      .write.mode("overwrite").parquet(in)
    val yaml =
      s"""pipelineId: profile-pipe
         |source: {type: file, options: {path: $in}}
         |transformations:
         |  - {name: keep, type: filter, options: {condition: "id > 1"}}
         |  - {name: scaled, type: map, options: {expressions: "w:v * 2"}}
         |  - {name: per-k, type: aggregation, options: {groupBy: k, aggregations: "n:count(*)"}}
         |sink: {type: file, writeMode: overwrite, options: {path: ${tmpDir("profile-out")}/out}}
         |$extra
         |""".stripMargin
    Files.write(Paths.get(tmpDir("profile-yaml"), "p.yaml"), yaml.getBytes).toString
  }

  test("a pipeline target expands to one entry per transform prefix, in " +
    "order, the last planning as the whole pipeline") {
    val path = pipelineYaml()
    val es = Profile.entries(Seq(path))
    es.map(_.name) shouldBe List(
      "profile-pipe.01.keep", "profile-pipe.02.scaled", "profile-pipe.03.per-k")
    es.map(_.name) shouldBe es.map(_.name).sorted // measure's order is chain order
    es.head.query(spark, "unused").columns.toSeq shouldBe Seq("id", "k", "v")
    es(1).query(spark, "unused").columns should contain("w")
    val cfg = new graft.config.YamlConfigParser().parseFile(path)
    val whole = new graft.runtime.PipelineExecutor().compose(cfg)
    // expression ids differ between two compositions: compare by result
    assert(es.last.query(spark, "unused").queryExecution.optimizedPlan
      .sameResult(whole.queryExecution.optimizedPlan))
  }

  test("a registry target is one entry, no target the whole registry; one " +
    "plan file per entry, and marginal lines per prefix") {
    Profile.entries(Seq("q6_filter")).map(e => (e.name, e.pipeline)) shouldBe
      List(("q6_filter", None))
    Profile.entries(Nil).map(_.name) shouldBe graft.SparkEntry.queries.keys.toList.sorted
    val es = Profile.entries(Seq(pipelineYaml()))
    val out = tmpDir("profile-plans")
    Profile.writePlans(spark, es, "unused", out)
    new java.io.File(out).list().toSet shouldBe es.map(_.name + ".txt").toSet
    Files.readString(Paths.get(out, "profile-pipe.03.per-k.txt")) should
      include("HashAggregate")
    val results = graft.Bench.measure(spark,
      es.map(e => e.name -> e.query).toMap, "unused", 1)
    val lines = Profile.marginalLines(es, results)
    lines.map(_.split(" ")(1)) shouldBe es.map(_.name)
    all(lines) should fullyMatch regex """#prefix \S+ [0-9.]+ marginal=[-+][0-9.]+"""
    // a failed prefix leaves the next one without a base to subtract
    val Seq(a, b, c) = es.map(_.name)
    Profile.marginalLines(es, Seq(a -> List(0.5), b -> Nil, c -> List(0.75))) shouldBe
      List(s"#prefix $a 0.5000 marginal=+0.5000", s"#prefix $b FAILED",
        s"#prefix $c 0.7500 marginal=NA")
  }

  test("a pipeline's prefixes are planned and timed under its performance " +
    "block, and the session's confs are restored") {
    val es = Profile.entries(Seq(pipelineYaml("performance: {shufflePartitions: 37}")))
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    before should not be "37"
    val out = tmpDir("profile-perf")
    val results = Profile.profile(spark, es, "unused", out, 1)
    results.map(_._1).toSet shouldBe es.map(_.name).toSet
    all(results.map(_._2)) should not be empty
    Files.readString(Paths.get(out, "profile-pipe.03.per-k.txt")) should
      include regex """hashpartitioning\(k#\d+, 37\)"""
    spark.conf.get("spark.sql.shuffle.partitions") shouldBe before
  }

  test("a target that is neither a registry query nor an existing file " +
    "fails, naming it") {
    val e = the[IllegalArgumentException] thrownBy
      Profile.entries(Seq("q6_filter", "no_such_target.yaml"))
    e.getMessage should include("no_such_target.yaml")
  }
}
