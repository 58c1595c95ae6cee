package graft.runtime

import graft.SparkTestBase

class MainAndObservabilitySpec extends SparkTestBase {
  import spark.implicits._

  test("argument parsing: reference-compatible CLI surface") {
    val a = Main.parseArguments(Array(
      "--pipeline", "/p.yaml", "--app-name", "x", "--master", "local[2]",
      "--conf", "spark.sql.shuffle.partitions=8", "--conf", "a=b=c"))
    a.pipelinePath shouldBe "/p.yaml"
    a.appName shouldBe "x"
    a.master shouldBe Some("local[2]")
    a.conf shouldBe Map("spark.sql.shuffle.partitions" -> "8", "a" -> "b=c")
    an[IllegalArgumentException] should be thrownBy Main.parseArguments(Array("--nope"))
    an[IllegalArgumentException] should be thrownBy Main.parseArguments(Array.empty)
  }

  test("session conf: the file: classes yield to the deployment's own; --conf beats all") {
    val fileImpl = "spark.hadoop.fs.file.impl"
    val afsImpl = "spark.hadoop.fs.AbstractFileSystem.file.impl"
    val app = Main.AppConfig(pipelinePath = "/p.yaml")
    val nothingSet = new org.apache.spark.SparkConf(false)
    val defaults = new org.apache.hadoop.conf.Configuration()
    // core-default.xml names LocalFs for the FileContext side: not a choice
    defaults.get("fs.AbstractFileSystem.file.impl") shouldBe "org.apache.hadoop.fs.local.LocalFs"
    val plain = Main.sessionConf(app, nothingSet, defaults)
    plain(fileImpl) shouldBe classOf[graft.fs.NioLocalFileSystem].getName
    plain(afsImpl) shouldBe classOf[graft.fs.NioLocalFs].getName
    plain("spark.sql.adaptive.enabled") shouldBe "true"

    // spark-defaults.conf / spark-submit --conf: graft's entry stays off the builder
    val viaSpark = Main.sessionConf(app,
      new org.apache.spark.SparkConf(false).set(fileImpl, "com.example.SiteFs"), defaults)
    viaSpark.get(fileImpl) shouldBe None
    viaSpark(afsImpl) shouldBe classOf[graft.fs.NioLocalFs].getName

    // a core-site.xml entry
    val site = java.nio.file.Files.createTempFile("graft-core-site", ".xml")
    try {
      java.nio.file.Files.writeString(site, "<configuration><property>" +
        "<name>fs.AbstractFileSystem.file.impl</name><value>com.example.SiteFs</value>" +
        "</property></configuration>")
      val hadoop = new org.apache.hadoop.conf.Configuration()
      hadoop.addResource(new org.apache.hadoop.fs.Path(site.toUri))
      val viaSite = Main.sessionConf(app, nothingSet, hadoop)
      viaSite.get(afsImpl) shouldBe None
      viaSite(fileImpl) shouldBe classOf[graft.fs.NioLocalFileSystem].getName
    } finally java.nio.file.Files.delete(site)

    // graft's own --conf wins over everything
    Main.sessionConf(app.copy(conf = Map(fileImpl -> "org.apache.hadoop.fs.LocalFileSystem")),
      new org.apache.spark.SparkConf(false).set(fileImpl, "com.example.SiteFs"), defaults)(fileImpl) shouldBe
      "org.apache.hadoop.fs.LocalFileSystem"
  }

  test("session conf: the codegen cache settings are on by default, yield to " +
    "the deployment's own, and lose to --conf") {
    val cacheSize = "spark.sql.codegen.cache.maxEntries"
    val isolation = "spark.sql.artifact.isolation.enabled"
    val app = Main.AppConfig(pipelinePath = "/p.yaml")
    val defaults = new org.apache.hadoop.conf.Configuration()
    val plain = Main.sessionConf(app, new org.apache.spark.SparkConf(false), defaults)
    plain(cacheSize) shouldBe "8192"
    plain(isolation) shouldBe "false"

    // spark-defaults.conf / spark-submit --conf: graft's entries stay off the builder
    val deployment = new org.apache.spark.SparkConf(false)
      .set(cacheSize, "500").set(isolation, "true")
    val viaSpark = Main.sessionConf(app, deployment, defaults)
    viaSpark.get(cacheSize) shouldBe None
    viaSpark.get(isolation) shouldBe None

    // graft's own --conf wins over everything
    val own = Main.sessionConf(app.copy(conf = Map(cacheSize -> "100", isolation -> "true")),
      deployment, defaults)
    own(cacheSize) shouldBe "100"
    own(isolation) shouldBe "true"

    // the test session runs on the same settings
    spark.conf.get(cacheSize) shouldBe "8192"
    spark.conf.get(isolation) shouldBe "false"
  }

  test("structured logger emits parseable single-line JSON with escaping") {
    val err = new java.io.ByteArrayOutputStream()
    Console.withErr(new java.io.PrintStream(err)) {
      val realErr = System.err
      try {
        System.setErr(new java.io.PrintStream(err))
        new StructuredLogger("test").info("""he said "hi"""", Map("k" -> "a\nb"))
      } finally System.setErr(realErr)
    }
    val line = err.toString.trim
    line should include("\"message\":\"he said \\\"hi\\\"\"")
    line should include("\"k\":\"a\\nb\"")
    line.linesIterator.size shouldBe 1
  }

  test("end-to-end CLI shape: yaml file → Main-equivalent execution path") {
    val in = tmpDir("cli-in"); val out = tmpDir("cli-out")
    Seq((1, "a"), (2, "b"), (3, "a")).toDF("id", "k").write.mode("overwrite").parquet(in)
    val yaml =
      s"""pipelineId: cli-pipe
         |source: {type: file, options: {path: $in}}
         |transformations:
         |  - {name: agg, type: aggregation, options: {groupBy: k, aggregations: "n:count(*)"}}
         |sink: {type: file, writeMode: overwrite, options: {path: $out}}
         |""".stripMargin
    val yamlPath = java.nio.file.Files.write(
      java.nio.file.Paths.get(tmpDir("cli-yaml"), "p.yaml"), yaml.getBytes).toString
    val cfg = new graft.config.YamlConfigParser().parseFile(yamlPath)
    val m = new PipelineExecutor().execute(cfg)
    m.status shouldBe "SUCCESS"
    spark.read.parquet(out).count() shouldBe 2
  }

  test("--dry-run resolves the whole pipeline, prints the plan, writes nothing") {
    Main.parseArguments(Array("--pipeline", "p.yaml", "--dry-run")).dryRun shouldBe true
    val in = tmpDir("dry-in"); val out = tmpDir("dry-out") + "/sub"
    Seq((1, "a"), (2, "b")).toDF("id", "k").write.mode("overwrite").parquet(in)
    val yaml =
      s"""pipelineId: dry-pipe
         |source: {type: file, options: {path: $in}}
         |transformations:
         |  - {name: f, type: filter, options: {condition: "id > 1"}}
         |sink: {type: file, writeMode: overwrite, options: {path: $out}}
         |""".stripMargin
    val yamlPath = java.nio.file.Files.write(
      java.nio.file.Paths.get(tmpDir("dry-yaml"), "p.yaml"), yaml.getBytes).toString
    val cfg = new graft.config.YamlConfigParser().parseFile(yamlPath)
    val report = Main.dryRun(cfg)
    report should include ("DRY RUN")
    report should include ("id: integer")     // schema made it in
    report should include ("PushedFilters")   // formatted physical plan
    new java.io.File(out).exists() shouldBe false // nothing written
    // a broken transform surfaces at dry-run time, not at 2am
    val bad = cfg.copy(transformations = List(
      graft.config.TransformConfig("f", "filter", Map("condition" -> "nope > 1"))))
    an[Exception] should be thrownBy Main.dryRun(bad)
  }

  test("--dry-run plans with the config's shufflePartitions and leaves the " +
    "session's value as it was") {
    val in = tmpDir("dry37-in")
    Seq((1, "a"), (2, "b")).toDF("id", "k").write.mode("overwrite").parquet(in)
    val yaml =
      s"""pipelineId: dry-37
         |source: {type: file, options: {path: $in}}
         |transformations:
         |  - {name: agg, type: aggregation, options: {groupBy: k, aggregations: "n:count(*)"}}
         |sink: {type: file, writeMode: overwrite, options: {path: ${tmpDir("dry37-out")}/sub}}
         |performance: {shufflePartitions: 37}
         |""".stripMargin
    val cfg = new graft.config.YamlConfigParser().parse(yaml)
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    before should not be "37"
    Main.dryRun(cfg) should include regex """hashpartitioning\(k#\d+, 37\)"""
    spark.conf.get("spark.sql.shuffle.partitions") shouldBe before
  }
}
