package graft.runtime

import org.apache.spark.scheduler.JobCount

import graft.SparkTestBase
import graft.config.YamlConfigParser

/** `compose` and `--dry-run` promise that nothing is evaluated. For a
  * parquet-sourced pipeline that also reads a second parquet source in a
  * `register` step, that promise now holds to the job: both schemas come
  * from driver-side footer reads, where each read used to start a Spark
  * job of its own. */
class DryRunJobsSpec extends SparkTestBase {
  import spark.implicits._

  test("compose and --dry-run of a parquet pipeline with a register step start no Spark job") {
    val facts = tmpDir("dry-jobs-facts")
    val dim = tmpDir("dry-jobs-dim")
    Seq((1L, "a", 2.0), (2L, "b", 3.0), (3L, "a", 4.0)).toDF("id", "k", "v")
      .repartition(2).write.mode("overwrite").parquet(facts)
    Seq(("a", "alpha"), ("b", "beta")).toDF("k", "label").write.mode("overwrite").parquet(dim)
    val cfg = new YamlConfigParser().parse(
      s"""pipelineId: dry-jobs
         |source: {type: file, options: {path: $facts, format: parquet}}
         |transformations:
         |  - {name: reg, type: register, options: {viewName: dry_jobs_dim, path: $dim}}
         |  - {name: j, type: join, options: {rightDataset: dry_jobs_dim, joinKeys: k}}
         |  - {name: agg, type: aggregation, options: {groupBy: label, aggregations: "total:sum(v)"}}
         |sink: {type: file, writeMode: overwrite, options: {path: ${tmpDir("dry-jobs-out")}/sub}}
         |""".stripMargin)
    val j0 = JobCount.started(spark.sparkContext)
    new PipelineExecutor().compose(cfg).columns shouldBe Array("label", "total")
    val report = Main.dryRun(cfg)
    JobCount.started(spark.sparkContext) - j0 shouldBe 0
    report should include("label: string")
  }
}
