package graft.operators


import graft.SparkTestBase
import graft.api.{ConfigException, RunContext}
import graft.config.TransformConfig

class MergeSpec extends SparkTestBase {
  import spark.implicits._

  private val ctx = RunContext(spark, "t", "r")
  private val snapshot = Seq(
    (1L, "alice", 10.0), (2L, "bob", 20.0), (3L, "carol", 30.0))
    .toDF("id", "name", "bal")

  private def run(changes: org.apache.spark.sql.DataFrame, opts: (String, String)*) = {
    changes.createOrReplaceTempView("merge_changes")
    MergeTransform(snapshot, TransformConfig("m", "merge",
      Map("rightDataset" -> "merge_changes", "keyColumns" -> "id") ++ opts.toMap), ctx)
  }

  test("upsert + delete + insert produce the new snapshot") {
    val changes = Seq(
      (2L, "bob2", 25.0, "U"),   // update
      (3L, "carol", 30.0, "D"),  // delete
      (9L, "zed", 90.0, "I"))    // insert
      .toDF("id", "name", "bal", "op")
    val out = run(changes, "opColumn" -> "op")
      .as[(Long, String, Double)].collect().sortBy(_._1)
    out shouldBe Array((1L, "alice", 10.0), (2L, "bob2", 25.0), (9L, "zed", 90.0))
  }

  test("orderBy collapses multi-change keys latest-wins, including a trailing delete") {
    val changes = Seq(
      (2L, "bob2", 21.0, "U", 1L), (2L, "bob3", 22.0, "U", 2L), // latest wins
      (3L, "x", 0.0, "U", 1L), (3L, "x", 0.0, "D", 2L),         // ends deleted
      (9L, "zed", 90.0, "D", 1L), (9L, "zed", 91.0, "I", 2L))   // ends inserted
      .toDF("id", "name", "bal", "op", "seq")
    val out = run(changes, "opColumn" -> "op", "orderBy" -> "seq")
      .as[(Long, String, Double)].collect().sortBy(_._1)
    out shouldBe Array((1L, "alice", 10.0), (2L, "bob3", 22.0), (9L, "zed", 91.0))
  }

  test("no opColumn = pure upsert; extra change columns are ignored") {
    val changes = Seq((1L, "alice2", 11.0, "junk"), (4L, "dan", 40.0, "junk"))
      .toDF("id", "name", "bal", "extra")
    val out = run(changes).as[(Long, String, Double)].collect().sortBy(_._1)
    out shouldBe Array(
      (1L, "alice2", 11.0), (2L, "bob", 20.0), (3L, "carol", 30.0), (4L, "dan", 40.0))
  }

  test("duplicate change keys without orderBy fail at execution, not silently") {
    val changes = Seq((2L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "bal")
    val ex = intercept[Exception](run(changes).collect())
    val chain = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString("\n")
    chain should include("orderBy")
  }

  test("broadcast default: snapshot side joins without an exchange; no Window anywhere") {
    val changes = Seq((2L, "bob2", 25.0)).toDF("id", "name", "bal")
    val plan = run(changes).queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should include("LeftAnti")
    plan should not include "Window"
    // broadcast=false only drops the hint (the optimizer may still
    // broadcast a tiny delta on its own) — results must be identical
    val hinted = run(changes).as[(Long, String, Double)].collect().sortBy(_._1)
    val unhinted = run(changes, "broadcast" -> "false")
      .as[(Long, String, Double)].collect().sortBy(_._1)
    unhinted shouldBe hinted
  }

  test("map-typed payload columns merge (latest-wins via max_by, not an " +
    "orderable-struct max that rejects maps at analysis)") {
    val snapMap = Seq((1L, Map("a" -> "1")), (2L, Map("b" -> "2")))
      .toDF("id", "attrs")
    val changes = Seq(
      (2L, Map("b" -> "old"), 1L), (2L, Map("b" -> "new"), 2L),
      (3L, Map("c" -> "3"), 1L)).toDF("id", "attrs", "seq")
    changes.createOrReplaceTempView("merge_map_changes")
    val byId = MergeTransform(snapMap, TransformConfig("m", "merge",
      Map("rightDataset" -> "merge_map_changes", "keyColumns" -> "id",
        "orderBy" -> "seq")), ctx)
      .collect().map(r => r.getLong(0) -> r.getMap[String, String](1).toMap).toMap
    byId(1L) shouldBe Map("a" -> "1")   // untouched
    byId(2L) shouldBe Map("b" -> "new") // latest by seq
    byId(3L) shouldBe Map("c" -> "3")   // insert
    byId.size shouldBe 3
  }

  test("config errors: missing change columns, bad keys") {
    val changes = Seq((2L, "bob2")).toDF("id", "name") // no bal
    an[ConfigException] should be thrownBy run(changes)
    an[ConfigException] should be thrownBy {
      val ok = Seq((2L, "b", 1.0)).toDF("id", "name", "bal")
      ok.createOrReplaceTempView("merge_changes")
      MergeTransform(snapshot, TransformConfig("m", "merge",
        Map("rightDataset" -> "merge_changes", "keyColumns" -> "ghost")), ctx)
    }
    MergeTransform.validate(TransformConfig("m", "merge",
      Map("keyColumns" -> "ghost")), snapshot.schema) should not be empty
  }
}
