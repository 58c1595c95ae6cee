package graft

/** Driver-shaped smoke gate: every `SparkEntry.queries` entry must RUN
  * against the real `/root/testdata` (sf0.001) without throwing.
  *
  * Why this exists: the unit suites generate their own fixtures, so a
  * testdata drift (round 7: `events.ts` silently changed encoding from
  * TIMESTAMP(NANOS) to timestamp[us]) can break every driver query while
  * `sbt test` stays green. This spec makes `sbt test` red whenever any
  * registry query throws on the real testdata. It CANCELS (visibly, not a
  * silent pass) on machines without the testdata mount. */
class TestdataSmokeSpec extends SparkTestBase {
  private val dir = "/root/testdata/sf0.001"
  private val available = new java.io.File(dir).isDirectory

  SparkEntry.queries.toList.sortBy(_._1).foreach { case (name, fn) =>
    test(s"testdata smoke: $name") {
      assume(available, s"$dir not present on this machine")
      val df = fn(spark, dir)
      noException should be thrownBy df.count()
      // scale gate: no registry query may plan a cartesian product or a
      // global (empty-PARTITION-BY) window — the two anti-patterns that
      // pass at spec scale and die at 100 TB
      graft.plans.PlanLint.errors(df) shouldBe empty
    }
  }

  test("stagedPath at one part: events stages a one-file ts-normalized " +
    "copy, other tables resolve to the raw path") {
    assume(available, s"$dir not present on this machine")
    import org.apache.spark.sql.types.TimestampType
    SparkEntry.stagedPath(spark, dir, "lineitem", 1) shouldBe
      s"$dir/lineitem.parquet"
    val events = SparkEntry.stagedPath(spark, dir, "events", 1)
    events should not be s"$dir/events.parquet"
    SparkEntry.stagedPath(spark, dir, "events", 1) shouldBe events // memoized
    val staged = spark.read.parquet(events)
    staged.schema("ts").dataType shouldBe TimestampType
    staged.inputFiles.length shouldBe 1
    staged.count() shouldBe SparkEntry.rawTab(spark, dir, "events").count()
  }

  test("every oracleSql key has a queries entry") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracleSql without queries entry: $extra")
  }
}
