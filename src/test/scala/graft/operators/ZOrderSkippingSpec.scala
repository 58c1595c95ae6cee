package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec

import graft.SparkTestBase
import graft.api.RunContext
import graft.config.{SinkConfig, TransformConfig}

/**
 * End-to-end proof that the z-order layout actually SKIPS data, not just
 * that the bit math is right: write the same grid z-clustered (via the
 * transform's cluster mode + FileSink) and in arbitrary row order, read
 * both back with the same 2-D box predicate, and compare how many rows the
 * parquet scan produced. Row-group pruning runs on min/max footer stats:
 * clustered files cover narrow (x, y) tiles, so groups outside the box are
 * pruned; unclustered files span the whole grid, so nothing can be.
 */
class ZOrderSkippingSpec extends SparkTestBase {
  import spark.implicits._

  /** Rows the parquet scan emitted (post row-group pruning) for `df`. */
  private def rowsScanned(df: DataFrame): Long = {
    df.collect()
    val scans = df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }
    scans should not be empty
    scans.map(_.metrics("numOutputRows").value).sum
  }

  test("clustered write prunes row groups under a 2-D box predicate") {
    val n = 128
    val grid = (0 until n * n).map(i => (i / n * 1.0, i % n * 1.0, i.toLong))
      .toDF("x", "y", "payload")
    val ctx = RunContext(spark, "t", "r")
    val clusteredDir = tmpDir("zskip-clustered")
    val plainDir = tmpDir("zskip-plain")

    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try {
      val z = ZOrderTransform(grid, TransformConfig("z", "zorder", Map(
        "columns" -> "x,y", "lo" -> "0,0", "hi" -> s"$n,$n",
        "bits" -> "7", "cluster" -> "true", "numFiles" -> "16")), ctx)
      graft.sinks.FileSink.write(z,
        SinkConfig("file", Map("path" -> clusteredDir)), ctx)
      // same rows, arbitrary (hash) order: every file spans the whole grid
      grid.repartition(16).write.mode("overwrite").parquet(plainDir)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)

    val box = "x >= 8 AND x <= 15 AND y >= 8 AND y <= 15"
    val fromClustered = spark.read.parquet(clusteredDir).where(box)
    val fromPlain = spark.read.parquet(plainDir).where(box)
    // identical answers...
    fromClustered.select("payload").as[Long].collect().toSet shouldBe
      fromPlain.select("payload").as[Long].collect().toSet
    // ...but the clustered layout reads a fraction of the rows
    val clusteredRows = rowsScanned(fromClustered.select("payload"))
    val plainRows = rowsScanned(fromPlain.select("payload"))
    plainRows shouldBe (n * n).toLong // nothing prunable: full-range files
    clusteredRows should be < plainRows / 4 // the skipping benefit itself
  }
}
