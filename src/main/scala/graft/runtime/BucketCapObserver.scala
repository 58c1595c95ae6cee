package graft.runtime

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Runtime visibility for the LSH/k-means mega-bucket caps: every
 * candidate-generation path (`minhash`/`simhash` band buckets, hyperplane
 * buckets, semantic-dedup cells) silently drops buckets larger than
 * `maxBucketSize` — the production trade-off that keeps a boilerplate
 * shingle from going quadratic at 100 TB. The DROP ITSELF must be
 * observable, or an operator has no way to see how much recall the cap
 * cost on a given corpus.
 *
 * [[cappedBlocks]] attaches a Spark `observe()` (a zero-job CollectMetrics
 * node riding the existing action) to the pre-filter frame, counting
 *   - `rows_dropped`   — (id, bucket) rows in over-cap buckets,
 *   - `pairs_dropped`  — self-join candidate pairs those rows would have
 *                        produced (Σ n·(n−1)/2 over over-cap buckets —
 *                        each row contributes (n−1)/2); −1 on cross-join
 *                        candidate paths (increment × reference), where
 *                        the true count needs the other side's bucket
 *                        sizes,
 *   - `max_bucket_n`   — the largest bucket seen (cap tuning signal),
 * and lazily registers one [[QueryExecutionListener]] per session that
 * re-emits any non-zero drop as a structured WARN line. Metrics are also
 * available programmatically via `df.queryExecution.observedMetrics`.
 *
 * Honest caveat: if a cap empties an ENTIRE downstream stage (every
 * bucket over-cap — a corpus of pure boilerplate), AQE's empty-relation
 * propagation can replace the subtree holding the CollectMetrics node and
 * the metric never materializes. That degenerate case announces itself —
 * the operator's output is empty — and the realistic partial-drop case
 * (some buckets capped, most not) always keeps the node alive.
 */
object BucketCapObserver {
  private val counter = new AtomicLong()
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())
  private lazy val logger = new StructuredLogger("BucketCap")

  /** Prefix every cap metric name carries; the listener keys off it. */
  val MetricPrefix = "graft.cap."

  /** The capped-block step every candidate-generation path shares: size
    * each block (the rows sharing `keys`) into `sizeCol`, observe what the
    * cap drops ([[observeCap]]), keep the blocks of at most `cap` rows and
    * drop the size column. `op` names the calling operator in the
    * metric/log line; `selfPairs = false` on every increment × reference
    * side. */
  def cappedBlocks(frame: DataFrame, keys: Seq[String], cap: Int, op: String,
                   selfPairs: Boolean, sizeCol: String = "bucket_n"): DataFrame =
    observeCap(frame.withColumn(sizeCol, count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*))),
        op, sizeCol, cap, selfPairs)
      .filter(col(sizeCol) <= cap)
      .drop(sizeCol)

  /** Observe the size column BEFORE the `sizeCol <= cap` filter runs.
    * Every metric
    * is coalesced — an EMPTY observed frame (e.g. a no-new-docs increment)
    * yields sum() = NULL, and an uncoalesced long would NPE inside the
    * listener. `selfPairs = false` marks cross-join candidate paths
    * (increment × reference): there the forgone pairs are
    * rows_dropped × other-side bucket size, which one side cannot compute,
    * so pairs_dropped reports the -1 "not applicable" sentinel instead of
    * a self-join number that would overstate the cost by orders of
    * magnitude. */
  private def observeCap(df: DataFrame, op: String, sizeCol: String, cap: Int,
                         selfPairs: Boolean): DataFrame = {
    ensureListener(df.sparkSession)
    val name = s"$MetricPrefix$op.${counter.incrementAndGet()}"
    val pairs =
      if (selfPairs)
        coalesce(sum(when(col(sizeCol) > cap, (col(sizeCol) - 1) / 2.0)
          .otherwise(0.0)), lit(0.0))
      else lit(-1.0)
    df.observe(name,
      coalesce(sum(when(col(sizeCol) > cap, 1L).otherwise(0L)), lit(0L))
        .as("rows_dropped"),
      pairs.as("pairs_dropped"),
      coalesce(max(col(sizeCol)), lit(0L)).as("max_bucket_n"),
      coalesce(max(lit(cap.toLong)), lit(cap.toLong)).as("cap"))
  }

  private def ensureListener(spark: SparkSession): Unit =
    if (registered.putIfAbsent(spark, java.lang.Boolean.TRUE) == null)
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               durationNs: Long): Unit =
          qe.observedMetrics.foreach { case (name, row) =>
            // isNullAt is belt-and-braces: observeCap coalesces every
            // metric, but a listener must never throw on a surprise row
            if (name.startsWith(MetricPrefix) && !row.isNullAt(0) &&
                row.getLong(0) > 0L) {
              val pairs = row.getDouble(1).toLong
              logger.warn("bucket cap dropped candidates", Map(
                "metric" -> name,
                "rows_dropped" -> row.getLong(0).toString,
                "pairs_dropped" ->
                  (if (pairs < 0L) "n/a (cross-join path)" else pairs.toString),
                "max_bucket_n" -> row.getLong(2).toString,
                "cap" -> row.getLong(3).toString))
            }
          }
        override def onFailure(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               exception: Exception): Unit = ()
      })
}
