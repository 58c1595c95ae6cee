package graft.runtime

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/**
 * Structured JSON logging with correlation ids.
 * Reference: logging/StructuredLogger.scala:26-120. One JSON object per
 * line on stderr; no MDC/framework dependency so it works identically on
 * driver and (if ever needed) executors.
 */
final class StructuredLogger(component: String) {
  def log(level: String, message: String, fields: Map[String, String] = Map.empty): Unit = {
    val kv = (Map(
      "ts" -> java.time.Instant.now().toString,
      "level" -> level, "component" -> component, "message" -> message) ++ fields)
      .map { case (k, v) => graft.Verify.q(k) + ":" + graft.Verify.q(v) }
    System.err.println(kv.mkString("{", ",", "}"))
  }
  def info(msg: String, fields: Map[String, String] = Map.empty): Unit = log("INFO", msg, fields)
  def warn(msg: String, fields: Map[String, String] = Map.empty): Unit = log("WARN", msg, fields)
  def error(msg: String, fields: Map[String, String] = Map.empty): Unit = log("ERROR", msg, fields)
}

/**
 * In-memory per-(pipeline, run) metrics with JSON export and throughput.
 * Reference: logging/MetricsCollector.scala:11-218. Purely driver-side
 * bookkeeping over ExecutionMetrics (which themselves come from the single
 * observed action — no extra Spark jobs).
 */
final class MetricsCollector {
  private val runs = new ConcurrentHashMap[(String, String), ExecutionMetrics]()

  def record(m: ExecutionMetrics): Unit = runs.put((m.pipelineId, m.runId), m)
  def get(pipelineId: String, runId: String): Option[ExecutionMetrics] =
    Option(runs.get((pipelineId, runId)))
  def forPipeline(pipelineId: String): List[ExecutionMetrics] =
    runs.values.asScala.filter(_.pipelineId == pipelineId).toList.sortBy(_.runId)

  def recordsPerSecond(m: ExecutionMetrics): Double =
    if (m.durationMs <= 0 || m.recordsLoaded < 0) 0.0
    else m.recordsLoaded * 1000.0 / m.durationMs

  def summary(pipelineId: String): Map[String, Any] = {
    val ms = forPipeline(pipelineId)
    Map(
      "pipelineId" -> pipelineId,
      "runs" -> ms.size,
      "succeeded" -> ms.count(_.status == "SUCCESS"),
      "failed" -> ms.count(_.status == "FAILED"),
      "totalRecordsLoaded" -> ms.map(_.recordsLoaded.max(0L)).sum,
      "avgDurationMs" -> (if (ms.isEmpty) 0L else ms.map(_.durationMs).sum / ms.size))
  }

  def toJson: String = {
    // Verify's escaper: a pipelineId containing a quote (legal YAML) or a
    // FAILED run's error text must not produce malformed JSON
    def q(s: String) = graft.Verify.q(s)
    def stage(s: StageMetric) =
      s"""{"stage":${q(s.stage)},"records":${s.records},"durationMs":${s.durationMs}}"""
    def row(m: ExecutionMetrics) =
      s"""{"pipelineId":${q(m.pipelineId)},"runId":${q(m.runId)},"status":${q(m.status)},""" +
        s""""recordsExtracted":${m.recordsExtracted},"recordsLoaded":${m.recordsLoaded},""" +
        s""""recordsFailed":${m.recordsFailed},"durationMs":${m.durationMs},""" +
        m.error.map(e => s""""error":${q(e)},""").getOrElse("") +
        s""""stages":${m.stages.map(stage).mkString("[", ",", "]")}}"""
    runs.values.asScala.toList.sortBy(m => (m.pipelineId, m.runId))
      .map(row).mkString("[", ",", "]")
  }
}
