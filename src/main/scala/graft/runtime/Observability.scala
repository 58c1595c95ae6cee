package graft.runtime

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
