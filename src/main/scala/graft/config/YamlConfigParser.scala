package graft.config

import scala.jdk.CollectionConverters._

import org.yaml.snakeyaml.Yaml

import graft.api.ConfigException

/** Pluggable secret lookup replacing the reference's reflection-based Vault
  * client (vault/VaultClient.scala — mock-only; PostgresExtractor.scala:110-122
  * reflection). Typed trait, env-backed default. */
trait CredentialProvider {
  def getSecret(path: String, key: String): Option[String]
}
object EnvCredentialProvider extends CredentialProvider {
  def getSecret(path: String, key: String): Option[String] =
    sys.env.get(s"${path.toUpperCase.replaceAll("[^A-Z0-9]", "_")}_${key.toUpperCase}")
}

/**
 * YAML → PipelineConfig (dialect C — the shape every reference test and
 * shipped pipeline YAML uses; SURVEY §0). snakeyaml untyped load +
 * validated traversal; fail-fast with accumulated errors at parse time
 * rather than mid-pipeline. Supports the `${ENV:NAME}` / `${VAULT:path:key}`
 * placeholder syntax documented at docs/CONFIGURATION.md:494-507 (the
 * reference documents it but ships no resolver).
 */
final class YamlConfigParser(credentials: CredentialProvider = EnvCredentialProvider) {

  def parseFile(path: String): PipelineConfig =
    parse(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))

  def parse(yaml: String): PipelineConfig = {
    val root = Option(new Yaml().load[java.util.Map[String, Object]](yaml))
      .getOrElse(throw new ConfigException("empty YAML document"))
      .asScala.toMap
    val pipelineId = str(root, "pipelineId")
      .orElse(str(root, "name"))
      .getOrElse(throw new ConfigException("pipelineId is required"))

    val source = root.get("source").map(asMap).map(parseSource)
      .getOrElse(throw new ConfigException("source is required"))
    val sink = root.get("sink").map(asMap).map(parseSink)
      .getOrElse(throw new ConfigException("sink is required"))
    val transformations = root.get("transformations").map(asList).getOrElse(Nil)
      .zipWithIndex.map { case (t, i) => parseTransform(asMap(t), i) }

    PipelineConfig(
      pipelineId = pipelineId,
      name = str(root, "name").getOrElse(pipelineId),
      source = source,
      transformations = transformations,
      sink = sink,
      executionMode = str(root, "executionMode").map(ExecutionMode.parse).getOrElse(ExecutionMode.Batch),
      quality = root.get("quality").map(asMap).map(parseQuality),
      performance = root.get("performance").map(asMap).map(parsePerformance),
      streaming = root.get("streaming").map(asMap).map(parseStreaming))
  }

  private def parseSource(m: Map[String, Object]): SourceConfig =
    SourceConfig(
      sourceType = str(m, "type").getOrElse(throw new ConfigException("source.type is required")),
      options = options(m),
      schemaPath = str(m, "schemaPath"))

  private def parseTransform(m: Map[String, Object], idx: Int): TransformConfig =
    TransformConfig(
      name = str(m, "name").getOrElse(s"transform_$idx"),
      transformType = str(m, "type").getOrElse(
        throw new ConfigException(s"transformations[$idx].type is required")),
      options = options(m))

  private def parseSink(m: Map[String, Object]): SinkConfig =
    SinkConfig(
      sinkType = str(m, "type").getOrElse(throw new ConfigException("sink.type is required")),
      options = options(m),
      writeMode = str(m, "writeMode").map(WriteMode.parse).getOrElse(WriteMode.Append),
      partitionBy = m.get("partitionBy") match {
        case Some(l: java.util.List[_]) => l.asScala.map(v => resolve(v.toString)).toList
        case Some(s: String)            => ExprUtils.parseColumns(resolve(s))
        case _                          => Nil
      })

  private def parseQuality(m: Map[String, Object]): QualityConfig =
    QualityConfig(
      schemaValidation = str(m, "schemaValidation")
        .exists(Options.bool("quality", "schemaValidation", _)),
      nullChecks = m.get("nullChecks").map(asList).getOrElse(Nil).map { nc =>
        val ncm = asMap(nc)
        NullCheck(
          column = str(ncm, "column").getOrElse(throw new ConfigException("nullChecks[].column required")),
          action = str(ncm, "action").map(NullAction.parse).getOrElse(NullAction.Quarantine))
      },
      duplicateCheck = m.get("duplicateCheck").flatMap {
        // `false` disables the check (the symmetric spelling of `true`),
        // and `action: fail` must actually reach the executor — dropping
        // it here silently downgraded fail to quarantine
        case b: java.lang.Boolean => if (b) Some(DuplicateCheck()) else None
        case other => val dm = asMap(other)
          Some(DuplicateCheck(
            columns = dm.get("columns") match {
              case Some(l: java.util.List[_]) => l.asScala.map(_.toString).toList
              case Some(s: String)            => ExprUtils.parseColumns(s)
              case _                          => Nil
            },
            action = str(dm, "action").map(a =>
              try NullAction.parse(a)
              catch { case e: IllegalArgumentException =>
                throw new ConfigException(e.getMessage) })
              .getOrElse(NullAction.Quarantine)))
      },
      quarantinePath = str(m, "quarantinePath"))

  private def parsePerformance(m: Map[String, Object]): PerformanceConfig =
    PerformanceConfig(
      repartition = str(m, "repartition").map(Options.int("performance", "repartition", _)),
      cacheIntermediate = str(m, "cacheIntermediate")
        .exists(Options.bool("performance", "cacheIntermediate", _)),
      shufflePartitions =
        str(m, "shufflePartitions").map(Options.int("performance", "shufflePartitions", _)),
      checkpoint = str(m, "checkpoint"),
      checkpointDir = str(m, "checkpointDir"),
      planLint = str(m, "planLint"))

  private def parseStreaming(m: Map[String, Object]): StreamingConfig =
    StreamingConfig(
      checkpointLocation = str(m, "checkpointLocation"),
      watermarkColumn = str(m, "watermarkColumn"),
      watermarkDelay = str(m, "watermarkDelay"),
      trigger = str(m, "trigger"),
      outputMode = str(m, "outputMode").getOrElse("append"),
      dedupColumns = str(m, "dedupColumns"),
      stateStoreProvider = str(m, "stateStoreProvider"),
      shufflePartitions =
        str(m, "shufflePartitions").map(Options.int("streaming", "shufflePartitions", _)))

  // ---- helpers ----
  private def asMap(o: Object): Map[String, Object] = o match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, v) => k.toString -> v.asInstanceOf[Object] }.toMap
    case other => throw new ConfigException(s"expected a mapping, got: $other")
  }
  private def asList(o: Object): List[Object] = o match {
    case l: java.util.List[_] => l.asScala.map(_.asInstanceOf[Object]).toList
    case other => throw new ConfigException(s"expected a list, got: $other")
  }
  // numbers and flags decode from the RESOLVED string: `shufflePartitions:
  // ${ENV:N}` must resolve before the Options reader sees it
  private def str(m: Map[String, Object], k: String): Option[String] =
    m.get(k).map(v => resolve(v.toString))
  private def options(m: Map[String, Object]): Map[String, String] =
    m.get("options").map(asMap).getOrElse(Map.empty).map { case (k, v) => k -> resolve(v.toString) }

  private val Placeholder = """\$\{(ENV|VAULT):([^}]+)\}""".r
  private[config] def resolve(value: String): String =
    Placeholder.replaceAllIn(value, m => {
      val resolved = m.group(1) match {
        case "ENV" => sys.env.get(m.group(2))
        case "VAULT" =>
          m.group(2).split(":", 2) match {
            case Array(path, key) => credentials.getSecret(path, key)
            case _ => throw new ConfigException(s"malformed VAULT placeholder: ${m.matched}")
          }
      }
      java.util.regex.Matcher.quoteReplacement(
        resolved.getOrElse(throw new ConfigException(s"unresolvable placeholder: ${m.matched}")))
    })
}
