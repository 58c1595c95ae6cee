package graft.runtime

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkConf

/**
 * The settings every graft session starts with, whoever builds it:
 * `runtime.Main` (and so every embedder of `createSparkSession`), the
 * harness mains through `Bench.session`, and the test suite.
 *
 * Two groups:
 *  - the fork-free `file:` classes ([[graft.fs.LocalFileSystems.settings]]);
 *  - [[codegenCache]], which keeps Spark's compiled whole-stage and
 *    expression classes alive across the pipeline runs and streaming
 *    queries of one session.
 *
 * [[sparkConf]] yields each key the deployment sets itself, and a
 * session builder option (`runtime.Main`'s `--conf`) overrides it like
 * any other Spark setting.
 */
object SessionDefaults {
  /** Spark compiles generated Java with Janino and caches the classes by
    * (context classloader, source). Two defaults defeat that cache for a
    * session that runs pipelines more than once:
    *  - `spark.sql.codegen.cache.maxEntries` is 100, split over 4
    *    segments of 25, and one pass over a handful of pipelines uses more
    *    distinct classes than that, so warm runs recompile evicted ones;
    *  - `spark.sql.artifact.isolation.enabled` gives each cloned session
    *    its own classloader, and every streaming query runs on a clone, so
    *    every run of a streaming pipeline recompiles all its classes under
    *    a fresh key (and those dead entries crowd out the live ones).
    * graft adds no session artifacts (jars, files, classes), so sharing
    * the application's classloader loses nothing. Both belong on the
    * session builder: the cache size is a static conf, read once by the
    * JVM's first compile, and isolation is fixed when a session (or its
    * clone) is created. */
  val codegenCache: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> "8192",
    "spark.sql.artifact.isolation.enabled" -> "false")

  /** The `file:` classes and [[codegenCache]], minus each key the
    * deployment sets itself: in `spark` (spark-defaults.conf,
    * spark-submit's `--conf`, `-Dspark.*`) or, as the bare Hadoop key, in
    * any Hadoop resource but `core-default.xml` (e.g. `core-site.xml`). A
    * session builder option outranks both, so these must not reach the
    * builder when either has its own. */
  def sparkConf(spark: SparkConf = new SparkConf(),
      hadoop: Configuration = new Configuration()): Map[String, String] =
    (graft.fs.LocalFileSystems.settings ++ codegenCache).filter { case (key, _) =>
      !spark.contains(key) && Option(hadoop.getPropertySources(key.stripPrefix("spark.hadoop.")))
        .forall(_.forall(_ == "core-default.xml"))
    }
}
