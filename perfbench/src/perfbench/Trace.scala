package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

import graft.api._
import graft.config.{SinkConfig, SourceConfig, TransformConfig}
import graft.runtime.Registries

/** One timed interval. Times are microseconds on one clock ([[Clock]]);
  * `parent` is the enclosing span's id (0 for a root), `run` the pipeline
  * run the span belongs to. */
final case class Span(id: Long, parent: Long, name: String, run: String,
                      start: Long, var end: Long)

/** Microseconds since the epoch, from nanoTime anchored once, so spans
  * recorded here and Spark's epoch-millisecond event times share a clock. */
object Clock {
  private val anchorUs = System.currentTimeMillis() * 1000L
  private val anchorNs = System.nanoTime()
  def nowUs(): Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L
}

/** Which graft module a transform type drives, for the
  * `operators.<module>` layers. Types not listed are relational. */
object Modules {
  private val byType: Map[String, String] = Map(
    "dedup" -> Seq("dedup", "dedup_minhash", "minhash_signatures", "dedup_simhash",
      "dedup_image", "dedup_audio", "dedup_video", "media_signatures", "dedup_embedding",
      "dedup_semantic", "decontaminate_embedding", "dedup_against", "decontaminate",
      "dedup_lines", "line_signatures", "dedup_spans", "gram_signatures", "join_fuzzy"),
    "text" -> Seq("text_signals", "quality_rules", "html_strip", "normalize_text",
      "url_normalize", "blocklist", "redact", "bpe_train", "bpe_tokenize", "bpe_detokenize",
      "bpe_vocab", "bpe_token_count", "vocab_topk", "chunk", "tfidf", "compression_ratio",
      "entropy", "chargram_nll", "chargram_lm", "lang_classify", "importance_score",
      "token_cap", "pack_sequences", "collocations", "shard", "mix"),
    "ann" -> Seq("ann_topk", "cluster_embeddings", "codebook", "pq_codebook", "pq_encode",
      "ivfpq_encode", "ivfpq_codebook"),
    "multimodal" -> Seq("multimodal")
  ).toSeq.flatMap { case (m, ts) => ts.map(_ -> m) }.toMap
  val all: Seq[String] = Seq("relational", "dedup", "text", "ann", "multimodal")
  def of(transformType: String): String = byType.getOrElse(transformType, "relational")
}

/** Span recorder for the driver thread that runs pipelines, plus the Spark
  * listeners that record jobs, stages, tasks, query-planning phases, write
  * metrics and streaming progress. Everything stays in memory; [[Layers]]
  * reads it when the run ends. */
final class Tracer(spark: SparkSession) {
  private var nextId = 1L
  private val stack = mutable.Stack[Span]()
  val spans = mutable.ArrayBuffer[Span]()
  @volatile var run: String = ""

  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption.map(_.id).getOrElse(0L)
    val s = Span(nextId, parent, name, run, Clock.nowUs(), 0L)
    nextId += 1
    stack.push(s)
    val sc = spark.sparkContext
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    try body finally {
      s.end = Clock.nowUs()
      stack.pop()
      spans.synchronized(spans += s)
      sc.setJobDescription(prevDesc)
    }
  }

  /** A span placed after the fact (the quality gate, whose interval only
    * the executor's metrics know). */
  def synthetic(name: String, parent: Long, start: Long, end: Long): Unit =
    spans.synchronized { spans += Span(nextId, parent, name, run, start, end); nextId += 1 }

  // ---- Spark listener side (called on the listener-bus thread) ----
  final case class Job(id: Int, start: Long, var end: Long)
  final case class Task(stage: Int, attempt: Int, finish: Long, durationMs: Long, waitMs: Long,
                        runMs: Long, cpuNs: Long, gcMs: Long, inRows: Long, inBytes: Long,
                        shufRead: Long, shufWrite: Long, spill: Long, failed: Boolean)
  final case class Stage(id: Int, attempt: Int, submit: Long, complete: Long)
  final case class Phase(name: String, start: Long, end: Long)
  final case class Write(at: Long, jobCommitMs: Long, taskCommitMs: Long, files: Long, bytes: Long)
  final case class Progress(startMs: Long, durations: Map[String, Long],
                            rows: Long, stateRows: Long, stateMem: Long)

  val jobs = mutable.ArrayBuffer[Job]()
  val tasks = mutable.ArrayBuffer[Task]()
  val stages = mutable.ArrayBuffer[Stage]()
  val phases = mutable.ArrayBuffer[Phase]()
  val writes = mutable.ArrayBuffer[Write]()
  val progress = mutable.ArrayBuffer[Progress]()
  private val stageSubmit = mutable.Map[(Int, Int), Long]()
  private val seenWriteMetrics = mutable.Set[Long]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs += Job(e.jobId, e.time * 1000L, 0L)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time * 1000L)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      stageSubmit((i.stageId, i.attemptNumber())) =
        i.submissionTime.getOrElse(System.currentTimeMillis()) * 1000L
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      stages += Stage(i.stageId, i.attemptNumber(),
        i.submissionTime.getOrElse(0L) * 1000L, i.completionTime.getOrElse(0L) * 1000L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val info = e.taskInfo
      val m = e.taskMetrics
      val submit = stageSubmit.getOrElse((e.stageId, e.stageAttemptId), info.launchTime * 1000L)
      val wait = math.max(0L, info.launchTime - submit / 1000L)
      if (m == null)
        tasks += Task(e.stageId, e.stageAttemptId, info.finishTime * 1000L, info.duration, wait,
          0, 0, 0, 0, 0, 0, 0, 0, info.failed)
      else
        tasks += Task(e.stageId, e.stageAttemptId, info.finishTime * 1000L, info.duration, wait,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled, info.failed)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val at = qe.tracker.phases.values.map(_.startTimeMs * 1000L).minOption
        .getOrElse(Clock.nowUs())
      qe.tracker.phases.foreach { case (name, p) =>
        phases += Phase(name, p.startTimeMs * 1000L, p.endTimeMs * 1000L)
      }
      def walk(p: SparkPlan): Unit = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case c: CommandResultExec => walk(c.commandPhysicalPlan)
        case w: DataWritingCommandExec =>
          val ms = w.cmd.metrics
          // the same write is reported by the outer save and the inner
          // command execution; count each metric set once
          if (ms.get("numFiles").exists(m => seenWriteMetrics.add(m.id))) {
            def v(k: String) = ms.get(k).map(_.value).getOrElse(0L)
            writes += Write(at, v("jobCommitTime"), v("taskCommitTime"),
              v("numFiles"), v("numOutputBytes"))
          }
          w.children.foreach(walk)
        case other => other.children.foreach(walk)
      }
      try walk(qe.executedPlan) catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        import scala.jdk.CollectionConverters._
        progress += Progress(java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.numInputRows,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
      }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  // ---- decorator registries handed to the executors ----
  private val self = this

  def sources(): Registry[Source] = wrap(Registries.sources(), "source") { s =>
    new Source {
      def sourceType: String = s.sourceType
      def read(c: SourceConfig)(implicit spark: SparkSession): DataFrame =
        self.span("sources")(s.read(c))
      override def validate(c: SourceConfig): List[String] = s.validate(c)
    }
  }

  def transforms(): Registry[Transform] = wrap(Registries.transforms(), "transform") { t =>
    new Transform {
      def transformType: String = t.transformType
      def apply(in: DataFrame, c: TransformConfig, ctx: RunContext): DataFrame =
        self.span("operators." + Modules.of(c.transformType))(t.apply(in, c, ctx))
      override def validate(c: TransformConfig, schema: StructType): List[String] =
        t.validate(c, schema)
    }
  }

  def sinks(): Registry[Sink] = wrap(Registries.sinks(), "sink") { k =>
    new Sink {
      def sinkType: String = k.sinkType
      def write(data: DataFrame, c: SinkConfig, ctx: RunContext): LoadResult =
        self.span("sinks")(k.write(data, c, ctx))
      override def validate(c: SinkConfig): List[String] = k.validate(c)
    }
  }

  private def wrap[T](base: Registry[T], kind: String)(f: T => T): Registry[T] =
    new Registry[T](kind, base.list.map(t => t -> f(base.get(t))).toMap)
}
