package perfbench

import scala.collection.mutable

/** Turns what a [[Tracer]] recorded into the per-layer metrics. Every
  * metric is per cycle, one traced pass over the workload's pipeline set,
  * except `jvm.classes_loaded` (a count at the end of the run). */
object Layers {

  val Names: Seq[(String, String)] = Seq(
    "config.parse_s" -> "s",
    "sources.read_s" -> "s", "sources.read_jobs" -> "count",
    "sources.input_rows" -> "rows", "sources.input_mb" -> "MB",
    "quality.gate_s" -> "s", "quality.gate_jobs" -> "count", "quality.quarantined_rows" -> "rows") ++
    Modules.all.flatMap(m => Seq(s"operators.$m.build_s" -> "s",
      s"operators.$m.eager_jobs" -> "count", s"operators.$m.eager_job_s" -> "s")) ++ Seq(
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s", "catalyst.planning_s" -> "s",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.executor_run_s" -> "s", "exec.executor_cpu_s" -> "s", "exec.task_wait_s" -> "s",
    "exec.gc_s" -> "s", "exec.shuffle_read_mb" -> "MB", "exec.shuffle_write_mb" -> "MB",
    "exec.spill_mb" -> "MB", "exec.task_skew" -> "ratio", "exec.failed_tasks" -> "count",
    "sinks.write_s" -> "s", "sinks.job_commit_s" -> "s", "sinks.task_commit_s" -> "s",
    "sinks.files" -> "count", "sinks.output_mb" -> "MB",
    "runtime.self_s" -> "s",
    "streaming.trigger_s" -> "s", "streaming.add_batch_s" -> "s", "streaming.get_batch_s" -> "s",
    "streaming.latest_offset_s" -> "s", "streaming.query_planning_s" -> "s",
    "streaming.wal_commit_s" -> "s", "streaming.batches" -> "count",
    "streaming.rows_per_batch" -> "rows", "streaming.state_rows" -> "rows",
    "streaming.state_mem_mb" -> "MB", "streaming.no_data_batch_frac" -> "ratio",
    "jvm.gc_s" -> "s", "jvm.jit_compile_s" -> "s", "jvm.classes_loaded" -> "count",
    "trace.overhead_s" -> "s", "trace.unattributed_s" -> "s")

  /** One traced pipeline run: the root span (parse + execute) and what the
    * executor's own metrics say about its quality gate. */
  final case class Run(root: Span, qualityMs: Long, quarantined: Long)

  /** Self time of every span of one run, by layer, in seconds, plus the
    * layer each Spark job was started from. Jobs and query-planning phases
    * become leaf spans under the deepest driver span that contains their
    * start; the driver is single-threaded per pipeline, so containment is
    * attribution. */
  final case class Tree(wall: Double, self: Map[String, Double], jobLayer: Seq[(Tracer#Job, String)])

  def tree(tr: Tracer, run: Run): Tree = {
    val root = run.root
    val own = tr.spans.filter(s => s.run == root.run).toSeq
    val byId = own.map(s => s.id -> s).toMap
    def depth(s: Span): Int = if (s.parent == 0L || !byId.contains(s.parent)) 0 else 1 + depth(byId(s.parent))
    def owner(t: Long): Span =
      own.filter(s => s.start <= t && t <= s.end).maxBy(s => (depth(s), s.start))
    val inRoot = (t: Long) => t >= root.start && t <= root.end
    val jobs = tr.jobs.filter(j => j.end > 0 && inRoot(j.start)).toSeq
    val phases = tr.phases.filter(p => inRoot(p.start)).toSeq
    val jobLeaves = jobs.map(j => (owner(j.start), "exec", j.start, math.min(j.end, root.end), j))
    val phaseLeaves = phases.map(p => (owner(p.start), "catalyst", p.start, math.min(p.end, root.end), p))
    val children = mutable.Map[Long, mutable.ArrayBuffer[(Long, Long)]]()
    own.foreach(s => if (s.parent != 0L) children.getOrElseUpdate(s.parent, mutable.ArrayBuffer()) += ((s.start, s.end)))
    (jobLeaves ++ phaseLeaves).foreach { case (o, _, s, e, _) =>
      children.getOrElseUpdate(o.id, mutable.ArrayBuffer()) += ((s, e)) }
    val self = mutable.Map[String, Double]().withDefaultValue(0.0)
    own.foreach { s =>
      val covered = unionLength(children.getOrElse(s.id, Nil).toSeq, s.start, s.end)
      self(s.name) += (s.end - s.start - covered) / 1e6
    }
    (jobLeaves ++ phaseLeaves).foreach { case (o, layer, s, e, _) =>
      self(layer) += math.max(0L, math.min(e, o.end) - s) / 1e6 }
    Tree((root.end - root.start) / 1e6, self.toMap,
      jobLeaves.map { case (o, _, _, _, j) => (j, o.name) })
  }

  private def unionLength(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Per-layer metrics over `windows` (epoch microseconds), divided by
    * `cycles`. `runs` are the traced pipeline runs inside the windows. */
  def metrics(tr: Tracer, runs: Seq[Run], windows: Seq[(Long, Long)], cycles: Double,
              jvm: Map[String, Double], overheadS: Double): Map[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    Names.foreach { case (n, _) => m(n) = 0.0 }
    def in(t: Long) = windows.exists { case (s, e) => t >= s && t <= e }
    def add(k: String, v: Double): Unit = m(k) += v / cycles

    val trees = runs.map(r => r -> tree(tr, r))
    val spans = tr.spans.filter(s => runs.exists(_.root.run == s.run)).toSeq
    def durS(name: String => Boolean) = spans.filter(s => name(s.name)).map(s => (s.end - s.start) / 1e6).sum
    add("config.parse_s", durS(_ == "config"))
    add("sources.read_s", durS(_ == "sources"))
    add("quality.gate_s", runs.map(_.qualityMs / 1000.0).sum)
    add("quality.quarantined_rows", runs.map(r => math.max(r.quarantined, 0L).toDouble).sum)
    add("sinks.write_s", durS(_ == "sinks"))
    Modules.all.foreach(mod => add(s"operators.$mod.build_s", durS(_ == s"operators.$mod")))
    trees.foreach { case (_, t) =>
      add("runtime.self_s", t.self.getOrElse("runtime", 0.0))
      add("trace.unattributed_s", t.wall - t.self.values.sum)
      t.jobLayer.foreach { case (j, layer) =>
        val js = (j.end - j.start) / 1e6
        if (layer == "sources") add("sources.read_jobs", 1)
        if (layer == "quality") add("quality.gate_jobs", 1)
        if (layer.startsWith("operators.")) {
          add(s"$layer.eager_jobs", 1); add(s"$layer.eager_job_s", js)
        }
      }
    }

    tr.synchronized {
      tr.phases.filter(p => in(p.start)).foreach { p =>
        val k = s"catalyst.${p.name}_s"
        if (m.contains(k)) add(k, (p.end - p.start) / 1e6)
      }
      add("exec.jobs", tr.jobs.count(j => in(j.start)))
      val stages = tr.stages.filter(s => in(s.complete)).toSeq
      add("exec.stages", stages.size)
      val tasks = tr.tasks.filter(t => in(t.finish)).toSeq
      add("exec.tasks", tasks.size)
      add("exec.executor_run_s", tasks.map(_.runMs).sum / 1e3)
      add("exec.executor_cpu_s", tasks.map(_.cpuNs).sum / 1e9)
      add("exec.task_wait_s", tasks.map(_.waitMs).sum / 1e3)
      add("exec.gc_s", tasks.map(_.gcMs).sum / 1e3)
      add("exec.shuffle_read_mb", tasks.map(_.shufRead).sum / 1e6)
      add("exec.shuffle_write_mb", tasks.map(_.shufWrite).sum / 1e6)
      add("exec.spill_mb", tasks.map(_.spill).sum / 1e6)
      add("exec.failed_tasks", tasks.count(_.failed))
      add("sources.input_rows", tasks.map(_.inRows).sum.toDouble)
      add("sources.input_mb", tasks.map(_.inBytes).sum / 1e6)
      // skew of the longest stage in each window, averaged over windows
      windows.foreach { case (ws, we) =>
        val st = stages.filter(s => s.complete >= ws && s.complete <= we)
        if (st.nonEmpty) {
          val longest = st.maxBy(s => s.complete - s.submit)
          val d = tasks.filter(t => t.stage == longest.id && t.attempt == longest.attempt)
            .map(_.durationMs.toDouble).sorted
          if (d.nonEmpty) m("exec.task_skew") += d.last / math.max(1.0, d(d.size / 2)) / windows.size
        }
      }
      tr.writes.filter(w => in(w.at)).foreach { w =>
        add("sinks.job_commit_s", w.jobCommitMs / 1e3)
        add("sinks.task_commit_s", w.taskCommitMs / 1e3)
        add("sinks.files", w.files.toDouble)
        add("sinks.output_mb", w.bytes / 1e6)
      }
      val prog = tr.progress.filter(p => in(p.startMs * 1000L)).toSeq
      if (prog.nonEmpty) {
        def dur(k: String) = prog.map(_.durations.getOrElse(k, 0L)).sum / 1e3
        add("streaming.trigger_s", dur("triggerExecution"))
        add("streaming.add_batch_s", dur("addBatch"))
        add("streaming.get_batch_s", dur("getBatch"))
        add("streaming.latest_offset_s", dur("latestOffset"))
        add("streaming.query_planning_s", dur("queryPlanning"))
        add("streaming.wal_commit_s", dur("walCommit"))
        add("streaming.batches", prog.size)
        val withData = prog.filter(_.rows > 0)
        m("streaming.rows_per_batch") =
          if (withData.isEmpty) 0.0 else withData.map(_.rows).sum.toDouble / withData.size
        m("streaming.state_rows") = prog.map(_.stateRows).max.toDouble
        m("streaming.state_mem_mb") = prog.map(_.stateMem).max / 1e6
        m("streaming.no_data_batch_frac") = (prog.size - withData.size).toDouble / prog.size
      }
    }
    jvm.foreach { case (k, v) => m(k) = v }
    m("trace.overhead_s") = overheadS
    m.toMap
  }
}
