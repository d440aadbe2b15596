package graft.perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** The traced round and the per-layer metrics derived from it. */
object Layers {

  /** Layers timed by spans, and the counters reported for each. */
  val SpanLayers: Seq[(String, Seq[String])] = Seq(
    "model" -> Seq("s"),
    "exec.populate" -> Seq("s", "self_s", "jobs", "tasks", "task_busy_s", "idle_core_frac",
      "shuffle_mb", "input_mb", "output_mb", "files_written"),
    "exec.swap" -> Seq("s", "self_s"),
    "exec.emit" -> Seq("s", "jobs", "tasks", "task_busy_s", "idle_core_frac", "input_mb"),
    "exec.check" -> Seq("s", "jobs", "tasks", "task_busy_s", "idle_core_frac", "shuffle_mb",
      "input_mb"),
    "exec.compact" -> Seq("s", "jobs", "tasks", "task_busy_s", "idle_core_frac", "input_mb",
      "output_mb", "files_written"),
    "pipeline.spec" -> Seq("s"),
    "pipeline.run" -> Seq("s", "self_s", "jobs", "tasks", "task_busy_s", "idle_core_frac",
      "shuffle_mb", "output_mb", "files_written"),
    "operators.train" -> Seq("s", "jobs", "tasks", "task_busy_s"))

  /** Pipeline steps (of `ann_nights`) listed in BENCHMARK.json, and
    * their counters. `admission_nights` reports its own steps and
    * stores on top of these. */
  val Steps: Seq[String] = Seq("fresh", "encoded", "hits")
  val StepCounters: Seq[String] = Seq("s", "jobs", "tasks", "task_busy_s")
  val Stores: Seq[String] = Seq("fresh", "encoded")
  val StoreCounters: Seq[String] = Seq("mb", "mb_written", "files_deleted")
  val TraceMetrics: Seq[String] = Seq("trace.unattributed_s", "trace.coverage_min",
    "trace.wall_s", "trace.overhead_s")

  /** Every per-layer metric name, in the order BENCHMARK.json lists them. */
  val Names: Seq[String] =
    Seq("session.s") ++
    SpanLayers.flatMap { case (l, cs) => cs.map(c => s"$l.$c") } ++
    Steps.flatMap(s => StepCounters.map(c => s"pipeline.$s.$c")) ++
    Stores.flatMap(s => StoreCounters.map(c => s"streaming.$s.$c")) ++
    TraceMetrics

  private def counter(c: Counters, s: Double, self: Double, cores: Int): Map[String, Double] = Map(
    "s" -> s, "self_s" -> self, "jobs" -> c.jobs.toDouble, "tasks" -> c.tasks.toDouble,
    "task_busy_s" -> c.taskBusyS,
    "idle_core_frac" -> (if (s > 0) math.max(0.0, 1.0 - c.taskBusyS / (s * cores)) else 0.0),
    "shuffle_mb" -> c.shuffleMb, "input_mb" -> c.inputMb, "output_mb" -> c.outputMb,
    "files_written" -> c.filesWritten.toDouble)

  /** Re-run the workload's set-up build traced, then one traced round
    * and its traced follow-ups; returns the round (with their check
    * failures) and every per-layer metric except `trace.overhead_s`,
    * which needs an untraced round. Layer figures include the
    * set-up and follow-up commands' spans. Writes the spans to
    * `<workload root>/trace/spans.jsonl`. */
  def tracedRound(wl: Workload, spark: SparkSession, sessionS: Double, cores: Int)
      : (RoundResult, Map[String, Double]) = {
    val sc = spark.sparkContext
    val listener = new LayerListener
    sc.addSparkListener(listener)
    val tracer = new Tracer(onEnter = id =>
      sc.setLocalProperty(Trace.SpanKey, if (id < 0) null else id.toString))
    val (extraFailures, result) = try {
      val b = wl.tracedBuild(tracer)
      val r = wl.round(Some(tracer))
      (b ++ wl.tracedAfter(tracer), r)
    } finally {
      sc.setLocalProperty(Trace.SpanKey, null)
      listener.drain(sc)
      sc.removeSparkListener(listener)
    }
    val spans = tracer.spans
    val self = Trace.selfSeconds(spans)
    val bySpan = listener.bySpan
    val spanMetrics = SpanLayers.flatMap { case (layer, wanted) =>
      val ss = spans.filter(_.name == layer)
      val c = ss.map(s => bySpan.getOrElse(s.id, Counters())).foldLeft(Counters())(_ + _)
      val m = counter(c, ss.map(_.seconds).sum, ss.map(s => self(s.id)).sum, cores)
      wanted.map(k => s"$layer.$k" -> m(k))
    }.toMap
    val byDesc = listener.byDescription
    val stepMetrics = wl.stepDescriptions.flatMap { case (layer, prefix) =>
      val c = byDesc.collect { case (d, v) if d.startsWith(prefix) => v }.foldLeft(Counters())(_ + _)
      val m = counter(c, wl.layerExtras.getOrElse(s"$layer.s", 0.0), 0.0, cores)
      StepCounters.map(k => s"$layer.$k" -> m(k))
    }.toMap
    val commands = Trace.unattributed(spans)
    val traceMetrics = Map(
      "trace.wall_s" -> result.wallS,
      "trace.unattributed_s" -> commands.map(_._3).maxOption.getOrElse(0.0),
      "trace.coverage_min" -> commands.map { case (_, w, u) => if (w > 0) 1.0 - u / w else 1.0 }
        .minOption.getOrElse(1.0))
    val dir = wl.root.resolve("trace")
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("spans.jsonl"), spans.map(_.json).mkString("", "\n", "\n"))
    commands.foreach { case (n, w, u) =>
      System.err.println(f"[perfbench] traced $n: wall $w%.3fs unattributed $u%.3fs (${100 * u / w}%.1f%%)")
    }
    val coverage = commands.collect { case (n, w, u) if w > 0 && u / w > 0.05 =>
      f"traced command $n: only ${100 * (1 - u / w)}%.1f%% of its wall is in layer spans" }
    val zeros = Names.map(_ -> 0.0).toMap
    val layer = zeros ++ Map("session.s" -> sessionS) ++ spanMetrics ++ stepMetrics ++
      wl.layerExtras ++ traceMetrics
    (result.copy(checkFailures = result.checkFailures ++ extraFailures ++ coverage), layer)
  }
}
