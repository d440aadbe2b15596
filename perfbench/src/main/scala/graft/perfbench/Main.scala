package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.Bench

/** One benchmark run: build the session, prepare the workload, then
  * run rounds back to back for `--seconds` and print one JSON result
  * line (end-to-end metrics, or per-layer metrics with `--trace 1`).
  *
  * {{{
  * Main --workload NAME --seed N --seconds S --trace 0|1 [--work DIR] [--examples DIR]
  * }}}
  */
object Main {
  val Cores = 4
  /** Input generations per run; `setup_s` counts their median. */
  val SetupReps = 3
  /** A round is quiet when the host stole at most this share of the
    * machine's CPU time while it ran; only quiet rounds feed the
    * medians. Quiet hosts show under 1 %, contended ones 10-25 %. */
  val QuietSteal = 0.05

  /** Indices of the rounds the medians use: the quiet ones, or the
    * least stolen one when none is quiet. */
  def measuredIndices(steal: Seq[Double]): Seq[Int] = {
    require(steal.nonEmpty, "no rounds")
    val quiet = steal.indices.filter(steal(_) <= QuietSteal)
    if (quiet.nonEmpty) quiet else Seq(steal.indices.minBy(steal))
  }

  /** The session `Cli.main` builds, at [[Cores]] cores, with Spark's
    * scratch and warehouse directories under `work`. */
  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.files.openCostInBytes", (128 * 1024).toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def loadavg: String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim
    catch { case _: Exception => "" }
  private def load1(s: String): Option[Double] = s.split("\\s+").headOption.flatMap(_.toDoubleOption)

  /** (steal, total) jiffies of all CPUs from /proc/stat; zeros where
    * unreadable. Steal is time a virtual machine's CPUs waited for the
    * host, which loadavg inside the machine does not show. */
  private def cpuJiffies: (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
        .split("\\s+").drop(1).take(8).map(_.toLong)
      (f(7), f.sum)
    } catch { case _: Exception => (0L, 0L) }

  /** `f`'s result and the share of CPU time the host stole meanwhile. */
  private def stolen[A](f: => A): (A, Double) = {
    val (s0, t0) = cpuJiffies
    val a = f
    val (s1, t1) = cpuJiffies
    (a, if (t1 > t0) (s1 - s0).toDouble / (t1 - t0) else 0.0)
  }

  /** Heap a full collection keeps: the collectors' after-GC usage summed
    * over the heap pools, least of three collections a little apart (the
    * session's cleaner threads release the last round's objects
    * asynchronously). */
  private def heapMb(): Double = (1 to 3).map { _ =>
    Thread.sleep(200)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }.min

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = args.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = Paths.get(args.getOrElse("work", ".perfbench_work")).toAbsolutePath
    val examples = Paths.get(args.getOrElse("examples", "examples")).toAbsolutePath
    require(Workload.Names.contains(workload), s"unknown workload $workload")
    require(Files.exists(examples.resolve("tpch_model.yaml")), s"no graft examples under $examples")
    val code =
      try { println(run(workload, seed, seconds, trace, work, examples, Scale.bench)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  /** One run; returns the result JSON line. */
  def run(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path,
      examples: Path, scale: Scale): String = {
    Files.createDirectories(work)
    val (idleWaitS, idle) = Bench.waitForIdle(threshold = Cores / 16.0, budgetMs = 1000L,
      pollMs = 500L, read = () => load1(loadavg))
    val loadStart = loadavg
    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val root = work.resolve(workload)
      val wl = Workload(workload, spark, root, seed, scale, examples)
      // set-up: session, input generation (SetupReps times, the last
      // one's files are kept) and the starting state
      val prepS = (1 to SetupReps).map { _ =>
        Files2.deleteRecursively(root)
        val p0 = System.nanoTime()
        wl.generate()
        (System.nanoTime() - p0) / 1e9
      }
      val b0 = System.nanoTime()
      wl.build()
      val buildS = (System.nanoTime() - b0) / 1e9
      val setupS = sessionS + Stats.median(prepS) + buildS

      // untraced: rounds back to back until `seconds` have passed. No
      // warm-up comes first: a graft command is one JVM process, so its
      // users pay class loading, code generation and JIT on every run,
      // and the first round (one round at the current sizes) pays them
      // too. Traced: a warm-up round, one traced round, then an
      // untraced round whose output must match the traced one's and
      // whose wall is the baseline of the tracing overhead.
      val rounds = scala.collection.mutable.ArrayBuffer.empty[RoundResult]
      val steal = scala.collection.mutable.ArrayBuffer.empty[Double]
      val (layer, warm, warmS) = if (!trace) {
        val m0 = System.nanoTime()
        def elapsed = (System.nanoTime() - m0) / 1e9
        while (rounds.isEmpty || elapsed < seconds) {
          val (r, s) = stolen(wl.round(None))
          rounds += r
          steal += s
        }
        (Map.empty[String, Double], None, 0.0)
      } else {
        val w0 = System.nanoTime()
        val warm = wl.warmUp()
        val warmS = (System.nanoTime() - w0) / 1e9
        val ((traced, metrics), tracedSteal) = stolen(Layers.tracedRound(wl, spark, sessionS, Cores))
        val tracedShape = wl.outputs.map(wl.outputShape)
        val (untraced, untracedSteal) = stolen(wl.round(None))
        val shape = wl.outputs.map(wl.outputShape)
        val drift = if (shape == tracedShape) Nil
          else Seq(s"traced round wrote $tracedShape, untraced $shape")
        rounds += traced.copy(checkFailures = traced.checkFailures ++ drift) += untraced
        steal += tracedSteal += untracedSteal
        (metrics + ("trace.overhead_s" -> (traced.wallS - untraced.wallS)), Some(warm), warmS)
      }

      val all = warm.toSeq ++ rounds
      val failures = all.flatMap(r => r.commands.flatMap(_.error) ++ r.checkFailures)
      val attempted = all.map(_.commands.size).sum
      val failed = all.map(_.failed).sum
      val files = wl.outputs.flatMap(Files2.regularFiles)
      val measured = if (trace) rounds.toSeq else measuredIndices(steal.toSeq).map(rounds)
      val wallS = Stats.median(measured.map(_.wallS))
      val endToEnd = Map(
        "setup_s" -> setupS,
        "wall_s" -> wallS,
        "cmd_p50_s" -> Stats.median(measured.flatMap(_.cmdWalls)),
        "rows_per_s" -> wl.sourceRows / wallS,
        "cpu_s" -> Stats.median(measured.map(_.cpuS)),
        "files_written" -> files.size.toDouble,
        "bytes_on_disk_mb" -> files.map(Files.size).sum / 1048576.0,
        "retained_heap_mb" -> heapMb(),
        "ok_frac" -> (1.0 - failed.toDouble / attempted))
      val loadEnd = loadavg
      val distorted = Bench.distortedFlag(prelaunch = "", jvmStart = loadStart, start = loadStart,
        end = loadEnd, cpus = Cores.toDouble, totalMed = wallS,
        totalMin = measured.map(_.wallS).min) || !steal.exists(_ <= QuietSteal)
      val record = Json.obj(Seq(
        "workload" -> Json.str(workload), "seed" -> seed.toString, "trace" -> trace.toString,
        "rounds" -> rounds.size.toString, "measured_rounds" -> measured.size.toString,
        "session_s" -> Json.num(sessionS),
        "generate_s" -> prepS.map(Json.num).mkString("[", ",", "]"),
        "build_s" -> Json.num(buildS),
        "warmup_s" -> Json.num(warmS),
        "round_wall_s" -> rounds.map(r => Json.num(r.wallS)).mkString("[", ",", "]"),
        "round_steal_frac" -> steal.map(Json.num).mkString("[", ",", "]"),
        "command_wall_s" -> measured.flatMap(_.commands).map(c => Json.num(c.wallS)).mkString("[", ",", "]"),
        "nproc" -> Runtime.getRuntime.availableProcessors.toString,
        "session_cores" -> spark.sparkContext.defaultParallelism.toString,
        "loadavg_start" -> Json.str(loadStart), "loadavg_end" -> Json.str(loadEnd),
        "idle_wait_s" -> Json.num(idleWaitS), "idle_reached" -> idle.toString,
        "distorted" -> distorted.toString,
        "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
        "end_to_end" -> Json.metrics(endToEnd, Units.of),
        "per_layer" -> Json.metrics(layer, Units.of)))
      Files.writeString(work.resolve(s"$workload.record.json"), record + "\n")
      System.err.println(s"[perfbench] $record")
      failures.foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
      Json.obj(Seq(
        "correct" -> (failed == 0).toString,
        "attempted" -> attempted.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.metrics(if (trace) layer else endToEnd, Units.of)))
    } finally spark.stop()
  }
}

object Units {
  def of(name: String): String =
    if (name.endsWith("_mb") || name.endsWith(".mb") || name.endsWith(".mb_written")) "MB"
    else if (name.endsWith("_frac") || name.endsWith(".coverage_min")) "fraction"
    else if (name.endsWith("rows_per_s")) "1/s"
    else if (name.endsWith("_s") || name.endsWith(".s")) "s"
    else "count"
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def metrics(m: Map[String, Double], unit: String => String): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) =>
      require(Stats.validName(k), s"bad metric name $k")
      k -> obj(Seq("value" -> num(v), "unit" -> str(unit(k))))
    })
}
