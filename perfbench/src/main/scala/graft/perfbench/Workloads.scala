package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Cli
import graft.exec.Runner
import graft.model._
import graft.pipeline.CurationPipeline
import graft.sources.{MetadataSink, ModelParser}

/** Input sizes. [[Scale.bench]] is what the benchmark measures;
  * [[Scale.smoke]] is the same shape small enough for unit tests.
  *
  * `star_full` spans 90 order days at TPC-H sf0.1's density (150,000
  * orders over its 2,406 days is 62 a day, so 5,600 orders), one day
  * partition per fact per day. TPC-H's whole span is out of reach:
  * round time grows with the day partitions (on a 4-core machine a
  * warm round took 7.5 s at 20 days, 10 s at 90, a traced one 25 s at
  * 240; the measured round, the first in its JVM, takes 14-21 s at 90),
  * and the whole span at sf0.1 takes over 100 s, more than a run can
  * hold. */
final case class Scale(starOrders: Long, starDays: Int, nightlyOrders: Long,
    nightlyHistoryDays: Int, shipLagDays: Int, docs: Int, vectors: Int, dim: Int,
    queries: Int)

object Scale {
  val bench = Scale(starOrders = 5600, starDays = 90, nightlyOrders = 6000,
    nightlyHistoryDays = 20, shipLagDays = 5, docs = 1500, vectors = 900, dim = 32,
    queries = 20)
  val smoke = Scale(starOrders = 300, starDays = 4, nightlyOrders = 300,
    nightlyHistoryDays = 4, shipLagDays = 2, docs = 150, vectors = 300, dim = 16,
    queries = 5)
}

/** What one command did: its wall time and whether it threw. */
final case class CmdResult(label: String, wallS: Double, error: Option[String])

/** One round of a workload: the timed commands and the output checks. */
final case class RoundResult(wallS: Double, cpuS: Double, commands: Seq[CmdResult],
    cmdWalls: Seq[Double], checkFailures: Seq[String]) {
  def failed: Int = commands.count(_.error.nonEmpty) + checkFailures.size
}

/** Per-table (rows, files) under an output root, used to assert that the
  * traced command sequence writes what `Cli.run` writes. */
final case class OutputShape(tables: Map[String, (Long, Int)], otherFiles: Map[String, Int])

/** Shared plumbing for the four workloads. `tracer` is set for the
  * traced round only. */
abstract class Workload(val spark: SparkSession, val root: Path, val seed: Long,
    val scale: Scale) {
  /** Generate the inputs (repeatable: each call rewrites them). */
  def generate(): Unit
  /** Build the starting state the rounds restore, after [[generate]]. */
  def build(): Unit = ()
  /** Re-run [[build]]'s commands traced, into a scratch location;
    * returns how the traced output differs from the untraced one. */
  def tracedBuild(tracer: Tracer): Seq[String] = Nil
  /** Traced follow-up commands on a copy of the traced round's output;
    * returns check failures. */
  def tracedAfter(tracer: Tracer): Seq[String] = Nil
  /** Source rows one round consumes. */
  def sourceRows: Long
  /** Run one round from a clean state. */
  def round(tracer: Option[Tracer]): RoundResult
  /** Untimed round before the traced one that runs every code path a
    * round runs, so the traced round and the untraced round after it
    * both run warm and their difference is the tracing overhead. */
  def warmUp(): RoundResult = round(None)
  /** Output roots whose files count as written by the workload. */
  def outputs: Seq[Path]
  /** Extra per-layer figures from the last round (pipeline step walls,
    * streaming store sizes), keyed by metric name. */
  def layerExtras: Map[String, Double] = Map.empty
  /** Spark job-description prefixes to report as pipeline layers. */
  def stepDescriptions: Seq[(String, String)] = Seq.empty

  val src: Path = root.resolve("src")
  val out: Path = root.resolve("out")
  val state: Path = root.resolve("state")

  protected val cpuBean =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  protected def cpuNow: Double = cpuBean.getProcessCpuTime / 1e9

  protected def reset(paths: Path*): Unit = paths.foreach(Files2.deleteRecursively)

  /** Run one CLI command untraced through `Cli.run`, or traced through
    * [[TracedCli]]; failures are recorded, not thrown. */
  protected def cli(label: String, args: Seq[String], tracer: Option[Tracer]): CmdResult = {
    val t0 = System.nanoTime()
    val err =
      try {
        val violations = tracer match {
          case None    => Cli.run(args, spark)
          case Some(t) => TracedCli.run(t, label, args, spark)
        }
        if (violations.isEmpty) None
        else Some(violations.map { case (t, c, n) => s"$t $c has $n duplicate keys" }.mkString("; "))
      } catch {
        case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    CmdResult(label, (System.nanoTime() - t0) / 1e9, err)
  }

  /** Time a sequence of commands; `untimed` work between them (checks,
    * snapshots) is excluded from wall and cpu. */
  protected final class Timer {
    private var wall = 0.0
    private var cpu = 0.0
    def timed[A](f: => A): A = {
      val (w0, c0) = (System.nanoTime(), cpuNow)
      try f finally { wall += (System.nanoTime() - w0) / 1e9; cpu += cpuNow - c0 }
    }
    def wallS: Double = wall
    def cpuS: Double = cpu
  }

  /** Tables are directories holding a `_SUCCESS` marker. */
  def outputShape(dir: Path): OutputShape = {
    val files = Files2.regularFiles(dir).map(dir.relativize(_).toString)
    val tableDirs = files.filter(_.endsWith("_SUCCESS")).map(_.stripSuffix("_SUCCESS").stripSuffix("/"))
      .sortBy(-_.length)
    def tableOf(f: String) = tableDirs.find(t => f.startsWith(t + "/"))
    val tables = tableDirs.map { t =>
      val n = files.count(f => tableOf(f).contains(t) && !f.endsWith("_SUCCESS") && !f.endsWith(".crc"))
      t -> (spark.read.parquet(dir.resolve(t).toString).count(), n)
    }.toMap
    val others = files.filter(f => tableOf(f).isEmpty)
      .groupMapReduce(f => Option(Paths.get(f).getParent).map(_.toString).getOrElse("."))(_ => 1)(_ + _)
    OutputShape(tables, others)
  }
}

object Files2 {
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  def regularFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Seq.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
    }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }

  /** path -> (size, mtime) of every regular file under `p`. */
  def listing(p: Path): Map[String, (Long, Long)] =
    regularFiles(p).map(f => f.toString ->
      (Files.size(f), Files.getLastModifiedTime(f).toMillis)).toMap
}

object Workload {
  val Names: Seq[String] = Seq("star_full", "star_nightly", "admission_nights", "ann_nights")

  def apply(name: String, spark: SparkSession, root: Path, seed: Long, scale: Scale,
      examples: Path): Workload = name match {
    case "star_full"        => new StarFull(spark, root, seed, scale, examples)
    case "star_nightly"     => new StarNightly(spark, root, seed, scale, examples)
    case "admission_nights" => new AdmissionNights(spark, root, seed, scale, examples)
    case "ann_nights"       => new AnnNights(spark, root, seed, scale, examples)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (one of ${Names.mkString(", ")})")
  }

  def ts(t: LocalDateTime): String = Timestamp.valueOf(t).toString.stripSuffix(".0")
}

/** Totals of the star model's facts, recomputed from the sources. */
final case class StarTotals(lines: Long, qty: Double, orders: Long)

trait StarChecks { self: Workload =>
  /** Totals over source rows with event time before `upper` (all rows
    * when None), read with plain Spark — not through graft. */
  def sourceTotals(upper: Option[Timestamp]): StarTotals = {
    def before(c: String) = upper.map(u => col(c) < lit(u)).getOrElse(lit(true))
    val li = spark.read.parquet(src.resolve("lineitem.parquet").toString).filter(before("l_shipdate"))
      .agg(count(lit(1)), sum(col("l_quantity"))).head()
    val o = spark.read.parquet(src.resolve("orders.parquet").toString).filter(before("o_orderdate")).count()
    StarTotals(li.getLong(0), li.getDouble(1), o)
  }

  def factTotals(dir: Path): StarTotals = {
    val li = spark.read.parquet(dir.resolve("fact_line_by_minute").toString)
      .agg(sum(col("line_count")).cast("long"), sum(col("qty")).cast("double")).head()
    val o = spark.read.parquet(dir.resolve("fact_order_by_minute").toString)
      .agg(sum(col("order_count")).cast("long")).head()
    StarTotals(li.getLong(0), li.getDouble(1), o.getLong(0))
  }

  def compareTotals(what: String, want: StarTotals, got: StarTotals): Seq[String] =
    (if (want.lines != got.lines) Seq(s"$what: sum(line_count) ${got.lines} != ${want.lines}") else Nil) ++
    (if (math.abs(want.qty - got.qty) > 1e-6 * math.max(1.0, want.qty))
      Seq(s"$what: sum(qty) ${got.qty} != ${want.qty}") else Nil) ++
    (if (want.orders != got.orders) Seq(s"$what: sum(order_count) ${got.orders} != ${want.orders}") else Nil)

  /** (rows, order-independent checksum) of every table under `dir`. */
  def tableChecksums(dir: Path): Map[String, (Long, Long)] =
    Files.list(dir).iterator().asScala.toSeq
      .filter(p => Files.exists(p.resolve("_SUCCESS")))
      .map { p =>
        val df = spark.read.parquet(p.toString)
        val r = df.agg(count(lit(1)), sum(xxhash64(to_json(struct(df.columns.sorted.map(col).toIndexedSeq: _*))).cast("decimal(38,0)"))).head()
        p.getFileName.toString -> (r.getLong(0), Option(r.getDecimal(1)).map(_.longValue).getOrElse(0L))
      }.toMap
}

/** `examples/tpch_model.yaml` full refresh with default flags. The
  * input does not depend on the seed. */
final class StarFull(spark: SparkSession, root: Path, seed: Long, scale: Scale, examples: Path)
    extends Workload(spark, root, seed, scale) with StarChecks {
  private val model = examples.resolve("tpch_model.yaml").toString
  private var rows = 0L
  private var want: StarTotals = _

  def generate(): Unit = {
    rows = Gen.star(spark, src.toString, seed = 20010101L, scale.starOrders,
      Timestamp.valueOf("2001-01-01 00:00:00"), scale.starDays, scale.shipLagDays).values.sum
    want = sourceTotals(None)
  }
  def sourceRows: Long = rows
  def outputs: Seq[Path] = Seq(out)

  /** `--compact` of a copy of the refreshed tables: the maintenance
    * command the nightly workload ends with, traced here so the
    * compaction layer is measured; it must keep every table's rows. */
  override def tracedAfter(tracer: Tracer): Seq[String] = {
    val copy = root.resolve("out_compact")
    reset(copy)
    Files2.copyTree(out, copy)
    val before = tableChecksums(copy)
    val c = cli("compact", Seq(model, src.toString, copy.toString, "--compact"), Some(tracer))
    val after = if (c.error.isEmpty) tableChecksums(copy) else before
    reset(copy)
    c.error.toSeq ++ (if (before == after) Nil else Seq(s"compact changed table contents: $before -> $after"))
  }

  def round(tracer: Option[Tracer]): RoundResult = {
    reset(out)
    val timer = new Timer
    val c = timer.timed(cli("full", Seq(model, src.toString, out.toString), tracer))
    val checks = if (c.error.nonEmpty) Nil else compareTotals("full", want, factTotals(out))
    RoundResult(timer.wallS, timer.cpuS, Seq(c), Seq(c.wallS), checks)
  }
}

/** Live tables built with `--upper CUT` during set-up; each round
  * restores them, runs three daily `--incremental` windows and one
  * `--compact`. The seed picks CUT within February 2001; the history
  * before CUT has the same length for every seed. */
final class StarNightly(spark: SparkSession, root: Path, seed: Long, scale: Scale, examples: Path)
    extends Workload(spark, root, seed, scale) with StarChecks {
  private val model = examples.resolve("tpch_model.yaml").toString
  private val snap = root.resolve("snap")
  val cut: LocalDateTime =
    LocalDateTime.of(2001, 2, 1, 0, 0).plusDays(java.lang.Math.floorMod(seed * 2654435761L, 28L))
  private val windows = (0 until 3).map(i => (cut.plusDays(i), cut.plusDays(i + 1)))
  private var windowRows = 0L
  private var want: StarTotals = _

  def generate(): Unit = {
    Gen.star(spark, src.toString, seed, scale.nightlyOrders,
      Timestamp.valueOf(cut.minusDays(scale.nightlyHistoryDays)),
      scale.nightlyHistoryDays + windows.size, scale.shipLagDays)
    val lo = Timestamp.valueOf(cut)
    val hi = Timestamp.valueOf(windows.last._2)
    windowRows =
      spark.read.parquet(src.resolve("orders.parquet").toString)
        .filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi)).count() +
      spark.read.parquet(src.resolve("lineitem.parquet").toString)
        .filter(col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi)).count()
    want = sourceTotals(Some(hi))
  }

  private def upper(dir: Path) = Seq(model, src.toString, dir.toString, "--upper", Workload.ts(cut))

  override def build(): Unit = {
    reset(snap)
    val violations = Cli.run(upper(snap), spark)
    require(violations.isEmpty, s"--upper build reported UNIQUE violations: $violations")
  }

  override def tracedBuild(tracer: Tracer): Seq[String] = {
    val tracedSnap = root.resolve("snap_traced")
    reset(tracedSnap)
    val c = cli("upper", upper(tracedSnap), Some(tracer))
    val (want, got) = (outputShape(snap), outputShape(tracedSnap))
    reset(tracedSnap)
    c.error.toSeq ++ (if (want == got) Nil else Seq(s"traced --upper build wrote $got, untraced $want"))
  }
  def sourceRows: Long = windowRows
  def outputs: Seq[Path] = Seq(out)

  def round(tracer: Option[Tracer]): RoundResult = {
    reset(out)
    Files2.copyTree(snap, out)
    val timer = new Timer
    val cmds = windows.map { case (lo, hi) =>
      timer.timed(cli("incremental", Seq(model, src.toString, out.toString,
        "--incremental", Workload.ts(lo), Workload.ts(hi)), tracer))
    }
    val before = tableChecksums(out)
    val compact = timer.timed(cli("compact", Seq(model, src.toString, out.toString, "--compact"), tracer))
    val all = cmds :+ compact
    val checks =
      if (all.exists(_.error.nonEmpty)) Nil
      else {
        val after = tableChecksums(out)
        compareTotals("nightly", want, factTotals(out)) ++
          (if (before != after) Seq(s"compact changed table contents: $before -> $after") else Nil)
      }
    RoundResult(timer.wallS, timer.cpuS, all, cmds.map(_.wallS), checks)
  }
}

/** Manifest rows of one pipeline night: step -> (in_rows, rows, seconds). */
object Manifest {
  private val StepRe =
    """\{"name":"([^"]+)","op":"[^"]*","input":"[^"]*","in_rows":(\d+),"rows":(\d+),"seconds":([0-9.]+)\}""".r
  def parse(json: String): Seq[(String, Long, Long, Double)] =
    StepRe.findAllMatchIn(json).map(m =>
      (m.group(1), m.group(2).toLong, m.group(3).toLong, m.group(4).toDouble)).toSeq
  def read(outDir: Path): Seq[(String, Long, Long, Double)] =
    parse(new String(Files.readAllBytes(outDir.resolve("pipeline_manifest.json")), "UTF-8"))
}

/** Shared logic of the two pipeline workloads: nights under one
  * `--state`, per-step walls from the manifests, store growth. */
abstract class PipelineNights(spark: SparkSession, root: Path, seed: Long, scale: Scale)
    extends Workload(spark, root, seed, scale) {
  def yaml: String
  def specName: String
  def steps: Seq[String]
  def stores: Seq[String]
  def nightDir(n: Int): Path = src.resolve(s"night$n")
  def outputs: Seq[Path] = Seq(out, state)
  override def stepDescriptions: Seq[(String, String)] =
    steps.map(s => s"pipeline.$s" -> s"pipeline $specName: step $s (")

  protected var extras: Map[String, Double] = Map.empty
  override def layerExtras: Map[String, Double] = extras

  /** Run night `n`; returns the command and the manifest (empty on failure). */
  protected def night(n: Int, timer: Timer, tracer: Option[Tracer], args: Seq[String])
      : (CmdResult, Seq[(String, Long, Long, Double)]) = {
    val before = stores.map(s => s -> Files2.listing(state.resolve(s))).toMap
    val o = out.resolve(s"night$n")
    val c = timer.timed(cli("pipeline", Seq("pipeline", yaml, nightDir(n).toString, o.toString,
      "--state", state.toString) ++ args, tracer))
    val manifest = if (c.error.isEmpty) Manifest.read(o) else Nil
    val mb = 1048576.0
    extras = stores.flatMap { s =>
      val after = Files2.listing(state.resolve(s))
      val written = after.collect { case (p, v) if !before(s).get(p).contains(v) => v._1 }.sum
      Seq(s"streaming.$s.mb" -> after.values.map(_._1).sum / mb,
        s"streaming.$s.mb_written" -> written / mb,
        s"streaming.$s.files_deleted" -> before(s).keySet.diff(after.keySet).size.toDouble)
    }.toMap ++ steps.map(s => s"pipeline.$s.s" ->
      (extras.getOrElse(s"pipeline.$s.s", 0.0) + manifest.find(_._1 == s).map(_._4).getOrElse(0.0)))
    (c, manifest)
  }
}

/** `examples/nightly_admission.yaml` over five nights; night of a
  * document = seeded hash of `doc_id`. */
final class AdmissionNights(spark: SparkSession, root: Path, seed: Long, scale: Scale, examples: Path)
    extends PipelineNights(spark, root, seed, scale) {
  val yaml: String = examples.resolve("nightly_admission.yaml").toString
  val specName = "nightly_admission"
  val steps = Seq("validated", "admitted", "stripped", "novel", "budgeted")
  val stores = Seq("admitted", "stripped", "novel")
  val nights = 5
  private var batch: Seq[Long] = Nil
  private var newTexts: Seq[Long] = Nil

  def generate(): Unit = {
    val docs = Gen.documents(spark, seed, scale.docs, nights).cache()
    (0 until nights).foreach(n => docs.filter(col("night") === n).drop("night").coalesce(1)
      .write.mode("overwrite").parquet(nightDir(n).resolve("batch.parquet").toString))
    val byNight = docs.select("night", "text").collect().groupMap(_.getInt(0))(_.getString(1))
    docs.unpersist()
    batch = (0 until nights).map(n => byNight.getOrElse(n, Array.empty[String]).length.toLong)
    // content first seen on night n: distinct texts not present on an earlier night
    val seen = scala.collection.mutable.Set.empty[String]
    newTexts = (0 until nights).map { n =>
      val fresh = byNight.getOrElse(n, Array.empty[String]).toSet.diff(seen)
      seen ++= fresh
      fresh.size.toLong
    }
  }
  def sourceRows: Long = batch.sum

  def round(tracer: Option[Tracer]): RoundResult = {
    reset(out, state)
    extras = Map.empty
    val timer = new Timer
    val results = (0 until nights).map(n => night(n, timer, tracer, Seq("--compact-state")))
    val checks = results.zipWithIndex.flatMap { case ((c, m), n) =>
      if (c.error.nonEmpty) Nil
      else {
        val rows = m.map(s => s._1 -> s._3).toMap
        val chain = m.sliding(2).collect {
          case Seq(a, b) if b._2 != a._3 => s"night $n: ${b._1} in_rows ${b._2} != ${a._1} rows ${a._3}"
        }.toSeq
        val written = m.collect {
          case (s, _, r, _) if spark.read.parquet(out.resolve(s"night$n/$s").toString).count() != r =>
            s"night $n: $s manifest rows $r differ from its output"
        }
        chain ++ written ++
          (if (rows.get("validated").contains(batch(n))) Nil
           else Seq(s"night $n: validated ${rows.get("validated")} != batch ${batch(n)}")) ++
          (if (rows.get("admitted").contains(newTexts(n))) Nil
           else Seq(s"night $n: admitted ${rows.get("admitted")} != new contents ${newTexts(n)}"))
      }
    }
    val admitted = (0 until nights).map(n => out.resolve(s"night$n/admitted"))
      .filter(p => Files.exists(p.resolve("_SUCCESS")))
      .map(p => spark.read.parquet(p.toString).select(md5(col("text")).as("fp")))
    val twice =
      if (admitted.isEmpty) 0L
      else {
        val all = admitted.reduce(_ union _)
        all.count() - all.distinct().count()
      }
    RoundResult(timer.wallS, timer.cpuS, results.map(_._1), results.map(_._1.wallS),
      checks ++ (if (twice == 0) Nil else Seq(s"$twice contents admitted twice across nights")))
  }
}

/** Frozen IVF-PQ model trained on night 1's slice, then
  * `examples/ann_nights_pipeline.yaml` over three growing nights
  * (night 1 `vec_id % 3 = 0`, night 2 `% 3 <= 1`, night 3 all). */
final class AnnNights(spark: SparkSession, root: Path, seed: Long, scale: Scale, examples: Path)
    extends PipelineNights(spark, root, seed, scale) {
  val yaml: String = examples.resolve("ann_nights_pipeline.yaml").toString
  val specName = "ann_nights"
  val steps = Seq("fresh", "encoded", "hits")
  val stores = Seq("fresh", "encoded")
  /** Lowest night-3 recall@5 accepted against exact search. */
  val RecallFloor = 0.6
  private var ids: Seq[Long] = Nil
  private var exact: Map[Long, Set[Long]] = Map.empty

  def generate(): Unit = {
    import spark.implicits._
    val vs = Gen.vectors(seed, scale.vectors, scale.dim, latent = 6)
    ids = vs.map(_._1)
    val pages = vs.toDF("vec_id", "embedding")
      .select(col("vec_id"), concat(lit("http://h/p"), col("vec_id")).as("url"),
        concat(lit("v"), col("vec_id")).as("text"), col("embedding"))
    val queries = vs.take(scale.queries)
    Seq(1 -> 0L, 2 -> 1L, 3 -> 2L).foreach { case (n, maxMod) =>
      pages.filter(col("vec_id") % 3 <= maxMod).coalesce(1).write.mode("overwrite")
        .parquet(nightDir(n).resolve("pages.parquet").toString)
      pages.filter(col("vec_id") < scale.queries).coalesce(1).write.mode("overwrite")
        .parquet(nightDir(n).resolve("queries.parquet").toString)
    }
    // exact cosine top-5 over the night-3 corpus, in plain Scala
    exact = queries.map { case (q, qv) =>
      q -> vs.map { case (id, v) => id -> qv.indices.map(i => qv(i) * v(i)).sum }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSet
    }.toMap
  }
  def sourceRows: Long =
    ids.count(_ % 3 == 0) + ids.count(_ % 3 <= 1) + ids.size.toLong

  private def train(tracer: Option[Tracer]): CmdResult = {
    val t0 = System.nanoTime()
    def body(): Unit = {
      val n1 = spark.read.parquet(nightDir(1).resolve("pages.parquet").toString)
      val cents = nightDir(1).resolve("ann_centroids.parquet").toString
      graft.operators.AnnIndex.trainIvf(n1, "vec_id", "embedding", nCells = 16)
        .write.mode("overwrite").parquet(cents)
      graft.operators.AnnIndex.trainIvfPq(n1, "vec_id", "embedding", spark.read.parquet(cents))
        .write.mode("overwrite").parquet(nightDir(1).resolve("ann_books.parquet").toString)
    }
    val err =
      try {
        tracer match {
          case None    => body()
          case Some(t) => t.command("train")(t.span("operators.train")(body()))
        }
        None
      } catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    CmdResult("train", (System.nanoTime() - t0) / 1e9, err)
  }

  def round(tracer: Option[Tracer]): RoundResult = play(tracer, 3)
  /** Training and night 1 exercise every step the other nights run. */
  override def warmUp(): RoundResult = play(None, 1)

  private def play(tracer: Option[Tracer], nights: Int): RoundResult = {
    reset(out, state)
    extras = Map.empty
    (1 to 3).foreach(n => reset(nightDir(n).resolve("ann_centroids.parquet"),
      nightDir(n).resolve("ann_books.parquet")))
    val timer = new Timer
    val t = timer.timed(train(tracer))
    if (t.error.isEmpty) Seq("ann_centroids.parquet", "ann_books.parquet").foreach(m =>
      Seq(2, 3).foreach(n => Files2.copyTree(nightDir(1).resolve(m), nightDir(n).resolve(m))))
    val results = if (t.error.nonEmpty) Nil else (1 to nights).map(n => night(n, timer, tracer, Nil))
    val wantFresh = (0 to 2).map(r => ids.count(_ % 3 == r).toLong)
    val wantEncoded = wantFresh.scanLeft(0L)(_ + _).tail
    val checks = results.zipWithIndex.flatMap { case ((c, m), i) =>
      if (c.error.nonEmpty) Nil
      else {
        val rows = m.map(s => s._1 -> s._3).toMap
        (if (rows.get("fresh").contains(wantFresh(i))) Nil
         else Seq(s"night ${i + 1}: fresh ${rows.get("fresh")} != ${wantFresh(i)}")) ++
        (if (rows.get("encoded").contains(wantEncoded(i))) Nil
         else Seq(s"night ${i + 1}: encoded ${rows.get("encoded")} != ${wantEncoded(i)}"))
      }
    }
    val recall =
      if (nights < 3) Nil
      else if (results.size < 3 || results.last._1.error.nonEmpty) Seq("night 3 did not run")
      else {
        val hits = spark.read.parquet(out.resolve("night3/hits").toString)
          .select(col("query_id").cast("long"), col("neighbor_id").cast("long")).collect()
          .groupMap(_.getLong(0))(_.getLong(1))
        val found = exact.toSeq.map { case (q, want) => hits.getOrElse(q, Array.empty[Long]).toSet.intersect(want).size }.sum
        val recall = found.toDouble / (5 * exact.size)
        System.err.println(f"[perfbench] night 3 recall@5 $recall%.3f")
        if (recall >= RecallFloor) Nil
        else Seq(f"night 3 recall@5 $recall%.3f below floor $RecallFloor")
      }
    RoundResult(timer.wallS, timer.cpuS, t +: results.map(_._1), results.map(_._1.wallS),
      checks ++ recall)
  }
}

/** The command sequences of `Cli.run`, re-called layer by layer with a
  * span around each call. Flags not used by the workloads are not
  * mirrored; [[Workload.outputShape]] comparisons keep the two in step. */
object TracedCli {
  def run(t: Tracer, label: String, args: Seq[String], spark: SparkSession): Seq[(String, String, Long)] =
    if (args.headOption.contains("pipeline")) t.command(s"cli.$label") { pipeline(t, args.drop(1), spark); Nil }
    else t.command(s"cli.$label")(star(t, args, spark))

  private def usageExit(msg: String): Nothing = throw Cli.CliError(msg, 2)

  private def star(t: Tracer, args: Seq[String], spark: SparkSession): Seq[(String, String, Long)] = {
    val Seq(modelPath, sourceDir, outDir) = args.take(3)
    val rest = args.drop(3)
    def tsAfter(flag: String, k: Int) = Timestamp.valueOf(rest(rest.indexOf(flag) + k))
    val window =
      if (rest.contains("--incremental"))
        TimeWindow.between(tsAfter("--incremental", 1), tsAfter("--incremental", 2))
      else if (rest.contains("--upper")) TimeWindow.upTo(tsAfter("--upper", 1))
      else TimeWindow.unbounded
    val (env, settings) = t.span("model") {
      val (tables, facts, defaults) = ModelParser.parseFile(modelPath)
        .fold(e => throw Cli.CliError(e, 1), identity)
      val settings = Cli.parseSettings(rest, usageExit)
      val env = Validator.validateEnv(tables, facts, settings, defaults)
        .fold(e => throw Cli.CliError(e.mkString("\n"), 1), identity)
      (env, settings)
    }
    val stagingSuffix =
      if (window.lower.nonEmpty) ""
      else Naming.resolveSuffixTemplate(settings.tableNameSuffixTemplate, "_staging")
    val runner = new Runner(spark, env, sourceDir, outDir,
      partitionFactsByDay = !rest.contains("--no-partition"), stagingSuffix = stagingSuffix)
    if (rest.contains("--compact")) {
      val tables = t.span("model")(runner.derivedDims.map(_._2.name) ++
        runner.factsInTopoOrder.filter(_.persistent).map(runner.factTableNameOf))
      t.span("exec.compact")(tables.foreach(runner.compact(_)))
    } else if (window.lower.nonEmpty) t.span("exec.populate")(runner.incrementalRefresh(window))
    else {
      val w = t.span("exec.populate")(runner.fullRefresh(window))
      if (stagingSuffix.nonEmpty) t.span("exec.swap")(runner.swapStaging(w))
    }
    t.span("exec.emit") {
      MetadataSink.writeAll(env, outDir)
      def writeAll(dir: String, files: Map[String, String]): Unit = {
        val d = Paths.get(outDir, dir)
        Files.createDirectories(d)
        files.foreach { case (table, text) => Files.writeString(d.resolve(s"$table.${if (dir == "plans") "txt" else "sql"}"), text) }
      }
      writeAll("plans", runner.emitPlans(window))
      writeAll("create", runner.emitDdl())
      writeAll("fullrefresh", runner.emitPopulateSql(PopulationMode.Full))
      writeAll("increfresh", runner.emitPopulateSql(PopulationMode.Incremental))
    }
    t.span("exec.check")(runner.checkUniqueKeys().filter(_._3 > 0))
  }

  private def pipeline(t: Tracer, args: Seq[String], spark: SparkSession): Unit = {
    val Seq(jobPath, sourceDir, outDir) = args.take(3)
    val rest = args.drop(3)
    val stateDir = Option(rest.indexOf("--state")).filter(_ >= 0).map(i => rest(i + 1))
    val spec = t.span("pipeline.spec") {
      val spec = CurationPipeline.parseFile(jobPath).fold(e => throw Cli.CliError(e, 1), identity)
      CurationPipeline.validate(spec).fold(e => throw Cli.CliError(e.mkString("\n"), 1), identity)
      spec
    }
    t.span("pipeline.run")(CurationPipeline.run(spark, spec, sourceDir, outDir, "_staging",
      stateDir, rest.contains("--compact-state")))
  }
}
