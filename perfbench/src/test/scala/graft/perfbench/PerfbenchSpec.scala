package graft.perfbench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("median of odd and even counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("only quiet rounds feed the medians, else the least stolen one") {
    assert(Main.measuredIndices(Seq(0.0, 0.2, 0.01)) == Seq(0, 2))
    assert(Main.measuredIndices(Seq(0.3, 0.1, 0.2)) == Seq(1))
    assert(Main.measuredIndices(Seq(Main.QuietSteal)) == Seq(0))
  }

  test("units follow the metric names") {
    assert(Units.of("streaming.fresh.mb_written") == "MB")
    assert(Units.of("streaming.fresh.mb") == "MB")
    assert(Units.of("trace.coverage_min") == "fraction")
    assert(Units.of("exec.check.idle_core_frac") == "fraction")
    assert(Units.of("rows_per_s") == "1/s")
    assert(Units.of("exec.swap.self_s") == "s")
    assert(Units.of("files_written") == "count")
  }

  test("metric names follow [A-Za-z0-9_.-]+ and fit 64 characters") {
    Seq("wall_s", "exec.populate.self_s", "streaming.novel.mb-x").foreach(n => assert(Stats.validName(n)))
    Seq("", "a b", "wall/s", "x" * 65, "é").foreach(n => assert(!Stats.validName(n)))
    (Layers.Names ++ Seq("setup_s", "wall_s", "cmd_p50_s", "rows_per_s", "cpu_s", "files_written",
      "bytes_on_disk_mb", "retained_heap_mb", "ok_frac")).foreach(n => assert(Stats.validName(n), n))
    assert(Layers.Names.distinct.size == Layers.Names.size)
    assert(Layers.Names.size <= 128)
  }
}

class TraceSpec extends AnyFunSuite {
  /** A clock that advances by the scripted amounts, one per reading. */
  private def scripted(ticks: Long*) = {
    val it = ticks.iterator
    var now = 0L
    () => { now += it.next(); now }
  }

  test("self time subtracts direct children only") {
    // cmd [0, 100]; a [10, 60] with a.x [20, 50]; b [70, 90]
    val clock = scripted(0, 10, 10, 30, 10, 10, 20, 10)
    val t = new Tracer(clock)
    t.command("cmd") {
      t.span("a")(t.span("a.x")(()))
      t.span("b")(())
    }
    val spans = t.spans.map(s => s.name -> s).toMap
    val self = Trace.selfSeconds(t.spans)
    assert(spans("cmd").endNs - spans("cmd").startNs == 100)
    assert(math.round(self(spans("cmd").id) * 1e9) == 100 - 50 - 20)
    assert(math.round(self(spans("a").id) * 1e9) == 50 - 30)
    assert(math.round(self(spans("a.x").id) * 1e9) == 30)
    assert(Trace.unattributed(t.spans).map(c => (c._1, math.round(c._3 * 1e9))) == Seq(("cmd", 30L)))
    assert(t.spans.forall(_.cmd == spans("cmd").id))
    assert(spans("a.x").parent == spans("a").id)
  }

  test("spans close and report their ids to onEnter even when the body throws") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val t = new Tracer(onEnter = seen += _)
    intercept[IllegalStateException](t.command("cmd")(t.span("x")(throw new IllegalStateException)))
    assert(t.spans.map(_.name).toSet == Set("cmd", "x"))
    assert(seen.last == -1)
    intercept[IllegalArgumentException](t.span("orphan")(()))
  }
}

/** One small pass of every workload: the output checks pass on the
  * real commands, and a damaged output fails them. */
class WorkloadSmokeSpec extends AnyFunSuite {
  private lazy val work = {
    val w = Paths.get("target", "perfbench-smoke").toAbsolutePath
    Files2.deleteRecursively(w)
    Files.createDirectories(w)
  }
  private lazy val spark = Main.session(work)
  private val examples = Paths.get("..", "examples").toAbsolutePath.normalize

  private def workload(name: String) = {
    val wl = Workload(name, spark, work.resolve(name), seed = 7L, Scale.smoke, examples)
    wl.generate()
    wl.build()
    wl
  }

  Workload.Names.foreach { name =>
    test(s"$name: one round passes its output checks") {
      val r = workload(name).round(None)
      assert(r.commands.forall(_.error.isEmpty), r.commands)
      assert(r.checkFailures.isEmpty, r.checkFailures)
      assert(r.cmdWalls.nonEmpty && r.wallS > 0)
    }
  }

  test("star_full: a lost fact file fails the totals check") {
    val wl = workload("star_full").asInstanceOf[StarFull]
    assert(wl.round(None).checkFailures.isEmpty)
    val victim = Files2.regularFiles(wl.out.resolve("fact_line_by_minute"))
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.delete(victim)
    val got = wl.factTotals(wl.out)
    assert(wl.compareTotals("damaged", wl.sourceTotals(None), got).nonEmpty)
  }

  Seq("star_full", "star_nightly").foreach { name =>
    test(s"$name: the traced round writes what Cli.run writes and covers its wall") {
      val wl = workload(name)
      assert(wl.round(None).failed == 0)
      val untraced = wl.outputs.map(wl.outputShape)
      val (traced, metrics) = Layers.tracedRound(wl, spark, 1.0, Main.Cores)
      assert(traced.failed == 0, traced)
      assert(wl.outputs.map(wl.outputShape) == untraced)
      assert(metrics("trace.coverage_min") >= 0.95)
      assert(metrics("exec.populate.jobs") > 0 && metrics("exec.swap.s") > 0)
      assert(metrics("exec.compact.files_written") > 0)
      assert(Layers.Names.forall(metrics.contains))
    }
  }

  test("ann_nights: the traced round reports pipeline steps and stores") {
    val wl = workload("ann_nights")
    val (traced, metrics) = Layers.tracedRound(wl, spark, 1.0, Main.Cores)
    assert(traced.failed == 0, traced)
    Layers.Steps.foreach(s => assert(metrics(s"pipeline.$s.jobs") > 0, s))
    Layers.Stores.foreach(s => assert(metrics(s"streaming.$s.mb") > 0, s))
    assert(metrics("operators.train.s") > 0 && metrics("trace.coverage_min") >= 0.95)
  }
}
