package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** One timed call. `parent` is -1 for a command's root span; `cmd` is
  * the id of the command the span belongs to. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, cmd: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
  def json: String =
    s"""{"id":$id,"name":"$name","start_ns":$startNs,"end_ns":$endNs,"parent":$parent,"cmd":$cmd}"""
}

/** In-memory span recorder for one driver thread. A command is a root
  * span; [[span]] nests under whatever span is open. `onEnter` is told
  * the innermost open span id (-1 when none) on every change, so Spark
  * jobs can be attributed to it. */
final class Tracer(clock: () => Long = () => System.nanoTime(),
    onEnter: Int => Unit = _ => ()) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, Long)]
  private var nextId = 0
  private var cmd = -1 // root span id of the current command

  def spans: Seq[Span] = done.toSeq

  def command[A](name: String)(f: => A): A = {
    require(open.isEmpty, s"command $name started inside span ${open.head._2}")
    cmd = nextId
    timed(name)(f)
  }

  def span[A](name: String)(f: => A): A = {
    require(open.nonEmpty, s"span $name outside a command")
    timed(name)(f)
  }

  private def timed[A](name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, name, clock()) :: open
    onEnter(id)
    try f
    finally {
      val (_, _, start) = open.head
      open = open.tail
      done += Span(id, name, start, clock(), parent, cmd)
      onEnter(open.headOption.map(_._1).getOrElse(-1))
    }
  }
}

object Trace {

  /** Self time of every span: its duration minus its direct children's. */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val childSum = spans.groupMapReduce(_.parent)(_.seconds)(_ + _)
    spans.map(s => s.id -> (s.seconds - childSum.getOrElse(s.id, 0.0))).toMap
  }

  /** Per command root span: (name, wall seconds, seconds not covered by
    * a direct child span). */
  def unattributed(spans: Seq[Span]): Seq[(String, Double, Double)] = {
    val self = selfSeconds(spans)
    spans.filter(_.parent == -1).sortBy(_.startNs).map(s => (s.name, s.seconds, self(s.id)))
  }

  val SpanKey = "perfbench.span"
}

/** Spark counters of one span or one job description. */
final case class Counters(jobs: Int = 0, tasks: Int = 0, taskBusyS: Double = 0.0,
    shuffleMb: Double = 0.0, inputMb: Double = 0.0, outputMb: Double = 0.0,
    filesWritten: Long = 0L) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, tasks + o.tasks,
    taskBusyS + o.taskBusyS, shuffleMb + o.shuffleMb, inputMb + o.inputMb,
    outputMb + o.outputMb, filesWritten + o.filesWritten)
}

/** Collects per-job, per-task and per-write counters and attributes
  * them to the span open when the job started (the `perfbench.span`
  * local property) and to the job's description. Read [[bySpan]] and
  * [[byDescription]] only after [[drain]]. */
final class LayerListener extends SparkListener {
  private case class Job(span: Int, desc: String)
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val taskCounters = mutable.Map.empty[Int, Counters] // by job id
  private val execSpan = mutable.Map.empty[Long, Int]
  private val fileAccums = mutable.Set.empty[Long]
  private val execFiles = mutable.Map.empty[Long, Long]

  private def mb(b: Long): Double = b / 1048576.0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val span = prop(Trace.SpanKey).map(_.toInt).getOrElse(-1)
    jobs(e.jobId) = Job(span, prop("spark.job.description").getOrElse(""))
    e.stageIds.foreach(stageJob(_) = e.jobId)
    prop("spark.sql.execution.id").map(_.toLong).foreach(x =>
      if (span >= 0) execSpan.getOrElseUpdate(x, span))
    taskCounters(e.jobId) = taskCounters.getOrElse(e.jobId, Counters()) + Counters(jobs = 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { job =>
      val m = Option(e.taskMetrics)
      val c = Counters(tasks = 1, taskBusyS = e.taskInfo.duration / 1000.0,
        shuffleMb = m.map(x => mb(x.shuffleWriteMetrics.bytesWritten)).getOrElse(0.0),
        inputMb = m.map(x => mb(x.inputMetrics.bytesRead)).getOrElse(0.0),
        outputMb = m.map(x => mb(x.outputMetrics.bytesWritten)).getOrElse(0.0))
      taskCounters(job) = taskCounters.getOrElse(job, Counters()) + c
    }
  }

  private def collectFileAccums(p: SparkPlanInfo): Unit = {
    p.metrics.filter(_.name == "number of written files").foreach(fileAccums += _.accumulatorId)
    p.children.foreach(collectFileAccums)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => collectFileAccums(s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => collectFileAccums(u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        val n = d.accumUpdates.collect { case (id, v) if fileAccums(id) => v }.sum
        if (n > 0) execFiles(d.executionId) = execFiles.getOrElse(d.executionId, 0L) + n
      case _ => ()
    }
  }

  def drain(sc: SparkContext): Unit = org.apache.spark.perfbench.ListenerBus.drain(sc)

  def bySpan: Map[Int, Counters] = synchronized {
    val fromTasks = jobs.toSeq.groupMapReduce(_._2.span)(j =>
      taskCounters.getOrElse(j._1, Counters()))(_ + _)
    val fromFiles = execFiles.toSeq.flatMap { case (x, n) =>
      execSpan.get(x).map(_ -> Counters(filesWritten = n)) }
      .groupMapReduce(_._1)(_._2)(_ + _)
    (fromTasks.keySet ++ fromFiles.keySet).map(k =>
      k -> (fromTasks.getOrElse(k, Counters()) + fromFiles.getOrElse(k, Counters()))).toMap
  }

  def byDescription: Map[String, Counters] = synchronized {
    jobs.toSeq.groupMapReduce(_._2.desc)(j => taskCounters.getOrElse(j._1, Counters()))(_ + _)
  }
}
