package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** One traced call into a layer of the program. */
final case class Span(id: Int, parent: Int, layer: String, name: String, op: Long,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the calls the benchmark makes into each module of the
  * program. Kept in memory and written out once at the end of the run.
  * When `active` is false (untraced runs, and the untraced rounds of a
  * traced run) a span is just the call.
  */
final class Tracer(val enabled: Boolean) {
  var active: Boolean = enabled
  /** Operation id shared by the spans of one workload operation. */
  var op: Long = -1L
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[A](layer: String, name: String)(body: => A): A = {
    if (!active) return body
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      spans += Span(id, parent, layer, name, op, t0, t1, ms0, System.currentTimeMillis())
    }
  }

  def all: Seq[Span] = spans.toSeq
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** Per layer: its spans' time minus the part their child spans cover. */
  def selfSeconds: Map[String, Double] = {
    val childTime = mutable.HashMap[Int, Double]().withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childTime(s.parent) += s.seconds)
    spans.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.iterator.map(s => s.seconds - childTime(s.id)).sum
    }
  }

  def write(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.sortBy(_.startNs).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}","name":"${s.name}",""" +
        s""""op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}

/** Spark task and job figures over an interval. */
final case class Totals(jobs: Int, tasks: Int, cpuS: Double, gcS: Double, runMs: Double,
    shuffleWriteMiB: Double, spillMiB: Double) {
  def +(o: Totals): Totals = Totals(jobs + o.jobs, tasks + o.tasks, cpuS + o.cpuS, gcS + o.gcS,
    runMs + o.runMs, shuffleWriteMiB + o.shuffleWriteMiB, spillMiB + o.spillMiB)
}
object Totals { val zero: Totals = Totals(0, 0, 0, 0, 0, 0, 0) }

/** The benchmark's own Spark listener: records every SQL execution (with
  * the directory it writes, if any), job and task, so figures can be
  * grouped by interval or by SQL execution after the fact.
  */
final class Meter extends SparkListener {
  final case class Exec(id: Long, root: Long, startMs: Long, outDir: String) { var endMs: Long = -1L }
  final case class Job(id: Int, exec: Long, submitMs: Long)
  final case class Task(job: Int, launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, shuffleWrite: Long, spill: Long)

  private val execs = mutable.LinkedHashMap[Long, Exec]()
  private val jobs = mutable.ArrayBuffer[Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val tasks = mutable.ArrayBuffer[Task]()
  // the formatted plan's details give the write node's output path as its
  // first argument
  private val writeDir = "\\) Execute InsertIntoHadoopFsRelationCommand\\s*\\n(?:[^\\n]*\\n)*?Arguments: ([^,\\s]+)".r

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart =>
        val dir = writeDir.findFirstMatchIn(e.physicalPlanDescription)
          .map(_.group(1).stripSuffix("/").split('/').last).getOrElse("")
        execs(e.executionId) = Exec(e.executionId,
          e.rootExecutionId.map(_.asInstanceOf[Long]).getOrElse(e.executionId), e.time, dir)
      case e: SparkListenerSQLExecutionEnd =>
        execs.get(e.executionId).foreach(_.endMs = e.time)
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs += Job(e.jobId, exec, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val job = stageJob.getOrElse(e.stageId, -1)
    if (m != null)
      tasks += Task(job, e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  private def sum(ts: Iterable[Task], nJobs: Int): Totals = Totals(nJobs, ts.size,
    ts.iterator.map(_.cpuNs).sum / 1e9, ts.iterator.map(_.gcMs).sum / 1e3,
    ts.iterator.map(_.runMs).sum.toDouble,
    ts.iterator.map(_.shuffleWrite).sum / 1048576.0, ts.iterator.map(_.spill).sum / 1048576.0)

  /** Jobs submitted, and their tasks, within [fromMs, toMs]. */
  def window(fromMs: Long, toMs: Long): Totals = synchronized {
    val js = jobs.filter(j => j.submitMs >= fromMs && j.submitMs <= toMs).map(_.id).toSet
    sum(tasks.filter(t => js.contains(t.job)), js.size)
  }

  /** Milliseconds of [fromMs, toMs] in which no task of the interval ran. */
  def idleMs(fromMs: Long, toMs: Long): Double = synchronized {
    val js = jobs.filter(j => j.submitMs >= fromMs && j.submitMs <= toMs).map(_.id).toSet
    val iv = tasks.filter(t => js.contains(t.job))
      .map(t => (math.max(t.launchMs, fromMs), math.min(t.finishMs, toMs))).sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, (toMs - fromMs - covered).toDouble)
  }

  /** Per written directory name ("" for executions that write nothing):
    * (wall seconds, task figures) of the root SQL executions started within
    * [fromMs, toMs].
    */
  def byOutputDir(fromMs: Long, toMs: Long): Map[String, (Double, Totals)] = synchronized {
    val roots = execs.values.filter(x => x.id == x.root && x.startMs >= fromMs && x.startMs <= toMs).toSeq
    val rootOf = execs.values.map(x => x.id -> x.root).toMap
    roots.groupBy(_.outDir).map { case (dir, xs) =>
      val ids = xs.map(_.id).toSet
      val js = jobs.filter(j => rootOf.get(j.exec).exists(ids.contains)).map(_.id).toSet
      val wall = xs.iterator.map(x => math.max(0L, x.endMs - x.startMs)).sum / 1e3
      dir -> (wall, sum(tasks.filter(t => js.contains(t.job)), js.size))
    }
  }
}
