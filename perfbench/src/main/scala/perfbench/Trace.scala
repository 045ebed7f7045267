package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task totals of one group of tasks (a job, a span, a call site, or
  * the whole run). */
final class TaskTotals {
  var jobs = 0
  var tasks = 0L
  var runNs = 0L
  var cpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]

  def add(m: org.apache.spark.executor.TaskMetrics, durationMs: Long): Unit = {
    tasks += 1
    runNs += m.executorRunTime * 1000000L
    cpuNs += m.executorCpuTime
    shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
    shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    taskMs += durationMs
  }

  def ++=(o: TaskTotals): TaskTotals = {
    jobs += o.jobs; tasks += o.tasks; runNs += o.runNs; cpuNs += o.cpuNs
    shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; taskMs ++= o.taskMs
    this
  }

  /** Longest task over the median task: how unevenly the work split. */
  def skew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }

  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.toDouble, "tasks" -> tasks.toDouble,
    "task_s" -> runNs / 1e9, "cpu_s" -> cpuNs / 1e9,
    "shuffle_read_mb" -> shuffleReadBytes / 1e6,
    "shuffle_write_mb" -> shuffleWriteBytes / 1e6,
    "spill_mb" -> spillBytes / 1e6, "skew" -> skew)
}

/** One Spark job of a traced run: the span that submitted it, the
  * program method whose action submitted it (its call site), when it
  * ran, and its tasks split by whether their stage reads a shuffle. */
final class JobRecord(val span: String, val site: String,
    val sqlExecution: Option[String], val startMs: Long) {
  var endMs: Long = startMs
  /** Tasks of stages that read no shuffle (scan, map side). */
  val mapSide = new TaskTotals
  /** Tasks of stages that read a shuffle (joins, aggregates). */
  val reduceSide = new TaskTotals
  def tasks: TaskTotals = new TaskTotals ++= mapSide ++= reduceSide
}

/** Counts task work as Spark reports it. Every run registers one: its
  * executor CPU total is an end-to-end metric. With `attribute` on
  * (the traced run) it also keeps a [[JobRecord]] per job: the span
  * that submitted it, read from the job's local property
  * [[Trace.SpanKey]], and the innermost program method on the stack of
  * the action that submitted it. The jobs adaptive execution submits
  * for a query's shuffle stages carry no program frame; they take the
  * site of the query's other jobs (same SQL execution id). */
final class TaskListener(attribute: Boolean) extends SparkListener {
  val total = new TaskTotals
  val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  /** Named accumulator updates, summed (e.g. graft.badTiles). */
  val accumulators = mutable.Map.empty[String, Long].withDefaultValue(0L)
  /** stage -> (its job, whether it reads a shuffle) */
  private val stageJob = mutable.Map.empty[Int, (JobRecord, Boolean)]

  private val graftFrame =
    """\bgraft\.(?:[\w]+\.)*([\w]+)\$*\.([\w$]+)\([\w]+\.scala:\d+\)""".r

  /** `Object.method` of the innermost `graft.` frame of the stage's
    * call stack; closures are named after the method that holds them. */
  private def site(info: StageInfo): String =
    graftFrame.findFirstMatchIn(info.details).map { m =>
      val method = m.group(2).stripPrefix("$anonfun$").split('$').head
      s"${m.group(1)}.$method"
    }.getOrElse(Outside)

  private val Outside = "(outside graft)"
  /** SQL execution id -> the program site of its first job that has one */
  private val execSite = mutable.Map.empty[String, String]

  /** The job's site, or that of its SQL execution. */
  def siteOf(j: JobRecord): String = synchronized {
    if (j.site != Outside) j.site
    else j.sqlExecution.flatMap(execSite.get).getOrElse(Outside)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    total.jobs += 1
    if (attribute) {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Trace.SpanKey))).getOrElse("(no span)")
      val last = e.stageInfos.maxBy(_.stageId)
      val exec = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.sql.execution.id")))
      val rec = new JobRecord(span, site(last), exec, e.time)
      jobs(e.jobId) = rec
      if (rec.site != Outside) exec.foreach(execSite.getOrElseUpdate(_, rec.site))
      e.stageInfos.foreach(s => stageJob(s.stageId) = (rec, s.parentIds.nonEmpty))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      total.add(m, e.taskInfo.duration)
      stageJob.get(e.stageId).foreach { case (rec, reads) =>
        (if (reads) rec.reduceSide else rec.mapSide).add(m, e.taskInfo.duration)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      e.stageInfo.accumulables.values.foreach { a =>
        (a.name, a.value) match {
          case (Some(n), Some(v: Long)) if n.startsWith("graft.") =>
            accumulators(n) += v
          case _ =>
        }
      }
    }

  def jobsOf(span: String): Seq[JobRecord] =
    synchronized(jobs.values.filter(_.span == span).toSeq)

  /** Task totals of the given jobs. */
  def totals(js: Seq[JobRecord], side: JobRecord => TaskTotals = _.tasks)
      : TaskTotals = {
    val t = js.foldLeft(new TaskTotals)((t, j) => t ++= side(j))
    t.jobs = js.size
    t
  }

  /** Wall seconds the given jobs covered; overlapping jobs count once. */
  def wallSeconds(js: Seq[JobRecord]): Double = {
    val (sum, _) = js.sortBy(_.startMs).foldLeft((0L, Long.MinValue)) {
      case ((acc, reach), j) =>
        val from = math.max(j.startMs, reach)
        (acc + math.max(0L, j.endMs - from), math.max(reach, j.endMs))
    }
    sum / 1e3
  }
}

/** A timed section of the traced run, around one call into a module.
  * An `aside` span measures a layer on its own after the run; it is
  * not part of the run's wall time. */
final case class Span(name: String, aside: Boolean, startNs: Long,
    endNs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans recorded by the benchmark around its calls into the program.
  * The span name is set as a local property, so every job the call
  * submits (threads it starts inherit the property) is attributed to
  * it by [[TaskListener]]. Spans are kept in memory and written out
  * when the run ends. */
final class Trace(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Most cached bytes seen at the end of any span. */
  var peakCachedMb = 0.0

  def span[T](name: String, aside: Boolean = false)(body: => T): T = {
    sc.setLocalProperty(Trace.SpanKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(name, aside, t0, System.nanoTime(),
        System.currentTimeMillis())
      peakCachedMb = math.max(peakCachedMb, Trace.cachedMb(sc))
      sc.setLocalProperty(Trace.SpanKey, null)
    }
  }

  def aside[T](name: String)(body: => T): T = span(name, aside = true)(body)

  /** Spans of the run itself, in order. */
  def runSpans: Seq[Span] = spans.filterNot(_.aside).toSeq

  def get(name: String): Span = spans.find(_.name == name).get

  /** Seconds of the span with this name. */
  def seconds(name: String): Double = get(name).seconds
}

object Trace {
  val SpanKey = "perfbench.span"

  /** Megabytes that cached or checkpointed blocks hold right now. */
  def cachedMb(sc: SparkContext): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
}
