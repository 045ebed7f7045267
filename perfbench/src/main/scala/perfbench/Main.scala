package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** One measuring process: a Spark session from the program's own
  * `graft.Sessions.local`, one untimed cold run that belongs to set-up,
  * untimed warm-up runs until the JIT has settled, then timed runs back
  * to back until the time is up. Every run is checked. The results go
  * to a JSON file that `run.py` aggregates.
  *
  * Usage: `Main <workload> <input dir> <work dir> <seconds> <trace 0|1>
  * <result file>`. With trace 1 half the time goes to untraced runs and
  * half to traced runs, whose spans and per-stage attribution are also
  * written to `<work dir>/trace-<workload>.json`.
  */
object Main {
  /** Timed runs every measurement holds, whatever its time window. */
  val TimedRuns = 2

  final case class Rep(wallS: Double, cpuS: Double, outBytes: Long,
      pinnedMb: Double, error: Option[String])

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case None => "null"
    case Some(x) => json(x)
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ": " + json(x) }
      .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case x => x.toString
  }

  private def record(r: Rep): Map[String, Any] = Map("wall_s" -> r.wallS,
    "cpu_s" -> r.cpuS, "out_bytes" -> r.outBytes, "pinned_mb" -> r.pinnedMb,
    "error" -> r.error)

  def main(args: Array[String]): Unit = {
    val Array(name, input, work, secondsArg, traceArg, resultFile) = args
    val jvmStartMs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.Sessions.local(
      Runtime.getRuntime.availableProcessors().toString)
    System.err.println(f"[perfbench] session ready after ${
      (System.currentTimeMillis() - jvmStartMs) / 1e3}%.2f s")
    val counter = new TaskListener(attribute = false)
    spark.sparkContext.addSparkListener(counter)
    try {
      val wl: Workload = name match {
        case "map2db" => new MapWorkload(spark, input, work)
        case "corpus_prep" => new CorpusWorkload(spark, input)
        case "ann_index" => new AnnWorkload(spark, input)
      }

      def rep(): Rep = {
        wl.prepare()
        PerfbenchBus.drain(spark.sparkContext)
        val cpu0 = counter.synchronized(counter.total.cpuNs)
        val t0 = System.nanoTime()
        val failed = try { wl.run(); None }
          catch { case NonFatal(e) => Some(s"run threw $e") }
        val wall = (System.nanoTime() - t0) / 1e9
        PerfbenchBus.drain(spark.sparkContext)
        val cpu = (counter.synchronized(counter.total.cpuNs) - cpu0) / 1e9
        val pinned = Trace.cachedMb(spark.sparkContext)
        val error = failed.orElse(
          try wl.check() catch { case NonFatal(e) => Some(s"check threw $e") })
        val out = if (error.isEmpty) wl.outputBytes else 0L
        wl.cleanup()
        Workload.releasePins()
        error.foreach(e => System.err.println(s"[perfbench] $name: $e"))
        Rep(wall, cpu, out, pinned, error)
      }

      // The runs after the cold one keep getting faster while the JIT
      // compiles (map2db on 4 cores: cold 12 s, then 3.5, 3.1, 3.1,
      // 2.6 s). The warm-ups take the steepest part of that curve out
      // of run_s; then at least TimedRuns runs are timed, so every
      // measurement reads the same point of it.
      def repsFor(seconds: Double)(one: => Rep): Seq[Rep] = {
        val t0 = System.nanoTime()
        val reps = ArrayBuffer.empty[Rep]
        while (reps.size < TimedRuns || (System.nanoTime() - t0) / 1e9 < seconds)
          reps += one
        reps.toSeq
      }

      val cold = rep()
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
      val seconds = secondsArg.toDouble
      val traced = traceArg == "1"
      val warmUps = Seq.fill(wl.warmUps)(rep())
      val warm = repsFor(if (traced) seconds / 2 else seconds)(rep())
      val storageMb = spark.sparkContext.getExecutorMemoryStatus.values
        .map(_._1).sum / 1e6
      val common = Map[String, Any](
        "workload" -> name, "setup_s" -> setupS,
        "input_records" -> wl.inputRecords, "input_bytes" -> wl.inputBytes,
        "storage_mb" -> storageMb,
        "cold" -> record(cold), "warm_ups" -> warmUps.map(record),
        "runs" -> warm.map(record))
      val result =
        if (!traced) common
        else common ++ tracedRuns(spark, wl, name, work, seconds / 2)
      Files.write(Paths.get(resultFile), json(result).getBytes(UTF_8))
    } finally {
      Workload.releasePins()
      spark.stop()
    }
  }

  /** Runs the workload's traced run until `seconds` are up (at least
    * once), each run with a fresh attributing listener. Returns every
    * traced run's per-layer metrics and writes the last run's spans and
    * jobs to the trace file. */
  private def tracedRuns(spark: SparkSession, wl: Workload, name: String,
      work: String, seconds: Double): Map[String, Any] = {
    val t0 = System.nanoTime()
    val runs = ArrayBuffer.empty[Map[String, Any]]
    var last: (Trace, TaskListener) = null
    while (runs.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      val tl = new TaskListener(attribute = true)
      spark.sparkContext.addSparkListener(tl)
      val tr = new Trace(spark.sparkContext)
      val outcome = try Right(wl.traced(tr, tl))
        catch { case NonFatal(e) => Left(s"traced run threw $e") }
      // from the first span's start to the last span's end of the run
      // itself: aside spans and census counts come after it
      val run = tr.runSpans
      val wall =
        if (run.isEmpty) 0.0 else (run.last.endNs - run.head.startNs) / 1e9
      PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tl)
      val error = outcome.left.toOption.orElse(
        try wl.check() catch { case NonFatal(e) => Some(s"check threw $e") })
      wl.cleanup()
      Workload.releasePins()
      error.foreach(e => System.err.println(s"[perfbench] $name traced: $e"))
      // the run's own jobs, not the aside spans' or the census counts'
      val totals = tl.totals(run.flatMap(s => tl.jobsOf(s.name))).toMap
        .map { case (k, v) => s"Sessions.$k" -> v }
      val perSpan = tr.spans.map(_.name).flatMap { span =>
        val t = tl.totals(tl.jobsOf(span))
        Seq(s"Sessions.$span.jobs" -> t.jobs.toDouble,
          s"Sessions.$span.task_s" -> t.runNs / 1e9,
          s"Sessions.$span.shuffle_mb" ->
            (t.shuffleReadBytes + t.shuffleWriteBytes) / 1e6)
      }
      val selfS = run.map(_.seconds).sum
      runs += Map("wall_s" -> wall, "error" -> error,
        "layers" -> (outcome.getOrElse(Map.empty) ++ totals ++ perSpan ++ Map(
          "Sessions.peak_cached_mb" -> tr.peakCachedMb,
          "trace.self_s" -> selfS)))
      last = (tr, tl)
    }
    val (tr, tl) = last
    val traceFile = s"$work/trace-$name.json"
    val firstMs = tl.jobs.values.map(_.startMs).minOption.getOrElse(0L)
    Files.write(Paths.get(traceFile), json(Map(
      "spans" -> tr.spans.map(s => Map("name" -> s.name,
        "aside" -> s.aside,
        "start_s" -> (s.startNs - tr.spans.head.startNs) / 1e9,
        "seconds" -> s.seconds)),
      "jobs" -> tl.jobs.values.map(j => Map("span" -> j.span,
        "site" -> tl.siteOf(j), "start_s" -> (j.startMs - firstMs) / 1e3,
        "seconds" -> (j.endMs - j.startMs) / 1e3,
        "map_side" -> j.mapSide.toMap, "reduce_side" -> j.reduceSide.toMap)),
      "by_site" -> tl.jobs.values.groupBy(tl.siteOf).map { case (k, js) =>
        k -> (tl.totals(js.toSeq).toMap + ("wall_s" -> tl.wallSeconds(js.toSeq)))
      }))
      .getBytes(UTF_8))
    Map("traced" -> runs.toSeq, "trace_file" -> traceFile)
  }
}
