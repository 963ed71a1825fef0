package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counters of the Spark work attributed to one span. */
final case class Work(
    jobs: Long = 0, tasks: Long = 0, execRunMs: Long = 0,
    execCpuMs: Double = 0, shuffleReadB: Long = 0, shuffleWriteB: Long = 0,
    inputB: Long = 0, outputB: Long = 0, spillB: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, tasks + o.tasks,
    execRunMs + o.execRunMs, execCpuMs + o.execCpuMs,
    shuffleReadB + o.shuffleReadB, shuffleWriteB + o.shuffleWriteB,
    inputB + o.inputB, outputB + o.outputB, spillB + o.spillB)
}

/** One closed span: a harness call into a program layer. `tableBytes`
  * is the size of the table a write span committed, read after the
  * commit (0 for read spans). */
final case class Span(name: String, t0: Long, t1: Long, wallMs: Double,
                      tableBytes: Long = 0)

/** The traced run's listener and span recorder. Spans are opened on the
  * harness thread around public calls and kept while [[recording]] is
  * set (the measured window); with one client every Spark job
  * belongs to the span that was open when the job started, so jobs are
  * attributed by time window. Everything is kept in memory and
  * aggregated once the run ends. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private case class JobRec(start: Long, var end: Long, var work: Work)
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val spans = mutable.ArrayBuffer.empty[Span]
  /** Spans are kept only while this is set: the measured window. */
  @volatile var recording = false

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = JobRec(e.time, e.time, Work(jobs = 1))
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); rec <- jobs.get(j);
         m <- Option(e.taskMetrics)) {
      rec.work = rec.work + Work(
        tasks = 1,
        execRunMs = m.executorRunTime,
        execCpuMs = m.executorCpuTime / 1e6,
        shuffleReadB = m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteB = m.shuffleWriteMetrics.bytesWritten,
        inputB = m.inputMetrics.bytesRead,
        outputB = m.outputMetrics.bytesWritten,
        spillB = m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Run `body` as span `name`; `tableBytes` (evaluated after the body)
    * sizes the table a write span committed. */
  def span[A](name: String, tableBytes: => Long = 0L)(body: => A): A = {
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val out = body
    val wall = (System.nanoTime() - n0) / 1e6
    val t1 = System.currentTimeMillis()
    if (recording) {
      val tb = tableBytes
      synchronized { spans += Span(name, t0, t1, wall, tb) }
    }
    out
  }

  /** Per span: the span and its jobs' work and (start, end) windows.
    * Waits for the listener bus to deliver every event first. */
  def attributed(): Seq[(Span, Work, Seq[(Long, Long)])] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized {
      spans.toSeq.map { s =>
        val mine = jobs.values.filter(j => j.start >= s.t0 && j.start <= s.t1)
          .toSeq
        (s, mine.map(_.work).foldLeft(Work())(_ + _),
          mine.map(j => (j.start, j.end)))
      }
    }
  }
}

/** The per-layer table: one row of metrics per span name. */
object Layers {
  private val MB = 1024.0 * 1024.0

  /** Span names reported by every traced run (a workload that never
    * enters a span reports zeros for it). */
  val StoreSpans: Seq[String] = Seq(
    "core.Store.getFeature.covered",
    "core.Store.getFeature.compute",
    "core.Store.appendCommit",
    "core.Store.purgeKeys",
    "operators.Interlace.truncateInterlace",
    "core.KeyJoinFeatures.withExprs")
  val WriteSpans: Set[String] = Set(
    "core.Store.getFeature.compute",
    "core.Store.appendCommit",
    "core.Store.purgeKeys")

  def names: Seq[String] = StoreSpans ++ Train.Queries.map(Train.spanOf)

  /** Per-call means of each span's counters, keyed
    * `<span>.<metric>`. `driver_ms` is wall time minus the union of
    * the span's job intervals. */
  def metrics(rows: Seq[(Span, Work, Seq[(Long, Long)])])
      : Seq[(String, Double, String)] = {
    val byName = rows.groupBy(_._1.name)
    names.flatMap { name =>
      val rs = byName.getOrElse(name, Seq.empty)
      val n = rs.size
      def per(f: ((Span, Work, Seq[(Long, Long)])) => Double): Double =
        if (n == 0) 0.0 else rs.map(f).sum / n
      val base = Seq(
        ("calls", n.toDouble, "count"),
        ("wall_ms", per(_._1.wallMs), "ms"),
        ("jobs", per(_._2.jobs.toDouble), "count"),
        ("tasks", per(_._2.tasks.toDouble), "count"),
        ("driver_ms", per { case (s, _, js) =>
          Stats.driverMs(s.t0, s.t1, js).toDouble }, "ms"),
        ("exec_cpu_ms", per(_._2.execCpuMs), "ms"),
        ("shuffle_mb", per(_._2.shuffleWriteB / MB), "MB"),
        ("input_mb", per(_._2.inputB / MB), "MB"))
      val write =
        if (!WriteSpans(name)) Seq.empty
        else Seq(
          ("bytes_written_mb", per(_._2.outputB / MB), "MB"),
          ("rewrite_ratio", per { case (s, w, _) =>
            if (s.tableBytes > 0) w.outputB.toDouble / s.tableBytes
            else 0.0 }, "ratio"))
      (base ++ write).map { case (m, v, u) => (s"$name.$m", v, u) }
    }
  }

  /** Every counter of every span occurrence, for the trace file. */
  def detail(rows: Seq[(Span, Work, Seq[(Long, Long)])]): String =
    rows.map { case (s, w, js) =>
      Json.obj(Seq(
        "span" -> Json.str(s.name), "t0" -> s.t0.toString,
        "wall_ms" -> Json.num(s.wallMs), "jobs" -> w.jobs.toString,
        "driver_ms" -> Stats.driverMs(s.t0, s.t1, js).toString,
        "tasks" -> w.tasks.toString, "exec_run_ms" -> w.execRunMs.toString,
        "exec_cpu_ms" -> Json.num(w.execCpuMs),
        "shuffle_read_b" -> w.shuffleReadB.toString,
        "shuffle_write_b" -> w.shuffleWriteB.toString,
        "input_b" -> w.inputB.toString, "output_b" -> w.outputB.toString,
        "spill_b" -> w.spillB.toString,
        "table_b" -> s.tableBytes.toString))
    }.mkString("[\n", ",\n", "\n]\n")
}
