package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Scheduler listener for the traced run. Every job carries the request id
  * and phase (`sweep`, `build`, `exec`) that the runner set as local
  * properties before the call, so jobs, stages and tasks are attributed
  * to one request span and one layer. Everything stays in memory; the
  * per-request sums and the span list are rendered once the run is over.
  */
final class Tracer extends SparkListener {
  import Tracer._

  final class Job(val id: Int, val req: Long, val phase: String, val start: Long) {
    var end: Long = start
    val stages = mutable.Set[Int]()
  }

  final class Sums {
    var stages, tasks, retries = 0L
    var taskMs, gcMs, shuffleW, shuffleR, spill, inBytes, inRecs, outBytes, outRecs = 0L
  }

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Job]()
  private val stageAttempts = mutable.Map[Int, Int]()
  /** (stage, task duration ms) per request, for the skew of its widest stage */
  private val tasks = mutable.Map[Long, mutable.ArrayBuffer[(Int, Long)]]()
  private val sums = mutable.Map[(Long, String), Sums]()

  private def sumsOf(j: Job) = sums.getOrElseUpdate((j.req, j.phase), new Sums)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    val req = Option(p).flatMap(x => Option(x.getProperty(ReqKey))).map(_.toLong).getOrElse(-1L)
    val phase = Option(p).flatMap(x => Option(x.getProperty(PhaseKey))).getOrElse("other")
    val j = new Job(e.jobId, req, phase, e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = e.stageInfo.stageId
    stageJob.get(s).foreach { j =>
      j.stages += s
      val n = stageAttempts.getOrElse(s, 0)
      stageAttempts(s) = n + 1
      val sm = sumsOf(j)
      sm.stages += 1
      if (n > 0 || e.stageInfo.attemptNumber() > 0) sm.retries += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      val sm = sumsOf(j)
      sm.tasks += 1
      if (e.reason != Success || e.taskInfo.attemptNumber > 0 || e.taskInfo.speculative)
        sm.retries += 1
      val m = e.taskMetrics
      if (m != null) {
        sm.taskMs += m.executorRunTime
        sm.gcMs += m.jvmGCTime
        sm.shuffleW += m.shuffleWriteMetrics.bytesWritten
        sm.shuffleR += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        sm.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        sm.inBytes += m.inputMetrics.bytesRead
        sm.inRecs += m.inputMetrics.recordsRead
        sm.outBytes += m.outputMetrics.bytesWritten
        sm.outRecs += m.outputMetrics.recordsWritten
        tasks.getOrElseUpdate(j.req, mutable.ArrayBuffer()) += ((e.stageId, e.taskInfo.duration))
      }
    }
  }

  /** Union length of the jobs' [start, end] intervals clipped to [a, b]. */
  private def covered(js: Iterable[Job], a: Long, b: Long): Long = {
    val iv = js.map(j => (math.max(j.start, a), math.min(j.end, b))).filter(x => x._2 > x._1)
      .toSeq.sortBy(_._1)
    var total, curA, curB = 0L
    var open = false
    iv.foreach { case (s, e) =>
      if (open && s <= curB) curB = math.max(curB, e)
      else { if (open) total += curB - curA; curA = s; curB = e; open = true }
    }
    if (open) total += curB - curA
    total
  }

  /** Wall-clock bounds (epoch ms) of a request's phases. */
  private def bounds(r: Main.Req): (Long, Long, Long, Long) = {
    val a = Clock.epochMs(r.t0)
    val b = a + r.sweepNs / 1000000
    val c = b + r.buildNs / 1000000
    (a, b, c, c + r.execNs / 1000000)
  }

  /** Per-request counters and self times, as JSON fields. */
  def requestJson(r: Main.Req): String = synchronized {
    val (a, b, c, d) = bounds(r)
    val mine = jobs.values.filter(_.req == r.id)
    def ph(p: String) = mine.filter(_.phase == p)
    val build = ph("build"); val exec = ph("exec")
    def s(p: String) = sums.getOrElse((r.id, p), new Sums)
    val all = Seq("sweep", "build", "exec", "other").map(s)
    val ex = s("exec")
    val ts = tasks.getOrElse(r.id, mutable.ArrayBuffer())
    val skew = if (ts.isEmpty) 1.0 else {
      val widest = ts.groupBy(_._1).maxBy(_._2.size)._2.map(_._2.toDouble).sorted
      val med = widest(widest.size / 2)
      if (med <= 0) 1.0 else widest.last / med
    }
    val fields = Seq(
      "build_jobs" -> build.size, "exec_jobs" -> exec.size,
      "build_job_ms" -> covered(build, b, c), "exec_job_ms" -> covered(exec, c, d),
      "driver_gap_ms" -> ((d - a) - covered(mine, a, d)),
      "exec_stages" -> ex.stages, "exec_tasks" -> ex.tasks,
      "task_ms" -> all.map(_.taskMs).sum, "gc_ms" -> all.map(_.gcMs).sum,
      "task_skew" -> skew, "task_retries" -> all.map(_.retries).sum,
      "stages" -> all.map(_.stages).sum, "tasks" -> all.map(_.tasks).sum,
      "shuffle_write_mb" -> all.map(_.shuffleW).sum / 1e6,
      "shuffle_read_mb" -> all.map(_.shuffleR).sum / 1e6,
      "spill_mb" -> all.map(_.spill).sum / 1e6,
      "scan_input_mb" -> all.map(_.inBytes).sum / 1e6,
      "scan_records" -> all.map(_.inRecs).sum,
      "sink_output_mb" -> ex.outBytes / 1e6, "sink_records" -> ex.outRecs)
    fields.map { case (k, v) => s""""$k": $v""" }.mkString(", ")
  }

  /** Spans: request → sweep / build / exec → jobs, with epoch-ms bounds. */
  def spansJson(reqs: Seq[Main.Req]): String = synchronized {
    val out = mutable.ArrayBuffer[String]()
    def span(id: String, parent: String, req: Long, name: String, s: Long, e: Long): Unit =
      out += s"""{"id": "$id", "parent": ${if (parent == null) "null" else "\"" + parent + "\""}, """ +
        s""""req": $req, "name": ${Json.str(name)}, "start_ms": $s, "end_ms": $e}"""
    reqs.foreach { r =>
      val (a, b, c, d) = bounds(r)
      val root = s"r${r.id}"
      span(root, null, r.id, s"request:${r.q}", a, d)
      span(s"$root.sweep", root, r.id, "cachescope.sweep", a, b)
      span(s"$root.build", root, r.id, "build", b, c)
      span(s"$root.exec", root, r.id, "exec", c, d)
      jobs.values.filter(_.req == r.id).foreach { j =>
        val parent = if (Set("sweep", "build", "exec")(j.phase)) s"$root.${j.phase}" else root
        span(s"j${j.id}", parent, r.id, s"job:${j.phase}:${j.stages.size}stages", j.start, j.end)
      }
    }
    out.mkString("[\n", ",\n", "\n]\n")
  }
}

object Tracer {
  val ReqKey = "perfbench.request"
  val PhaseKey = "perfbench.phase"
}

/** Converts `System.nanoTime` readings to the epoch milliseconds that
  * scheduler events carry. */
object Clock {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  def epochMs(ns: Long): Long = anchorMs + (ns - anchorNs) / 1000000
}
