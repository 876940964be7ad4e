package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{CacheScope, GraftSession, IndexCache, SparkEntry}

/** One benchmark run inside one JVM, driven by a plan file that `run.py`
  * writes (`key=value` lines; `pass=` lines repeat, one per timed pass):
  *
  *   data, out, sink (noop | parquet), sink_dir, cores, seconds,
  *   min_passes, trace (0 | 1), warmup (comma list), pass (comma list)
  *
  * Flow: session + warm-up pass (the set-up), timed passes until `seconds`
  * have elapsed (at least `min_passes`), then the answers for the oracle
  * check: with the parquet sink they are the last timed pass's outputs,
  * with the noop sink an untimed dump of every distinct query. With
  * trace=1 the timed time is split in three: untraced passes, passes
  * with the listener attached, untraced passes again, so the run reports
  * its own tracing overhead.
  * Everything measured lands in `out/raw.json`; spans in `out/trace.json`.
  * The statistics are computed by `run.py`, not here.
  */
object Main {
  final case class Req(pass: Int, q: String, id: Long, traced: Boolean,
                       t0: Long, sweepNs: Long, buildNs: Long, execNs: Long,
                       storageBytes: Long, error: String)

  def main(args: Array[String]): Unit = {
    val plan = Plan.read(args(0))
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[${plan.cores}]", plan.cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val runner = new Runner(spark, plan)

    plan.warmup.foreach(q => runner.request(-1, q, traced = false))
    val setupS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer
    val passWall = ArrayBuffer[(Int, Boolean, Double)]()
    def timedPasses(traced: Boolean, seconds: Double, minPasses: Int, first: Int): Int = {
      val start = System.nanoTime()
      var p = first
      while (p < plan.passes.size &&
             (p - first < minPasses || (System.nanoTime() - start) / 1e9 < seconds)) {
        val ps = System.nanoTime()
        plan.passes(p).foreach(q => runner.request(p, q, traced))
        passWall += ((p, traced, (System.nanoTime() - ps) / 1e9))
        p += 1
      }
      p
    }
    val cg0 = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
    if (plan.trace) {
      // untraced, traced, untraced: the traced passes sit between the
      // untraced ones they are compared with, so warm-up drift cancels
      val third = math.max(1, plan.minPasses / 2)
      val next = timedPasses(traced = false, plan.seconds / 3.0, third, 0)
      sc.addSparkListener(tracer)
      val after = timedPasses(traced = true, plan.seconds / 3.0, third, next)
      org.apache.spark.perfbench.Bus.drain(sc)
      sc.removeSparkListener(tracer)
      timedPasses(traced = false, plan.seconds / 3.0, third, after)
    } else timedPasses(traced = false, plan.seconds, plan.minPasses, 0)
    val cg1 = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

    val verifyErrors = scala.collection.mutable.LinkedHashMap[String, String]()
    if (plan.sink != "parquet") plan.warmup.foreach { q =>
      try {
        CacheScope.sweep()
        SparkEntry.queries(q)(spark, plan.data).coalesce(1)
          .write.mode("overwrite").parquet(s"${plan.out}/verify/$q")
      } catch { case NonFatal(e) => verifyErrors(q) = String.valueOf(e) }
    }

    val json = new StringBuilder
    json ++= "{\n"
    json ++= s""""setup_s": $setupS,\n"""
    json ++= s""""indexcache_mb_end": ${IndexCache.totalBytes / 1e6},\n"cores": ${plan.cores},\n"""
    json ++= s""""codegen_compiles": ${cg1._1 - cg0._1},\n"codegen_compile_ms": ${(cg1._2 - cg0._2) / 1e6},\n"""
    json ++= passWall.map { case (p, tr, w) => s"""{"pass": $p, "traced": $tr, "wall_s": $w}""" }
      .mkString("\"passes\": [\n", ",\n", "],\n")
    json ++= runner.reqs.filter(_.pass >= 0).map { r =>
      s"""{"pass": ${r.pass}, "q": ${Json.str(r.q)}, "id": ${r.id}, "traced": ${r.traced}, """ +
      s""""sweep_ms": ${r.sweepNs / 1e6}, "build_ms": ${r.buildNs / 1e6}, "exec_ms": ${r.execNs / 1e6}, """ +
      s""""storage_mb": ${r.storageBytes / 1e6}, "error": ${Json.strOrNull(r.error)}""" +
      (if (r.traced) ", " + tracer.requestJson(r) else "") + "}"
    }.mkString("\"requests\": [\n", ",\n", "],\n")
    json ++= verifyErrors.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      .mkString("\"verify_errors\": {", ", ", "},\n")
    json ++= SparkEntry.oracleSql.filter { case (k, _) => plan.warmup.contains(k) }
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("\"oracle_sql\": {", ",\n", "}\n")
    json ++= "}\n"
    write(s"${plan.out}/raw.json", json.toString)
    if (plan.trace) write(s"${plan.out}/trace.json", tracer.spansJson(runner.reqs.filter(_.traced).toSeq))
    spark.stop()
  }

  def write(path: String, s: String): Unit = {
    val w = new PrintWriter(new File(path), "UTF-8")
    try w.write(s) finally w.close()
  }
}

/** Issues one request: the registry wrapper's sweep, the build call and the
  * sink call, each timed, with a local property naming the request and
  * its phase so that the listener can attribute every job to both. */
final class Runner(spark: SparkSession, plan: Plan) {
  import Main.Req
  val reqs = ArrayBuffer[Req]()
  private var nextId = 0L
  private val sc = spark.sparkContext

  private def sink(df: DataFrame, q: String): Unit =
    if (plan.sink == "parquet") df.write.mode("overwrite").parquet(s"${plan.sinkDir}/$q")
    else df.write.format("noop").mode("overwrite").save()

  def request(pass: Int, q: String, traced: Boolean): Unit = {
    val id = nextId; nextId += 1
    sc.setLocalProperty(Tracer.ReqKey, id.toString)
    var err: String = null
    val t0 = System.nanoTime()
    sc.setLocalProperty(Tracer.PhaseKey, "sweep")
    CacheScope.sweep()
    val t1 = System.nanoTime()
    var t2 = t1
    try {
      sc.setLocalProperty(Tracer.PhaseKey, "build")
      val df = SparkEntry.queries(q)(spark, plan.data)
      t2 = System.nanoTime()
      sc.setLocalProperty(Tracer.PhaseKey, "exec")
      sink(df, q)
    } catch { case NonFatal(e) => err = String.valueOf(e) }
    val t3 = System.nanoTime()
    sc.setLocalProperty(Tracer.PhaseKey, null)
    sc.setLocalProperty(Tracer.ReqKey, null)
    val storage = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    reqs += Req(pass, q, id, traced, t0, t1 - t0, t2 - t1, t3 - t2, storage, err)
    System.err.println(f"[perfbench] pass $pass $q: sweep ${(t1 - t0) / 1e6}%.0f" +
      f" build ${(t2 - t1) / 1e6}%.0f exec ${(t3 - t2) / 1e6}%.0f ms")
  }
}

final case class Plan(data: String, out: String, sink: String, sinkDir: String,
                      cores: Int, seconds: Double, minPasses: Int, trace: Boolean,
                      warmup: Seq[String], passes: IndexedSeq[Seq[String]])

object Plan {
  def read(path: String): Plan = {
    val lines = scala.io.Source.fromFile(path, "UTF-8").getLines()
      .map(_.trim).filter(_.contains("=")).map { l =>
        val i = l.indexOf('='); (l.take(i), l.drop(i + 1))
      }.toSeq
    def one(k: String) = lines.collectFirst { case (`k`, v) => v }
      .getOrElse(throw new IllegalArgumentException(s"plan lacks '$k'"))
    def list(v: String) = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    Plan(one("data"), one("out"), one("sink"), one("sink_dir"), one("cores").toInt,
      one("seconds").toDouble, one("min_passes").toInt, one("trace") == "1",
      list(one("warmup")), lines.collect { case ("pass", v) => list(v) }.toIndexedSeq)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def strOrNull(s: String): String = if (s == null) "null" else str(s)
}
