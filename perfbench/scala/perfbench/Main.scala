package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One workload of the benchmark: a set-up, then closed-loop steps that
  * each run one or more timed ops. */
trait Workload {
  def setup(): Unit
  /** False once the generated inputs cannot feed another whole step. */
  def canStep: Boolean = true
  def step(): Unit
  /** Untimed end of the run: output-check material and final checks. */
  def finish(): Map[String, Any]
}

/** Times ops for one client thread, records what the output checks need,
  * and (in a traced window) what the listeners saw during each op. */
final class Harness(val spark: SparkSession, val seconds: Double,
                    val traceRun: Boolean, val work: String) {
  val tracer = new Tracer(false, spark)
  private val listeners = if (traceRun) Some(new Listeners(spark)) else None
  val ops = mutable.ArrayBuffer[mutable.Map[String, Any]]()
  private var window = "untraced"
  private var windowNs = 0L
  private var current: mutable.Map[String, Any] = mutable.Map.empty
  val jvmStartMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  var setupS: Double = Double.NaN
  val info = mutable.Map[String, Any]()

  def traced: Boolean = tracer.on

  /** Run one named part of the set-up and record how long it took. */
  def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally info(s"setup.${name}_s") = (System.nanoTime() - t0) / 1e9
  }

  /** Attach a value to the op being timed. */
  def note(k: String, v: Any): Unit = current(k) = v

  /** Run one timed op. A thrown exception fails the op (and is recorded);
    * the closed loop goes on with the next op. */
  def op[T](cls: String, tag: String)(body: => T): Option[T] = {
    val id = ops.length
    val rec = mutable.Map[String, Any]("id" -> id, "class" -> cls, "tag" -> tag,
      "window" -> window)
    current = rec
    tracer.op = id
    val ms0 = System.currentTimeMillis()
    if (setupS.isNaN) setupS = (ms0 - jvmStartMs) / 1e3
    val t0 = System.nanoTime()
    val out =
      try Some(tracer.span(s"op.$cls")(body))
      catch { case NonFatal(e) =>
        rec("error") = s"${e.getClass.getName}: ${e.getMessage}".take(2000)
        System.err.println(s"[perfbench] op $id ($tag) failed: ${rec("error")}")
        None
      }
    val t1 = System.nanoTime()
    val ms1 = System.currentTimeMillis()
    windowNs += t1 - t0
    rec("s") = (t1 - t0) / 1e9
    rec("ok") = out.isDefined
    listeners.filter(_ => traced).foreach(l => rec("layers") = layers(l.take(), ms0, ms1))
    ops += rec
    current = mutable.Map.empty
    out
  }

  /** Untimed work between ops (output checks, listings). In a traced
    * window its listener events are dropped. */
  def untimed[T](body: => T): T = {
    val out = body
    listeners.filter(_ => traced).foreach(_.take())
    out
  }

  /** Closed loop: repeat the workload's step until the window's ops have
    * been timed for `seconds`, a wall-clock guard trips when untimed work
    * dominates, or the generated inputs run out (recorded as
    * `<window>_exhausted`, a limit of the harness, not a failed op). */
  def runWindow(name: String, w: Workload): Unit = {
    window = name
    windowNs = 0L
    val trace = name == "traced"
    listeners.foreach(l => if (trace) l.register() else if (tracer.on) l.unregister())
    tracer.on = trace
    val wall0 = System.nanoTime()
    val guardNs = ((seconds * 3 + 30) * 1e9).toLong
    while (windowNs < seconds * 1e9 && System.nanoTime() - wall0 < guardNs && w.canStep) w.step()
    if (windowNs < seconds * 1e9 && !w.canStep) info(s"${name}_exhausted") = true
    info(s"${name}_timed_s") = windowNs / 1e9
    info(s"${name}_wall_s") = (System.nanoTime() - wall0) / 1e9
  }

  private def layers(e: Epoch, ms0: Long, ms1: Long): Map[String, Any] = {
    // union of the op's job intervals, clipped to the op
    val iv = e.jobIntervals.map { case (s, t) => (math.max(s, ms0), math.min(t, ms1)) }
      .filter(p => p._2 > p._1).sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    iv.foreach { case (s, t) =>
      if (s > end) { covered += t - s; end = t }
      else if (t > end) { covered += t - end; end = t }
    }
    Map(
      "wall_ms" -> (ms1 - ms0), "job_ms" -> covered,
      "jobs" -> e.jobs, "stages" -> e.stages, "tasks" -> e.tasks,
      "task_run_s" -> e.taskRunMs / 1e3, "task_cpu_s" -> e.taskCpuNs / 1e9,
      "gc_s" -> e.gcMs / 1e3, "task_wall_s" -> e.taskWallMs / 1e3,
      "shuffle_read_bytes" -> e.shuffleRead, "shuffle_write_bytes" -> e.shuffleWrite,
      "spill_bytes" -> e.spill, "input_bytes" -> e.inputBytes,
      "input_records" -> e.inputRecords, "output_bytes" -> e.outputBytes,
      "files_read" -> e.filesRead, "files_written" -> e.filesWritten,
      "rows_written" -> e.rowsWritten,
      "analysis_s" -> e.analysisMs / 1e3, "optimization_s" -> e.optimizationMs / 1e3,
      "planning_s" -> e.planningMs / 1e3,
      "cpu_s_by_group" -> e.cpuNsByGroup.map { case (g, ns) => g -> ns / 1e9 }.toMap,
      "write_ops" -> e.writeOps.map { case (n, s) => Seq(n, s) },
      "triggers" -> e.triggers.map { case (t, a, r) => Seq(t, a, r) }.toSeq)
  }
}

object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def readJson(path: String): JsonNode = json.readTree(new java.io.File(path))

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** Peak occupancy of the old generation, in MB: the heap the program kept
    * past young collections, which a fixed heap size does not hide. */
  def oldGenPeakMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.contains("Old Gen")).map(_.getPeakUsage.getUsed / 1048576.0).sum

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    // warnings every run raises by design (unpartitioned small windows,
    // freed checkpoint blocks, stream bookkeeping) would bury the log
    Seq("org.apache.spark.sql.execution.window.WindowExec", "org.apache.spark.rdd",
        "org.apache.spark.sql.execution.streaming")
      .foreach(org.apache.logging.log4j.core.config.Configurator.setLevel(
        _, org.apache.logging.log4j.Level.ERROR))
    val cores = a("cores").toInt
    val spark = graft.engine.GraftSession.local(cores, "perfbench")
    val h = new Harness(spark, a("seconds").toDouble, a("trace") == "1", a("work"))
    h.info("setup.session_s") = (System.currentTimeMillis() - h.jvmStartMs) / 1e3
    val w: Workload = a("workload") match {
      case "olap" => new Olap(h, a("inputs"))
      case "curate" => new Curate(h, a("inputs"))
      case "ingest_search" => new IngestSearch(h, a("inputs"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    h.runWindow("untraced", w)
    // a traced run brackets the traced window with two untraced ones, so
    // the overhead is not confused with the drift of a still-warming JVM
    if (h.traceRun) Seq("traced", "untraced_after").foreach(h.runWindow(_, w))
    val checks = w.finish()
    val result = Map(
      "workload" -> a("workload"), "cores" -> cores, "setup_s" -> h.setupS,
      "mem_peak_mb" -> peakRssMb(), "old_gen_peak_mb" -> oldGenPeakMb(),
      "info" -> h.info.toMap, "ops" -> h.ops.map(_.toMap),
      "spans" -> h.tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
      "self_s" -> h.tracer.selfTimes, "checks" -> checks)
    val tmp = new java.io.File(a("out") + ".tmp")
    json.writeValue(tmp, result)
    tmp.renameTo(new java.io.File(a("out")))
    spark.stop()
  }
}
