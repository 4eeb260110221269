package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed call made from the benchmark's own code into one
  * layer of the program. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, endNs: Long)

/** Spans of a traced run, kept in memory and written out once at the end.
  * With tracing off `span` is a plain call. A traced span also tags the
  * Spark jobs it submits with a job group named after it, so task CPU can
  * be attributed to the call that caused it. */
final class Tracer(var on: Boolean, spark: SparkSession) {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[(Int, Long)] = Nil
  private var nextId = 0
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val sc = spark.sparkContext
      val outer = Option(sc.getLocalProperty("spark.jobGroup.id"))
      sc.setJobGroup(s"op$op/$name", name)
      stack = (id, System.nanoTime()) :: stack
      try body
      finally {
        val start = stack.head._2
        stack = stack.tail
        spans += Span(id, name, parent, op, start, System.nanoTime())
        outer.fold(sc.clearJobGroup())(g => sc.setJobGroup(g, g))
      }
    }

  /** Self time per span name: duration minus the part its child spans
    * cover (children run sequentially on the client thread). */
  def selfTimes: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).view
      .mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    spans.groupBy(_.name).view.mapValues(ss => ss.map(s =>
      (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).sum).toMap
  }
}

/** What the listeners saw between two drains, i.e. during one op. */
final class Epoch {
  var jobs, stages, tasks = 0
  var taskRunMs, taskCpuNs, gcMs, taskWallMs = 0L
  var shuffleRead, shuffleWrite, spill = 0L
  var inputBytes, inputRecords, outputBytes = 0L
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  val cpuNsByGroup = mutable.Map[String, Long]().withDefaultValue(0L)
  var analysisMs, optimizationMs, planningMs = 0L
  var filesRead, filesWritten, rowsWritten = 0L
  /** Physical operators of the op's last write plan by SQLMetric time. */
  var writeOps: Seq[(String, Double)] = Nil
  /** Per data trigger: triggerExecution ms, addBatch ms, input rows. */
  val triggers = mutable.ArrayBuffer[(Long, Long, Long)]()
}

/** The Spark, SQL and streaming listeners of a traced run. Every callback
  * adds to the current [[Epoch]]; `take` drains the listener bus and hands
  * the epoch over. */
final class Listeners(spark: SparkSession) {
  private var cur = new Epoch
  private val jobStart = mutable.Map[Int, Long]()
  private val jobGroup = mutable.Map[Int, String]()
  private val stageJob = mutable.Map[Int, Int]()

  private def locked[T](f: => T): T = Listeners.this.synchronized(f)
  private def add(f: Epoch => Unit): Unit = locked(f(cur))

  def take(): Epoch = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    locked { val e = cur; cur = new Epoch; e }
  }

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = locked {
      jobStart(e.jobId) = e.time
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(jobGroup(e.jobId) = _)
      e.stageIds.foreach(stageJob(_) = e.jobId)
      cur.jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = locked {
      jobStart.remove(e.jobId).foreach(s => cur.jobIntervals += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = locked {
      val m = e.taskMetrics
      val c = cur
      c.tasks += 1
      c.taskWallMs += e.taskInfo.duration
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
        stageJob.get(e.stageId).flatMap(jobGroup.get)
          .foreach(g => c.cpuNsByGroup(g) += m.executorCpuTime)
      }
    }
  }

  private val queries = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val nodes = mutable.ArrayBuffer[SparkPlan]()
      walk(qe.executedPlan)(nodes += _)
      val isWrite = nodes.exists(_.isInstanceOf[DataWritingCommandExec])
      def metric(p: SparkPlan, k: String) = p.metrics.get(k).map(_.value).getOrElse(0L)
      add { c =>
        c.analysisMs += ms("analysis")
        c.optimizationMs += ms("optimization")
        c.planningMs += ms("planning")
        nodes.foreach { n =>
          if (n.isInstanceOf[DataWritingCommandExec]) {
            c.filesWritten += metric(n, "numFiles")
            c.rowsWritten += metric(n, "numOutputRows")
          } else if (n.nodeName.startsWith("Scan")) c.filesRead += metric(n, "numFiles")
        }
        if (isWrite) c.writeOps = operatorTimes(nodes.toSeq)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String) = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      if (p.numInputRows > 0)
        add(_.triggers += ((ms("triggerExecution"), ms("addBatch"), p.numInputRows)))
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(queries)
    spark.streams.addListener(streams)
    take()
  }

  def unregister(): Unit = {
    take()
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(queries)
    spark.streams.removeListener(streams)
  }

  /** Every physical node of a plan, through AQE's final plan and query
    * stages. */
  private def walk(p: SparkPlan)(f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)(f)
      case s: QueryStageExec => walk(s.plan)(f)
      case other =>
        other.children.foreach(walk(_)(f))
        other.subqueries.foreach(walk(_)(f))
    }
  }

  /** Seconds of timing SQLMetrics per operator, largest first. A
    * whole-stage-codegen node is named after the operator it starts with. */
  private def operatorTimes(nodes: Seq[SparkPlan]): Seq[(String, Double)] =
    nodes.flatMap { n =>
      val s = n.metrics.values.toSeq.map { m =>
        m.metricType match {
          case "timing" => m.value / 1e3
          case "nsTiming" => m.value / 1e9
          case _ => 0.0
        }
      }.sum
      val name =
        if (n.nodeName.startsWith("WholeStageCodegen"))
          s"${n.nodeName}: ${n.children.headOption.map(_.nodeName).getOrElse("")}"
        else n.nodeName
      if (s > 0) Some(name -> s) else None
    }.sortBy(-_._2)
}
