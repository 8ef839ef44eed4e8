package lakebench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Flat spans around the benchmark's calls into the engine, and a
  * listener that charges every Spark job, stage and task to the span
  * that was open when the job was submitted.
  *
  * The span name travels as a Spark local property, so jobs submitted
  * from the calling thread, and from pools that copy its properties,
  * carry it. A job without it lands in `unattributed`: it is counted,
  * never dropped. Spans are flat (one per public engine call), so a
  * span's self time is its wall time. */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  final class Counters {
    var wallS, taskS = 0.0
    var jobs, tasks, shuffleBytes, spillBytes, emptyTasks = 0L
    var outputRecords, outputBytes = 0L
    /** Task run intervals (launch, finish) in epoch ms. */
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    /** Span instances (start, end) in epoch ms. */
    val windows = mutable.ArrayBuffer.empty[(Long, Long)]

    /** Span time during which none of the span's tasks ran: planning,
      * log replay, commits and collects on the driver. */
    def driverS: Double = {
      val merged = mutable.ArrayBuffer.empty[(Long, Long)]
      intervals.sortBy(_._1).foreach { case (s, e) =>
        if (merged.nonEmpty && s <= merged.last._2)
          merged(merged.size - 1) = (merged.last._1, math.max(merged.last._2, e))
        else merged += ((s, e))
      }
      val covered = windows.map { case (ws, we) =>
        merged.map { case (s, e) => math.max(0L, math.min(e, we) - math.max(s, ws)) }.sum
      }.sum
      math.max(0.0, wallS - covered / 1000.0)
    }
  }

  private val spans = mutable.LinkedHashMap.empty[String, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  /** Per stage: SQL execution id, call-site module and task seconds. */
  private val stageExec = mutable.HashMap.empty[Int, Long]
  /** Call-site module of the thread that started each SQL execution. */
  private val execModule = mutable.HashMap.empty[Long, String]
  private val stageModule = mutable.HashMap.empty[Int, String]
  private val stageTaskS = mutable.HashMap.empty[Int, Double]
  /** Run totals, counted for every event whether or not it maps to a span. */
  val total = new Counters
  @volatile var firstJob: Int = Int.MaxValue

  def counters(span: String): Counters = synchronized {
    spans.getOrElseUpdate(span, new Counters)
  }

  /** Task seconds by the engine module that issued the job. Jobs a
    * Spark pool submits for a query (adaptive stages, writes) carry no
    * engine frame; they take the module that started their SQL
    * execution. */
  def callsiteTaskS(module: String): Double = synchronized {
    stageTaskS.collect { case (st, t) if (stageModule.get(st) match {
        case Some("other") => stageExec.get(st).flatMap(execModule.get).getOrElse("other")
        case m => m.getOrElse("other")
      }) == module => t }.sum
  }

  /** Runs `body` inside span `name`. */
  def span[T](name: String)(body: => T): T = {
    sc.setLocalProperty(SpanKey, name)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      sc.setLocalProperty(SpanKey, null)
      val c = counters(name)
      synchronized { c.wallS += (t1 - t0) / 1000.0; c.windows += ((t0, t1)) }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    firstJob = math.min(firstJob, e.jobId)
    val name = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .getOrElse(Unattributed)
    counters(name).jobs += 1
    total.jobs += 1
    val module = e.stageInfos.sortBy(-_.stageId).headOption
      .map(s => moduleOf(s.details)).getOrElse("other")
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    e.stageIds.foreach { s =>
      stageSpan.getOrElseUpdate(s, name)
      stageModule.getOrElseUpdate(s, module)
      exec.foreach(stageExec.getOrElseUpdate(s, _))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execModule(s.executionId) = moduleOf(s.details) }
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    // a task whose stage never reached onJobStart maps to no span: it is
    // counted in the totals only, and the conservation check then fails
    val owners = Seq(total) ++ stageSpan.get(e.stageId).map(counters)
    owners.foreach { c =>
      c.tasks += 1
      if (m != null) {
        c.taskS += m.executorRunTime / 1000.0
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputRecords += m.outputMetrics.recordsWritten
        c.outputBytes += m.outputMetrics.bytesWritten
        if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0 &&
            m.outputMetrics.recordsWritten == 0 && m.shuffleWriteMetrics.recordsWritten == 0)
          c.emptyTasks += 1
      }
      if (c ne total) c.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
    if (m != null)
      stageTaskS(e.stageId) = stageTaskS.getOrElse(e.stageId, 0.0) + m.executorRunTime / 1000.0
  }

  /** Drains the listener bus, then checks that the spans (with
    * `unattributed`) add up to the run totals, and that those agree with
    * Spark's own status store. Returns the mismatches, empty when none. */
  def conservation(): Seq[String] = {
    org.apache.spark.lakebench.Bus.drain(sc)
    synchronized {
      val all = spans.values.toSeq
      val out = mutable.ArrayBuffer.empty[String]
      def eq(what: String, a: Double, b: Double, tol: Double = 0.0): Unit =
        if (math.abs(a - b) > tol) out += s"$what: spans $a vs total $b"
      eq("jobs", all.map(_.jobs).sum.toDouble, total.jobs.toDouble)
      eq("tasks", all.map(_.tasks).sum.toDouble, total.tasks.toDouble)
      eq("task_s", all.map(_.taskS).sum, total.taskS, 1e-6)
      if (firstJob != Int.MaxValue) {
        val (jobs, tasks) =
          org.apache.spark.lakebench.Bus.jobsAndTasks(sc, firstJob)
        if (jobs != total.jobs) out += s"jobs: listener ${total.jobs} vs status store $jobs"
        if (tasks != total.tasks) out += s"tasks: listener ${total.tasks} vs status store $tasks"
      }
      out.toSeq
    }
  }
}

object Trace {
  val SpanKey = "lakebench.span"
  val Unattributed = "unattributed"
  /** The benchmark's own input staging and output checks. */
  val BenchSpan = "bench"

  /** Modules of the engine, as named in the per-layer metrics. */
  val Modules: Seq[String] = Seq("Pipeline", "dq", "ops", "gold", "io", "ext",
    "functions", "monitoring", "util", "bench", "other")

  /** Module of the first engine frame in a job's call site (Spark's
    * long-form call stack): `graft.dq.X.run(DataQuality.scala:250)` → dq.
    * Frames of the benchmark itself map to `bench`; a stack with neither
    * (a job submitted from a Spark-internal pool) to `other`. */
  def moduleOf(callStack: String): String = {
    val frames = callStack.split('\n').map(_.trim)
    frames.find(f => f.startsWith("graft.") || f.startsWith("lakebench."))
      .map { f =>
        if (f.startsWith("lakebench.")) "bench"
        else f.split('.')(1) match {
          case m if Modules.contains(m) => m
          case p if p.startsWith("Pipeline") => "Pipeline"
          case _ => "other"
        }
      }.getOrElse("other")
  }
}
