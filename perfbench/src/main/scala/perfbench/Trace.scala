package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the program's modules, plus the
  * Spark work each span caused.
  *
  * A span covers one call into a module's public function and the Spark
  * action that forces it. While a span is open its id is the
  * `perfbench.span` local property, so every job and stage Spark starts on
  * that thread (and on threads it starts, such as a streaming query's) is
  * attributed to the innermost open span. Query-planning phases carry no
  * local property; they are written with their wall-clock times and
  * attributed to the span open at that time when the trace is analysed.
  *
  * Everything stays in memory until [[write]]. With tracing off, [[span]]
  * only runs its body. */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc: SparkContext = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val stack = mutable.Stack.empty[SpanRec]
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val queries = new java.util.concurrent.ConcurrentLinkedQueue[QueryRec]()
  // nanoTime -> epoch ms: spans use the monotonic clock, Spark events the
  // wall clock
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  private def epochMs(nano: Long): Double = (epochNs0 + (nano - nano0)) / 1e6
  private var gcMs0 = 0L
  private var gcMs1 = 0L
  @volatile var on = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      val j = new JobRec(e.jobId, span, e.time, e.stageInfos.map(_.stageId).toSet)
      jobs.put(e.jobId, j)
      e.stageInfos.foreach(s => stageJob.put(s.stageId, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val j = stageJob.get(e.stageInfo.stageId)
      if (j != null) j.submitted.synchronized { j.submitted += e.stageInfo.stageId }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = stageJob.get(e.stageId)
      if (j != null) j.synchronized {
        j.tasks += 1
        if (e.reason != org.apache.spark.Success) j.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.taskRunMs += m.executorRunTime
          j.taskCpuNs += m.executorCpuTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def phase(n: String): (Long, Long) =
        phases.get(n).map(p => (p.startTimeMs, p.endTimeMs)).getOrElse((0L, 0L))
      queries.add(QueryRec(phase("analysis"), phase("optimization"), phase("planning"),
        durationNs, filesWritten(qe.executedPlan)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Start recording: register the listeners and note the GC clock. */
  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    gcMs0 = gcMs()
    on = true
  }

  /** Stop recording once every event posted so far has been delivered. */
  def stop(): Unit = {
    on = false
    gcMs1 = gcMs()
    org.apache.spark.perfbench.Bus.drain(sc)
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(listener)
  }

  /** Run `body` as a span of `module`. Spans nest; the innermost open span
    * owns the Spark work started inside it. */
  def span[T](module: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption
      val s = new SpanRec(spans.size, parent.map(_.id).getOrElse(-1), module, name, System.nanoTime())
      spans += s
      stack.push(s)
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.pop()
        sc.setLocalProperty(SpanProp, parent.map(_.id.toString).orNull)
      }
    }

  /** Write spans, jobs and query phases as one JSON document. */
  def write(path: String): Unit = {
    val spanRecs = spans.toSeq.map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "module" -> s.module, "name" -> s.name,
      "start_ms" -> epochMs(s.startNs), "end_ms" -> epochMs(s.endNs)))
    val jobRecs = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      val subm = j.submitted.synchronized(j.submitted.toSet)
      Map("id" -> j.id, "span" -> j.span, "start_ms" -> j.startMs.toDouble,
        "end_ms" -> (if (j.endMs > 0) j.endMs else j.startMs).toDouble,
        "stages" -> subm.size, "stages_skipped" -> (j.stageIds -- subm).size,
        "tasks" -> j.tasks, "failed_tasks" -> j.failedTasks,
        "task_s" -> j.taskRunMs / 1e3, "task_cpu_s" -> j.taskCpuNs / 1e9,
        "shuffle_bytes" -> j.shuffleBytes, "spill_bytes" -> j.spillBytes)
    }
    val queryRecs = queries.asScala.toSeq.map { q =>
      def ph(n: String, p: (Long, Long)) =
        Seq(s"${n}_start_ms" -> p._1.toDouble, s"${n}_s" -> (p._2 - p._1) / 1e3)
      (ph("analysis", q.analysis) ++ ph("optimization", q.optimization) ++
        ph("planning", q.planning) ++ Seq("exec_s" -> q.execNs / 1e9,
        "files_written" -> q.filesWritten)).toMap
    }
    Main.json.writeValue(new java.io.File(path), Map("gc_s" -> (gcMs1 - gcMs0) / 1e3,
      "spans" -> spanRecs, "jobs" -> jobRecs, "queries" -> queryRecs))
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  final class SpanRec(val id: Int, val parent: Int, val module: String, val name: String,
      val startNs: Long) {
    var endNs: Long = startNs
  }

  final class JobRec(val id: Int, val span: Int, val startMs: Long, val stageIds: Set[Int]) {
    @volatile var endMs: Long = 0L
    val submitted = mutable.Set.empty[Int]
    var tasks = 0L
    var failedTasks = 0L
    var taskRunMs = 0L
    var taskCpuNs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }

  final case class QueryRec(analysis: (Long, Long), optimization: (Long, Long),
      planning: (Long, Long), execNs: Long, filesWritten: Long)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Files committed by the write commands in an executed plan. */
  private def filesWritten(plan: SparkPlan): Long = {
    var n = 0L
    plan.foreach {
      case w: DataWritingCommandExec =>
        n += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case c: CommandResultExec =>
        n += filesWritten(c.commandPhysicalPlan)
      case _ =>
    }
    n
  }
}
