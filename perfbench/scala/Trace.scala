package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same scale as Spark's listener timestamps. */
object Now {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** The traced run's recorder. Spans (run → workload → query or trigger →
  * job → stage) and per-layer counters are kept in memory and returned by
  * [[result]] once the workload ends; nothing here runs in an untraced run.
  *
  * Job spans carry the properties that name their parent: the benchmark's
  * own `perfbench.span` local property for batch queries, or the streaming
  * query id and batch id Spark sets on micro-batch jobs. Parents are
  * resolved when the spans are read, because a trigger's span is known only
  * from its progress event, after its jobs have ended. */
final class Tracer(spark: SparkSession) {
  private val nextId = new AtomicLong(1L)
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Double, Map[String, Any])]()
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val windows = mutable.ArrayBuffer.empty[(Double, Double)]
  private var armedSince: Option[Double] = None

  private var codegenAtArm = (0L, 0L)
  private def codegen(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** Events are kept when their own start time falls in an armed window;
    * the listener bus delivers them later, when the window may be closed.
    * Codegen is a JVM-wide counter, so it is read at the window's edges. */
  def arm(): Unit = synchronized {
    armedSince = Some(Now.ms())
    codegenAtArm = codegen()
  }
  def disarm(): Unit = synchronized {
    armedSince.foreach { s =>
      windows += ((s, Now.ms()))
      val (n, ns) = codegen()
      count("spark.codegen.compiles", n - codegenAtArm._1)
      count("spark.codegen.compile_ms", (ns - codegenAtArm._2) / 1e6)
    }
    armedSince = None
  }
  private def traced(atMs: Double): Boolean = synchronized {
    armedSince.exists(atMs >= _) || windows.exists { case (a, b) => atMs >= a && atMs <= b }
  }

  def newId(): Long = nextId.getAndIncrement()

  def addSpan(id: Long, parent: Option[Long], kind: String, name: String,
      startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty): Unit =
    synchronized {
      spans += Map("id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
        "start_ms" -> startMs, "end_ms" -> endMs, "attrs" -> attrs)
    }

  def count(key: String, v: Long): Unit = count(key, v.toDouble)
  def count(key: String, v: Double): Unit = synchronized { counters(key) += v }

  private object scans extends AdaptiveSparkPlanHelper {
    /** Files the query's file-source scans read (their `numFiles` metric). */
    def filesRead(qe: QueryExecution): Long =
      collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
        .flatMap(_.metrics.get("numFiles")).map(_.value).sum
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (traced(e.time.toDouble)) {
      val props = Option(e.properties).map(_.asScala.toMap).getOrElse(Map.empty[String, String])
      val attrs = Map[String, Any](
        "span" -> props.get("perfbench.span"),
        "stream_query" -> props.get("sql.streaming.queryId"),
        "stream_batch" -> props.get("streaming.sql.batchId"))
      jobStart.put(e.jobId, (e.time.toDouble, attrs))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId.toLong))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (t0, attrs) =>
        addSpan(-e.jobId.toLong - 1, None, "job", s"job ${e.jobId}", t0, e.time.toDouble,
          attrs + ("job_id" -> e.jobId))
        count("spark.scheduler.jobs", 1)
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageJob.get(info.stageId)).foreach { job =>
        val m = info.taskMetrics
        addSpan(newId(), Some(-job - 1), "stage", s"stage ${info.stageId}",
          info.submissionTime.getOrElse(0L).toDouble,
          info.completionTime.getOrElse(0L).toDouble,
          Map("tasks" -> info.numTasks))
        count("spark.scheduler.stages", 1)
        count("spark.scheduler.tasks", info.numTasks)
        if (m != null) {
          count("spark.executor.run_ms", m.executorRunTime)
          count("spark.executor.cpu_ms", m.executorCpuTime / 1e6)
          count("spark.executor.gc_ms", m.jvmGCTime)
          count("spark.shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
          count("spark.shuffle.read_bytes",
            m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
          count("spark.shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
          count("spark.shuffle.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
          count("sources.input_bytes", m.inputMetrics.bytesRead)
        }
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      if (phases.get("analysis").exists(p => traced(p.startTimeMs.toDouble))) {
        def phase(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
        count("spark.catalyst.analysis_ms", phase("analysis"))
        count("spark.catalyst.optimization_ms", phase("optimization"))
        count("spark.catalyst.planning_ms", phase("planning"))
        count("sources.files_read", scans.filesRead(qe))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      if (traced(start)) {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
        val id = newId()
        addSpan(id, None, "trigger", s"${p.id} #${p.batchId}",
          start, start + d.getOrElse("triggerExecution", 0.0),
          Map("stream_query" -> p.id.toString, "stream_batch" -> p.batchId.toString))
        synchronized {
          progress += Map("query" -> p.id.toString, "batch" -> p.batchId,
            "rows" -> p.numInputRows, "duration_ms" -> d,
            "end_offset" -> p.sources.headOption.map(_.endOffset).orNull,
            "at_ms" -> Now.ms())
        }
      }
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(planListener)
  spark.streams.addListener(streamListener)

  /** Close the run and workload spans, detach the listeners and return
    * everything recorded. */
  def result(workload: String, runStartMs: Double, startMs: Double, endMs: Double,
      workloadId: Long = newId()): Map[String, Any] = {
    val runId = newId()
    addSpan(runId, None, "run", "perfbench", runStartMs, endMs)
    addSpan(workloadId, Some(runId), "workload", workload, startMs, endMs)
    disarm()
    Thread.sleep(500) // let the listener bus deliver the last job and stage ends
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
    synchronized {
      Map("spans" -> spans.toList, "progress" -> progress.toList,
        "counters" -> counters.toMap)
    }
  }
}
