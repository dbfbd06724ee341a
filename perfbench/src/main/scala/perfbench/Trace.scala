package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same base as the timestamps Spark puts on its listener events.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def ms(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** JSON for the result and trace files: Jackson, with Scala maps,
  * sequences and options, as Spark ships it.
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
  def tree(text: String): JsonNode = mapper.readTree(text)
}

/** One span: a named interval with a parent, one root per operation. */
final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double,
    attrs: Map[String, Any]) {
  def fields: Map[String, Any] = Map("id" -> id, "parent" -> parent, "name" -> name,
    "start_ms" -> start, "end_ms" -> end) ++ attrs
}

/** In-memory trace: spans around the calls the benchmark makes into the
  * program, plus Spark's own job, stage, SQL-execution, query-planning and
  * streaming-progress events read through public listeners. Nothing is
  * recorded when tracing is off; the file is written once, at the end.
  */
final class Trace(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentLinkedQueue[Any]()
  private val stages = new ConcurrentLinkedQueue[Any]()
  private val sql = new ConcurrentLinkedQueue[Any]()
  private val plans = new ConcurrentLinkedQueue[Any]()
  private val progress = new ConcurrentLinkedQueue[Any]()
  @volatile private var nextId = 0

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Run `body` inside a span named `name` under `parent` (0 = root).
    * Returns the body's value and the span's wall in seconds; the span is
    * kept even when the body throws.
    */
  def span[T](name: String, parent: Int = 0, attrs: Map[String, Any] = Map.empty)(
      body: Int => T): (T, Double) = {
    val id = synchronized { nextId += 1; nextId }
    val gc0 = if (enabled) gcMs() else 0L
    val t0 = Clock.ms()
    var failed = true
    try {
      val v = body(id)
      failed = false
      (v, (Clock.ms() - t0) / 1000.0)
    } finally {
      if (enabled) {
        val t1 = Clock.ms()
        spans.add(Span(id, parent, name, t0, t1,
          attrs ++ Map("gc_ms" -> (gcMs() - gc0), "failed" -> failed)))
      }
    }
  }

  /** Attach facts measured after a span closed (disk bytes, leaks). */
  def note(parent: Int, name: String, attrs: Map[String, Any]): Unit =
    if (enabled) {
      val t = Clock.ms()
      val id = synchronized { nextId += 1; nextId }
      spans.add(Span(id, parent, name, t, t, attrs))
    }

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val result = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
        val execution = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
        jobs.add(Map("job" -> e.jobId, "start_ms" -> e.time, "call_site" -> result,
          "execution" -> execution, "stages" -> e.stageIds, "event" -> "start"))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.add(Map("job" -> e.jobId, "end_ms" -> e.time, "event" -> "end",
          "ok" -> (e.jobResult == JobSucceeded)))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        val m = s.taskMetrics
        val base = Map[String, Any]("stage" -> s.stageId, "attempt" -> s.attemptNumber(),
          "name" -> s.name, "tasks" -> s.numTasks,
          "submit_ms" -> s.submissionTime.getOrElse(-1L),
          "complete_ms" -> s.completionTime.getOrElse(-1L),
          "failed" -> s.failureReason.isDefined)
        val metrics =
          if (m == null) Map.empty[String, Any]
          else Map[String, Any](
            "task_ms" -> m.executorRunTime,
            "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
            "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
            "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
            "input_bytes" -> m.inputMetrics.bytesRead,
            "input_records" -> m.inputMetrics.recordsRead,
            "output_bytes" -> m.outputMetrics.bytesWritten)
        stages.add(base ++ metrics)
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          // the description is the action's call site unless a job
          // description was set; adaptive query stages run their jobs
          // from pool threads, so this is where their module is recorded
          sql.add(Map("execution" -> s.executionId, "start_ms" -> s.time,
            "call_site" -> s.description))
        case s: SparkListenerSQLExecutionEnd =>
          sql.add(Map("execution" -> s.executionId, "end_ms" -> s.time))
        case _ =>
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      private def record(func: String, qe: QueryExecution, ok: Boolean): Unit = {
        val phases = qe.tracker.phases.map { case (k, p) =>
          k -> Map("start_ms" -> p.startTimeMs, "end_ms" -> p.endTimeMs)
        }
        plans.add(Map("func" -> func, "ok" -> ok, "phases" -> phases))
      }
      override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
        record(func, qe, ok = true)
      override def onFailure(func: String, qe: QueryExecution, ex: Exception): Unit =
        record(func, qe, ok = false)
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        progress.add(Map("event" -> "started", "id" -> e.id.toString,
          "timestamp" -> e.timestamp))
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(Json.tree(e.progress.json))
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        progress.add(Map("event" -> "terminated", "id" -> e.id.toString,
          "error" -> e.exception.orNull))
    })
  }

  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val all = Map("spans" -> spans.asScala.map(_.fields), "jobs" -> jobs.asScala,
      "stages" -> stages.asScala, "sql" -> sql.asScala, "plans" -> plans.asScala,
      "stream" -> progress.asScala)
    java.nio.file.Files.writeString(path, Json.write(all))
  }
}
