package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder: a SparkListener (jobs and stages with their
  * task metrics), a QueryExecutionListener (planning phases of every
  * action) and a StreamingQueryListener (micro-batch progress reports).
  * Everything stays in memory until `dump`, which the harness calls once
  * at the end of the run.
  *
  * Jobs and stages carry the `perfbench.span` local property the harness
  * sets around each call into the program, which is how they are tied to
  * their parent span.
  */
final class Trace(spark: SparkSession) {

  private val jobStarts = new ConcurrentHashMap[Int, (Long, String, Seq[Int])]()
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stageSpans = new ConcurrentHashMap[(Int, Int), String]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val plans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val progress = new ConcurrentLinkedQueue[String]()

  private def spanOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Trace.SpanKey))).getOrElse("")

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStarts.put(e.jobId, (e.time, spanOf(e.properties), e.stageIds))
      ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStarts.remove(e.jobId)
      if (s != null) {
        jobs.add(ListMap("id" -> e.jobId, "span" -> s._2, "start_ms" -> s._1,
          "end_ms" -> e.time, "stages" -> s._3,
          "failed" -> (e.jobResult != JobSucceeded)))
        ()
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      stageSpans.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()),
        spanOf(e.properties))
      ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val span = Option(stageSpans.remove((i.stageId, i.attemptNumber()))).getOrElse("")
      stages.add(ListMap(
        "id" -> i.stageId, "attempt" -> i.attemptNumber(), "span" -> span,
        "start_ms" -> i.submissionTime.getOrElse(-1L),
        "end_ms" -> i.completionTime.getOrElse(-1L),
        "tasks" -> i.numTasks,
        "run_ms" -> m.executorRunTime,
        "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "result_bytes" -> m.resultSize,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "input_bytes" -> m.inputMetrics.bytesRead,
        "input_rows" -> m.inputMetrics.recordsRead,
        "failed" -> i.failureReason.isDefined))
      ()
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      val start = if (phases.isEmpty) -1L else phases.values.map(_.startTimeMs).min
      plans.add(ListMap("func" -> funcName, "start_ms" -> start,
        "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning"), "duration_ns" -> durationNs))
      ()
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      progress.add(e.progress.json); ()
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Trace = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
    this
  }

  /** Detach once the listener bus has delivered what is already posted. */
  def detach(): Unit = {
    Common.drainListeners(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Everything recorded so far. */
  def dump(): Map[String, Any] = {
    ListMap(
      "jobs" -> jobs.asScala.toSeq,
      "stages" -> stages.asScala.toSeq,
      "plans" -> plans.asScala.toSeq,
      // progress reports are Spark's own JSON; kept verbatim
      "progress" -> progress.asScala.toSeq.map(RawJson))
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  /** Run `body` with every Spark job it launches labelled `span`. */
  def within[A](spark: SparkSession, span: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, span)
    try body finally sc.setLocalProperty(SpanKey, prev)
  }
}

/** A string that is already JSON and is written out unquoted. */
final case class RawJson(text: String)
