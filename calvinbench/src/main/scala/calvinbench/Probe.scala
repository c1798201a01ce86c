package calvinbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch-aligned wall clock in milliseconds with nanoTime resolution, so
  * the benchmark's own spans line up with Spark's listener timestamps.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One span: a call the benchmark made into a layer, or a Spark job or
  * stage. Spans of one batch or one query share `group`; `parent` is the
  * id of the span that caused it (0 for a root).
  */
final case class Span(id: Int, parent: Int, group: String, layer: String,
    startMs: Double, endMs: Double)

/** In-memory span store; written out once, when the run ends. */
final class Spans {
  private val ids = new AtomicInteger(0)
  private val buf = mutable.ArrayBuffer.empty[Span]
  def record(parent: Int, group: String, layer: String, startMs: Double,
      endMs: Double): Int = synchronized {
    val id = ids.incrementAndGet()
    buf += Span(id, parent, group, layer, startMs, endMs)
    id
  }
  def all: Seq[Span] = synchronized(buf.toList)
}

final class StageRec(val stageId: Int, val jobId: Int, val group: String) {
  var numTasks = 0
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var inputBytes = 0L
  var diskSpillBytes = 0L
  var submitMs = 0.0
  var completeMs = 0.0
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

final case class JobRec(jobId: Int, group: String, startMs: Double,
    var endMs: Double)

final case class Progress(batchId: Long, startMs: Double,
    durations: Map[String, Long])

/** Per-layer counters from Spark's public listeners: scheduler events
  * (jobs, stages, tasks and their metrics), streaming query progress and
  * query executions (planning time, executed-plan exchanges). Registered
  * only in the traced phase.
  */
final class Probe(spark: SparkSession) {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val stageJob = mutable.HashMap.empty[Int, (Int, String)]
  private val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  val progress = mutable.ArrayBuffer.empty[Progress]
  var planningMs = 0L
  var exchanges = 0L

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs(e.jobId) = JobRec(e.jobId, group, e.time.toDouble, e.time.toDouble)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, (e.jobId, group)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Probe.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probe.this.synchronized {
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Probe.this.synchronized {
        val info = e.stageInfo
        val (job, group) = stageJob.getOrElse(info.stageId, (-1, ""))
        val r = new StageRec(info.stageId, job, group)
        r.numTasks = info.numTasks
        r.submitMs = info.submissionTime.getOrElse(0L).toDouble
        r.completeMs = info.completionTime.getOrElse(0L).toDouble
        Option(info.taskMetrics).foreach { m =>
          r.cpuNs = m.executorCpuTime
          r.shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten
          r.inputBytes = m.inputMetrics.bytesRead
          r.diskSpillBytes = m.diskBytesSpilled
        }
        r.taskMs ++= taskMs.remove(info.stageId).getOrElse(Nil)
        stages(info.stageId) = r
      }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probe.this.synchronized {
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        progress += Progress(p.batchId, start,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
  }

  private val executionsListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Probe.this.synchronized {
        planningMs += qe.tracker.phases.values.map(_.durationMs).sum
        exchanges += Probe.exchanges(qe.executedPlan)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.streams.addListener(streams)
    spark.listenerManager.register(executionsListener)
  }

  /** Wait for every posted event to reach the listeners, then detach. */
  def stop(): Unit = {
    org.apache.spark.calvinbench.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(scheduler)
    spark.streams.removeListener(streams)
    spark.listenerManager.unregister(executionsListener)
  }
}

object Probe {
  /** Exchange nodes in an executed plan, through adaptive query stages and
    * subqueries; a reused exchange is not counted again.
    */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case _: ReusedExchangeExec => 0
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case other =>
      other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }
}
