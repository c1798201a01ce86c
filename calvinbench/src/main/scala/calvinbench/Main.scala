package calvinbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What a workload needs while it measures. */
final class RunContext(val trace: Boolean, val deadlineMs: Double,
    session: () => SparkSession, restartWith: Int => SparkSession) {
  def spark: SparkSession = session()
  /** Stop the session and start one at `local[cores]`. */
  def restart(cores: Int): SparkSession = restartWith(cores)
}

trait Workload {
  /** Per-session set-up (layout builds, generator set-up); timed. */
  def setUp(spark: SparkSession): Unit
  /** Once per JVM, after set-up: warm the codegen and JIT caches. */
  def warmUp(spark: SparkSession): Map[String, Any]
  /** The timed phase (and, when tracing, the traced phase): raw record. */
  def measure(ctx: RunContext): Map[String, Any]
}

/** Benchmark runner: one JVM per run. Starts a session, sets the workload
  * up and warms it up (together the set-up time, counted from JVM start to
  * the first timed operation), measures the workload, and writes a raw
  * JSON record that `run.py` reduces to metrics.
  *
  * Arguments: --workload --seed --seconds --trace 0|1 --cores --work
  * <work dir> --out <record file> --budget-s <s> [--data <dir>].
  */
object Main {
  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def startSession(cores: Int, work: Path): SparkSession = {
    val spark = GraftSession.builder(s"local[$cores]")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def stopSession(spark: SparkSession): Unit = {
    graft.sources.Bucketed.clear()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val cores = opt("cores").toInt
    val work = Paths.get(opt("work")).toAbsolutePath
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    // fixed work from --seconds alone, at the rates the seed commit
    // sustains on a 4-CPU host (README.md): a faster commit finishes the
    // same batches or passes sooner
    val w: Workload = workload match {
      case "txn_stream" | "txn_skew" =>
        val perSecond = if (workload == "txn_skew") 0.5 else 0.4
        new TxnWorkload(workload, seed, math.max(4, math.round(seconds * perSecond).toInt), work)
      case "analytics" =>
        new AnalyticsWorkload(opt("data"), math.max(1, math.round(seconds * 0.15).toInt), work)
    }

    var spark = startSession(cores, work)
    w.setUp(spark)
    val w0 = Clock.ms
    val warm = w.warmUp(spark)
    val ready = Clock.ms
    // the measured phase must leave time for checks and shutdown
    val deadline = Clock.ms + opt("budget-s").toDouble * 1000
    val ctx = new RunContext(opt("trace") == "1", deadline, () => spark, { c =>
        stopSession(spark)
        spark = startSession(c, work)
        spark
      })
    val record = w.measure(ctx) ++ Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "setup_s" -> (ready - jvmStartMs) / 1000,
      "session_setup_s" -> (w0 - jvmStartMs) / 1000,
      "warmup_s" -> (ready - w0) / 1000, "warmup" -> warm,
      "peak_rss_mb" -> peakRssMb())
    Files.write(Paths.get(opt("out")),
      org.json4s.jackson.Serialization.write(record)(org.json4s.DefaultFormats)
        .getBytes(UTF_8))
    stopSession(spark)
  }

  /** Job and stage spans from the scheduler listener: a job's parent is
    * the span registered for its job group, a stage's parent its job.
    */
  def schedulerSpans(s: Spans, probe: Probe, parents: Map[String, Int]): Unit = {
    val jobSpan = probe.jobs.values.flatMap { j =>
      parents.get(j.group).map(p => j.jobId -> s.record(p, j.group, "job", j.startMs, j.endMs))
    }.toMap
    probe.stages.values.foreach { st =>
      jobSpan.get(st.jobId).foreach(p =>
        s.record(p, st.group, "stage", st.submitMs, st.completeMs))
    }
  }

  /** Listener counts for `run.py`: stages per job group (tasks, CPU,
    * shuffle, input, spill, task times), jobs per group, trigger
    * durations, planning time and executed-plan exchanges.
    */
  def listenerRecord(probe: Probe): Map[String, Any] = Map(
    "jobs" -> probe.jobs.values.map(j => Map("group" -> j.group)).toSeq,
    "stages" -> probe.stages.values.map { st =>
      Map("group" -> st.group, "tasks" -> st.numTasks, "cpu_ns" -> st.cpuNs,
        "shuffle_write_bytes" -> st.shuffleWriteBytes,
        "input_bytes" -> st.inputBytes, "disk_spill_bytes" -> st.diskSpillBytes,
        "task_ms" -> st.taskMs.toSeq)
    }.toSeq,
    "progress" -> probe.progress.map(p => Map("batch_id" -> p.batchId,
      "durations" -> p.durations)).toSeq,
    "planning_ms" -> probe.planningMs,
    "exchanges" -> probe.exchanges)
}
