package calvinbench

import java.nio.file.Path

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** One query execution: pass, name, [[Clock]] start/end, error if any,
  * and where its result was written.
  */
final case class QueryRec(pass: Int, name: String, startMs: Double,
    endMs: Double, error: Option[String], output: String)

/** `analytics`: repeated passes, one query at a time, over [[Queries]].
  * Each result is written as parquet and later compared with the query's
  * DuckDB oracle.
  */
final class AnalyticsWorkload(dataDir: String, passes: Int, work: Path)
    extends Workload {
  import AnalyticsWorkload._

  private def dropCachedBlocks(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

  /** Build the bucketed layout of the data dir and attach the session to
    * it.
    */
  def setUp(spark: SparkSession): Unit =
    graft.sources.Bucketed.factTables(spark, dataDir)

  /** One untimed pass fills the codegen and JIT caches; its outputs are
    * checked like the timed ones.
    */
  def warmUp(spark: SparkSession): Map[String, Any] =
    Map("queries" -> runPasses(spark, "warm", 1, Double.MaxValue))

  private def runPasses(spark: SparkSession, phase: String, n: Int,
      deadlineMs: Double): Seq[QueryRec] = {
    val sc = spark.sparkContext
    for {
      pass <- 1 to n
      name <- Queries
      if Clock.ms < deadlineMs
    } yield {
      val out = work.resolve(s"$phase/p$pass/$name")
      sc.setJobGroup(s"q$pass-$name", name)
      val t0 = Clock.ms
      val err = try {
        SparkEntry.queries(name)(spark, dataDir).write.mode("overwrite")
          .parquet(out.toString)
        None
      } catch { case NonFatal(e) => Some(e.toString) }
      val t1 = Clock.ms
      sc.clearJobGroup()
      dropCachedBlocks(spark)
      QueryRec(pass, name, t0, t1, err, out.toString)
    }
  }

  private def runPasses(ctx: RunContext, phase: String): Seq[QueryRec] =
    runPasses(ctx.spark, phase, passes, ctx.deadlineMs)

  def measure(ctx: RunContext): Map[String, Any] = {
    val untraced = runPasses(ctx, "timed")
    val base = Map[String, Any]("timed" -> untraced, "passes" -> passes,
      "queries" -> Queries,
      "oracles" -> Queries.map(n => n -> SparkEntry.oracleSql(n)).toMap)
    if (!ctx.trace) base
    else {
      val probe = new Probe(ctx.spark)
      val gc0 = Main.gcMs()
      probe.start()
      val traced = runPasses(ctx, "traced")
      probe.stop()
      val gcS = (Main.gcMs() - gc0) / 1000
      val cachedMb = ctx.spark.sparkContext.getRDDStorageInfo
        .map(_.memSize).sum / 1048576.0
      // untraced again, so the traced passes sit between two untraced ones
      val after = runPasses(ctx, "after")
      val s = new Spans
      val run = s.record(0, "run", "run", traced.head.startMs, traced.last.endMs)
      val parents = traced.map { q =>
        val g = s"q${q.pass}-${q.name}"
        g -> s.record(run, g, "query", q.startMs, q.endMs)
      }.toMap
      Main.schedulerSpans(s, probe, parents)
      base ++ Map(
        "traced" -> traced,
        "after" -> after,
        "listeners" -> Main.listenerRecord(probe),
        "gc_s" -> gcS,
        "cached_blocks_mb" -> cachedMb,
        "spans" -> s.all)
    }
  }
}

object AnalyticsWorkload {
  /** The `graft.Bench` headliners q1_agg (scan + exact-decimal aggregate)
    * and q5_multi_join (the unbucketed join tail q60 shares), then three
    * queries hand-routed through the bucketed layout.
    */
  val Queries: Seq[String] = Seq(
    "q1_agg", "q5_multi_join", "q43_market_share", "q46_sole_supplier",
    "q60_bucketed_fact_join")
}
