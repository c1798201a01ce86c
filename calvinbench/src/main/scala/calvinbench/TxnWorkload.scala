package calvinbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.sources.TxnLog
import graft.streaming.TxnEngine
import graft.streaming.TxnEngine.{KeyValueOption, Txn}

/** The benchmark's txn generator: one thread, one seed, txnIds in order.
  *
  *  - `txn_stream` has the reference TransactionGenerator shape: 4 distinct
  *    keys drawn uniformly from 1M, an assert-absent and a put on each.
  *  - `txn_skew` draws 9 of 10 keys from 32 hot keys; two asserts per txn
  *    compare against {absent, v1, v2} and the puts write v1 or v2, so most
  *    txns abort and one conflict component spans the batch.
  */
final class TxnGen(kind: String, seed: Long) {
  import TxnGen._
  private val rnd = new SplittableRandom(seed)
  private var nextId = 0L

  def batch(n: Int): IndexedSeq[Txn] = IndexedSeq.fill(n)(txn())

  private def keys(draw: => String): Seq[String] = {
    val ks = mutable.LinkedHashSet.empty[String]
    while (ks.size < KeysPerTxn) ks += draw
    ks.toSeq
  }

  private def coldKey: String = f"key_${rnd.nextInt(KeySpace)}%07d"

  private def value(i: Int): Option[String] = if (i == 0) None else Some(s"v$i")

  private def txn(): Txn = {
    val id = nextId
    nextId += 1
    kind match {
      case "txn_stream" =>
        val ks = keys(coldKey)
        Txn(id, ks.map(KeyValueOption(_, None)),
          ks.map(k => KeyValueOption(k, Some(k + "_value"))))
      case "txn_skew" =>
        val ks = keys(
          if (rnd.nextInt(10) < 9) f"hot_${rnd.nextInt(HotKeys)}%02d" else coldKey)
        Txn(id, ks.take(2).map(k => KeyValueOption(k, value(rnd.nextInt(3)))),
          ks.map(k => KeyValueOption(k, value(1 + rnd.nextInt(2)))))
    }
  }
}

object TxnGen {
  val KeysPerTxn = 4
  val KeySpace = 1000000
  val HotKeys = 32

  /** One txn as a line of the JSON txn log that `TxnLog.decodeMk` reads. */
  def jsonLine(t: Txn): String = {
    def kv(x: KeyValueOption): String =
      s"""{"key":"${x.key}","valueOption":${x.valueOption.fold("null")(v => "\"" + v + "\"")}}"""
    s"""{"txnId":${t.txnId},"asserts":[${t.asserts.map(kv).mkString(",")}],""" +
      s""""updates":[${t.updates.map(kv).mkString(",")}]}"""
  }
}

/** One batch of the closed loop, in [[Clock]] milliseconds: the log file
  * is created at `createMs` and in place at `wroteMs`; `processBatch` runs
  * from `startMs` to `endMs`. `planNodes` is the logical node count of
  * `MultiKeyStream.state` after the batch.
  */
final case class BatchRec(batchId: Long, txns: Int, createMs: Double,
    wroteMs: Double, startMs: Double, endMs: Double, planNodes: Int)

/** Outcome of one closed-loop run over a fresh `MultiKeyStream`. */
final case class LoopResult(batches: Seq[BatchRec], failure: Option[String],
    attempted: Int, processed: Int, failedTxns: Int, committed: Int,
    stateOk: Boolean, stateRows: Int, statePlanNodes: Int, checkMs: (Double, Double),
    srcDir: Path)

object TxnLoop {
  def planNodes(df: DataFrame): Int =
    df.queryExecution.logical.collect { case p => p }.size

  private def writeBatch(src: Path, k: Int, txns: Seq[Txn]): Unit = {
    val tmp = src.resolve(f".batch-$k%05d.json.tmp")
    Files.write(tmp, txns.map(TxnGen.jsonLine).mkString("", "\n", "\n").getBytes(UTF_8))
    Files.move(tmp, src.resolve(f"batch-$k%05d.json"), StandardCopyOption.ATOMIC_MOVE)
  }

  /** The Calvin sequencer's epoch loop with a single client: batch k+1's
    * log file is written only after `foreachBatch` returned for batch k.
    * The query is `readStream.text` → `TxnLog.decodeMk` →
    * `foreachBatch(MultiKeyStream.processBatch)`; the engine instance and
    * its state live for the whole loop. Outputs are checked against
    * `TxnEngine.sequentialOracle` after the loop.
    */
  def run(spark: SparkSession, root: Path, batches: IndexedSeq[IndexedSeq[Txn]],
      deadlineMs: Double): LoopResult = {
    val src = Files.createDirectories(root.resolve("src"))
    val sc = spark.sparkContext
    val mks = new TxnEngine.MultiKeyStream(spark)
    val done = new LinkedBlockingQueue[Either[Throwable, (Long, Double, Double)]]()
    val q = TxnLog.decodeMk(spark.readStream.text(src.toString))
      .writeStream.option("checkpointLocation", root.resolve("ckpt").toString)
      .foreachBatch { (b: Dataset[Txn], id: Long) =>
        sc.setJobGroup(s"batch-$id", s"txn batch $id")
        val t0 = Clock.ms
        try {
          mks.processBatch(b, id)
          done.put(Right((id, t0, Clock.ms)))
        } catch {
          case NonFatal(e) => done.put(Left(e)); throw e
        } finally sc.clearJobGroup()
      }
      .start()
    val recs = mutable.ArrayBuffer.empty[BatchRec]
    var failure: Option[String] = None
    try {
      var k = 0
      while (k < batches.size && failure.isEmpty) {
        val create = Clock.ms
        writeBatch(src, k, batches(k))
        val wrote = Clock.ms
        var got = false
        while (!got && failure.isEmpty) {
          Option(done.poll(100, TimeUnit.MILLISECONDS)) match {
            case Some(Right((id, s, e))) =>
              recs += BatchRec(id, batches(k).size, create, wrote, s, e,
                planNodes(mks.state))
              got = true
            case Some(Left(e)) => failure = Some(s"batch $k: $e")
            case None =>
              if (!q.isActive) failure = Some(s"query stopped: ${q.exception}")
              else if (Clock.ms > deadlineMs) failure = Some(s"deadline at batch $k")
          }
        }
        k += 1
      }
    } finally q.stop()

    val checkStart = Clock.ms
    val processed = batches.take(recs.size).flatten
    val (expState, expResults) = TxnEngine.sequentialOracle(processed)
    val gotState = mks.state.collect()
      .map(r => r.getAs[String]("key") -> r.getAs[String]("value"))
    val gotResults = mks.results.collect()
      .map(r => r.getAs[Long]("txnId") -> r.getAs[Boolean]("succeeded"))
      .groupBy(_._1)
    val mismatched = expResults.count { m =>
      gotResults.get(m.txnId).map(_.toSeq) != Some(Seq(m.txnId -> m.succeeded))
    } + gotResults.keySet.count(_ >= processed.size)
    val stateOk = gotState.length == expState.size && gotState.toMap == expState
    val attempted = batches.map(_.size).sum
    LoopResult(recs.toList, failure, attempted, processed.size,
      attempted - processed.size + mismatched, expResults.count(_.succeeded),
      stateOk, gotState.length, planNodes(mks.state), (checkStart, Clock.ms), src)
  }
}

/** `txn_stream` / `txn_skew`: a fixed number of fixed-size batches through
  * the closed loop. The same seed gives the same txns and the same batch
  * boundaries on every run.
  */
final class TxnWorkload(kind: String, seed: Long, numBatches: Int, work: Path)
    extends Workload {
  import TxnWorkload._
  private var batches: IndexedSeq[IndexedSeq[Txn]] = IndexedSeq.empty

  def setUp(spark: SparkSession): Unit = {
    val gen = new TxnGen(kind, seed)
    batches = IndexedSeq.fill(numBatches)(gen.batch(BatchTxns))
  }

  /** A throwaway engine over its own txns warms the stream, decode and
    * engine code paths; its outputs are checked like the timed ones.
    */
  def warmUp(spark: SparkSession): Map[String, Any] = {
    val gen = new TxnGen(kind, seed ^ 0x5eedL)
    loopRecord(TxnLoop.run(spark, work.resolve("warm"),
      IndexedSeq.fill(WarmBatches)(gen.batch(BatchTxns)), Clock.ms + 120000))
  }

  def measure(ctx: RunContext): Map[String, Any] = {
    val untraced = TxnLoop.run(ctx.spark, work.resolve("timed"), batches,
      ctx.deadlineMs)
    val base = Map[String, Any]("timed" -> loopRecord(untraced),
      "input_files" -> untraced.srcDir.toString)
    if (!ctx.trace) base
    else {
      val spark = ctx.spark
      val probe = new Probe(spark)
      val gc0 = Main.gcMs()
      probe.start()
      val traced = TxnLoop.run(spark, work.resolve("traced"), batches,
        ctx.deadlineMs)
      probe.stop()
      val gcS = (Main.gcMs() - gc0) / 1000
      val cachedMb = spark.sparkContext.getRDDStorageInfo
        .map(_.memSize).sum / 1048576.0
      // untraced again over the first half of the batches, so the traced
      // loop sits between two untraced ones
      val after = TxnLoop.run(spark, work.resolve("after"),
        batches.take(math.max(2, numBatches / 2)), ctx.deadlineMs)
      val decodeS = decodeSeconds(spark, traced.srcDir)
      val spans = TxnWorkload.spans(traced, probe)
      val single =
        if (kind != "txn_stream") Map.empty[String, Any]
        else {
          // the same job at local[1], over the first quarter of the batches
          val prefix = batches.take(math.max(2, numBatches / 4))
          val one = ctx.restart(1)
          Map("single_core" -> loopRecord(TxnLoop.run(one, work.resolve("one"),
            prefix, ctx.deadlineMs)))
        }
      base ++ single ++ Map(
        "traced" -> loopRecord(traced),
        "after" -> loopRecord(after),
        "listeners" -> Main.listenerRecord(probe),
        "gc_s" -> gcS,
        "cached_blocks_mb" -> cachedMb,
        "decode_s" -> decodeS,
        "spans" -> spans)
    }
  }

  /** `TxnLog.decodeMk` over the run's log files, three times. */
  private def decodeSeconds(spark: SparkSession, src: Path): Seq[Double] = {
    val files = Files.list(src).toArray.map(_.toString).filter(_.endsWith(".json")).sorted
    Seq.fill(3) {
      val t0 = Clock.ms
      TxnLog.decodeMk(spark.read.text(files.toIndexedSeq: _*))
        .write.format("noop").mode("overwrite").save()
      (Clock.ms - t0) / 1000
    }
  }
}

object TxnWorkload {
  val BatchTxns = 500
  val WarmBatches = 3

  def loopRecord(r: LoopResult): Map[String, Any] = Map(
    "batches" -> r.batches,
    "failure" -> r.failure,
    "attempted" -> r.attempted,
    "processed" -> r.processed,
    "failed" -> r.failedTxns,
    "committed" -> r.committed,
    "state_ok" -> r.stateOk,
    "state_rows" -> r.stateRows,
    "state_plan_nodes" -> r.statePlanNodes,
    "check_s" -> (r.checkMs._2 - r.checkMs._1) / 1000)

  /** Spans of the traced loop: per batch a root (file created → batch
    * returned) over the generator write and the trigger, the trigger over
    * `processBatch`, and `processBatch` over the jobs of its job group.
    */
  def spans(r: LoopResult, probe: Probe): Seq[Span] = {
    val s = new Spans
    val triggers = probe.progress.map(p => p.batchId -> p).toMap
    val run = s.record(0, "run", "run", r.batches.headOption.fold(0.0)(_.createMs),
      r.checkMs._2)
    val parents = r.batches.map { b =>
      val g = s"batch-${b.batchId}"
      val root = s.record(run, g, "batch", b.createMs, b.endMs)
      s.record(root, g, "generator", b.createMs, b.wroteMs)
      val trig = triggers.get(b.batchId).fold(root) { p =>
        s.record(root, g, "trigger", p.startMs,
          p.startMs + p.durations.getOrElse("triggerExecution", 0L))
      }
      g -> s.record(trig, g, "process_batch", b.startMs, b.endMs)
    }.toMap
    s.record(run, "check", "check", r.checkMs._1, r.checkMs._2)
    Main.schedulerSpans(s, probe, parents)
    s.all
  }
}
