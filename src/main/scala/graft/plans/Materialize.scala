package graft.plans

import org.apache.spark.sql.DataFrame

/** Checkpoint-with-sane-stats for iterative loops.
  *
  * Every `df.localCheckpoint(true)` inside a loop (the txn engine's phase
  * rounds, dedup's pointer-doubling, incremental-index merges) must go
  * through [[checkpoint]] instead: a plain localCheckpoint carries the
  * origin plan's ESTIMATED stats (multiplicative join products) into the
  * next iteration, so sizeInBytes grows by a data-proportional number of
  * bits per round and driver-side stats arithmetic eventually dominates
  * wall time (see CheckpointBridge for the measured failure). One-shot
  * checkpoints outside loops are unaffected either way.
  */
object Materialize {
  def checkpoint(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.CheckpointBridge.withMeasuredStats(
      df.localCheckpoint(true))

  /** `df.materialize` — drop-in replacement for `df.localCheckpoint(true)`
    * at loop-carried checkpoint sites.
    */
  implicit class MaterializeOps(private val df: DataFrame) extends AnyVal {
    def materialize: DataFrame = checkpoint(df)
  }

  /** Upsize a frame to the session's default parallelism before an eager
    * checkpoint whose blocks will feed REPEATED compute-heavy passes
    * (Lloyd assignments, LSH bucketing, PQ encodes). A small-SF parquet
    * table splits into fewer — and size-skewed — input partitions than
    * the session has cores, and a localCheckpoint FREEZES that layout for
    * every downstream pass: measured at sf10 by the round-12 PartProbe
    * (since removed; recorded in SURVEY.md's round-12 status), the
    * 52 MB embeddings table read as 13 skewed partitions ran the native
    * argmin scan in 6.2 s vs 0.64 s after repartition(32) — a 10× idle-
    * core tax paid on every one of ivfTrain's five corpus passes. Never
    * downsizes: at real scale the input already has ≥ cores partitions
    * and this is the identity (results are partition-layout independent
    * at every call site — order-free integer-tick sums, per-row
    * projections, min-aggregates — so the repartition cannot move a
    * gate).
    */
  def parallelized(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < want) df.repartition(want) else df
  }

  /** Checkpoint for WIDE payloads (text + token/shingle arrays) at
    * serialized storage. The default localCheckpoint level
    * (MEMORY_AND_DISK, deserialized) is a decade-up OOM hazard for wide
    * rows: once a block spills, `BlockManager.getLocalValues` re-reads
    * it through Java deserialization and `maybeCacheDiskValuesInMemory`
    * unrolls the ENTIRE partition back into an in-heap object array —
    * measured at sf100 (round 13): t14's (doc_id, text, toks) checkpoint
    * over 5M documents OOM'd a 64 GB heap with 32 tasks re-inflating
    * spilled partitions concurrently (SparkExitCode 52 mid-bench).
    * MEMORY_AND_DISK_SER stores the bytes and ITERATES on read — no
    * whole-partition re-inflation path exists. Narrow checkpoints
    * (band rows, digests, codebooks) stay on the default level: they
    * are cheaper to re-read deserialized and cannot inflate.
    */
  def wideCheckpoint(df: DataFrame, eager: Boolean = false): DataFrame =
    df.localCheckpoint(eager,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)

  /** Gate-audit tap for queries whose RESULT is an eager checkpoint: the
    * analyzed plan the gate then sees is a bare LogicalRDD scan, so the
    * real plan (h5's SMJ, h7's compaction rewrite, h8's mergeSchema read,
    * h12's manifest read) would never reach PlanAudit. Ops record their
    * lazy pre-materialization frame here; `graft.Verify` enables the tap,
    * drains it per query, and audits the recorded plans alongside the
    * result's. Off by default so bench/spec loops don't accumulate dead
    * plan references — recording never executes anything either way.
    */
  @volatile private var tapEnabled = false
  private val tap = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]

  def enableAuditTap(): Unit = tapEnabled = true

  /** Stop recording and drop anything undrained — spec suites that
    * enable the tap in a shared JVM MUST restore it in a finally block,
    * or every later materializing op in that process enqueues a plan
    * tree only Verify would ever drain (r14 advice: unbounded retention
    * in long spec/bench loops).
    */
  def disableAuditTap(): Unit = {
    tapEnabled = false
    drainAuditTap(): Unit
  }

  /** Record `df`'s lazy plan for the gate's PlanAudit (no-op unless
    * [[enableAuditTap]] ran); returns `df` for call-site chaining.
    */
  def tapForAudit(df: DataFrame): DataFrame = {
    if (tapEnabled) tap.add(df)
    df
  }

  /** Remove and return everything tapped since the last drain. */
  def drainAuditTap(): Seq[DataFrame] = {
    val out = Seq.newBuilder[DataFrame]
    var d = tap.poll()
    while (d != null) { out += d; d = tap.poll() }
    out.result()
  }
}
