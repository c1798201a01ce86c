package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Dedup
import graft.plans.Materialize.MaterializeOps

/** One cogroup-fold emission of [[TxnEngine.applyMultiKey]]: a state
  * row (kind 0) or a txn result (kind 1). Top-level (not nested in
  * `object TxnEngine`) because Spark's encoder codegen emits Janino code
  * in another package that must instantiate it and call its accessors — a
  * private object-nested class forced a silent fallback to interpreted
  * projection on every multi-key fold execution.
  */
final case class FoldEmit(kind: Int, txnId: Long, key: String,
    value: String, succeeded: Boolean)

/** Deterministic transactional KV layer over Spark — the engine-level
  * re-expression of streamy-db's Calvin-on-a-stream design
  * (reference: /root/reference/modules/runners/flink/src/main/scala/domsj/
  * streamy/db/flink/StreamyDb.scala:66-175 and modules/core/.../
  * package.scala:24-58).
  *
  * Semantics (same as the reference): a transaction carries equality
  * *asserts* and *updates* over string keys/values; it succeeds iff every
  * assert matches the current stored value; on success its updates are
  * applied (`Some(v)` = put, `None` = delete). A deterministic total order
  * (txnId — the sequencer role) makes replay/parallel execution agree.
  *
  * Spark-first architecture, not a port:
  *  - single-key transactions: one shuffle on key, then an in-order fold
  *    per key — `groupByKey(...).flatMapGroups` in batch,
  *    `flatMapGroupsWithState` on a stream (state carries across
  *    micro-batches). No feedback topic needed because a single-key txn's
  *    reads and writes co-locate on its shuffle partition.
  *  - multi-key transactions, one entry point ([[applyMultiKey]]): txns
  *    that share a key (transitively) form a conflict component, and each
  *    component folds sequentially in txnId order inside one task — all
  *    components in parallel, one distributed pass. A batch whose largest
  *    component is over [[FoldComponentCap]] falls back to Calvin's
  *    logically centralized scheduler: the txn *metadata* (id → keys) is
  *    scheduled into conflict-free generations ([[generations]]: one
  *    sorted scan, since txnId order is topological; distributed chain
  *    relaxation past its size gates), and each generation's
  *    asserts/updates are evaluated distributed (join state on key →
  *    all-asserts gate → merge updates), one barrier per conflict level.
  */
object TxnEngine {

  type Key = String
  type Value = String

  /** Per-phase scheduler diagnostics (dev): set SPARK_GRAFT_MK_DEBUG=1. */
  private val Debug = sys.env.get("SPARK_GRAFT_MK_DEBUG").contains("1")

  /** Debug-gated pre-loop stage timer ([mk-pre] lines): the r14/r15
    * A8ScaleProbe decompositions showed the PRE-loop is ~2/3 of the a8
    * wall; these name its terms so the lever is measured, not guessed.
    */
  private def timedStage[T](stage: String)(f: => T): T = {
    if (!Debug) f
    else {
      val t0 = System.nanoTime()
      val r = f
      println(f"[mk-pre] stage=$stage%-16s ms=${(System.nanoTime() - t0) / 1e6}%10.1f")
      r
    }
  }

  /** Single-key transaction: one assert + one update on `key`.
    * `assertPresent=false` with null `assertValue` means "expect absent";
    * `hasAssert=false` means blind (no assert). `updateValue=null` deletes.
    */
  final case class SkTxn(txnId: Long, key: Key, hasAssert: Boolean,
      assertValue: Value, updateValue: Value)

  final case class TxnResult(txnId: Long, key: Key, succeeded: Boolean)
  final case class KvRow(key: Key, value: Value, lastTxnId: Long)

  /** Multi-key transaction (library form, spec-tested). */
  final case class KeyValueOption(key: Key, valueOption: Option[Value])
  final case class Txn(txnId: Long, asserts: Seq[KeyValueOption],
      updates: Seq[KeyValueOption])
  final case class MkResult(txnId: Long, succeeded: Boolean)

  /** Blind mode ignores assert outcomes when applying updates (asserts
    * become an audit flag); Conditional gates updates on asserts.
    */
  sealed trait Mode
  case object Blind extends Mode
  case object Conditional extends Mode

  private def fold(mode: Mode, txns: Iterator[SkTxn])
      : (Option[Value], Option[Long], List[TxnResult]) = {
    var state: Option[Value] = None
    var lastTxn: Option[Long] = None
    val results = List.newBuilder[TxnResult]
    txns.toSeq.sortBy(_.txnId).foreach { t =>
      val ok = !t.hasAssert || state == Option(t.assertValue)
      results += TxnResult(t.txnId, t.key, ok)
      if (ok || mode == Blind) {
        state = Option(t.updateValue)
        lastTxn = Some(t.txnId)
      }
    }
    (state, lastTxn, results.result())
  }

  /** Batch: apply a single-key txn log; returns per-txn results. */
  def applyResults(txns: Dataset[SkTxn], mode: Mode): Dataset[TxnResult] = {
    import txns.sparkSession.implicits._
    txns.groupByKey(_.key).flatMapGroups { (_, it) => fold(mode, it)._3 }
  }

  /** Batch: apply a single-key txn log; returns final KV state (deleted /
    * never-written keys appear with null value, for oracle parity).
    */
  def applyState(txns: Dataset[SkTxn], mode: Mode): Dataset[KvRow] = {
    import txns.sparkSession.implicits._
    txns.groupByKey(_.key).mapGroups { (k, it) =>
      val (state, lastTxn, _) = fold(mode, it)
      KvRow(k, state.orNull, lastTxn.getOrElse(-1L))
    }
  }

  /** Streaming: the KeyTransactionProcessor analog. State (current value)
    * lives in `GroupState` and carries across micro-batches; within a
    * micro-batch arrivals are folded in txnId order, so feeding batches in
    * txnId-range order reproduces the deterministic sequence.
    */
  def streamResults(txns: Dataset[SkTxn], mode: Mode): Dataset[StreamEmit] = {
    import txns.sparkSession.implicits._
    txns.groupByKey(_.key)
      .flatMapGroupsWithState[KState, StreamEmit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (key, it, gs) =>
        var state: Option[Value] =
          gs.getOption.flatMap(s => Option(s.value))
        val out = List.newBuilder[StreamEmit]
        it.toSeq.sortBy(_.txnId).foreach { t =>
          val ok = !t.hasAssert || state == Option(t.assertValue)
          if (ok || mode == Blind) state = Option(t.updateValue)
          out += StreamEmit(t.txnId, key, ok, state.orNull)
        }
        gs.update(KState(state.orNull))
        out.result().iterator
      }
  }

  final case class KState(value: Value)
  /** Per-txn emission: outcome + the key's value after the txn. */
  final case class StreamEmit(txnId: Long, key: Key, succeeded: Boolean,
      valueAfter: Value)

  // ---------------------------------------------------------------------
  // Multi-key: generation scheduling + distributed application
  // ---------------------------------------------------------------------

  /** Conflict-layer ("generation") assignment over (txn_id, key) metadata
    * rows: returns ((txn_id, gen), scheduling passes). A txn's generation
    * is its longest-path depth in the conflict DAG whose edges connect
    * consecutive txns on each key: exactly the partial order the
    * reference's per-key lock-waiter queues drain without global
    * synchronization (StreamyDb.scala:66-129).
    *
    * Conflict edges always point from a smaller txnId to a larger one,
    * so txnId order is topological. Under [[SeqScheduleMaxRows]] and
    * [[SeqScheduleMaxKeys]] ONE sorted scan resolves every generation
    * ([[sequentialGenerations]], 1 pass); past either gate the batch is
    * cluster-sized and [[chainRelaxGenerations]] schedules it in
    * distributed passes with O(n) state. The txn *data* never enters the
    * scheduler.
    */
  def generations(txnKeys: DataFrame): (DataFrame, Int) =
    generationsGated(txnKeys, SeqScheduleMaxRows, SeqScheduleMaxKeys)

  /** [[generations]] with injectable caps (spec seam). One scan
    * decides the dispatch: rows bound the single task's sort volume,
    * DISTINCT keys bound its heap (the key→gen map) — gating on rows
    * alone would admit a 64M-row all-unique-key batch whose map would
    * hold ~6 GB in one task. The ±2% HLL error is noise against the 2×
    * headroom in the key cap.
    */
  private[graft] def generationsGated(txnKeys: DataFrame, maxRows: Long,
      maxKeys: Long): (DataFrame, Int) = {
    val gate = txnKeys.agg(
      count(lit(1)), approx_count_distinct(col("key"))).head()
    if (gate.getLong(0) <= maxRows && gate.getLong(1) <= maxKeys)
      (sequentialGenerations(txnKeys), 1)
    else chainRelaxGenerations(txnKeys)
  }

  /** Incidence-row ceiling for [[sequentialGenerations]]: 64M (txn, key)
    * rows ≈ 1.5 GB through one task's external sort — minutes of one
    * core, against the ~8 distributed relaxation passes it replaces
    * (each shuffling the SAME rows twice). Capped so a genuinely
    * cluster-sized batch falls back to the distributed passes.
    */
  val SeqScheduleMaxRows: Long = 64L * 1000 * 1000

  /** Distinct-key ceiling for [[sequentialGenerations]]'s in-task
    * key→generation map (~100 B per entry ⇒ ≤ ~1.6 GB — the a8 20M
    * adversarial batch holds 8M keys ≈ 800 MB with 2× headroom under
    * this cap). Gated alongside the row ceiling because the two bound
    * different resources: rows the sort, keys the heap.
    */
  val SeqScheduleMaxKeys: Long = 16L * 1000 * 1000

  /** EXACT longest-path generations in ONE sequential pass.
    *
    * Because txnId order is topological, the longest-path recurrence
    * gen(t) = max over t's keys k of (gen(last txn on k) + 1) resolves
    * left to right in a single scan — the same inherent serial order the
    * apply loop's barriers respect, and the same order the reference's
    * per-key waiter queues drain (reference StreamyDb.scala:66-129). The
    * scan runs as ONE TASK (not on the driver): repartition(1) +
    * in-partition sort by (txn_id, key), then a key→gen map carried
    * through the iterator. 22 relaxation passes × two 40M-row shuffle
    * legs each became one 40M-row shuffle + a linear scan on the 20M
    * probe (A8ScaleProbe scaladoc r16 row).
    *
    * Adjacent duplicate (txn, key) rows are skipped in-scan, so callers
    * need not pre-distinct.
    */
  private[graft] def sequentialGenerations(txnKeys: DataFrame): DataFrame = {
    val spark = txnKeys.sparkSession
    import spark.implicits._
    txnKeys.select(col("txn_id"), col("key")).as[(Long, String)]
      .repartition(1)
      .sortWithinPartitions("txn_id", "key")
      .mapPartitions { rows =>
        val it = rows.buffered
        val last = new java.util.HashMap[String, Integer]()
        new Iterator[(Long, Int)] {
          def hasNext: Boolean = it.hasNext
          def next(): (Long, Int) = {
            val id = it.head._1
            var g = 0
            val ks = new scala.collection.mutable.ArrayBuffer[String](4)
            var prevKey: String = null
            while (it.hasNext && it.head._1 == id) {
              val k = it.next()._2
              if (k != prevKey) { // sorted → dups are adjacent
                prevKey = k
                ks += k
                val lg = last.get(k)
                if (lg != null && lg + 1 > g) g = lg + 1
              }
            }
            var i = 0
            while (i < ks.length) { last.put(ks(i), g); i += 1 }
            (id, g)
          }
        }
      }
      .toDF("txn_id", "gen")
  }

  /** Distributed scheduler: per-node longest-path labels by CHAIN
    * relaxation. State is one (txn_id, gen) row per txn (O(n)); each
    * pass joins the labels to the (txn_id, key, rank) incidence rows and
    * takes a per-key window prefix-max — which propagates a label along
    * an ENTIRE key chain in one pass, because the conflict edges within
    * a key form a total order whose internal distances are known in
    * closed form (rank difference): a predecessor u reaches t along the
    * chain with exactly rank(t) − rank(u) edges, so
    * cand(t) = max over preceding u of (gen(u) − rank(u)) + rank(t),
    * a running max. Passes therefore track the number of KEY SWITCHES on
    * the critical path, not its length (a8 20M probe: depth 33 resolves
    * in 22 passes — the adversarial random graph's critical path
    * switches keys on most hops, so the pass win there is modest; the
    * structural win is on run-heavy logs, where a whole hot-key run
    * costs ONE pass). Degenerate case (every edge switches key, e.g. a
    * c_i/c_{i+1} ladder) falls back to one level per pass. Converges
    * when the label sum stops moving (labels only grow, by ≥1 per
    * unconverged pass); candidates are always realized by a genuine DAG
    * path, so the fixed point is exactly the longest-path depth.
    */
  private def chainRelaxGenerations(txnKeys: DataFrame): (DataFrame, Int) = {
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("txn_id"))
    val wChain = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("rank"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    // Both loop frames are hash-partitioned on txn_id and materialize
    // PRESERVES that partitioning (LogicalRDD keeps outputPartitioning),
    // so the two txn_id joins inside a pass plan with NO exchange: the
    // only shuffles per pass are the per-key window sort and the
    // cross-key groupBy.
    val ranked = txnKeys.select(col("txn_id"), col("key")).distinct()
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .repartition(col("txn_id"))
      .materialize
    var gens = ranked.select(col("txn_id")).distinct()
      .withColumn("gen", lit(0L)).materialize
    var passes = 0
    var prevSum = 0L
    var converged = false
    while (!converged) {
      val relaxed = ranked.join(gens, "txn_id")
        .withColumn("pm", max(col("gen") - col("rank")).over(wChain))
        .filter(col("pm").isNotNull)
        .select(col("txn_id"), (col("pm") + col("rank")).as("cand"))
        .groupBy(col("txn_id")).agg(max(col("cand")).as("cand"))
      val next = gens.join(relaxed, Seq("txn_id"), "left_outer")
        .select(gens("txn_id"),
          greatest(col("gen"), coalesce(col("cand"), lit(0L))).as("gen"))
        .materialize
      val curSum = next.agg(coalesce(sum(col("gen")), lit(0L))).head().getLong(0)
      converged = curSum == prevSum
      prevSum = curSum
      gens = next
      passes += 1
    }
    (gens.select(col("txn_id"), col("gen").cast("int").as("gen")), passes)
  }

  /** `applyPhases`/`schedulerPasses` describe the generational fallback
    * (one barrier per conflict level / scheduling passes); the
    * component-fold fast path reports applyPhases=1 plus the component
    * census it folded (`foldedComponents`, `maxComponentTxns` over the
    * keyed txns — 0/0 on the generational path and on a batch with no
    * keyed txn).
    */
  final case class MkStats(applyPhases: Int, schedulerPasses: Int,
      foldedComponents: Long = 0L, maxComponentTxns: Long = 0L)

  /** Txns-per-component cap for the in-memory component fold
    * ([[applyMultiKey]]'s fast path): a batch whose largest conflict
    * component exceeds this falls back to the generational rounds, whose
    * memory stays bounded at one generation per barrier. Specs move it
    * through [[applyMultiKeyCapped]]'s `cap`.
    */
  val FoldComponentCap: Long = 4L * 1000 * 1000

  /** (txn_id, key) incidence rows: each distinct key a txn asserts or
    * updates. Keyless txns have none.
    */
  private def txnKeysOf(flat: DataFrame): DataFrame =
    flat.select(col("txnId").as("txn_id"),
      explode(array_distinct(concat(
        transform(col("asserts"), a => a.getField("key")),
        transform(col("updates"), u => u.getField("key"))))).as("key"))

  private def isKeyless: org.apache.spark.sql.Column =
    size(col("asserts")) + size(col("updates")) === 0

  /** Apply a multi-key txn log to `initialState` (key, value): returns
    * (final state (key, value), per-txn results (txnId, succeeded),
    * [[MkStats]]). The unit of work of one streaming micro-batch (see
    * [[MultiKeyStream]]); a batch job starts from an empty state.
    *
    * Architecture: conflict COMPONENTS first, barriers only as fallback.
    * Consecutive txns on a key conflict; the connected components of that
    * relation are exactly the closures the reference's per-key lock-waiter
    * queues drain (StreamyDb.scala:66-129) — txns in different components
    * share no keys (directly or transitively), so components are
    * independent. The fast path cogroups (txns, state) by component and
    * folds each component sequentially in txnId order inside one task —
    * per-key pipelining with ZERO per-depth barriers; a depth-k conflict
    * chain costs one distributed pass, not k.
    *
    * A component's txns must fit one task (they fold sequentially — the
    * same inherent serialization the reference's waiter queue serializes
    * on); if the largest component exceeds [[FoldComponentCap]] the batch
    * takes the generational path instead: conflict-free generations
    * applied one barrier per conflict level with bounded per-task memory.
    * Results are identical either way (spec-enforced).
    */
  def applyMultiKey(initialState: DataFrame, txns: Dataset[Txn])
      : (DataFrame, DataFrame, MkStats) =
    applyMultiKeyCapped(initialState, txns, FoldComponentCap)

  /** [[applyMultiKey]] with an injectable fold cap (spec seam). Cap 0
    * folds nothing: any conflict edge or any keyed txn sends the batch
    * generational.
    *
    * Dispatch, census and labels all come from ONE driver union-find over
    * the conflict edges, gated by the edge count. STAR edges connect every
    * txn on a key to the FIRST txn on that key — the same connectivity as
    * per-key chains, built by one window over the (txn, key) rows. A
    * component of k txns needs at least k−1 edges, so an edge count over
    * min(cap, LocalComponentsMaxEdges) proves a component over the cap
    * and dispatches generational on size alone (round 16: distributed
    * labeling of the 20M adversarial batch cost 280–554 s of metadata
    * rounds, all of it for labels that over-cap dispatch then abandons).
    * Under the gate the edge list fits the driver, and [[Dedup.unionFind]]
    * gives every edge-induced txn its component root (the min txnId); a
    * keyed txn on no edge is a component of one and labels itself. The census (component count and
    * largest component) is read off that map, and txns and the state rows
    * they touch reach their component's fold task through the broadcast
    * txn → root map — no label frame is joined or materialized.
    */
  private[graft] def applyMultiKeyCapped(initialState: DataFrame,
      txns: Dataset[Txn], cap: Long): (DataFrame, DataFrame, MkStats) = {
    import txns.sparkSession.implicits._
    val tds = timedStage("txn-ck")(txns.localCheckpoint(true))
    val flat = tds.toDF()
    val txnKeys = txnKeysOf(flat)
    val edgesCk = timedStage("edges")(txnKeys
      .withColumn("src", min(col("txn_id"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("key"))))
      .filter(col("src") =!= col("txn_id"))
      .select(col("src").as("a_id"), col("txn_id").as("b_id"))
      .distinct()
      .materialize)
    // conflict edges and keyed txns (the census must count components of
    // one, which sit on no edge), both in ONE job: an RDD fold, where a
    // global agg() would pay a second job for its exchange
    val (edgeCount, keyedTxns) = edgesCk.select(lit(1L), lit(0L))
      .union(flat.filter(!isKeyless).select(lit(0L), lit(1L)))
      .as[(Long, Long)].rdd
      .fold((0L, 0L))((x, y) => (x._1 + y._1, x._2 + y._2))
    if (edgeCount > math.min(cap, Dedup.LocalComponentsMaxEdges))
      return applyGenerations(initialState, tds)
    val root = timedStage("components")(Dedup.unionFind(edgesCk))
    val sizes = scala.collection.mutable.LongMap.empty[Long]
    root.foreachValue(r => sizes(r) = sizes.getOrElse(r, 0L) + 1L)
    val isolated = keyedTxns - root.size
    val maxComp = math.max(sizes.valuesIterator.maxOption.getOrElse(0L),
      math.min(isolated, 1L))
    if (maxComp > cap) return applyGenerations(initialState, tds)
    val (state, results) = foldComponents(initialState, tds, txnKeys, root)
    (state, results, MkStats(1, 0, sizes.size + isolated, maxComp))
  }

  /** Fast path: fold every conflict component's txns sequentially (txnId
    * order) against that component's slice of the state, one cogroup —
    * all components in parallel, no cross-component coordination. `root`
    * maps each edge-induced txn to its component; any other txn is its
    * own component. Keyless txns stay out of the cogroup: they touch no
    * state and succeed vacuously.
    */
  private def foldComponents(initialState: DataFrame, tds: Dataset[Txn],
      txnKeys: DataFrame, root: scala.collection.mutable.LongMap[Long])
      : (DataFrame, DataFrame) = {
    val spark = tds.sparkSession
    import spark.implicits._
    val rootOf = spark.sparkContext.broadcast(root)
    val txByComp = tds.filter(!isKeyless)
      .groupByKey(t => rootOf.value.getOrElse(t.txnId, t.txnId))
    // every key belongs to exactly one component (all txns touching it
    // are connected through it). Not deduplicated: a key on m txns routes
    // its state row m times (m − 1 ≤ its star edges, so under the edge
    // gate), and the copies only re-insert the same value into the fold's
    // map — cheaper than the shuffle a distinct() costs. Null keys match
    // no state row; dropping them here stops the inner join below from
    // inferring a filter of its own, so both joins see one keyComp plan.
    val keyComp = txnKeys.as[(Long, String)]
      .map { case (t, k) => (k, rootOf.value.getOrElse(t, t)) }
      .toDF("key", "comp").filter(col("key").isNotNull)
    val stTouched = initialState.join(keyComp, Seq("key"))
      .select(col("comp"), col("key"), col("value"))
      .as[(Long, String, String)]
    // a state emission (kind 0) per key the component read from state or
    // wrote; a null value marks a key the component deleted
    val folded = txByComp.cogroup(stTouched.groupByKey(_._1)) {
      (_, txIt, stIt) =>
        val kv = scala.collection.mutable.HashMap.empty[Key, Value]
        stIt.foreach { case (_, k, v) => kv(k) = v }
        val out = List.newBuilder[FoldEmit]
        txIt.toSeq.sortBy(_.txnId).foreach { t =>
          val ok = t.asserts.forall(a =>
            Option(kv.getOrElse(a.key, null)) == a.valueOption)
          if (ok) t.updates.foreach(u => kv(u.key) = u.valueOption.orNull)
          out += FoldEmit(1, t.txnId, null, null, ok)
        }
        kv.foreach { case (k, v) => out += FoldEmit(0, -1L, k, v, false) }
        out.result().iterator
    }.toDF()
    // the untouched state rows join the same checkpoint, so the post-batch
    // state costs no job of its own. Outer join + null filter rather than
    // left_anti: it reads keyComp with the same columns as the inner join
    // above, so both plan one exchange of it and the second reuses it
    val untouched = initialState.join(keyComp, Seq("key"), "left_outer")
      .filter(col("comp").isNull)
      .select(lit(0).as("kind"), lit(-1L).as("txnId"), col("key"),
        col("value"), lit(false).as("succeeded"))
    val applied = folded.union(untouched).materialize
    rootOf.destroy()
    val state = applied.filter(col("kind") === 0 && col("value").isNotNull)
      .select(col("key"), col("value"))
    val results = tds.toDF().filter(isKeyless)
      .select(col("txnId"), lit(true).as("succeeded"))
      .union(applied.filter(col("kind") === 1)
        .select(col("txnId"), col("succeeded")))
    (state, results)
  }

  /** Fallback for batches with an over-cap conflict component: schedule
    * into conflict-free generations and apply one barrier per conflict
    * level with bounded per-task memory.
    *
    * Hot-key posture (the reference's per-key lock-waiter queues,
    * StreamyDb.scala:66-129, let a hot key's chain drain without blocking
    * other keys): single-key-only txns never occupy scheduler rounds.
    * Scheduling runs ONCE up front ([[generations]] over the multi-key
    * txns' metadata, plus one window assigning every single-key txn to
    * the phase right after the last multi-key txn preceding it on its
    * key). Each apply phase then (a) FOLDS that phase's single-key runs
    * — one distributed `cogroup` over (state, txns) per key, applying a
    * whole consecutive run in txnId order in one pass — and (b) applies
    * the conflict-free multi-key generation via join-gate-merge against
    * the post-fold state. Per-phase work is at most TWO materializations (the fold and
    * the state merge); per-txn results stay lazy against checkpointed
    * inputs and union in batches. Phases count the multi-key conflict
    * depth only: a 1,000-txn single-hot-key log folds in ONE phase.
    */
  private def applyGenerations(initialState: DataFrame, tds: Dataset[Txn])
      : (DataFrame, DataFrame, MkStats) = {
    val spark = tds.sparkSession
    import spark.implicits._
    val flat = tds.toDF()
    val txnKeys = txnKeysOf(flat)
    val arity = txnKeys.groupBy(col("txn_id"))
      .agg(count(lit(1)).as("nk"))
    val keyed = timedStage("keyed")(txnKeys
      .join(arity, "txn_id")
      .select(col("txn_id"), col("key"), (col("nk") > 1).as("is_multi"))
      .materialize)
    val asserts = timedStage("asserts")(flat
      .select(col("txnId").as("txn_id"), explode(col("asserts")).as("a"))
      .select(col("txn_id"), col("a.key").as("key"),
        col("a.valueOption").as("expected"))
      .materialize)
    // last update wins within a txn (reference applies updates in order)
    val updates = timedStage("updates")(flat
      .select(col("txnId").as("txn_id"), posexplode(col("updates")).as(Seq("pos", "u")))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("txn_id"), col("u.key")).orderBy(col("pos").desc)))
      .filter(col("rn") === 1)
      .select(col("txn_id"), col("u.key").as("key"),
        col("u.valueOption").as("u_value"))
      .materialize)

    // ---- scheduling: metadata-only passes ----
    val (mGens, schedPasses) = timedStage("scheduling")(
      generations(keyed.filter(col("is_multi")).select(col("txn_id"), col("key"))))
    val gens = timedStage("gens-ck")(mGens.materialize)
    // a single-key txn folds in the phase after the last multi-key txn
    // preceding it on its key (phase 0 if none); each phase's fold applies
    // the whole single-key run between two multis in one cogroup pass.
    // An all-multi batch (a8's adversarial shape) skips the whole
    // corpus-sized window: the phase assignment only exists for singles,
    // so it is built on first use, which only a batch with singles makes.
    val anySingles = timedStage("singles-exist")(
      !keyed.filter(!col("is_multi")).isEmpty)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("txn_id"))
    lazy val singlesPhase = timedStage("singles-phase")(keyed
      .join(gens, Seq("txn_id"), "left_outer")
      .withColumn("ph",
        coalesce(last(when(col("is_multi"), col("gen")), ignoreNulls = true)
          .over(w) + 1, lit(0)))
      .filter(!col("is_multi"))
      .select(col("txn_id"), col("key"), col("ph"))
      .materialize)
    // driver-bounded scheduling scalars: the phase count and which phases
    // fold singles — O(#phases), never the txn set
    val maxMultiGen = timedStage("sched-scalars") {
      val r = gens.agg(max(col("gen"))).head()
      if (r.isNullAt(0)) -1 else r.getInt(0)
    }
    val singlePhases =
      if (!anySingles) Set.empty[Int]
      else singlesPhase.select(col("ph")).distinct().as[Int].collect().toSet
    val numPhases = math.max(maxMultiGen + 1,
      if (singlePhases.isEmpty) 0 else singlePhases.max + 1)

    var state = initialState
    // keyless txns never enter the scheduler: vacuously successful
    val resultParts = scala.collection.mutable.ArrayBuffer[DataFrame](
      flat.filter(isKeyless)
        .select(col("txnId").as("txn_id"), lit(true).as("succeeded")))
    var phase = 0
    while (phase < numPhases) {
      // (a) fold this phase's single-key runs — one cogroup, one job
      if (singlePhases(phase)) {
        val readyS = singlesPhase.filter(col("ph") === phase)
        val sk = tds.join(readyS, tds("txnId") === readyS("txn_id"),
          "left_semi").as[Txn]
        val byKey = sk.groupByKey(t => (t.asserts ++ t.updates).head.key)
        val touched = readyS.select(col("key")).distinct()
        val stTouched = state.join(touched, Seq("key"), "left_semi")
          .as[(Key, Value)]
        val folded = stTouched.groupByKey(_._1).cogroup(byKey) {
          (k, stIt, txIt) =>
            var value: Option[Value] = stIt.buffered.headOption.map(_._2)
            val out = List.newBuilder[FoldEmit]
            txIt.toSeq.sortBy(_.txnId).foreach { t =>
              val ok = t.asserts.forall(_.valueOption == value)
              if (ok) t.updates.foreach(u => value = u.valueOption)
              out += FoldEmit(1, t.txnId, k, null, ok)
            }
            value.foreach(v => out += FoldEmit(0, -1L, k, v, false))
            out.result().iterator
        }.toDF().materialize
        resultParts += folded.filter(col("kind") === 1)
          .select(col("txnId").as("txn_id"), col("succeeded"))
        state = state.join(touched, Seq("key"), "left_anti")
          .union(folded.filter(col("kind") === 0)
            .select(col("key"), col("value")))
      }
      // (b) the conflict-free multi-key generation, against post-fold state
      if (phase <= maxMultiGen) {
        val ready = gens.filter(col("gen") === phase).select(col("txn_id"))
        val failed = asserts.join(ready, "txn_id")
          .join(state, Seq("key"), "left_outer")
          .filter(!(col("expected") <=> col("value")))
          .select(col("txn_id")).distinct()
        resultParts += ready
          .join(failed.withColumn("f", lit(1)), Seq("txn_id"), "left_outer")
          .select(col("txn_id"), col("f").isNull.as("succeeded"))
        // generations are conflict-free, so ok-updates touch distinct keys
        val up = updates.join(ready, "txn_id")
          .join(failed, Seq("txn_id"), "left_anti")
          .select(col("key").as("u_key"), col("u_value"))
        state = state.join(up, col("key") === col("u_key"), "full_outer")
          .select(coalesce(col("key"), col("u_key")).as("key"),
            when(col("u_key").isNotNull, col("u_value"))
              .otherwise(col("value")).as("value"))
          .filter(col("value").isNotNull)
      }
      // the phase's one global materialization (results stay lazy — their
      // lineage is shallow joins over this checkpoint and the fold's)
      val tCk = System.nanoTime()
      state = state.materialize
      phase += 1
      var mergeMs = 0.0
      if (resultParts.length >= 32) { // keep the deferred union tree shallow
        val t0 = System.nanoTime()
        val merged = resultParts.reduce(_ union _).materialize
        mergeMs = (System.nanoTime() - t0) / 1e6
        resultParts.clear()
        resultParts += merged
      }
      if (Debug) {
        val bits = state.queryExecution.optimizedPlan.stats.sizeInBytes.bitLength
        System.err.println(
          f"[mk] phase=$phase%4d state_bits=$bits%9d ck_ms=${(System.nanoTime() - tCk) / 1e6}%8.1f merge_ms=$mergeMs%8.1f")
      }
    }
    val results = resultParts.reduce(_ union _)
    (state, results.select(col("txn_id").as("txnId"), col("succeeded")),
      MkStats(phase, schedPasses))
  }

  /** Streaming multi-key Calvin: the Structured-Streaming analog of the
    * reference's Kafka feedback loop (StreamyDb.scala:177-242 — results
    * re-entering as per-key apply/release messages). There the loop runs
    * between operators of one dataflow; here it runs between micro-batches:
    * each batch of txns goes through the fused scheduler/apply rounds
    * ([[applyMultiKey]]) against the distributed state carried from
    * all previous batches. Feeding batches in txnId order reproduces the
    * deterministic sequential semantics (proved by the spec oracle).
    *
    * Use as the `foreachBatch` sink of a `Dataset[Txn]` stream; the state
    * and accumulated per-txn results stay DataFrames throughout, each
    * re-rooted on one checkpoint per batch, so a batch's plan and job
    * count do not grow with the number of batches before it.
    *
    * @param checkpointDir when set, every committed batch persists the KV
    *   state and that batch's results as parquet plus a commit marker —
    *   `dir/state/&lt;batchId&gt;`, `dir/results/&lt;batchId&gt;`,
    *   `dir/commits/&lt;batchId&gt;` (marker last, so a crash mid-write
    *   leaves an ignorable uncommitted directory). A new instance over the
    *   same dir restores from the highest committed batch, and
    *   `processBatch` skips batchIds at or below it — exactly the replayed
    *   micro-batch a restarted `foreachBatch` query re-delivers. Without
    *   it, state and results live only in executor block storage (each
    *   batch's localCheckpoint) and die with the session — the
    *   reference's Kafka-loop state is replayable by design
    *   (StreamyDb.scala:177-242); this is the Spark durable analog.
    */
  final class MultiKeyStream(spark: SparkSession,
      checkpointDir: Option[String] = None) {
    import spark.implicits._
    @volatile private var lastCommitted: Long = -1L
    @volatile private var stateDf: DataFrame =
      Seq.empty[(Key, Value)].toDF("key", "value")
    @volatile private var resultsDf: DataFrame =
      Seq.empty[(Long, Boolean)].toDF("txnId", "succeeded")

    private def hadoopFs(dir: String) = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())

    // restore from the highest committed batch, if any
    checkpointDir.foreach { dir =>
      val fs = hadoopFs(dir)
      val commits = new org.apache.hadoop.fs.Path(s"$dir/commits")
      if (fs.exists(commits)) {
        // only numeric names are commit markers — a stray temp/_SUCCESS-ish
        // file dropped by a filesystem tool must not brick the restore
        val ids = fs.listStatus(commits).map(_.getPath.getName)
          .filter(_.matches("\\d+")).map(_.toLong)
        if (ids.nonEmpty) {
          lastCommitted = ids.max
          stateDf = spark.read.parquet(s"$dir/state/$lastCommitted")
            .localCheckpoint(true)
          resultsDf = spark.read
            .parquet(ids.sorted.map(i => s"$dir/results/$i").toSeq: _*)
            .localCheckpoint(true)
        }
      }
    }

    def processBatch(batch: Dataset[Txn], batchId: Long): Unit = {
      if (batchId <= lastCommitted) return // replay after restart: done
      val (st, res, _) = applyMultiKey(stateDf, batch)
      checkpointDir match {
        case Some(dir) =>
          st.write.mode("overwrite").parquet(s"$dir/state/$batchId")
          res.write.mode("overwrite").parquet(s"$dir/results/$batchId")
          // re-root lineage at the durable copies
          stateDf = spark.read.parquet(s"$dir/state/$batchId")
          resultsDf = resultsDf
            .union(spark.read.parquet(s"$dir/results/$batchId"))
            .materialize
          val fs = hadoopFs(dir)
          fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/commits"))
          fs.create(new org.apache.hadoop.fs.Path(s"$dir/commits/$batchId"),
            true).close()
          lastCommitted = batchId
        case None =>
          stateDf = st.materialize
          resultsDf = resultsDf.union(res).materialize
      }
    }

    /** Current KV state (key, value). */
    def state: DataFrame = stateDf
    /** Per-txn outcomes accumulated across all batches. */
    def results: DataFrame = resultsDf
  }

  /** Reference oracle for specs: strictly sequential interpreter. */
  def sequentialOracle(txns: Seq[Txn])
      : (Map[Key, Value], Seq[MkResult]) = {
    var state = Map.empty[Key, Value]
    val results = txns.sortBy(_.txnId).map { t =>
      val ok = t.asserts.forall(a => state.get(a.key) == a.valueOption)
      if (ok) t.updates.foreach { u =>
        u.valueOption match {
          case Some(v) => state += u.key -> v
          case None => state -= u.key
        }
      }
      MkResult(t.txnId, ok)
    }
    (state, results)
  }
}
