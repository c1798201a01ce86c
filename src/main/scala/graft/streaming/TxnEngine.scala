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
  *    components in parallel, one distributed pass. A batch too big for
  *    one fold (a component over [[FoldComponentCap]], or more conflict
  *    edges than the driver union-find takes) splits at its middle txnId,
  *    and the two ranges apply one after the other, the second from the
  *    state the first produced. txnId is the one total order, so applying
  *    consecutive ranges in order is applying the batch — the argument
  *    that already makes [[MultiKeyStream]]'s micro-batches correct.
  */
object TxnEngine {

  type Key = String
  type Value = String

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
  // Multi-key: conflict-component fold, split by txnId range past the cap
  // ---------------------------------------------------------------------

  /** What one multi-key apply did: `applyPhases` txnId ranges folded (1
    * unless the batch split), and the conflict-component census over the
    * keyed txns — `foldedComponents` summed over the ranges,
    * `maxComponentTxns` the largest in any range (0/0 for a batch with no
    * keyed txn).
    */
  final case class MkStats(applyPhases: Int, foldedComponents: Long,
      maxComponentTxns: Long)

  /** Txns-per-component cap for one component fold, and so the largest
    * conflict component any fold task holds: a batch whose largest
    * component exceeds it applies in txnId ranges that each fold under it
    * ([[applyMultiKeyCapped]]). Specs move it through that seam's `cap`.
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
    * Architecture: conflict COMPONENTS, no per-depth barriers.
    * Consecutive txns on a key conflict; the connected components of that
    * relation are exactly the closures the reference's per-key lock-waiter
    * queues drain (StreamyDb.scala:66-129) — txns in different components
    * share no keys (directly or transitively), so components are
    * independent. The fold cogroups (txns, state) by component and
    * folds each component sequentially in txnId order inside one task —
    * per-key pipelining with ZERO per-depth barriers; a depth-k conflict
    * chain costs one distributed pass, not k.
    *
    * A component's txns must fit one task (they fold sequentially — the
    * same inherent serialization the reference's waiter queue serializes
    * on). A batch whose largest component exceeds [[FoldComponentCap]]
    * applies in consecutive txnId ranges instead, each through this same
    * fold ([[applyMultiKeyCapped]]). Results are identical either way
    * (spec-enforced).
    */
  def applyMultiKey(initialState: DataFrame, txns: Dataset[Txn])
      : (DataFrame, DataFrame, MkStats) =
    applyMultiKeyCapped(initialState, txns, FoldComponentCap)

  /** [[applyMultiKey]] with an injectable fold cap (spec seam); `cap`
    * must be at least 1.
    *
    * Dispatch, census and labels all come from ONE driver union-find over
    * the conflict edges, gated by the edge count. STAR edges connect every
    * txn on a key to the FIRST txn on that key — the same connectivity as
    * per-key chains, built by one window over the (txn, key) rows. A
    * component of k txns needs at least k−1 edges, so an edge count over
    * min(cap, LocalComponentsMaxEdges) proves a component over the cap
    * without labeling anything (round 16: distributed labeling of the 20M
    * adversarial batch cost 280–554 s of metadata rounds). Under the gate
    * the edge list fits the driver, and [[Dedup.unionFind]] gives every
    * edge-induced txn its component root (the min txnId); a keyed txn on
    * no edge is a component of one and labels itself. The census
    * (component count and largest component) is read off that map, and
    * txns and the state rows they touch reach their component's fold task
    * through the broadcast txn → root map — no label frame is joined or
    * materialized.
    *
    * A batch that fails either gate splits at lo + (hi − lo) / 2 of its
    * txnId bounds: the lower range applies through this method, then the
    * upper range from the state it produced, and the results union. While
    * lo < hi both ranges are non-empty, and a batch of one txnId has no
    * edge and only components of one, so for any cap ≥ 1 the recursion
    * ends in ranges that fold.
    */
  private[graft] def applyMultiKeyCapped(initialState: DataFrame,
      txns: Dataset[Txn], cap: Long): (DataFrame, DataFrame, MkStats) = {
    require(cap >= 1, s"fold cap must be at least 1, got $cap")
    import txns.sparkSession.implicits._
    val tds = txns.localCheckpoint(true)
    val flat = tds.toDF()
    val txnKeys = txnKeysOf(flat)
    val edgesCk = txnKeys
      .withColumn("src", min(col("txn_id"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("key"))))
      .filter(col("src") =!= col("txn_id"))
      .select(col("src").as("a_id"), col("txn_id").as("b_id"))
      .distinct()
      .materialize
    // conflict edges and keyed txns (the census must count components of
    // one, which sit on no edge), both in ONE job: an RDD fold, where a
    // global agg() would pay a second job for its exchange
    val (edgeCount, keyedTxns) = edgesCk.select(lit(1L), lit(0L))
      .union(flat.filter(!isKeyless).select(lit(0L), lit(1L)))
      .as[(Long, Long)].rdd
      .fold((0L, 0L))((x, y) => (x._1 + y._1, x._2 + y._2))
    if (edgeCount > math.min(cap, Dedup.LocalComponentsMaxEdges))
      return applySplit(initialState, tds, cap)
    val root = Dedup.unionFind(edgesCk)
    val sizes = scala.collection.mutable.LongMap.empty[Long]
    root.foreachValue(r => sizes(r) = sizes.getOrElse(r, 0L) + 1L)
    val isolated = keyedTxns - root.size
    val maxComp = math.max(sizes.valuesIterator.maxOption.getOrElse(0L),
      math.min(isolated, 1L))
    if (maxComp > cap) return applySplit(initialState, tds, cap)
    val (state, results) = foldComponents(initialState, tds, txnKeys, root)
    (state, results, MkStats(1, sizes.size + isolated, maxComp))
  }

  /** An over-cap batch as two consecutive txnId ranges, each through
    * [[applyMultiKeyCapped]], the upper one from the lower one's state.
    */
  private def applySplit(initialState: DataFrame, tds: Dataset[Txn],
      cap: Long): (DataFrame, DataFrame, MkStats) = {
    val bounds = tds.agg(min(col("txnId")), max(col("txnId"))).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val mid = lo + ((hi - lo) >>> 1) // unsigned: hi − lo may overflow a Long
    val (loState, loResults, loStats) =
      applyMultiKeyCapped(initialState, tds.filter(col("txnId") <= mid), cap)
    val (state, hiResults, hiStats) =
      applyMultiKeyCapped(loState, tds.filter(col("txnId") > mid), cap)
    (state, loResults.union(hiResults),
      MkStats(loStats.applyPhases + hiStats.applyPhases,
        loStats.foldedComponents + hiStats.foldedComponents,
        math.max(loStats.maxComponentTxns, hiStats.maxComponentTxns)))
  }

  /** The one apply algorithm: fold every conflict component's txns
    * sequentially (txnId order) against that component's slice of the
    * state, one cogroup — all components in parallel, no
    * cross-component coordination. `root`
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

  /** Streaming multi-key Calvin: the Structured-Streaming analog of the
    * reference's Kafka feedback loop (StreamyDb.scala:177-242 — results
    * re-entering as per-key apply/release messages). There the loop runs
    * between operators of one dataflow; here it runs between micro-batches:
    * each batch of txns goes through the component fold
    * ([[applyMultiKey]]) against the distributed state carried from
    * all previous batches. Feeding batches in txnId order reproduces the
    * deterministic sequential semantics (proved by the spec oracle).
    *
    * Use as the `foreachBatch` sink of a `Dataset[Txn]` stream; the state
    * and accumulated per-txn results stay DataFrames throughout, each
    * re-rooted on one checkpoint per batch, so a batch's plan (one node)
    * and job count do not grow with the number of batches before it. Its
    * partition and task counts still do: the untouched-state leg keeps
    * every partition of the previous state, so the state gains one
    * partition per batch, and each batch's results checkpoint re-copies
    * every earlier batch's segment.
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
