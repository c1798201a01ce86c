package graft.operators

import graft.sources.{Tables, TxnLog}
import graft.streaming.{StreamRunner, TxnEngine}
import graft.streaming.TxnEngine.{Blind, Conditional, SkTxn}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's transactional surface re-expressed as gate queries
  * (SURVEY §2 A). A deterministic single-key transaction log is derived
  * from the events table (txnId = event_id, key = user bucket); the same
  * log drives the batch folds, the streaming engine, and the DuckDB
  * oracles (plain SQL for blind mode, a recursive CTE replaying the
  * conditional fold).
  */
object TxnQueries {
  private type Q = (SparkSession, String) => DataFrame
  private val Buckets = 40

  /** Shared workload: v = floor(value*100); delete when v%5=0; assert =
    * two-back log value when v%3=0 else one-back (both may be NULL =
    * expect-absent). Mixed outcomes in both modes.
    */
  def workload(s: SparkSession, dir: String): Dataset[SkTxn] = {
    import s.implicits._
    val w = Window.partitionBy($"key").orderBy($"txn_id")
    Tables.events(s, dir)
      .select($"event_id".as("txn_id"),
        concat(lit("k"), ($"user_id" % Buckets).cast("string")).as("key"),
        floor($"value" * 100).cast("long").as("v"))
      .withColumn("new_val",
        when($"v" % 5 === 0, lit(null).cast("string"))
          .otherwise($"v".cast("string")))
      .withColumn("assert_val",
        when($"v" % 3 === 0, lag($"new_val", 2).over(w))
          .otherwise(lag($"new_val", 1).over(w)))
      .select($"txn_id".as("txnId"), $"key", lit(true).as("hasAssert"),
        $"assert_val".as("assertValue"), $"new_val".as("updateValue"))
      .as[SkTxn]
  }

  /** Workload CTEs shared by every oracle. */
  private val workloadSql = s"""
    raw AS (
      SELECT event_id AS txn_id,
        'k' || CAST(user_id % $Buckets AS VARCHAR) AS key,
        CAST(floor(value * 100) AS BIGINT) AS v
      FROM events),
    w0 AS (
      SELECT txn_id, key, v,
        CASE WHEN v % 5 = 0 THEN NULL ELSE CAST(v AS VARCHAR) END AS new_val
      FROM raw),
    wl AS (
      SELECT txn_id, key, new_val,
        CASE WHEN v % 3 = 0
          THEN lag(new_val, 2) OVER (PARTITION BY key ORDER BY txn_id)
          ELSE lag(new_val, 1) OVER (PARTITION BY key ORDER BY txn_id)
        END AS assert_val,
        row_number() OVER (PARTITION BY key ORDER BY txn_id) AS rn
      FROM w0)"""

  /** Recursive replay of the conditional fold (the oracle's state machine).
    */
  private val conditionalSteps = s"""
    WITH RECURSIVE $workloadSql,
    steps AS (
      SELECT key, 0 AS rn, CAST(NULL AS VARCHAR) AS cur,
        CAST(NULL AS BIGINT) AS txn_id, CAST(NULL AS BOOLEAN) AS ok
      FROM (SELECT DISTINCT key FROM wl)
      UNION ALL
      SELECT t.key, t.rn,
        CASE WHEN t.assert_val IS NOT DISTINCT FROM s.cur
          THEN t.new_val ELSE s.cur END,
        t.txn_id, (t.assert_val IS NOT DISTINCT FROM s.cur)
      FROM steps s JOIN wl t ON t.key = s.key AND t.rn = s.rn + 1)"""

  /** a1: blind-mode final KV state. */
  def a1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TxnEngine.applyState(workload(s, dir), Blind)
      .toDF("key", "value", "last_txn_id")
  }

  val a1Sql: String = s"""
    WITH $workloadSql,
    sel AS (SELECT key, new_val, txn_id,
      row_number() OVER (PARTITION BY key ORDER BY txn_id DESC) AS rd
      FROM w0)
    SELECT key, new_val AS value, txn_id AS last_txn_id FROM sel WHERE rd = 1"""

  /** a2: blind-mode per-txn audit results. */
  def a2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TxnEngine.applyResults(workload(s, dir), Blind)
      .toDF("txn_id", "key", "succeeded")
  }

  val a2Sql: String = s"""
    WITH $workloadSql
    SELECT txn_id, key,
      (assert_val IS NOT DISTINCT FROM
        lag(new_val) OVER (PARTITION BY key ORDER BY txn_id)) AS succeeded
    FROM wl"""

  /** a3: full conditional (Calvin) semantics — final KV state. */
  def a3(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TxnEngine.applyState(workload(s, dir), Conditional)
      .select($"key", $"value")
  }

  val a3Sql: String = s"""
    $conditionalSteps
    SELECT key, cur AS value FROM (
      SELECT key, cur, rn, max(rn) OVER (PARTITION BY key) AS mx FROM steps)
    WHERE rn = mx AND rn > 0"""

  /** a4: conditional per-txn success flags. */
  def a4(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TxnEngine.applyResults(workload(s, dir), Conditional)
      .toDF("txn_id", "key", "succeeded")
  }

  val a4Sql: String = s"""
    $conditionalSteps
    SELECT txn_id, key, ok AS succeeded FROM steps WHERE rn > 0"""

  /** a5: the conditional log through Structured Streaming
    * (flatMapGroupsWithState), fed in two txn-ordered micro-batches so
    * state crosses a batch boundary; final state must equal a3's. The
    * txnId-midpoint split preserves per-key order across batches without
    * materializing the log on the driver.
    */
  def a5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val txns = workload(s, dir)
    val r = txns.agg(min($"txnId"), max($"txnId")).head()
    val mid = if (r.isNullAt(0)) 0L
      else r.getLong(0) + (r.getLong(1) - r.getLong(0)) / 2
    val emitted = StreamRunner.runFiles(s,
      Seq(txns.filter($"txnId" < mid).toDF(),
        txns.filter($"txnId" >= mid).toDF())) { df =>
      TxnEngine.streamResults(df.as[SkTxn], Conditional).toDF()
    }
    // last-writer-wins via hash-aggregable max(txnId) + a 1:1 join-back
    // on (key, txnId) — max_by over the string valueAfter demotes to
    // SortAggregateExec (immutable agg buffer; PlanAudit `sort-agg`).
    // The checkpoint turns the MemorySink view into a LogicalRDD so the
    // self-join's attribute ids dedup (MemoryPlan has no newInstance).
    val e = emitted.localCheckpoint(true)
    val last = e.groupBy($"key").agg(max($"txnId").as("txnId"))
    e.join(last, Seq("key", "txnId"))
      .select($"key", $"valueAfter".as("value"))
  }

  val a5Sql: String = a3Sql

  /** a6: per-key event-time-ordered changelog (the KeyedEventTimeSorter
    * analog — deterministic (ts, event_id) order, reference
    * StreamyDb.scala:35-64).
    */
  def a6(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"user_id")
      .agg(count(lit(1)).cast("long").as("n"),
        array_join(
          transform(
            sort_array(collect_list(struct($"ts", $"event_id"))),
            x => x.getField("event_id").cast("string")),
          ",").as("seq"))
  }

  val a6Sql: String = """
    SELECT user_id, CAST(count(*) AS BIGINT) AS n,
      string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY ts, event_id) AS seq
    FROM events GROUP BY user_id"""

  /** a7: watermarked tumbling-window streaming aggregate (heartbeat /
    * watermark analog, reference HeartBeatGenerator.scala). A far-future
    * sentinel advances the watermark so append mode flushes every real
    * window.
    */
  def a7(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select($"ts", $"event_type")
    val maxTs = Option(ev.agg(max($"ts")).as[java.sql.Timestamp].head())
      .map(_.getTime).getOrElse(0L)
    val sentinel = Seq((new java.sql.Timestamp(maxTs + 10L * 24 * 3600 * 1000),
      "zzz_sentinel")).toDF("ts", "event_type")
    val out = StreamRunner.runFiles(s, Seq(ev, sentinel)) { df =>
      df.withWatermark("ts", "10 minutes")
        .groupBy(window($"ts", "1 hour"), $"event_type")
        .agg(count(lit(1)).cast("long").as("n"))
        .select($"window.start".as("window_start"), $"event_type", $"n")
    }
    out.filter($"event_type" =!= "zzz_sentinel")
  }

  val a7Sql: String = """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
      CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY window_start, event_type"""

  /** Multi-key workload for a8 (also spec-checked against the sequential
    * interpreter): sampled events each touch a user key and an event key.
    * Built as a distributed Dataset — the txn log never lands on the
    * driver.
    */
  def multiKeyWorkloadDS(s: SparkSession, dir: String)
      : Dataset[TxnEngine.Txn] = {
    import s.implicits._
    // declarative struct-building (not a typed .map closure): the whole
    // workload derivation stays inside whole-stage codegen — the closure
    // version paid ~6 s of per-row encode/decode at sf10's 500k txns —
    // and Option[String] decodes from the nullable valueOption field
    val kvType = "array<struct<key:string,valueOption:string>>"
    def kv(key: org.apache.spark.sql.Column,
        value: org.apache.spark.sql.Column) =
      struct(key.as("key"), value.as("valueOption"))
    val nullStr = lit(null).cast("string")
    Tables.events(s, dir)
      .filter($"event_id" % 20 === 0)
      .select($"event_id".as("txnId"),
        concat(lit("u"), ($"user_id" % 50).cast("string")).as("k1"),
        concat(lit("e"), ($"event_id" % 97).cast("string")).as("k2"),
        floor($"value" * 100).cast("long").as("v"))
      .select($"txnId",
        when($"v" % 2 === 0, array(kv($"k1", nullStr)))
          .otherwise(array().cast(kvType)).as("asserts"),
        array(kv($"k1", $"v".cast("string")),
          kv($"k2", when($"v" % 5 === 0, nullStr)
            .otherwise($"v".cast("string")))).as("updates"))
      .as[TxnEngine.Txn]
  }

  /** Driver-side copy for spec oracles. */
  def multiKeyWorkload(s: SparkSession, dir: String): Seq[TxnEngine.Txn] =
    multiKeyWorkloadDS(s, dir).collect().sortBy(_.txnId).toSeq

  /** a8: multi-key Calvin — [[TxnEngine.applyMultiKey]] from an empty
    * state (conflict components fold in parallel; a batch with an
    * over-cap component applies in consecutive txnId ranges, each through
    * the same fold). Hash-gated by
    * [[a8Sql]]'s recursive-CTE interpreter and spec-verified against the
    * sequential interpreter.
    */
  def a8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TxnEngine.applyMultiKey(Seq.empty[(String, String)].toDF("key", "value"),
      multiKeyWorkloadDS(s, dir))._1
  }

  /** a8/a9 oracle: a sequential interpreter in SQL. The multi-key fold is
    * replayed one txn per recursion step, carrying the whole KV state as
    * a list-of-structs column (the keyspace is bounded: 50 u-keys + 97
    * e-keys). Assert semantics mirror the engine: a txn with an
    * assert-absent on its user key commits iff that key is currently
    * unmapped; commits overwrite both keys (the event key is deleted when
    * v % 5 = 0, matching [[multiKeyWorkloadDS]]). Gate-scale only — the
    * state column is O(keyspace) per step, which is exactly why the
    * engine folds each conflict component in its own task instead of the
    * whole log in one.
    */
  val a8Sql: String = s"""
    WITH RECURSIVE mk AS (
      SELECT CAST(event_id AS BIGINT) AS txn_id,
        'u' || CAST(user_id % 50 AS VARCHAR) AS k1,
        'e' || CAST(event_id % 97 AS VARCHAR) AS k2,
        CAST(floor(value * 100) AS BIGINT) AS v,
        row_number() OVER (ORDER BY event_id) AS rn
      FROM events WHERE event_id % 20 = 0),
    steps AS (
      SELECT 0 AS rn, CAST([] AS STRUCT(k VARCHAR, v VARCHAR)[]) AS st
      UNION ALL
      SELECT t.rn,
        CASE WHEN (t.v % 2 <> 0)
               OR len(list_filter(s.st, x -> x.k = t.k1)) = 0
          THEN list_filter(s.st, x -> x.k <> t.k1 AND x.k <> t.k2)
               || [struct_pack(k := t.k1, v := CAST(t.v AS VARCHAR))]
               || CASE WHEN t.v % 5 = 0
                    THEN CAST([] AS STRUCT(k VARCHAR, v VARCHAR)[])
                    ELSE [struct_pack(k := t.k2, v := CAST(t.v AS VARCHAR))]
                  END
          ELSE s.st END
      FROM steps s JOIN mk t ON t.rn = s.rn + 1),
    final AS (SELECT st FROM steps ORDER BY rn DESC LIMIT 1)
    SELECT u.x.k AS key, u.x.v AS value FROM final, unnest(final.st) u(x)"""

  /** a9: multi-key Calvin on a *stream* — the reference's feedback-loop
    * deployment shape (multi-key txns commit continuously; state carries
    * across micro-batches). Fed in three txnId-ordered micro-batches
    * through [[TxnEngine.MultiKeyStream]]'s foreachBatch sink; final
    * state must equal a8's batch result (spec proves both equal the
    * sequential interpreter). Hash-gated by [[a8Sql]].
    */
  def a9(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val txns = multiKeyWorkloadDS(s, dir)
    // three txnId-range micro-batches (order-preserving split; only the
    // id range reaches the driver)
    val r = txns.agg(min($"txnId"), max($"txnId")).head()
    val (lo, hi) =
      if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1))
    val (t1, t2) = (lo + (hi - lo) / 3, lo + 2 * ((hi - lo) / 3))
    val batches = Seq(
      txns.filter($"txnId" <= t1),
      txns.filter($"txnId" > t1 && $"txnId" <= t2),
      txns.filter($"txnId" > t2)).map(_.toDF())
    val mks = new TxnEngine.MultiKeyStream(s)
    StreamRunner.runForeachFiles(s, batches)(
      (b: DataFrame, id: Long) => mks.processBatch(b.as[TxnEngine.Txn], id))
    mks.state.orderBy($"key")
  }

  /** a10: the Kafka-shaped deployment path end-to-end — JSON txn-log
    * files → `readStream` → per-key streaming engine → parquet sink, with
    * a mid-stream stop and checkpoint restart between the two halves of
    * the log (the reference's JSON-over-Kafka topics + checkpointed job,
    * StreamyDb.scala:180 and package.scala:61-62). Blind mode, so the
    * final per-key state hash-matches a1's oracle SQL.
    */
  def a10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = StreamRunner.stagingRoot(s, "a10_")
    val src = s"$root/src"; val cp = s"$root/cp"; val out = s"$root/out"
    new java.io.File(src).mkdirs()
    val w = workload(s, dir)
    val r = w.agg(min($"txnId"), max($"txnId")).head()
    val mid = (r.getLong(0) + r.getLong(1)) / 2
    def writePart(part: Int, c: org.apache.spark.sql.Column): Unit =
      TxnLog.encode(w.filter(c)).coalesce(1)
        .write.mode("overwrite").text(s"$src/part$part")
    def run(): Unit = {
      val q = TxnEngine.streamResults(
          TxnLog.decode(s.readStream.text(s"$src/part*")), Blind)
        .toDF().writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    writePart(1, $"txnId" < mid); run() // first half of the log
    writePart(2, $"txnId" >= mid); run() // restart from the checkpoint
    // a5's hash-agg + join-back shape (max_by would sort-agg demote)
    val res = s.read.parquet(out)
    val last = res.groupBy($"key").agg(max($"txnId").as("txnId"))
    res.join(last, Seq("key", "txnId"))
      .select($"key", $"valueAfter".as("value"), $"txnId".as("last_txn_id"))
  }

  /** a11: a7's windowed aggregate driven by *periodic heartbeats* instead
    * of a one-shot sentinel (the HeartBeatGenerator analog): events arrive
    * in ts-ordered batches, each followed by a heartbeat at the batch's
    * max event time, so the watermark advances and append-mode windows
    * flush progressively batch-by-batch; a final far-future heartbeat
    * flushes the tail. Same oracle as a7.
    */
  def a11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.streaming.Heartbeats
    val nb = 4
    // time-range micro-batches (the g2/g5 midpoint-split pattern,
    // generalized to nb cuts): [min ts, max ts] is divided into nb equal
    // spans and each event maps to its span with one linear expression —
    // no global sort anywhere, not even in harness code. Only bounded
    // scalars reach the driver: the time range and the per-batch max
    // timestamps (≤ nb rows), which become the heartbeat markers the
    // generator would emit. Later batches are entirely ≥ earlier batches'
    // events, so each batch's heartbeat never strands the next batch
    // behind the watermark.
    val ev = Tables.events(s, dir).select($"ts", $"event_type")
    val range = ev.agg(min(unix_millis($"ts")), max(unix_millis($"ts"))).head()
    val (lo, hi) = if (range.isNullAt(0)) (0L, 0L)
      else (range.getLong(0), range.getLong(1))
    val span = math.max(1L, (hi - lo) / nb + 1)
    val quart = ev
      .withColumn("q", (floor((unix_millis($"ts") - lo) / span) + 1)
        .cast("int"))
      .localCheckpoint(false)
    val maxes = quart.groupBy($"q").agg(max($"ts").as("mx"))
      .orderBy($"q").as[(Int, java.sql.Timestamp)].collect()
    // replay only the non-empty spans, in time order
    val evBatches = maxes.toSeq.map { case (i, _) =>
      quart.filter($"q" === i).select($"ts", $"event_type") } :+
      quart.limit(0).select($"ts", $"event_type")
    val lastHb = if (maxes.isEmpty) 0L else maxes.map(_._2.getTime).max
    val hbBatches = maxes.toSeq.map { case (_, mx) =>
      Seq((mx, Heartbeats.Marker)).toDF("ts", "event_type") } :+
      Seq((new java.sql.Timestamp(lastHb + 10L * 24 * 3600 * 1000),
        Heartbeats.Marker)).toDF("ts", "event_type")
    Heartbeats.dropHeartbeats(
      StreamRunner.run2Files(s, evBatches, hbBatches) { (ev, hb) =>
        Heartbeats.windowedCounts(ev, hb)
      })
  }

  /** Deterministic multi-key BLIND workload (no asserts — SQL-expressible
    * last-writer-wins oracle): every 100th event becomes a txn updating
    * TWO keys, a user bucket and a value bucket; v%5=0 / v%7=0 delete.
    */
  def multiKeyBlindWorkload(s: SparkSession, dir: String)
      : Dataset[TxnEngine.Txn] = {
    import s.implicits._
    Tables.events(s, dir)
      .filter($"event_id" % 100 === 0)
      .select($"event_id".as("txnId"),
        floor($"value" * 100).cast("long").as("v"), $"user_id")
      .select($"txnId",
        array().cast("array<struct<key:string,valueOption:string>>")
          .as("asserts"),
        array(
          struct(concat(lit("k"), ($"user_id" % 20).cast("string")).as("key"),
            when($"v" % 5 === 0, lit(null).cast("string"))
              .otherwise($"v".cast("string")).as("valueOption")),
          struct(concat(lit("m"), ($"v" % 15).cast("string")).as("key"),
            when($"v" % 7 === 0, lit(null).cast("string"))
              .otherwise(concat(lit("x"), $"v".cast("string")))
              .as("valueOption"))).as("updates"))
      .as[TxnEngine.Txn]
  }

  /** a12: the MULTI-key production path end-to-end — multi-key JSON
    * txn-log files → `readStream` → checkpointed [[TxnEngine.MultiKeyStream]]
    * (foreachBatch), with a mid-stream stop, a NEW engine instance
    * restored from its own parquet+commit-marker checkpoint, and a
    * restarted query over the same stream checkpoint (the replayed
    * micro-batch is skipped by batchId). The reference's multi-key
    * Kafka-loop deployment (StreamyDb.scala:177-242) as Spark jobs. Blind
    * workload, so the final state hash-matches a last-writer-wins oracle.
    */
  def a12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = StreamRunner.stagingRoot(s, "a12_")
    val src = s"$root/src"; val cp = s"$root/cp"; val ecp = s"$root/enginecp"
    new java.io.File(src).mkdirs()
    val w = multiKeyBlindWorkload(s, dir)
    val r = w.agg(min($"txnId"), max($"txnId")).head()
    val mid = (r.getLong(0) + r.getLong(1)) / 2
    def writePart(part: Int, c: org.apache.spark.sql.Column): Unit =
      TxnLog.encodeMk(w.filter(c)).coalesce(1)
        .write.mode("overwrite").text(s"$src/part$part")
    def run(mks: TxnEngine.MultiKeyStream): Unit = {
      val q = TxnLog.decodeMk(s.readStream.text(s"$src/part*"))
        .writeStream.option("checkpointLocation", cp)
        .foreachBatch((b: Dataset[TxnEngine.Txn], id: Long) =>
          mks.processBatch(b, id))
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    writePart(1, $"txnId" < mid)
    run(new TxnEngine.MultiKeyStream(s, Some(ecp))) // first half
    writePart(2, $"txnId" >= mid)
    val restored = new TxnEngine.MultiKeyStream(s, Some(ecp)) // restart
    run(restored)
    restored.state
  }

  val a12Sql: String = """
    WITH raw AS (
      SELECT event_id AS txn_id, CAST(floor(value * 100) AS BIGINT) AS v,
        user_id
      FROM events WHERE event_id % 100 = 0),
    upd AS (
      SELECT txn_id, 'k' || CAST(user_id % 20 AS VARCHAR) AS key,
        CASE WHEN v % 5 = 0 THEN NULL ELSE CAST(v AS VARCHAR) END AS val
      FROM raw
      UNION ALL
      SELECT txn_id, 'm' || CAST(v % 15 AS VARCHAR),
        CASE WHEN v % 7 = 0 THEN NULL ELSE 'x' || CAST(v AS VARCHAR) END
      FROM raw),
    sel AS (SELECT key, val,
      row_number() OVER (PARTITION BY key ORDER BY txn_id DESC) AS rd
      FROM upd)
    SELECT key, val AS value FROM sel WHERE rd = 1 AND val IS NOT NULL"""

  /** a13: CHANGELOG COMPACTION — the storage-maintenance op the
    * reference's deployment substrate runs on its topics (the Kafka
    * key-value topics of reference core package.scala:61-62 are
    * log-compacted: only each key's latest record per closed segment
    * survives): the blind changelog (key = user bucket, tombstone when
    * v ≡ 0 mod 5 — a1's value discipline keyed by event time) is cut
    * into hour segments, and each (segment, key) keeps only its last
    * write by the deterministic (ts, event_id) order — tombstones
    * retained, exactly Kafka's compaction-with-retention semantics. One
    * window over the high-cardinality (segment, key) pair — linear, one
    * exchange, no state: compaction is embarrassingly parallel across
    * segments, which is why it scales to unbounded retention.
    */
  def a13(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"seg", $"key")
      .orderBy($"ts".desc, $"event_id".desc)
    Tables.events(s, dir)
      .select(date_trunc("hour", $"ts").as("seg"),
        concat(lit("k"), ($"user_id" % Buckets).cast("string")).as("key"),
        floor($"value" * 100).cast("long").as("v"), $"ts", $"event_id")
      .withColumn("value",
        when($"v" % 5 === 0, lit(null).cast("string"))
          .otherwise($"v".cast("string")))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"seg".as("seg_start"), $"key", $"value",
        $"event_id".as("last_event_id"))
  }

  val a13Sql: String = s"""
    WITH log AS (
      SELECT date_trunc('hour', ts) AS seg,
        'k' || CAST(user_id % $Buckets AS VARCHAR) AS key,
        CASE WHEN CAST(floor(value * 100) AS BIGINT) % 5 = 0 THEN NULL
          ELSE CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR) END AS value,
        ts, event_id
      FROM events)
    SELECT seg AS seg_start, key, value, event_id AS last_event_id FROM (
      SELECT *, row_number() OVER (PARTITION BY seg, key
        ORDER BY ts DESC, event_id DESC) AS rn FROM log) z
    WHERE rn = 1"""

  /** a14: SNAPSHOT READS over the changelog (the `AS OF` companion to
    * a13's compaction — together they are the two derived views a
    * log-structured store serves): the blind changelog reconstructed at
    * three historical txn-id boundaries (¼, ½, ¾ of the id range), each
    * snapshot the last-writer-wins state among txns ≤ its boundary,
    * tombstones retained (a1's discipline). One broadcast of the 3-row
    * boundary table fans each log row to the snapshots it is visible in,
    * then ONE exchange on the high-cardinality (snap, key) pair — the
    * multi-snapshot reconstruction never replays the log per snapshot.
    *
    * Last-writer-wins is computed as hash-aggregable `max(txn_id)` per
    * (snap, key) plus a broadcast join-back to fetch that winning txn's
    * value (txn ids are globally unique, so the join is 1:1). The
    * straight-line `max(struct(txn_id, value))` demotes to
    * SortAggregateExec — the string field's agg buffer is not
    * UnsafeRow-mutable — which sorts all 3N fanned-out rows with no
    * map-side combine: the s4-at-sf100 defect class (PlanAudit
    * `sort-agg`). The agg output is ≤ |snaps|x[[Buckets]] rows at ANY
    * scale, so the join-back side broadcasts by construction and the
    * log is never shuffled at all.
    */
  def a14(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val log = Tables.events(s, dir)
      .select($"event_id".as("txn_id"),
        concat(lit("k"), ($"user_id" % Buckets).cast("string")).as("key"),
        floor($"value" * 100).cast("long").as("v"))
      .withColumn("value",
        when($"v" % 5 === 0, lit(null).cast("string"))
          .otherwise($"v".cast("string")))
    val r = log.agg(min($"txn_id"), max($"txn_id")).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val snaps = Seq(1L, 2L, 3L).map(i => (i, lo + (hi - lo) * i / 4))
      .toDF("snap_id", "boundary")
    val last = log.join(broadcast(snaps), $"txn_id" <= $"boundary")
      .groupBy($"snap_id", $"key")
      .agg(max($"txn_id").as("last_txn_id"))
    log.select($"txn_id".as("last_txn_id"), $"value")
      .join(broadcast(last), "last_txn_id")
      .select($"snap_id", $"key", $"value", $"last_txn_id")
  }

  val a14Sql: String = s"""
    WITH $workloadSql,
    bounds AS (SELECT min(txn_id) AS lo, max(txn_id) AS hi FROM w0),
    snaps AS (
      SELECT CAST(1 AS BIGINT) AS snap_id, lo + (hi - lo) * 1 // 4 AS boundary FROM bounds
      UNION ALL
      SELECT CAST(2 AS BIGINT), lo + (hi - lo) * 2 // 4 FROM bounds
      UNION ALL
      SELECT CAST(3 AS BIGINT), lo + (hi - lo) * 3 // 4 FROM bounds),
    vis AS (
      SELECT s.snap_id, w.key, w.new_val, w.txn_id,
        row_number() OVER (PARTITION BY s.snap_id, w.key
          ORDER BY w.txn_id DESC) AS rd
      FROM w0 w JOIN snaps s ON w.txn_id <= s.boundary)
    SELECT snap_id, key, new_val AS value, txn_id AS last_txn_id
    FROM vis WHERE rd = 1"""

  val queries: Map[String, Q] = Map(
    "a14_snapshot_read" -> a14,
    "a13_log_compaction" -> a13,
    "a12_stream_file_multikey" -> a12,
    "a11_heartbeat_agg" -> a11,
    "a1_txn_blind_state" -> a1, "a2_txn_blind_results" -> a2,
    "a3_txn_conditional_state" -> a3, "a4_txn_conditional_results" -> a4,
    "a5_stream_txn_kv" -> a5, "a6_event_time_sort" -> a6,
    "a7_stream_watermark_agg" -> a7, "a8_txn_multikey" -> a8,
    "a9_stream_txn_multikey" -> a9, "a10_stream_file_txn" -> a10)

  val oracles: Map[String, String] = Map(
    "a1_txn_blind_state" -> a1Sql, "a2_txn_blind_results" -> a2Sql,
    "a3_txn_conditional_state" -> a3Sql, "a4_txn_conditional_results" -> a4Sql,
    "a5_stream_txn_kv" -> a5Sql, "a6_event_time_sort" -> a6Sql,
    "a7_stream_watermark_agg" -> a7Sql, "a8_txn_multikey" -> a8Sql,
    "a9_stream_txn_multikey" -> a8Sql, "a10_stream_file_txn" -> a1Sql,
    "a11_heartbeat_agg" -> a7Sql, "a12_stream_file_multikey" -> a12Sql,
    "a13_log_compaction" -> a13Sql, "a14_snapshot_read" -> a14Sql)
}
