package graft.streaming

import graft.plans.Hints
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming analytics operators (SURVEY §2 G) driven through real
  * Structured Streaming plans via [[StreamRunner]].
  */
object StreamOps {
  private type Q = (SparkSession, String) => DataFrame

  /** Bench seam (round-10 verdict item 4): the g10/g12/g13/g14 wall
    * times conflate the ingest SIMULATION each invocation re-runs
    * (writing the base table / persisted index, staging micro-batches,
    * replaying them through a real readStream feeder) with the
    * MAINTENANCE OPERATOR the op actually contributes (the per-batch
    * merge / candidate join / compaction rewrite / view update). The
    * operator portions wrap themselves in [[timed]]; the bench resets
    * the accumulator, runs the query, and reports
    * `op_s = seconds`, `sim_s = total − op_s` — so a maintenance-path
    * regression is visible instead of drowned in staging noise.
    * AtomicLong because foreachBatch bodies run on the streaming
    * micro-batch thread, not the caller's.
    */
  private[graft] object MaintTimer {
    private val ns = new java.util.concurrent.atomic.AtomicLong(0L)
    def reset(): Unit = ns.set(0L)
    def timed[A](body: => A): A = {
      val t0 = System.nanoTime()
      try body finally { ns.addAndGet(System.nanoTime() - t0); () }
    }
    def seconds: Double = ns.get / 1e9
  }

  /** Run one micro-batch body and drop any RDD blocks it checkpointed:
    * per-batch `localCheckpoint(true)` frames (candidate sets, merged
    * partitions) are dead once the batch's sink write returns, and in
    * the long-running steady-state stream these ops advertise, leaked
    * blocks would otherwise accumulate until driver GC happened to
    * trigger ContextCleaner. Checkpoints that existed BEFORE the batch
    * (the persisted corpus index) are untouched.
    *
    * SINGLE-STREAM ASSUMPTION: new persistent RDDs are identified by
    * diffing `getPersistentRDDs` around the body, so an RDD persisted
    * CONCURRENTLY by another stream or thread during the batch would be
    * unpersisted too — and for localCheckpoint'd RDDs the blocks are the
    * only copy, so that is unrecoverable. Every bench/gate caller runs
    * one stream at a time; callers that ever interleave streams must
    * track the batch's frames explicitly instead of diffing.
    */
  private def droppingBatchCheckpoints[A](s: SparkSession)(body: => A): A = {
    val before = s.sparkContext.getPersistentRDDs.keySet
    try body finally
      s.sparkContext.getPersistentRDDs.foreach { case (id, r) =>
        if (!before.contains(id)) { r.unpersist(blocking = false); () }
      }
  }

  /** g1: streaming dedup — first occurrence of each (user_id, event_type)
    * pair across micro-batches (dropDuplicates keyed state). Fed from
    * staged files ([[StreamRunner.runFiles]]): the events table never
    * lands on the driver; the parity split is arbitrary (the distinct
    * set is split-invariant).
    */
  def g1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select($"event_id", $"user_id", $"event_type")
    def half(p: Int) = ev.filter($"event_id" % 2 === p)
      .select($"user_id", $"event_type")
    StreamRunner.runFiles(s, Seq(half(0), half(1)),
        cacheKey = Some(s"$dir#g1")) { df =>
      df.dropDuplicates("user_id", "event_type")
    }
  }

  val g1Sql: String = "SELECT DISTINCT user_id, event_type FROM events"

  final case class SessEvent(userId: Long, tsUs: Long, eventId: Long)
  final case class SessState(start: Long, end: Long, n: Long, sid: Long)
  final case class Session(user_id: Long, session_id: Long, n_events: Long,
      session_start: java.sql.Timestamp, session_end: java.sql.Timestamp)

  private val GapUs = 30L * 60 * 1000000

  /** µs-precision epoch → Timestamp (plain ms construction drops µs). */
  private def usToTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp((us / 1000000) * 1000)
    t.setNanos(((us % 1000000) * 1000).toInt)
    t
  }

  /** g2: stateful streaming sessionization (30-min gap), the
    * mapGroupsWithState analog of batch q22. Sessions close when a gap
    * arrives; a per-user far-future sentinel closes the tail session.
    * Events must arrive in (ts, event_id) order per user across batches
    * (the deterministic-order contract the reference's event-time sorter
    * establishes; here the time-midpoint batch split guarantees it, and
    * the fold sorts within each micro-batch).
    */
  def g2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id".as("userId"), unix_micros($"ts").as("tsUs"),
        $"event_id".as("eventId"))
    // only bounded scalars (the time range) reach the driver; the
    // midpoint split preserves per-user (ts, event_id) order across
    // batches, which is all the state machine requires
    val r = ev.agg(min($"tsUs"), max($"tsUs")).head()
    val (lo, hi) =
      if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1))
    val mid = lo + (hi - lo) / 2
    val sentinels = ev.select($"userId").distinct()
      .select($"userId", lit(hi + 2 * GapUs).as("tsUs"),
        lit(-1L).as("eventId"))
    val batches = Seq(
      ev.filter($"tsUs" < mid), ev.filter($"tsUs" >= mid), sentinels)
    StreamRunner.runFiles(s, batches, cacheKey = Some(s"$dir#g2")) { df =>
      df.as[SessEvent].groupByKey(_.userId)
        .flatMapGroupsWithState[SessState, Session](
          OutputMode.Append, GroupStateTimeout.NoTimeout) { (user, it, gs) =>
          val out = List.newBuilder[Session]
          var st = gs.getOption.orNull
          it.toSeq.sortBy(e => (e.tsUs, e.eventId)).foreach { e =>
            if (st == null) {
              st = SessState(e.tsUs, e.tsUs, 1, 1)
            } else if (e.tsUs - st.end > GapUs) {
              out += Session(user, st.sid, st.n, usToTs(st.start), usToTs(st.end))
              st = SessState(e.tsUs, e.tsUs, 1, st.sid + 1)
            } else {
              st = st.copy(end = e.tsUs, n = st.n + 1)
            }
          }
          gs.update(st)
          out.result().iterator
        }.toDF()
    }.filter(col("n_events") > 0)
  }

  // same output contract as batch q22
  val g2Sql: String = graft.operators.Relational.q22Sql

  /** g3: stream-stream interval join with watermarks on both sides —
    * views joined to same-user clicks within (0, 10 min]. Same output
    * contract as batch q19; the range condition also bounds join state.
    */
  /** One side of the stream-stream joins: the typed event slice, split
    * into (early, late) halves at its own time midpoint — batch data
    * stays distributed, and the split keeps each side time-ordered
    * across micro-batches so watermarks never discard joinable rows.
    */
  private def sideHalves(s: SparkSession, dir: String, tpe: String,
      userCol: String, idCol: String, tsCol: String): Seq[DataFrame] = {
    import s.implicits._
    val side = Tables.events(s, dir).filter($"event_type" === tpe)
      .select($"user_id".as(userCol), $"event_id".as(idCol), $"ts".as(tsCol))
    val r = side.agg(min(col(tsCol)).cast("long"),
      max(col(tsCol)).cast("long")).head()
    if (r.isNullAt(0)) Seq(side, side) // empty side: two empty batches
    else {
      val mid = r.getLong(0) + (r.getLong(1) - r.getLong(0)) / 2
      Seq(side.filter(col(tsCol).cast("long") < mid),
        side.filter(col(tsCol).cast("long") >= mid))
    }
  }

  def g3(s: SparkSession, dir: String): DataFrame = {
    val views = sideHalves(s, dir, "view", "v_user", "view_id", "v_ts")
    val clicks = sideHalves(s, dir, "click", "c_user", "click_id", "c_ts")
    StreamRunner.run2Files(s, views, clicks,
        cacheKey = Some(s"$dir#g3")) { (v, c) =>
      v.withWatermark("v_ts", "1 hour")
        .join(c.withWatermark("c_ts", "1 hour"),
          expr("v_user = c_user AND c_ts > v_ts AND c_ts <= v_ts + interval 10 minutes"))
        .select(col("v_user").as("user_id"), col("view_id"), col("click_id"))
    }
  }

  val g3Sql: String = graft.operators.Relational.q19Sql

  /** g7: stream-stream LEFT OUTER interval join — like g3, but views with
    * no click in the window emit once with null click columns after the
    * watermark passes their join window (outer-side state eviction, the
    * semantics plain inner joins can't express). A far-future batch on
    * both sides advances the watermark so every pending view resolves.
    */
  def g7(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val maxMs = Option(Tables.events(s, dir).agg(max($"ts"))
      .as[java.sql.Timestamp].head()).map(_.getTime).getOrElse(0L)
    val far = new java.sql.Timestamp(maxMs + 30L * 24 * 3600 * 1000)
    def withSentinel(halves: Seq[DataFrame], userCol: String, idCol: String,
        tsCol: String): Seq[DataFrame] =
      halves :+ Seq((-1L, -1L, far)).toDF(userCol, idCol, tsCol)
    val views = withSentinel(
      sideHalves(s, dir, "view", "v_user", "view_id", "v_ts"),
      "v_user", "view_id", "v_ts")
    val clicks = withSentinel(
      sideHalves(s, dir, "click", "c_user", "click_id", "c_ts"),
      "c_user", "click_id", "c_ts")
    StreamRunner.run2Files(s, views, clicks,
        cacheKey = Some(s"$dir#g7")) { (v, c) =>
      v.withWatermark("v_ts", "1 hour")
        .join(c.withWatermark("c_ts", "1 hour"),
          expr("v_user = c_user AND c_ts > v_ts AND c_ts <= v_ts + interval 10 minutes"),
          "left_outer")
        .select(col("v_user").as("user_id"), col("view_id"), col("click_id"))
    }.filter(col("user_id") >= 0)
  }

  val g7Sql: String = """
    SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON v.user_id = c.user_id AND c.ts > v.ts
        AND c.ts <= v.ts + INTERVAL 10 MINUTE"""

  /** g4: stream-static join — the event stream enriched against the static
    * customer dimension (size-guarded broadcast — customer grows with the
    * corpus, so past [[Hints.maybeBroadcast]]'s bound each micro-batch
    * shuffle-joins instead; no streaming state needed).
    */
  def g4(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, dir).select($"c_custkey", $"c_name", $"c_mktsegment")
    val ev = Tables.events(s, dir).select($"event_id", $"user_id")
    StreamRunner.runFiles(s,
      Seq(ev.filter($"event_id" % 2 === 0), ev.filter($"event_id" % 2 === 1)),
      cacheKey = Some(s"$dir#g4")) { df =>
      df.join(Hints.maybeBroadcast(cust), col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"), col("c_name"), col("c_mktsegment"))
    }
  }

  val g4Sql: String = """
    SELECT event_id, user_id, c_name, c_mktsegment
    FROM events JOIN customer ON user_id = c_custkey"""

  /** g5: Spark's BUILT-IN session windows (`session_window` + watermark,
    * append mode) — the declarative twin of g2's custom
    * flatMapGroupsWithState sessionizer. Sessions finalize when the
    * watermark passes `last event + gap`; a far-future sentinel on a
    * synthetic user advances the global watermark so every real session
    * emits. Window end is `last_ts + gap` by definition — the oracle
    * mirrors it with an interval add on the gap-sessionized batch.
    */
  def g5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select($"user_id", $"ts")
    // the time-midpoint split keeps every batch entirely later than the
    // previous batch's max event time, so the 0-second watermark never
    // classifies a real event as late (same invariant the old sorted
    // driver-side split provided)
    val r = ev.agg(min($"ts").cast("long"), max($"ts").cast("long")).head()
    val (lo, hi) =
      if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1))
    val mid = lo + (hi - lo) / 2
    val maxMs = hi * 1000
    val sentinel = Seq((-1L,
      new java.sql.Timestamp(maxMs + 4L * 3600 * 1000))).toDF("user_id", "ts")
    StreamRunner.runFiles(s, Seq(ev.filter($"ts".cast("long") < mid),
      ev.filter($"ts".cast("long") >= mid), sentinel),
      cacheKey = Some(s"$dir#g5")) { df =>
      df.withWatermark("ts", "0 seconds")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).cast("long").as("n_events"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"), col("n_events"))
    }.filter(col("user_id") >= 0)
  }

  val g5Sql: String = """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
        CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
          OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30 * 60 * 1000000
          THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sessions AS (
      SELECT user_id, ts,
        sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged)
    SELECT user_id, min(ts) AS session_start,
      max(ts) + INTERVAL 30 MINUTE AS session_end,
      CAST(count(*) AS BIGINT) AS n_events
    FROM sessions GROUP BY user_id, session_id"""

  /** g6: complete-output-mode streaming aggregation — per-event-type
    * totals recomputed every micro-batch; the final complete table equals
    * the batch aggregate.
    */
  def g6(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"event_id", $"event_type", $"user_id")
    def half(p: Int) = ev.filter($"event_id" % 2 === p)
      .select($"event_type", $"user_id")
    StreamRunner.runFiles(s, Seq(half(0), half(1)),
        outputMode = "complete", cacheKey = Some(s"$dir#g6")) { df =>
      df.groupBy(col("event_type"))
        .agg(count(lit(1)).cast("long").as("n_events"),
          min(col("user_id")).as("first_user"),
          max(col("user_id")).as("last_user"))
    }
  }

  val g6Sql: String = """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      min(user_id) AS first_user, max(user_id) AS last_user
    FROM events GROUP BY event_type"""

  /** g8: exact distinct users per hour window on a stream — CHAINED
    * stateful operators (Spark 4 multi-stateful support): a first
    * windowed aggregate closes one row per (hour window, user) as the
    * watermark passes, and a second aggregate re-windows those finalized
    * rows (`window(window, ...)`) into per-hour distinct-user counts.
    * Sentinels advance the watermark THROUGH both stages and their
    * far-future windows are post-filtered from the sink output — do NOT
    * filter them out inside the stream: a sentinel filter placed after
    * `withWatermark` gets predicate-pushed BELOW the watermark node by
    * Catalyst, so the watermark silently never advances past the real
    * data and the final window never flushes (observed, not
    * hypothetical). Two sentinels, each later than the last: the first
    * closes stage 1's final real window, the second lets stage 2 evict
    * the row stage 1 just emitted.
    */
  def g8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select($"user_id", $"ts")
    val r = ev.agg(min($"ts").cast("long"), max($"ts").cast("long")).head()
    val (lo, hi) =
      if (r.isNullAt(0)) (0L, 0L) else (r.getLong(0), r.getLong(1))
    val mid = lo + (hi - lo) / 2
    def sentinel(days: Long) = Seq((-1L,
      new java.sql.Timestamp((hi + days * 24 * 3600) * 1000)))
      .toDF("user_id", "ts")
    StreamRunner.runFiles(s, Seq(ev.filter($"ts".cast("long") < mid),
      ev.filter($"ts".cast("long") >= mid),
      sentinel(30), sentinel(60)), cacheKey = Some(s"$dir#g8")) { df =>
      df.withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .groupBy(window(col("window"), "1 hour"))
        .agg(count(lit(1)).cast("long").as("n_users"))
        .select(col("window.start").as("window_start"), col("n_users"))
    }.filter(col("window_start").cast("long") <= hi)
  }

  val g8Sql: String = """
    SELECT date_trunc('hour', ts) AS window_start,
      CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY window_start"""

  /** g9: streaming top-k — the live "heaviest keys" dashboard query:
    * per-user event counts re-ranked every micro-batch, final table =
    * the top-10 users (ties to the lowest user_id). Sort + limit after
    * an aggregation is exactly what complete output mode licenses; the
    * per-batch state is the (bounded) aggregate table, and the sort runs
    * on the aggregate — corpus rows are never globally sorted.
    */
  def g9(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select($"event_id", $"user_id")
    def half(p: Int) = ev.filter($"event_id" % 2 === p).select($"user_id")
    StreamRunner.runFiles(s, Seq(half(0), half(1)),
        outputMode = "complete", cacheKey = Some(s"$dir#g9")) { df =>
      df.groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("n_events"))
        .orderBy(col("n_events").desc, col("user_id"))
        .limit(10)
    }
  }

  val g9Sql: String = """
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    ORDER BY n_events DESC, user_id LIMIT 10"""

  /** g10: STREAMING ingest dedup — the continuous form of batch d9 and
    * the steady-state 100 TB dedup deployment: the existing corpus's
    * MinHash band index and shingle sets are the persisted static side;
    * arriving document micro-batches flow through a foreachBatch sink
    * that band-joins the index, exact-Jaccard verifies, and appends each
    * new doc's best existing match. Per-batch cost ~ batch × band
    * occupancy — the corpus is never re-paired — and because batches are
    * independent, the union over all micro-batches equals the batch d9
    * result, which is exactly what the oracle checks.
    */
  def g10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.Dedup
    import graft.functions.Text
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val corpus = docs.filter($"doc_id" < Dedup.IncrSplit)
    val fresh = docs.filter($"doc_id" >= Dedup.IncrSplit)
    // the persisted index: band rows + shingle sets of the existing corpus
    val corpusBands = Dedup.bandRowsOf(corpus).toDF("a_id", "bi", "bh")
      .localCheckpoint(true)
    val corpusSh = corpus.withColumn("toks", Text.tokens($"text"))
      .select($"doc_id".as("a_id"),
        array_distinct(Text.shingles($"toks")).as("a_sh"))
      .localCheckpoint(true)
    // sink directory through the same shared-filesystem knob as the
    // staged feeder batches (executors write it, the driver reads it back)
    val out = StreamRunner.stagingRoot(s, "g10_")
    StreamRunner.runForeachFiles(s,
        Seq(fresh.filter($"doc_id" % 2 === 0),
          fresh.filter($"doc_id" % 2 === 1)),
        cacheKey = Some(s"$dir#g10")) { (batch, _) =>
        MaintTimer.timed { droppingBatchCheckpoints(s) {
      val bb = Dedup.bandRowsOf(batch).toDF("b_id", "bi", "bh")
      // eager: cand feeds the verify join AND the id restriction below
      val cand = corpusBands.join(bb, Seq("bi", "bh"))
        .select(col("a_id"), col("b_id")).distinct().localCheckpoint(true)
      // shingle sets ONLY for batch docs that banded into a candidate
      // pair (d9's discipline): the verify pays |candidates|, never a
      // second full tokenize+shingle pass over the batch — the round-11
      // G10Anatomy probe (since removed; recorded in SURVEY.md's round-11
      // status) measured that second pass at 9.9 s for 23 candidates, sf10
      val candIds = cand.select(col("b_id").as("doc_id")).distinct()
      val bsh = batch.join(graft.plans.Hints.maybeBroadcast(candIds), "doc_id")
        .withColumn("toks", Text.tokens(col("text")))
        .select(col("doc_id").as("b_id"),
          array_distinct(Text.shingles(col("toks"))).as("b_sh"))
      val scored = cand.join(corpusSh, "a_id").join(bsh, "b_id")
        .select(col("b_id").as("doc_id"), col("a_id").as("dup_of"),
          round(size(array_intersect(col("a_sh"), col("b_sh"))) * lit(1.0) /
            size(array_union(col("a_sh"), col("b_sh"))), 6).as("jaccard"))
        .filter(col("jaccard") >= Dedup.IncrJaccard)
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("jaccard").desc, col("dup_of"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .write.mode("append").parquet(out)
    } } }
    s.read.parquet(out)
  }

  /** Same result set as batch d9 — micro-batches partition the arriving
    * docs and each doc's match depends only on the static index.
    */
  val g10Sql: String = graft.operators.Dedup.d9Sql

  /** g11: streaming PQ ENCODE — the ingest half of the s6 index (the
    * s6↔g11 pairing mirrors d9↔g10): the codebook is learned once on the
    * static corpus ([[graft.operators.Similarity.pqTrain]]), then
    * arriving vectors are encoded STATELESSLY by the native codegen'd
    * argmin expression ([[graft.functions.PqEncode]], codebook baked in
    * as a codegen reference object), so the streaming plan is a pure
    * projection: no shuffle, no state store, per-batch cost exactly
    * batch-size × codebook-size. That is the steady-state 100 TB ingest
    * shape — new embeddings join the compressed index at wire speed
    * while the corpus-side scan keeps reading only 48-bit codes.
    *
    * Output = every vector's (m, cid) codes, byte-equal to the batch
    * assignment: the oracle replays the rank-based argmin
    * ([[graft.operators.Similarity.pqCodesSqlPrefix]]), so a hash match
    * also proves the native argmin loop ≡ the rank-based argmin.
    */
  def g11(s: SparkSession, dir: String): DataFrame = {
    val (e, cents) = graft.operators.Similarity.pqTrain(s, dir)
    g11Encode(s, e, cents, cacheKey = Some(s"$dir#g11"))
  }

  /** [[g11]]'s streaming encode against an already-learned codebook —
    * split out so the bench can time the steady-state encode without the
    * one-time Lloyd training in front of it.
    */
  private[graft] def g11Encode(s: SparkSession, e: DataFrame,
      cents: Array[Array[Array[Double]]],
      cacheKey: Option[String] = None): DataFrame = {
    import s.implicits._
    import graft.operators.Similarity
    StreamRunner.runFiles(s,
        Seq(e.filter($"vec_id" % 2 === 0), e.filter($"vec_id" % 2 === 1)),
        cacheKey = cacheKey) {
      df =>
        df.select(col("vec_id"),
          posexplode(Similarity.pqEncode(cents, col("emb"))))
          .toDF("vec_id", "m", "cid")
    }
  }

  val g11Sql: String = s"""${graft.operators.Similarity.pqCodesSqlPrefix}
    SELECT vec_id, CAST(m AS INTEGER) AS m, cid
    FROM pa${graft.operators.Similarity.PqIters}"""

  /** Hash-bucket count for [[g12]]'s maintained table layout. */
  private[graft] val UpsertBuckets = 16

  /** g12: STREAMING upsert — the continuous form of batch h6 and the
    * table-maintenance twin of the d9↔g10 / s6↔g11 pairings: the
    * maintained table lives as parquet hash-partitioned on
    * `o_orderkey % `[[UpsertBuckets]], and each arriving CDC micro-batch
    * (seq-1 inserts+updates, then seq-2 deletes) merges via foreachBatch —
    * read ONLY the partitions whose buckets the batch touches (a bounded
    * `isin` on the partition column → partition pruning; the touched
    * bucket ids are the only scalars that reach the driver), apply
    * [[graft.sources.Roundtrip.applyCdc]]'s broadcast merge, and rewrite
    * just those partitions with DYNAMIC partition overwrite. Per-batch
    * cost = batch size + touched-partition size — the steady-state shape
    * of a streaming MERGE at 100 TB, where a batch touching 0.1% of
    * buckets reads and rewrites 0.1% of the table. (A transactional table
    * format adds atomic commit and empty-partition replacement on top;
    * the merge plan underneath is exactly this one.) The final table must
    * equal batch h6's — sequential per-batch application ≡ last-op-wins.
    */
  def g12(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Roundtrip
    val bucketOf = pmod(col("o_orderkey"), lit(UpsertBuckets)).cast("int")
    val out = StreamRunner.stagingRoot(s, "g12_")
    Roundtrip.cdcBase(s, dir).withColumn("bucket", bucketOf)
      .write.mode("overwrite").partitionBy("bucket").parquet(out)
    val delta = Roundtrip.cdcDelta(s, dir)
    val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      StreamRunner.runForeachFiles(s,
          Seq(delta.filter(col("seq") === 1),
            delta.filter(col("seq") === 2)),
          cacheKey = Some(s"$dir#g12")) { (batch, _) =>
          MaintTimer.timed { droppingBatchCheckpoints(s) {
        val d = batch.localCheckpoint(true)
        val touched = d.select(bucketOf.as("bucket")).distinct()
          .collect().map(_.getInt(0)) // bounded: <= UpsertBuckets ids
        val cur = s.read.parquet(out)
          .filter(col("bucket").isin(touched.map(Integer.valueOf): _*))
        // materialize the merged partitions BEFORE the overwrite deletes
        // the files the plan would lazily re-read
        val merged = Roundtrip.applyCdc(cur.drop("bucket"), d)
          .withColumn("bucket", bucketOf).localCheckpoint(true)
        merged.write.mode("overwrite").partitionBy("bucket").parquet(out)
      } } }
    } finally prev match {
      case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    s.read.parquet(out)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
  }

  /** Sequential application of the seq-ordered CDC batches ≡ the batch
    * MERGE's last-op-per-key resolution, so the oracle is h6's.
    */
  val g12Sql: String = graft.sources.Roundtrip.h6Sql

  /** g13: STREAMING INGEST + PERIODIC COMPACTION — the lake-maintenance
    * loop behind `h7` (the h7↔g13 steady-state pairing, like d9↔g10,
    * h6↔g12, s6↔g11): a fragmenting micro-batch sink appends 8 small
    * files per trigger, and whenever the table's file count crosses
    * [[CompactThreshold]] the maintenance pass rewrites it into
    * size-targeted files (h7's bytes/row-derived policy). At 100 TB this
    * is the per-partition background job that keeps scan throughput from
    * collapsing under per-file open costs while ingest keeps appending.
    * Content must survive any interleaving of appends and rewrites — the
    * oracle is the full ingested table.
    */
  def g13(s: SparkSession, dir: String): DataFrame =
    g13Run(s, dir)._1

  private val CompactThreshold = 24

  /** The compacted-table re-read plus (total appended small files,
    * compaction passes run, final file count) for the spec.
    */
  private[graft] def g13Run(s: SparkSession, dir: String)
      : (DataFrame, (Int, Int, Int)) = {
    import s.implicits._
    import graft.sources.Roundtrip.{parquetFiles, compactionPlan}
    val out = StreamRunner.stagingRoot(s, "g13_")
    val tbl = s"$out/table"
    val ev = Tables.events(s, dir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    val batches = (0 until 8).map(i => ev.filter(pmod($"event_id", lit(8)) === i))
    var appended = 0
    var compactions = 0
    StreamRunner.runForeachFiles(s, batches,
        cacheKey = Some(s"$dir#g13")) { (batch, _) =>
      val before = parquetFiles(tbl).length
      batch.repartition(8).write.mode("append").parquet(tbl)
      // count what the append actually produced (empty shuffle
      // partitions write no file), not the requested partition count
      appended += parquetFiles(tbl).length - before
      if (parquetFiles(tbl).length >= CompactThreshold)
        MaintTimer.timed { droppingBatchCheckpoints(s) {
        // materialize BEFORE the overwrite deletes the files the lazy
        // plan would re-read (the g12 discipline)
        val all = s.read.parquet(tbl).localCheckpoint(true)
        val bytes = parquetFiles(tbl).map(_.length).sum
        val (rowsPerFile, nOut) = compactionPlan(all.count(), bytes)
        graft.sources.Roundtrip.compactionLayout(all, nOut)
          .write.mode("overwrite")
          .option("maxRecordsPerFile", rowsPerFile).parquet(tbl)
        compactions += 1
      } }
    }
    val nFinal = parquetFiles(tbl).length
    // materialize the final table so the staged copy can be deleted
    val result = s.read.parquet(tbl).localCheckpoint(true)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(out))
    (result, (appended, compactions, nFinal))
  }

  val g13Sql: String =
    "SELECT event_id, user_id, event_type, value FROM events"

  /** g14: STREAMING INCREMENTAL VIEW MAINTENANCE — the continuous h9
    * (the h9↔g14 steady-state pairing, closing the maintenance set
    * d9↔g10, h6↔g12, s6↔g11, h7↔g13): the per-status (count,
    * exact-decimal total) view partials update per CDC micro-batch from
    * signed adjustment rows, while the base table itself is maintained
    * alongside in g12's hash-partitioned layout (bucket =
    * orderkey mod [[UpsertBuckets]], dynamic partition overwrite) so
    * later batches retract CURRENT values, not stale ones. The driver
    * holds only the view partials — bounded by the group domain (here 4
    * statuses; the codebook discipline), exact java BigDecimal
    * arithmetic, rounded once at the end. Per-batch cost = |delta| + the
    * TOUCHED base partitions only (both the retract join's scan and the
    * merge rewrite prune to the batch's buckets — at 100 TB a batch
    * touching 0.1% of buckets reads and rewrites 0.1% of the base); the
    * view is NEVER recomputed from the base — yet the oracle IS the full
    * recompute over the h6-merged table, and the hash must match.
    */
  def g14(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Roundtrip
    import java.math.BigDecimal
    val out = StreamRunner.stagingRoot(s, "g14_")
    val tbl = s"$out/table"
    val bucketOf = pmod(col("o_orderkey"), lit(UpsertBuckets)).cast("int")
    Roundtrip.cdcBase(s, dir).withColumn("bucket", bucketOf)
      .write.mode("overwrite").partitionBy("bucket").parquet(tbl)
    val dec = org.apache.spark.sql.types.DecimalType(30, 10)
    // view partials: status -> (count, exact decimal total)
    val view = scala.collection.mutable.HashMap.empty[String, (Long, BigDecimal)]
    s.read.parquet(tbl).groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("c"), sum(col("o_totalprice").cast(dec)).as("t"))
      .collect().foreach { r =>
        view(r.getString(0)) = (r.getLong(1), r.getDecimal(2))
      }
    val delta = Roundtrip.cdcDelta(s, dir)
    val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      StreamRunner.runForeachFiles(s,
          Seq(delta.filter(col("seq") === 1),
            delta.filter(col("seq") === 2)),
          cacheKey = Some(s"$dir#g14")) { (batch, _) =>
          MaintTimer.timed { droppingBatchCheckpoints(s) {
        val d = batch.localCheckpoint(true)
        val touched = d.select(bucketOf.as("bucket")).distinct()
          .collect().map(_.getInt(0)) // bounded: <= UpsertBuckets ids
        // every key in d lives in a touched bucket, so pruning the base
        // scan to them preserves both the retract join and the merge
        val cur = s.read.parquet(tbl)
          .filter(col("bucket").isin(touched.map(Integer.valueOf): _*))
        val additions = d.filter(col("op").isin("I", "U"))
          .select(col("o_orderstatus"), lit(1L).as("dc"),
            col("o_totalprice").cast(dec).as("dv"))
        val retract = cur
          .join(broadcast(d.filter(col("op").isin("U", "D"))
            .select(col("o_orderkey"))), Seq("o_orderkey"))
          .select(col("o_orderstatus"), lit(-1L).as("dc"),
            (-col("o_totalprice")).cast(dec).as("dv"))
        additions.unionByName(retract)
          .groupBy(col("o_orderstatus"))
          .agg(sum(col("dc")).as("dc"), sum(col("dv")).as("dv"))
          .collect().foreach { r => // bounded: <= |status domain| rows
            val (c0, t0) = view.getOrElse(r.getString(0), (0L, BigDecimal.ZERO))
            view(r.getString(0)) = (c0 + r.getLong(1), t0.add(r.getDecimal(2)))
          }
        // maintain the base so the NEXT batch retracts current values —
        // materialize the merged partitions BEFORE the dynamic overwrite
        // deletes the files the lazy plan would re-read (g12 discipline)
        val merged = Roundtrip.applyCdc(cur.drop("bucket"), d)
          .withColumn("bucket", bucketOf).localCheckpoint(true)
        merged.write.mode("overwrite").partitionBy("bucket").parquet(tbl)
      } } }
    } finally prev match {
      case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    import s.implicits._
    val rows = view.toSeq.collect { case (st, (c, t)) if c > 0 =>
      (st, c, t.setScale(2, java.math.RoundingMode.HALF_UP).doubleValue())
    }
    val result = rows.toDF("o_orderstatus", "n_orders", "total")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(out))
    result
  }

  /** Sequential per-batch view updates ≡ the batch refresh ≡ the full
    * recompute — the oracle is h9's.
    */
  val g14Sql: String = graft.sources.Roundtrip.h9Sql

  /** g15: STREAMING ANN QUERY SERVING — the online half of the s7
    * pairing (index persists once; queries arrive forever): a stream of
    * query-vector micro-batches served against the STATIC built PQ index
    * (codebook + code table). Per batch: collect the batch's bounded
    * query set (≤ [[graft.operators.Similarity.NumQueries]] — the s3
    * codebook discipline), build its integer ADC lookup table, scan the
    * code table once, exact-re-rank the shortlist — i.e. exactly the
    * deployed per-query-batch cost, with zero index work per batch. The
    * index is never touched by the stream, so at 100 TB this is
    * (batch queries × code-table scan), the serving shape of an ANN
    * endpoint. Queries are independent, so the batched union must equal
    * the one-shot s6 run — the oracle IS s6's.
    */
  def g15(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val (e, codes, cents) = Similarity.pqIndex(s, dir)
    val qs = e.filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id"), col("emb"))
    val out = StreamRunner.stagingRoot(s, "g15_")
    val resDir = s"$out/results"
    StreamRunner.runForeachFiles(s,
        Seq(qs.filter(col("vec_id") % 2 === 0),
          qs.filter(col("vec_id") % 2 === 1)),
        cacheKey = Some(s"$dir#g15")) { (batch, _) =>
      // op vs sim split: the serve body (collect the bounded query set,
      // LUT + ADC scan + re-rank, result write) is the deployed
      // per-query-batch cost; index build + staging stay outside
      MaintTimer.timed {
        val queries = batch.collect() // bounded: <= NumQueries rows
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        if (queries.nonEmpty)
          Similarity.s6QueryFor(s, e, codes, cents, queries)
            .write.mode("append").parquet(resDir)
      }
    }
    val res = s.read.parquet(resDir).localCheckpoint(true)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(out))
    res
  }

  val g15Sql: String = graft.operators.Similarity.oracles("s6_pq_ann")

  /** g16: STREAMING QUALITY GATE — the continuous form of t14's composite
    * KEEP/DROP filter (the t14↔g16 pairing joins d9↔g10, s6↔g11, h6↔g12,
    * h7↔g13, h9↔g14, s7↔g15): the corpus-statistical signal tables (token
    * and bigram frequencies, `TextOps.gateStats`) are learned ONCE on the
    * static corpus — the g11-codebook discipline — then each arriving doc
    * micro-batch scores STATELESSLY against them (`TextOps.gateScore`:
    * two broadcast-joinable frequency lookups + per-row kernels, no
    * streaming state). That is the 100 TB ingest-filter shape: per-batch
    * cost = batch × (lookup joins), the corpus never rescanned. The
    * batched union replays the corpus, so the result is bitwise t14's —
    * the oracle IS t14's.
    */
  def g16(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.TextOps
    val docs = Tables.documents(s, dir)
    val (tokFreq, bgFreq) = TextOps.gateStats(docs)
    val out = StreamRunner.stagingRoot(s, "g16_")
    StreamRunner.runForeachFiles(s,
        Seq(docs.filter($"doc_id" % 2 === 0),
          docs.filter($"doc_id" % 2 === 1)),
        cacheKey = Some(s"$dir#g16")) { (batch, _) =>
      // op vs sim split: the stateless per-batch score+write is the
      // steady-state gate cost; gateStats learning + staging are sim
      MaintTimer.timed {
        TextOps.gateScore(batch, tokFreq, bgFreq)
          .write.mode("append").parquet(out)
      }
    }
    val res = s.read.parquet(out).localCheckpoint(true)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(out))
    res
  }

  val g16Sql: String = graft.operators.TextOps.oracles("t14_quality_gate")

  /** K for [[g17]]'s per-group streaming KMV state. */
  val StreamKmvK = 256

  final case class KmvEvent(etype: String, h: Long)
  final case class KmvState(hs: Array[Long])
  final case class KmvEmit(event_type: String, n: Long, kth: Option[Long])

  /** g17: STREAMING DISTINCT-COUNT SKETCH — continuous per-event-type
    * approximate user counts with BOUNDED state (the q23↔g17 sketch
    * pairing, the way g16 pairs t14): each group's
    * `flatMapGroupsWithState` state is the K smallest distinct 32-bit
    * md5 prefixes seen so far — O(K) longs per group FOREVER, where
    * g8's exact streaming distinct holds per-user rows. The K-min set
    * is an order-independent, idempotent-merge function of the value
    * set, so the micro-batch arrival order is irrelevant and the final
    * state equals the batch [[graft.functions.KmvAgg]] over the whole
    * stream — which is what the spec asserts and the oracle (a
    * q23-style distinct + row_number replay at K=256) hash-checks. The
    * estimate arithmetic stays OUTSIDE the state function, in the same
    * Spark column expressions q23 uses, so both engines' one IEEE
    * division see identical operands. A per-group sentinel batch
    * triggers the single final emission (g2's close-out discipline).
    */
  def g17(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = StreamKmvK
    val ev = Tables.events(s, dir).select($"event_type".as("etype"),
      conv(substring(md5($"user_id".cast("string")), 1, 8), 16, 10)
        .cast("long").as("h"))
    val sentinels = ev.select($"etype").distinct()
      .select($"etype", lit(-1L).as("h"))
    val emitted = StreamRunner.runFiles(s,
        Seq(ev.filter($"h" % 2 === 0), ev.filter($"h" % 2 === 1),
          sentinels), cacheKey = Some(s"$dir#g17")) { df =>
      df.as[KmvEvent].groupByKey(_.etype)
        .flatMapGroupsWithState[KmvState, KmvEmit](
          OutputMode.Append, GroupStateTimeout.NoTimeout) { (etype, it, gs) =>
          val set = new java.util.TreeSet[java.lang.Long]()
          gs.getOption.foreach(_.hs.foreach(set.add(_)))
          var fin = false
          it.foreach { e =>
            if (e.h < 0) fin = true
            else if (set.size < k) set.add(e.h)
            else if (e.h < set.last()) {
              if (set.add(e.h)) { set.remove(set.last()); () }
            }
          }
          val hs = new Array[Long](set.size)
          val iter = set.iterator()
          var i = 0
          while (iter.hasNext) { hs(i) = iter.next(); i += 1 }
          gs.update(KmvState(hs))
          if (fin)
            Iterator.single(KmvEmit(etype, hs.length.toLong,
              if (hs.length == k) Some(hs.last) else None))
          else Iterator.empty
        }.toDF()
    }
    emitted.select(col("event_type"),
      round(when(col("kth").isNull || col("kth") === 0L,
        col("n").cast("double"))
        .otherwise(lit((k - 1).toDouble * 4294967296.0) /
          col("kth").cast("double")), 4).as("approx_users"))
  }

  val g17Sql: String = s"""
    WITH d AS (SELECT DISTINCT event_type,
        CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))::UBIGINT
             AS BIGINT) AS h
      FROM events),
    r AS (SELECT event_type, h,
        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM d),
    nd AS (SELECT event_type, count(*) AS n FROM d GROUP BY 1),
    kth AS (SELECT event_type, h AS kh FROM r WHERE rn = $StreamKmvK)
    SELECT nd.event_type,
      round(CASE WHEN kth.kh IS NULL OR kth.kh = 0
        THEN CAST(nd.n AS DOUBLE)
        ELSE (${(StreamKmvK - 1).toDouble} * 4294967296.0)
             / CAST(kth.kh AS DOUBLE)
        END, 4) AS approx_users
    FROM nd LEFT JOIN kth USING (event_type)"""

  /** K for [[g18]]'s streaming quantile sketch (shared with q59's batch
    * form). */
  val StreamQSketchK = graft.operators.Relational.QSketchK

  final case class QskEvent(etype: String, hv: Long, v: Long, c: Long)
  final case class QskState(hv: Array[Long], v: Array[Long], c: Array[Long])
  final case class QskEmit(event_type: String, v: Long, c: Long)

  /** g18: STREAMING QUANTILE SKETCH — continuous per-event-type p50/p95
    * of `value` with BOUNDED state (the q59↔g18 sketch pairing, closing
    * the streaming-sketch set q23↔g17 opened): each group's
    * `flatMapGroupsWithState` state is q59's mergeable distinct-value
    * sample — the K smallest `(hash, gridValue)` pairs with EXACT
    * per-value counts, O(K) triples per group FOREVER regardless of
    * stream length. Because a value in the final K-min set can never
    * have been evicted (fewer than K smaller hashes exist globally, so
    * in every prefix), its count accumulates exactly across
    * micro-batches and the final state equals the batch
    * [[graft.functions.QuantileSketchAgg]] over the whole stream (the
    * spec's assertion); the DuckDB oracle replays the sample with
    * `row_number() OVER (ORDER BY hv, v) <= K` and the same integer
    * rank walk, so the streaming op carries a full hash gate. Values
    * ride a 1e-4 grid (`round(value*10000)`) so both engines hash and
    * order identical longs; the one division `/10000.0` happens outside
    * the state function.
    *
    * Scale shape (round-10 verdict item 1): each staged micro-batch is
    * MAP-SIDE COMBINED before it ever reaches the typed state path —
    * the feeder carries `(etype, hv, v, c)` count DELTAS (one groupBy
    * per batch), not raw events, so the per-row object churn through
    * `flatMapGroupsWithState` is bounded by the batch's distinct grid
    * values rather than its row count, and the md5 grid hash is
    * computed once per distinct value. Folding deltas commutes with the
    * K-min-by-hash selection (membership depends only on `hv`, which is
    * value-determined), so the streamed result is bit-identical to the
    * unaggregated feed. The per-group close-out sentinel rides IN the
    * final data batch (state is fully folded before emission, so
    * in-batch order is irrelevant) — two micro-batches total, not
    * three. The quantile selection over the ≤K emitted rows is q59's
    * column algebra.
    */
  def g18(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = StreamQSketchK
    val grid = expr("CAST(round(value * 10000) AS BIGINT)")
    // one shuffle of the events scan, materialized once so the two
    // feeder writes and the sentinel domain don't re-run the groupBy
    val agg = Tables.events(s, dir).filter($"value".isNotNull)
      .groupBy($"event_type".as("etype"), grid.as("v")).count()
      .select($"etype",
        conv(substring(md5(concat(lit("g18"), $"v".cast("string"))), 1, 8),
          16, 10).cast("long").as("hv"),
        $"v", $"count".as("c"))
      .localCheckpoint()
    val sentinels = agg.select($"etype").distinct()
      .select($"etype", lit(-1L).as("hv"), lit(0L).as("v"), lit(0L).as("c"))
    val ordKey = (hv: Long, v: Long) => (hv, v)
    val emitted = StreamRunner.runFiles(s,
        Seq(agg.filter($"v" % 2 === 0),
          agg.filter($"v" % 2 =!= 0).unionByName(sentinels)),
        cacheKey = Some(s"$dir#g18")) { df =>
      df.as[QskEvent].groupByKey(_.etype)
        .flatMapGroupsWithState[QskState, QskEmit](
          OutputMode.Append, GroupStateTimeout.NoTimeout) { (etype, it, gs) =>
          val ord = Ordering.Tuple2[Long, Long]
          val m = new java.util.TreeMap[(Long, Long), Long](ord)
          gs.getOption.foreach { st =>
            var i = 0
            while (i < st.hv.length) {
              m.put(ordKey(st.hv(i), st.v(i)), st.c(i)); i += 1
            }
          }
          var fin = false
          it.foreach { e =>
            if (e.hv < 0) fin = true
            else {
              val key = ordKey(e.hv, e.v)
              if (m.containsKey(key)) { m.put(key, m.get(key) + e.c); () }
              else if (m.size < k) { m.put(key, e.c); () }
              else if (ord.compare(key, m.lastKey()) < 0) {
                m.put(key, e.c); m.remove(m.lastKey()); ()
              }
            }
          }
          val n = m.size
          val hs = new Array[Long](n); val vs = new Array[Long](n)
          val cs = new Array[Long](n)
          val iter = m.entrySet().iterator()
          var i = 0
          while (iter.hasNext) {
            val e = iter.next()
            hs(i) = e.getKey._1; vs(i) = e.getKey._2; cs(i) = e.getValue
            i += 1
          }
          gs.update(QskState(hs, vs, cs))
          if (fin) (0 until n).iterator.map(j => QskEmit(etype, vs(j), cs(j)))
          else Iterator.empty
        }.toDF()
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"v")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    emitted
      .withColumn("cum", sum($"c").over(w))
      .withColumn("n", sum($"c").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"event_type")))
      .groupBy($"event_type")
      .agg((min(when($"cum" * 2 >= $"n", $"v")) / 10000.0).as("p50_est"),
        (min(when($"cum" * 20 >= $"n" * 19, $"v")) / 10000.0).as("p95_est"))
  }

  val g18Sql: String = s"""
    WITH vals AS (
      SELECT event_type, CAST(round(value * 10000) AS BIGINT) AS v,
        count(*) AS c
      FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
    h AS (
      SELECT event_type, v, c,
        CAST(('0x' || substring(md5('g18' || CAST(v AS VARCHAR)), 1, 8))::UBIGINT
             AS BIGINT) AS hv
      FROM vals),
    r AS (
      SELECT event_type, v, c,
        row_number() OVER (PARTITION BY event_type ORDER BY hv, v) AS rn
      FROM h),
    cum AS (
      SELECT event_type, v, c,
        sum(c) OVER (PARTITION BY event_type ORDER BY v) AS cum,
        sum(c) OVER (PARTITION BY event_type) AS n
      FROM r WHERE rn <= $StreamQSketchK)
    SELECT event_type,
      CAST(min(CASE WHEN cum * 2 >= n THEN v END) AS DOUBLE) / 10000.0
        AS p50_est,
      CAST(min(CASE WHEN cum * 20 >= n * 19 THEN v END) AS DOUBLE) / 10000.0
        AS p95_est
    FROM cum GROUP BY 1"""

  /** g19: STREAMING IVF-PQ QUERY SERVING — the online half of the s9
    * pairing (s9↔g19 mirrors s7↔g15, closing the deployment loop the
    * round-11 verdict asked for: index persists once, queries arrive
    * forever): the s8 composite index is built, PERSISTED, and reloaded
    * COLD ([[graft.operators.Similarity.s9Reload]] — the serving session
    * never sees the trainers), then a stream of query-vector
    * micro-batches is served against it. Per batch: collect the bounded
    * query set, pick each query's nprobe cells, build its per-(query,
    * cell) LUTs, scan ONLY the probed cells of the stored code table,
    * exact-re-rank — i.e. the deployed per-query-batch cost of an IVF-PQ
    * endpoint, zero index work per batch. Queries are independent, so
    * the batched union must equal the one-shot s8 run — the oracle IS
    * s8's.
    */
  def g19(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val (e, idxDir) = Similarity.s9Persist(s, dir)
    val (coarse, codes, cents) = Similarity.s9Reload(s, idxDir)
    Similarity.rmTree(idxDir)
    val qs = e.filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id"), col("emb"))
    val out = StreamRunner.stagingRoot(s, "g19_")
    val resDir = s"$out/results"
    StreamRunner.runForeachFiles(s,
        Seq(qs.filter(col("vec_id") % 2 === 0),
          qs.filter(col("vec_id") % 2 === 1)),
        cacheKey = Some(s"$dir#g19")) { (batch, _) =>
      // op vs sim split: the serve body is the steady-state cost; the
      // build/persist/reload and query staging stay outside
      MaintTimer.timed {
        val queries = batch.collect() // bounded: <= NumQueries rows
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        if (queries.nonEmpty)
          Similarity.s8QueryFor(s, e, coarse, codes, cents, queries)
            .write.mode("append").parquet(resDir)
      }
    }
    val res = s.read.parquet(resDir).localCheckpoint(true)
    Similarity.rmTree(out)
    res
  }

  val g19Sql: String = graft.operators.Similarity.oracles("s8_ivfpq_ann")

  val queries: Map[String, Q] = Map(
    "g19_stream_ivfpq_serve" -> g19,
    "g18_stream_quantile" -> g18,
    "g17_stream_kmv_distinct" -> g17,
    "g16_stream_quality_gate" -> g16,
    "g15_stream_ann_serve" -> g15,
    "g14_stream_view_refresh" -> g14,
    "g13_stream_compaction" -> g13,
    "g9_stream_topk" -> g9, "g10_stream_ingest_dedup" -> g10,
    "g11_stream_pq_encode" -> g11, "g12_stream_upsert" -> g12,
    "g1_stream_dedup" -> g1, "g2_stream_sessionize" -> g2,
    "g3_stream_interval_join" -> g3, "g4_stream_static_join" -> g4,
    "g5_stream_session_window" -> g5, "g6_stream_complete_agg" -> g6,
    "g7_stream_outer_interval_join" -> g7, "g8_stream_distinct_users" -> g8)

  val oracles: Map[String, String] = Map(
    "g19_stream_ivfpq_serve" -> g19Sql,
    "g18_stream_quantile" -> g18Sql,
    "g17_stream_kmv_distinct" -> g17Sql,
    "g16_stream_quality_gate" -> g16Sql,
    "g15_stream_ann_serve" -> g15Sql,
    "g14_stream_view_refresh" -> g14Sql,
    "g13_stream_compaction" -> g13Sql,
    "g9_stream_topk" -> g9Sql, "g10_stream_ingest_dedup" -> g10Sql,
    "g11_stream_pq_encode" -> g11Sql, "g12_stream_upsert" -> g12Sql,
    "g1_stream_dedup" -> g1Sql, "g2_stream_sessionize" -> g2Sql,
    "g3_stream_interval_join" -> g3Sql, "g4_stream_static_join" -> g4Sql,
    "g5_stream_session_window" -> g5Sql, "g6_stream_complete_agg" -> g6Sql,
    "g7_stream_outer_interval_join" -> g7Sql,
    "g8_stream_distinct_users" -> g8Sql)
}
