package graft.sources

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Source/sink round trips (SURVEY §2 H): prove the csv/json codecs
  * preserve the relational tables exactly (the gate compares the re-read
  * data against the parquet original).
  */
object Roundtrip {
  private type Q = (SparkSession, String) => DataFrame

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** h1: nation → csv (header) → read with explicit schema. */
  def h1(s: SparkSession, dir: String): DataFrame = {
    val out = tmp("graft_csv_")
    Tables.nation(s, dir).write.mode("overwrite")
      .option("header", "true").csv(out)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    s.read.option("header", "true").schema(schema).csv(out)
  }

  val h1Sql: String = "SELECT n_nationkey, n_name, n_regionkey FROM nation"

  /** h2: region → json lines → read with explicit schema. */
  def h2(s: SparkSession, dir: String): DataFrame = {
    val out = tmp("graft_json_")
    Tables.region(s, dir).write.mode("overwrite").json(out)
    val schema = StructType(Seq(
      StructField("r_regionkey", IntegerType),
      StructField("r_name", StringType)))
    s.read.schema(schema).json(out)
  }

  val h2Sql: String = "SELECT r_regionkey, r_name FROM region"

  /** h3: supplier → ORC → read back (schema from the ORC footer; the
    * oracle compares against the parquet original, so the round trip must
    * be lossless including doubles).
    */
  def h3(s: SparkSession, dir: String): DataFrame = {
    val out = tmp("graft_orc_")
    Tables.supplier(s, dir).write.mode("overwrite").orc(out)
    s.read.orc(out)
  }

  val h3Sql: String = "SELECT * FROM supplier"

  /** h4: PARTITIONED parquet write + partition-pruned read as a gate
    * query (previously spec-only): events land in one directory per
    * event_type, and the re-read filters on the partition column — the
    * scan lists only the matching directory (partition pruning, the
    * mechanism that turns a 100 TB table into a 2 TB read when the
    * predicate hits the layout).
    */
  def h4(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val out = tmp("graft_part_")
    Tables.events(s, dir).write.mode("overwrite")
      .partitionBy("event_type").parquet(out)
    s.read.parquet(out)
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "event_type", "value")
  }

  val h4Sql: String = """
    SELECT event_id, user_id, event_type, value
    FROM events WHERE event_type = 'purchase'"""

  /** h5: BUCKETED write + co-located sort-merge join as a gate query
    * (previously spec-only): orders and lineitem are bucketed+sorted on
    * the join key, so the SMJ reads both sides pre-partitioned and
    * pre-sorted — no join-key exchange (the shape PlanSpec/ScaleSpec
    * asserts); only the small post-join aggregate shuffles.
    */
  def h5(s: SparkSession, dir: String): DataFrame = {
    // the bucketed table copies are h5's INPUT layout (bucketing is an
    // ingest-time investment amortized over every co-located join — the
    // docs/Q5BUCKET_r13.md story): the SHARED per-dir [[Bucketed]] layout, the
    // same one q60's fact join resolves, dropped by [[Bucketed.clear]];
    // the timed op is the exchange-free SMJ itself. h5WithCleanup stays
    // the uncached per-invocation form for the plan-shape specs.
    // Build a fresh join plan per call: a cached Dataset's first
    // localCheckpoint pins its one lazy RDD, so re-checkpointing the
    // same frame would return the cached blocks and time nothing — the
    // SMJ must actually re-run per invocation.
    val (to, tl) = Bucketed.factTables(s, dir)
    val join = h5Join(s, to, tl)
    graft.plans.Materialize.tapForAudit(join)
    join.localCheckpoint(true)
  }

  /** The lazy bucketed-join plan plus its cleanup action — split out so
    * the plan-shape spec can assert the exchange-free SMJ before the
    * bucketed tables are dropped. Table names are per-invocation unique:
    * two sessions sharing a metastore (or a gate run concurrent with a
    * test run) must not race on DROP/saveAsTable.
    */
  def h5WithCleanup(s: SparkSession, dir: String): (DataFrame, () => Unit) = {
    val (to, tl, cleanup) = Bucketed.setup(s, dir)
    (h5Join(s, to, tl), cleanup)
  }

  /** The exchange-free SMJ + aggregate over the bucketed tables. */
  private def h5Join(s: SparkSession, to: String, tl: String): DataFrame = {
    import org.apache.spark.sql.functions._
    s.table(tl).hint("merge")
      .join(s.table(to), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).cast("long").as("n_items"),
        graft.Portable.dsum(col("l_quantity"), 2).as("total_qty"))
  }

  val h5Sql: String = s"""
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_items,
      ${graft.Portable.dsumSql("l_quantity")} AS total_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus"""

  /** The CDC workload shared by [[h6]] and its streaming twin
    * (`StreamOps.g12`): the maintained table is orders minus the
    * soon-to-arrive inserts, and the change log carries three op classes
    * over modular key sets — inserts (`I`, keys ≡ 0 mod 10, genuinely new
    * by construction, the contract a database CDC feed provides), updates
    * (`U`, keys ≡ 0 mod 7 already in the table: repriced +100 and
    * restatused), and later deletes (`D`, keys ≡ 0 mod 9, seq 2 — so a
    * key inserted or updated then deleted must end absent).
    */
  private[graft] def cdcBase(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    Tables.orders(s, dir).filter(col("o_orderkey") % 10 =!= 0)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
  }

  private[graft] def cdcDelta(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val o = Tables.orders(s, dir)
    val ins = o.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"), lit("I").as("op"), lit(1).as("seq"))
    val upd = o.filter(col("o_orderkey") % 7 === 0 && col("o_orderkey") % 10 =!= 0)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") + 100.0).as("o_totalprice"),
        lit("X").as("o_orderstatus"), lit("U").as("op"), lit(1).as("seq"))
    val del = o.filter(col("o_orderkey") % 9 === 0)
      .select(col("o_orderkey"), lit(null).cast("long").as("o_custkey"),
        lit(null).cast("double").as("o_totalprice"),
        lit(null).cast("string").as("o_orderstatus"),
        lit("D").as("op"), lit(2).as("seq"))
    ins.unionByName(upd).unionByName(del)
  }

  /** Apply one key-resolved CDC batch (at most one op per key) to the
    * current table: `D` drops the row, `U` replaces its values, `I`
    * appends a new key. The delta is BROADCAST into both the outer join
    * and the append — the maintained table itself never shuffles, which
    * is the whole point of MERGE at 100 TB (the big side is touched once,
    * in place of partitioning).
    */
  private[graft] def applyCdc(cur: DataFrame, delta: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val d = broadcast(delta.select(col("o_orderkey"),
      col("o_custkey").as("d_custkey"),
      col("o_totalprice").as("d_totalprice"),
      col("o_orderstatus").as("d_orderstatus"), col("op")))
    val existing = cur.join(d, Seq("o_orderkey"), "left_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("o_orderkey"),
        when(col("op") === "U", col("d_custkey"))
          .otherwise(col("o_custkey")).as("o_custkey"),
        when(col("op") === "U", col("d_totalprice"))
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        when(col("op") === "U", col("d_orderstatus"))
          .otherwise(col("o_orderstatus")).as("o_orderstatus"))
    existing.unionByName(delta.filter(col("op") === "I")
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"))
  }

  /** h6: MERGE / upsert table maintenance — the incremental-maintenance
    * op every warehouse pipeline runs between full rebuilds: a CDC change
    * log (inserts / updates / deletes with sequence numbers) merges into
    * the maintained table with last-op-per-key-wins semantics. The
    * last-op resolution windows over the (small) change log only; the
    * merge itself is [[applyCdc]]'s broadcast shape, so the maintained
    * table is read once and never shuffled.
    */
  def h6(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_orderkey")).orderBy(col("seq").desc)
    val latest = cdcDelta(s, dir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    applyCdc(cdcBase(s, dir), latest)
  }

  val h6Sql: String = """
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 10 <> 0),
    delta AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
        'I' AS op, 1 AS seq FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, o_totalprice + 100.0, 'X', 'U', 1
      FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 10 <> 0
      UNION ALL
      SELECT o_orderkey, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
        CAST(NULL AS VARCHAR), 'D', 2 FROM orders WHERE o_orderkey % 9 = 0),
    latest AS (SELECT * FROM (
      SELECT *, row_number() OVER (PARTITION BY o_orderkey
        ORDER BY seq DESC) AS rn FROM delta) z WHERE rn = 1)
    SELECT b.o_orderkey,
      CASE WHEN l.op = 'U' THEN l.o_custkey ELSE b.o_custkey END AS o_custkey,
      CASE WHEN l.op = 'U' THEN l.o_totalprice ELSE b.o_totalprice END
        AS o_totalprice,
      CASE WHEN l.op = 'U' THEN l.o_orderstatus ELSE b.o_orderstatus END
        AS o_orderstatus
    FROM base b LEFT JOIN latest l USING (o_orderkey)
    WHERE l.op IS NULL OR l.op <> 'D'
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM latest WHERE op = 'I'"""

  /** h7: SMALL-FILE COMPACTION — the table-maintenance job every
    * streaming-ingest lake needs: micro-batch sinks leave thousands of
    * KB-sized files per partition, and scan throughput collapses under
    * per-file open/footer costs. The job rewrites a fragmented copy of
    * lineitem (64 shards) into ~`targetFileBytes`-sized files
    * (`maxRecordsPerFile` derived from measured bytes/row, so the policy
    * is size-based, not a magic row count) and re-reads the compacted
    * layout. At 100 TB this runs per-partition as independent rewrites —
    * here the whole table is one "partition". Content must round-trip
    * exactly: the oracle is the source table itself; [[h7FileCounts]]
    * gives the spec the before/after file counts.
    */
  def h7(s: SparkSession, dir: String): DataFrame =
    h7Compact(s, dir)._1

  /** The parquet data files of a directory layout (shared by h7 and
    * `StreamOps.g13`'s compaction accounting).
    */
  private[graft] def parquetFiles(p: String): Array[java.io.File] =
    Option(new java.io.File(p).listFiles())
      .map(_.filter(_.getName.endsWith(".parquet")))
      .getOrElse(Array.empty)

  /** The ONE size-based compaction policy (h7 batch + g13 streaming run
    * the same rule, as g13's scaladoc promises): rows per output file =
    * target bytes / measured bytes-per-row of the current layout, and the
    * output file count follows. Returns (rowsPerFile, nOut).
    */
  private[graft] def compactionPlan(rows: Long, layoutBytes: Long,
      targetFileBytes: Long = 8L << 20): (Long, Int) = {
    val rowsPerFile =
      math.max(1L, rows * targetFileBytes / math.max(1L, layoutBytes))
    (rowsPerFile, math.max(1, math.ceil(rows.toDouble / rowsPerFile).toInt))
  }

  /** Shape a frame for the compacted write WITHOUT a shuffle: merging
    * small files narrows with coalesce (no exchange), and when the
    * target file count exceeds the input partitions the writer's
    * `maxRecordsPerFile` cuts files per task — either way the full-table
    * `repartition(nOut)` the op used to pay is gone. That shuffle was
    * pure waste for a job whose whole point is file-layout hygiene, and
    * at sf100 it was fatal: ~50 GB of spilled rows for an 8 GB table
    * filled the disk (ENOSPC, round-14 sweep). At 100 TB compaction must
    * be per-partition-local rewrites, which this now is.
    */
  private[graft] def compactionLayout(df: DataFrame, nOut: Int): DataFrame =
    if (nOut < df.rdd.getNumPartitions) df.coalesce(nOut) else df

  private def rmTree(p: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(new java.io.File(p))
  }

  /** The 64-file fragmented lineitem copy h7 compacts, cached per SF dir
    * for the bench/gate process: the copy is the op's INPUT (a
    * fragmented table is the precondition compaction exists to fix),
    * and rewriting ~the whole table per invocation made h7's bench
    * number mostly staging I/O — the staged-stream-feed lesson
    * (StreamRunner.stageBatchesCached, round 13) applied to the one
    * batch op that stages a full table copy. Cleared by
    * [[clearFragmentedCache]] alongside the streaming feeds.
    */
  private val fragmentedCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Race-safe cached staging dir: putIfAbsent decides the winner and
    * the loser deletes its own copy (getOrElseUpdate is not atomic for a
    * side-effecting build — same discipline as Bucketed.factTables;
    * r14 advice).
    */
  private def cachedStaging(key: String)(build: => String): String =
    fragmentedCache.get(key).getOrElse {
      val fresh = build
      fragmentedCache.putIfAbsent(key, fresh) match {
        case Some(winner) => try rmTree(fresh) catch {
          case _: Throwable => ()
        }; winner
        case None => fresh
      }
    }

  // Verify/Bench clear explicitly at end-of-run; the hook covers every
  // other process that touches h5/h7 (spec JVMs, ad-hoc probes), which
  // otherwise exits without dropping the cached table copies
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try clearFragmentedCache() catch { case _: Throwable => () }))

  /** Delete every cached staged layout — h7's fragmented copies and the
    * shared bucketed fact tables (bench/gate end-of-run hygiene).
    */
  def clearFragmentedCache(): Unit = {
    fragmentedCache.values.foreach(p =>
      try rmTree(p) catch { case _: Throwable => () })
    fragmentedCache.clear()
    h7Generations.clear() // their parents just went with fragmentedCache
    Bucketed.clear()
  }

  /** Generation dirs written by [[h7Compact]], newest first, per cache
    * key: after a new generation's files land, every generation but the
    * newest TWO is deleted (r15 advice — unbounded growth re-opened the
    * ENOSPC class the round-14 fix closed: a REPS≥3 sf100 bench loop
    * stacked one full compacted lineitem copy per rep). Two survivors
    * keep the r14 contract for the common case — the handle returned by
    * the PREVIOUS invocation stays readable through the next one (the
    * bench's compare-and-rerun pattern); only a handle held across ≥2
    * later invocations goes stale, which nothing in the repo does.
    */
  private val h7Generations =
    scala.collection.concurrent.TrieMap.empty[String, List[String]]

  private def retireOldGenerations(key: String, fresh: String): Unit = {
    val gens = h7Generations.updateWith(key) {
      case Some(old) => Some(fresh :: old)
      case None => Some(fresh :: Nil)
    }.getOrElse(Nil)
    gens.drop(2).foreach(p => try rmTree(p) catch { case _: Throwable => () })
    h7Generations.update(key, gens.take(2))
  }

  /** The compacted re-read plus (fragmented, compacted) file counts. The
    * result is LAZY over the compacted files: the previous eager
    * localCheckpoint of the whole table re-stored all rows as
    * block-manager blocks on top of the two table copies (~30 GB of
    * deserialized blocks at sf100 — ENOSPC in the round-14 sweep). Each
    * invocation writes a FRESH subdir under the per-dir cached parent
    * (r14 advice: the old single overwritten path invalidated prior
    * results), and [[retireOldGenerations]] bounds the parent at two
    * live generations; [[clearFragmentedCache]] / the shutdown hook
    * reclaim the whole parent.
    */
  private[graft] def h7Compact(s: SparkSession, dir: String)
      : (DataFrame, (Int, Int)) = {
    cleanupHook
    val frag = cachedStaging(dir) {
      val p = tmp("graft_h7frag_")
      val li = Tables.lineitem(s, dir)
      // shuffle-free fragmentation: cut ~64 files with maxRecordsPerFile
      // (the old repartition(64) shuffled the whole table just to stage
      // the op's INPUT — ~50 GB of transient spill at sf100, ENOSPC in
      // the round-14 sweep; the staged layout is equivalent either way)
      val rpf = math.max(1L, math.ceil(li.count() / 64.0).toLong)
      li.write.option("maxRecordsPerFile", rpf)
        .mode("overwrite").parquet(p)
      p
    }
    val out = cachedStaging(s"$dir#h7out")(tmp("graft_h7_"))
    val gen = s"$out/compacted_${java.util.UUID.randomUUID().toString
      .replace("-", "").take(12)}"
    val fragmented = s.read.parquet(frag)
    val nFrag = parquetFiles(frag).length
    val srcBytes = parquetFiles(frag).map(_.length).sum
    val (rowsPerFile, nOut) = compactionPlan(fragmented.count(), srcBytes)
    graft.plans.Materialize.tapForAudit(compactionLayout(fragmented, nOut))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", rowsPerFile)
      .parquet(gen)
    val nCompacted = parquetFiles(gen).length
    retireOldGenerations(s"$dir#h7out", gen)
    (s.read.parquet(gen), (nFrag, nCompacted))
  }

  val h7Sql: String = "SELECT * FROM lineitem"

  /** h8: SCHEMA EVOLUTION across file generations — the lake reality that
    * a long-lived table's parquet files don't all share one schema: an
    * early generation lacks a column a later generation added. The read
    * merges footers (`mergeSchema`) into the union schema, null-filling
    * the old files — the mechanism that lets a 100 TB table add a column
    * without rewriting history. Old generation = even orderkeys (3 cols),
    * new generation = odd orderkeys (+ o_orderpriority); the oracle
    * replays the union with an explicit NULL fill.
    */
  def h8(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val out = tmp("graft_h8_")
    val o = Tables.orders(s, dir)
    o.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$out/gen=1")
    o.filter(col("o_orderkey") % 2 === 1)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .write.mode("overwrite").parquet(s"$out/gen=2")
    val merged = graft.plans.Materialize.tapForAudit(
      s.read.option("mergeSchema", "true").parquet(out)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"))
      .localCheckpoint(true)
    rmTree(out)
    merged
  }

  val h8Sql: String = """
    SELECT o_orderkey, o_custkey, o_totalprice,
      CAST(NULL AS VARCHAR) AS o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM orders WHERE o_orderkey % 2 = 1"""

  /** h9: INCREMENTAL MATERIALIZED-VIEW MAINTENANCE — the per-status
    * (count, exact-decimal total) view over the CDC-maintained orders
    * table is refreshed from the change log WITHOUT re-aggregating the
    * base: the stored partials (count + unrounded decimal sum per group)
    * absorb signed adjustment rows (+1/price for inserts; -1/-old and
    * +1/new under the respective statuses for updates; -1/-old for
    * deletes, old values fetched by a broadcast key-join against the
    * base). Decimal sums are exact, so merged partials ≡ a full
    * recompute to the last bit — the DuckDB oracle IS the full recompute
    * over the h6-merged table. At 100 TB this is the view-refresh shape:
    * per-batch cost = |delta| + |group domain|, never the base table.
    */
  def h9(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val dec = DecimalType(30, 10)
    val base = cdcBase(s, dir)
    val w = Window.partitionBy(col("o_orderkey")).orderBy(col("seq").desc)
    val latest = cdcDelta(s, dir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    // the stored view: per-status count + UNROUNDED exact decimal sum
    val baseAgg = base.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("o_totalprice").cast(dec)).as("tot"))
    // signed adjustment rows from the resolved change log
    val ins = latest.filter(col("op") === "I")
      .select(col("o_orderstatus"), lit(1L).as("dc"),
        col("o_totalprice").cast(dec).as("dv"))
    val updNew = latest.filter(col("op") === "U")
      .select(col("o_orderstatus"), lit(1L).as("dc"),
        col("o_totalprice").cast(dec).as("dv"))
    // old-value retractions for U and D: fetch the current row by key
    // (broadcast the small delta side; the base is read once)
    val retract = base
      .join(broadcast(latest.filter(col("op").isin("U", "D"))
        .select(col("o_orderkey"))), Seq("o_orderkey"))
      .select(col("o_orderstatus"), lit(-1L).as("dc"),
        (-col("o_totalprice")).cast(dec).as("dv"))
    val adjAgg = ins.unionByName(updNew).unionByName(retract)
      .groupBy(col("o_orderstatus"))
      .agg(sum(col("dc")).as("acnt"), sum(col("dv")).as("atot"))
    baseAgg.join(adjAgg, Seq("o_orderstatus"), "full_outer")
      .select(col("o_orderstatus"),
        (coalesce(col("cnt"), lit(0L)) + coalesce(col("acnt"), lit(0L)))
          .cast("long").as("n_orders"),
        round(coalesce(col("tot"), lit(0).cast(dec)) +
          coalesce(col("atot"), lit(0).cast(dec)), 2)
          .cast("double").as("total"))
      .filter(col("n_orders") > 0)
  }

  val h9Sql: String = s"""
    WITH merged AS ($h6Sql)
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
      CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))), 2) AS DOUBLE)
        AS total
    FROM merged GROUP BY o_orderstatus"""

  /** Interleaved-bit z-order key over two [0, 255] bucket ids — the
    * multi-dimensional clustering key behind `OPTIMIZE ... ZORDER BY`:
    * consecutive z values differ in few low bits of EITHER dimension, so
    * sorting by z gives every file/row-group a small (u, v) bounding box
    * and parquet min/max stats prune on BOTH columns. Unrolled bit ops —
    * stays inside whole-stage codegen, no HOF.
    */
  private[graft] def zOrderKey(ub: org.apache.spark.sql.Column,
      vb: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    (0 until 8).map { i =>
      shiftleft(shiftright(ub, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(vb, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** The h10 box predicate bounds, shared by the Spark query and (same
    * integer arithmetic) the oracle: the middle [span/4, span/2] slice of
    * the user domain × values >= [[H10MinValue]].
    */
  val H10MinValue = 200.0

  /** h10: Z-ORDER LAYOUT + 2-D DATA SKIPPING — events rewritten clustered
    * by the interleaved (user bucket, value bucket) key
    * (repartitionByRange on z + sort within partitions), then read back
    * through a two-dimensional box predicate. Both predicates reach the
    * scan (`PushedFilters`), and because z-clustering gives every file
    * and row group a tight box in BOTH dimensions, parquet min/max stats
    * skip the files/row-groups outside the box — the mechanism that makes
    * a 2-D selective query on a 100 TB table read only the matching
    * stripes, where a single-column sort would only prune one dimension.
    * (At gate SF each file is one row group, so the pruning is asserted
    * structurally in LayoutSpec: per-file user_id ranges are fractions of
    * the domain.) The oracle replays the identical box over the original
    * table — content must be layout-invariant.
    */
  def h10(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val out = tmp("graft_zorder_")
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    val r = ev.agg(min("user_id"), max("user_id"),
      min("value"), max("value")).head()
    val (umin, umax) = (r.getLong(0), r.getLong(1))
    val (vmin, vmax) = (r.getDouble(2), r.getDouble(3))
    val uspan = math.max(umax - umin, 1L)
    val vspan = math.max(vmax - vmin, 1e-9)
    val ub = least(floor((col("user_id") - umin) * 256 / (uspan + 1)), lit(255L))
    val vb = least(floor((col("value") - vmin) * 256.0 / vspan), lit(255L))
      .cast("long")
    ev.withColumn("z", zOrderKey(ub, vb))
      .repartitionByRange(8, col("z")).sortWithinPartitions(col("z"))
      .drop("z")
      .write.mode("overwrite").parquet(out)
    s.read.parquet(out)
      .filter(col("user_id").between(umin + uspan / 4, umin + uspan / 2) &&
        col("value") >= H10MinValue)
  }

  val h10Sql: String = s"""
    WITH b AS (SELECT min(user_id) AS umin, max(user_id) AS umax FROM events)
    SELECT event_id, user_id, event_type, value FROM events, b
    WHERE user_id BETWEEN b.umin + (b.umax - b.umin) // 4
      AND b.umin + (b.umax - b.umin) // 2
      AND value >= $H10MinValue"""

  /** The h11 stats columns (numeric only: doubles round-trip bit-exactly
    * between engines, while float→string formatting does not).
    */
  private val H11Cols = Seq("l_quantity", "l_extendedprice", "l_discount",
    "l_suppkey")

  /** h11: TABLE STATISTICS COLLECTION (the ANALYZE pass a warehouse runs
    * so its optimizer has row counts / NDVs / min-max bounds — the numbers
    * behind every join-reorder and broadcast decision): one scan over
    * lineitem computes per-column row count, null count, exact distinct
    * count and min/max, emitted as one row per column. The multi-column
    * exact NDVs plan as ONE aggregate over an Expand (×4, Spark's standard
    * multi-count-distinct shape) — no per-column rescans. At 100 TB the
    * exact NDV swaps for the HLL sketch (q23's companion); the plumbing —
    * one pass, stats as rows — is identical.
    */
  def h11(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(s, dir)
    val agg = li.agg(count(lit(1)).as("n_rows"),
      H11Cols.flatMap { c =>
        Seq(count(col(c)).as(s"cnt_$c"),
          count_distinct(col(c)).as(s"ndv_$c"),
          min(col(c)).cast("double").as(s"min_$c"),
          max(col(c)).cast("double").as(s"max_$c"))
      }: _*)
    val statRows = array(H11Cols.map { c =>
      struct(lit(c).as("column_name"),
        col("n_rows").cast("long").as("n_rows"),
        (col("n_rows") - col(s"cnt_$c")).cast("long").as("n_nulls"),
        col(s"ndv_$c").cast("long").as("n_distinct"),
        col(s"min_$c").as("min_value"), col(s"max_$c").as("max_value"))
    }: _*)
    agg.select(inline(statRows))
  }

  val h11Sql: String = H11Cols.map { c =>
    s"""SELECT '$c' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
      CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
      CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
      CAST(min($c) AS DOUBLE) AS min_value,
      CAST(max($c) AS DOUBLE) AS max_value FROM lineitem"""
  }.mkString("\n    UNION ALL\n    ")

  /** One commit of a manifest-versioned table: write `df` as new data
    * files under `table/data/c<version>_*`, then write manifest v<version>
    * = `carried` (paths kept from prior versions) + the new files. The
    * manifest is the snapshot: a text file listing exactly the data files
    * visible at that version (the Iceberg/Delta mechanism at its core).
    * Returns the new files' paths.
    */
  private[graft] def commitVersion(s: SparkSession, table: String,
      version: Int, df: DataFrame, carried: Seq[String]): Seq[String] = {
    val stage = s"$table/stage_v$version"
    df.write.mode("overwrite").parquet(stage)
    val dataDir = new java.io.File(s"$table/data")
    dataDir.mkdirs()
    val moved = parquetFiles(stage).zipWithIndex.map { case (f, i) =>
      val dst = new java.io.File(dataDir, s"c${version}_$i.parquet")
      Files.move(f.toPath, dst.toPath)
      dst.getAbsolutePath
    }.toSeq
    rmTree(stage)
    val mdir = new java.io.File(s"$table/_manifests")
    mdir.mkdirs()
    Files.write(new java.io.File(mdir, s"v$version.txt").toPath,
      (carried ++ moved).sorted.mkString("\n").getBytes("UTF-8"))
    moved
  }

  /** The data files visible at a table version, per its manifest. */
  private[graft] def manifestFiles(table: String, version: Int): Seq[String] =
    new String(Files.readAllBytes(
      new java.io.File(s"$table/_manifests/v$version.txt").toPath), "UTF-8")
      .split("\n").toSeq.filter(_.nonEmpty)

  /** Read a manifest-versioned table AS OF a version: exactly the files
    * that version's manifest lists, regardless of anything committed
    * later. This is time travel: the scan is planned over a bounded,
    * explicit file list (no directory listing), which is also why the
    * mechanism scales — a 100 TB table's snapshot read opens one manifest,
    * not an object-store listing.
    */
  private[graft] def readVersion(s: SparkSession, table: String,
      version: Int): DataFrame =
    s.read.parquet(manifestFiles(table, version): _*)

  /** Build the 3-version h12 table: v1 = orders keys ≡0 (mod 3); v2
    * appends keys ≡1 (mod 3) (v1's files carried, not rewritten); v3 is a
    * copy-on-write DELETE of keys ≡0 (mod 9) — the rows survive v2's
    * files untouched on disk, v3's manifest just points at the rewritten
    * set. Returns the table path (caller cleans up).
    */
  private[graft] def h12Build(s: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions.col
    val table = tmp("graft_h12_")
    val o = Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
    val v1 = commitVersion(s, table, 1,
      o.filter(col("o_orderkey") % 3 === 0), Nil)
    commitVersion(s, table, 2, o.filter(col("o_orderkey") % 3 === 1), v1)
    val kept = readVersion(s, table, 2)
      .filter(col("o_orderkey") % 9 =!= 0)
    commitVersion(s, table, 3, kept, Nil)
    table
  }

  /** h12: SNAPSHOT / TIME-TRAVEL READ over a manifest-versioned table —
    * the lake mechanism behind `VERSION AS OF`: three commits (append,
    * then copy-on-write delete), and the gate reads v2 AFTER v3 exists —
    * proving a historical snapshot is reconstructed exactly even though
    * the latest version dropped rows. The oracle replays v2's logical
    * content from the source table.
    */
  def h12(s: SparkSession, dir: String): DataFrame = {
    val table = h12Build(s, dir)
    try graft.plans.Materialize.tapForAudit(readVersion(s, table, 2))
      .localCheckpoint(true)
    finally rmTree(table)
  }

  val h12Sql: String = """
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
    FROM orders WHERE o_orderkey % 3 IN (0, 1)"""

  val queries: Map[String, Q] = Map(
    "h11_column_stats" -> h11, "h12_time_travel" -> h12,
    "h10_zorder_skip" -> h10,
    "h9_incremental_view" -> h9,
    "h1_csv_roundtrip" -> h1, "h2_json_roundtrip" -> h2,
    "h3_orc_roundtrip" -> h3, "h4_partitioned_prune" -> h4,
    "h5_bucketed_join" -> h5, "h6_merge_upsert" -> h6,
    "h7_compaction" -> h7, "h8_schema_evolution" -> h8)

  val oracles: Map[String, String] = Map(
    "h11_column_stats" -> h11Sql, "h12_time_travel" -> h12Sql,
    "h10_zorder_skip" -> h10Sql,
    "h9_incremental_view" -> h9Sql,
    "h1_csv_roundtrip" -> h1Sql, "h2_json_roundtrip" -> h2Sql,
    "h3_orc_roundtrip" -> h3Sql, "h4_partitioned_prune" -> h4Sql,
    "h5_bucketed_join" -> h5Sql, "h6_merge_upsert" -> h6Sql,
    "h7_compaction" -> h7Sql, "h8_schema_evolution" -> h8Sql)
}
