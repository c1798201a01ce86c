package graft.operators

import graft.Portable._
import graft.plans.Hints
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational / analytic core (SURVEY §2 B).
  *
  * Every query is declarative DataFrame algebra so Catalyst handles
  * pushdown, pruning and join planning; aggregates follow the
  * [[graft.Portable]] decimal discipline so results hash-match DuckDB.
  *
  * Scale posture: fixed-size dims (region/nation) are broadcast
  * unconditionally; corpus-proportional dims (customer/supplier) get a
  * size-guarded hint ([[graft.plans.Hints.maybeBroadcast]]) so at 100 TB
  * proportions they fall back to stats/AQE instead of an OOM-forcing hint;
  * fact-fact joins shuffle on their join key with AQE skew handling; windows
  * partition by high-cardinality keys; the only global sorts are final
  * post-aggregation top-Ns.
  */
object Relational {
  private type Q = (SparkSession, String) => DataFrame
  private val Exact = DecimalType(30, 10)

  /** TPC-H Q1 shape: multi-measure scan aggregate. */
  def q1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      // bind the shared product once: aggregates don't CSE, and
      // disc_price*(1+tax) is bitwise-equal to the inlined form
      .withColumn("disc_price", $"l_extendedprice" * (lit(1.0) - $"l_discount"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        dsum($"l_quantity").as("sum_qty"),
        dsum($"l_extendedprice").as("sum_base_price"),
        dsum($"disc_price").as("sum_disc_price"),
        dsum($"disc_price" * (lit(1.0) + $"l_tax")).as("sum_charge"),
        davg($"l_quantity").as("avg_qty"),
        davg($"l_extendedprice").as("avg_price"),
        davg($"l_discount").as("avg_disc"),
        dcount(lit(1)).as("count_order"))
  }

  val q1Sql: String = s"""
    SELECT l_returnflag, l_linestatus,
      ${dsumSql("l_quantity")} AS sum_qty,
      ${dsumSql("l_extendedprice")} AS sum_base_price,
      ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
      ${dsumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
      ${davgSql("l_quantity")} AS avg_qty,
      ${davgSql("l_extendedprice")} AS avg_price,
      ${davgSql("l_discount")} AS avg_disc,
      ${dcountSql("1")} AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus"""

  /** Pushed-down predicate + pruned projection (check PushedFilters). */
  def q2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1997-01-01").cast("timestamp") &&
        $"l_discount" > 0.05)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_extendedprice")
  }

  val q2Sql: String = """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01' AND l_discount > 0.05"""

  /** TPC-H Q3 shape: 3-table join + agg + deterministic top-10. */
  def q3(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, dir).filter($"c_mktsegment" === "BUILDING")
    val ord = Tables.orders(s, dir)
      .filter($"o_orderdate" < lit("2000-01-01").cast("timestamp"))
    val li = Tables.lineitem(s, dir)
      .filter($"l_shipdate" > lit("2000-01-01").cast("timestamp"))
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(Hints.maybeBroadcast(cust), $"o_custkey" === $"c_custkey")
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
  }

  val q3Sql: String = s"""
    SELECT l_orderkey, o_orderdate, o_orderpriority,
      ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '2000-01-01'
      AND l_shipdate > TIMESTAMP '2000-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10"""

  /** Dim-chain broadcast join: region→nation→customer rollup. */
  def q4(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name", $"n_name")
      .agg(dcount(lit(1)).as("n_cust"), davg($"c_acctbal").as("avg_bal"))
  }

  val q4Sql: String = s"""
    SELECT r_name, n_name, ${dcountSql("1")} AS n_cust,
      ${davgSql("c_acctbal")} AS avg_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name"""

  /** The q5 join tail past the fact-fact edge (dim broadcasts, date
    * filter, exact-decimal rollup) — shared by [[q5]] (raw facts: both
    * sides shuffle on the order key) and [[q60]] (co-partitioned facts:
    * no fact-side exchange).
    */
  private def q5Tail(s: SparkSession, dir: String, facts: DataFrame)
      : DataFrame = {
    import s.implicits._
    facts
      .join(Hints.maybeBroadcast(Tables.customer(s, dir)),
        $"o_custkey" === $"c_custkey")
      .join(Hints.maybeBroadcast(Tables.supplier(s, dir)),
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1998-01-01").cast("timestamp"))
      .groupBy($"r_name", $"n_name")
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
  }

  /** TPC-H Q5 shape: 6-table join, local-supplier predicate. */
  def q5(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    q5Tail(s, dir, Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey"))
  }

  /** q60: the SAME Q5 rollup routed through the first-class
    * co-partitioned fact layout ([[graft.sources.Bucketed]]): lineitem
    * and orders resolve to the shared per-dir 32-bucket orderkey-bucketed
    * tables, so the fact-fact edge is a bucket-aligned SMJ with NO
    * exchange on either fact side — the layout path the round-13 sf100
    * probe prescribed (raw q5's fact shuffle is the single-box I/O
    * coupler; bucketed measured 2.7× faster with run variance collapsed,
    * docs/Q5BUCKET_r13.md). Same oracle as q5: the layout must be
    * answer-invariant.
    */
  def q60(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    q5Tail(s, dir, graft.sources.Bucketed.lineitem(s, dir).hint("merge")
      .join(graft.sources.Bucketed.orders(s, dir),
        $"l_orderkey" === $"o_orderkey"))
  }

  val q5Sql: String = s"""
    SELECT r_name, n_name,
      ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY r_name, n_name"""

  /** Left-semi join (EXISTS). */
  def q6(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bigLines = Tables.lineitem(s, dir).filter($"l_quantity" >= 45.0)
    Tables.orders(s, dir)
      .join(bigLines, $"o_orderkey" === $"l_orderkey", "left_semi")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
  }

  val q6Sql: String = """
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_quantity >= 45.0)"""

  /** Left-anti join (NOT EXISTS): customers with no urgent orders. */
  def q7(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val urgent = Tables.orders(s, dir).filter($"o_orderpriority" === "1-URGENT")
    Tables.customer(s, dir)
      .join(urgent, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_acctbal")
  }

  val q7Sql: String = """
    SELECT c_custkey, c_name, c_acctbal FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')"""

  /** TPC-H Q13 shape: left outer join + count distribution. */
  def q8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .join(Tables.orders(s, dir), $"c_custkey" === $"o_custkey", "left_outer")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").cast("long").as("c_count"))
      .groupBy($"c_count")
      .agg(dcount(lit(1)).as("custdist"))
  }

  val q8Sql: String = s"""
    SELECT c_count, ${dcountSql("1")} AS custdist FROM (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey)
    GROUP BY c_count"""

  /** Windowed rank: top-3 orders per customer by price. */
  def q9(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables.orders(s, dir)
      .withColumn("rnk", rank().over(w).cast("long"))
      .filter($"rnk" <= 3)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rnk")
  }

  val q9Sql: String = """
    SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
        CAST(rank() OVER (PARTITION BY o_custkey
             ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
      FROM orders)
    WHERE rnk <= 3"""

  /** Running windowed aggregate (exact decimal running spend). */
  def q10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .withColumn("running_spend",
        round(sum($"o_totalprice".cast(Exact)).over(w), 2).cast("double"))
      .select($"o_custkey", $"o_orderkey", $"o_orderdate", $"running_spend")
  }

  val q10Sql: String = """
    SELECT o_custkey, o_orderkey, o_orderdate,
      CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10)))
        OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
        AS DOUBLE) AS running_spend
    FROM orders"""

  /** Top-k per group via row_number window. */
  def q11(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"l_returnflag")
      .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
    Tables.lineitem(s, dir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= 3)
      .select($"l_returnflag", $"l_orderkey", $"l_linenumber",
        $"l_extendedprice", $"rn")
  }

  val q11Sql: String = """
    SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, rn FROM (
      SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        CAST(row_number() OVER (PARTITION BY l_returnflag
          ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS BIGINT) AS rn
      FROM lineitem)
    WHERE rn <= 3"""

  /** Distinct + exact countDistinct. */
  def q12(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .groupBy($"c_mktsegment")
      .agg(countDistinct($"c_nationkey").cast("long").as("n_nations"),
        dcount(lit(1)).as("n_cust"))
  }

  val q12Sql: String = s"""
    SELECT c_mktsegment, CAST(count(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
      ${dcountSql("1")} AS n_cust
    FROM customer GROUP BY c_mktsegment"""

  /** Hierarchical rollup aggregate. */
  def q13(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, dir)), $"n_regionkey" === $"r_regionkey")
      .rollup($"r_name", $"n_name")
      .agg(dcount(lit(1)).as("n_cust"), dsum($"c_acctbal").as("sum_bal"))
  }

  val q13Sql: String = s"""
    SELECT r_name, n_name, ${dcountSql("1")} AS n_cust,
      ${dsumSql("c_acctbal")} AS sum_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)"""

  /** Cube aggregate. */
  def q14(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(dsum($"l_quantity").as("sum_qty"), dcount(lit(1)).as("n"))
  }

  val q14Sql: String = s"""
    SELECT l_returnflag, l_linestatus, ${dsumSql("l_quantity")} AS sum_qty,
      ${dcountSql("1")} AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"""

  /** Union + dedup across branches. */
  def q15(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val a = Tables.customer(s, dir).filter($"c_mktsegment" === "BUILDING")
      .select($"c_custkey".as("custkey"))
    val b = Tables.orders(s, dir).filter($"o_totalprice" > 300000.0)
      .select($"o_custkey".as("custkey"))
    a.union(b).distinct()
  }

  val q15Sql: String = """
    SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000.0"""

  /** Conditional aggregation over the event log. */
  def q16(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy($"user_id")
      .agg(
        dsum(when($"event_type" === "click", $"value").otherwise(0.0)).as("click_value"),
        sum(when($"event_type" === "click", 1L).otherwise(0L)).cast("long").as("n_click"),
        sum(when($"event_type" === "error", 1L).otherwise(0L)).cast("long").as("n_error"),
        sum(when($"event_type" === "purchase", 1L).otherwise(0L)).cast("long").as("n_purchase"))
  }

  val q16Sql: String = s"""
    SELECT user_id,
      ${dsumSql("CASE WHEN event_type = 'click' THEN value ELSE 0.0 END")} AS click_value,
      CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
      CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
      CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase
    FROM events GROUP BY user_id"""

  /** Exact interpolated percentiles per group. */
  def q17(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.25)"), 4).as("q25"),
        round(expr("percentile(l_quantity, 0.5)"), 4).as("median"),
        round(expr("percentile(l_quantity, 0.75)"), 4).as("q75"))
  }

  val q17Sql: String = """
    SELECT l_returnflag,
      round(quantile_cont(l_quantity, 0.25), 4) AS q25,
      round(quantile_cont(l_quantity, 0.5), 4) AS median,
      round(quantile_cont(l_quantity, 0.75), 4) AS q75
    FROM lineitem GROUP BY l_returnflag"""

  /** As-of join: each click ↔ latest same-user purchase at ts <= click ts.
    *
    * Implemented as the scalable union+backward-fill plan (one shuffle on
    * user_id, no range join): tag streams, sort within user by (ts, tag),
    * carry the last purchase forward. Equivalent to DuckDB's ASOF JOIN.
    */
  def q18(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    // no pre-dedup groupBy: ordering purchases before clicks at equal ts
    // and ascending by event_id makes "last purchase in frame" equal
    // arg_max(value, event_id) per µs tie — one shuffle total
    val p = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"value".as("p_value"), $"event_id", lit(0).as("tag"))
    val c = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", lit(null).cast("double").as("p_value"),
        $"event_id", lit(1).as("tag"))
    val w = Window.partitionBy($"user_id")
      .orderBy($"ts", $"tag", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    p.union(c)
      .withColumn("last_p_value", last($"p_value", ignoreNulls = true).over(w))
      .withColumn("last_p_ts",
        last(when($"tag" === 0, $"ts"), ignoreNulls = true).over(w))
      .filter($"tag" === 1)
      .select($"event_id".as("click_id"), $"user_id",
        $"ts".as("click_ts"), $"last_p_ts".as("p_ts"),
        $"last_p_value".as("p_value"))
  }

  val q18Sql: String = """
    WITH p AS (
      SELECT user_id, ts, arg_max(value, event_id) AS p_value
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
    c AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
    SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
      p.ts AS p_ts, p.p_value AS p_value
    FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts"""

  /** Time-range join: views followed by same-user clicks within 10 min. */
  def q19(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val v = ev.filter($"event_type" === "view")
      .select($"user_id".as("v_user"), $"event_id".as("view_id"), $"ts".as("v_ts"))
    val c = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"event_id".as("click_id"), $"ts".as("c_ts"))
    v.join(c, $"v_user" === $"c_user" &&
        $"c_ts" > $"v_ts" &&
        $"c_ts" <= $"v_ts" + expr("INTERVAL 10 MINUTES"))
      .select($"v_user".as("user_id"), $"view_id", $"click_id")
  }

  val q19Sql: String = """
    SELECT v.user_id AS user_id, v.event_id AS view_id, c.event_id AS click_id
    FROM events v JOIN events c
      ON v.user_id = c.user_id AND v.event_type = 'view'
      AND c.event_type = 'click'
      AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 10 MINUTE"""

  /** Pivot event_type → columns of counts. */
  def q20(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val types = Seq("click", "error", "purchase", "signup", "view")
    Tables.events(s, dir)
      .groupBy($"user_id")
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)
  }

  val q20Sql: String = """
    SELECT user_id,
      count(*) FILTER (event_type = 'click') AS click,
      count(*) FILTER (event_type = 'error') AS error,
      count(*) FILTER (event_type = 'purchase') AS purchase,
      count(*) FILTER (event_type = 'signup') AS signup,
      count(*) FILTER (event_type = 'view') AS view
    FROM events GROUP BY user_id"""

  /** TPC-H Q17 shape: filter vs per-group scalar aggregate. */
  def q21(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
    val thr = li.groupBy($"l_partkey".as("t_partkey"))
      .agg((sum($"l_quantity".cast(Exact)).cast("double") /
        count($"l_quantity") * 0.2).as("thr"))
    // no broadcast hint: `thr` has one row per l_partkey (grows with the
    // fact table) — let it shuffle on partkey; AQE may still pick broadcast
    // when runtime stats allow
    li.join(thr, $"l_partkey" === $"t_partkey")
      .filter($"l_quantity" < $"thr")
      .agg((round(sum($"l_extendedprice".cast(Exact)).cast("double") / 7.0, 2))
        .cast("double").as("avg_yearly"))
  }

  val q21Sql: String = """
    WITH t AS (
      SELECT l_partkey AS t_partkey,
        CAST(sum(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE)
          / count(l_quantity) * 0.2 AS thr
      FROM lineitem GROUP BY l_partkey)
    SELECT CAST(round(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE)
      / 7.0, 2) AS DOUBLE) AS avg_yearly
    FROM lineitem JOIN t ON l_partkey = t_partkey
    WHERE l_quantity < thr"""

  /** Gap-based sessionization (30-min inactivity boundary). */
  def q22(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, dir)
      .withColumn("prev_us", lag(unix_micros($"ts"), 1).over(wOrd))
      .withColumn("new_session",
        when($"prev_us".isNull ||
          unix_micros($"ts") - $"prev_us" > 30L * 60 * 1000000, 1L).otherwise(0L))
      .withColumn("session_id", sum($"new_session").over(wRun))
      .groupBy($"user_id", $"session_id")
      .agg(dcount(lit(1)).as("n_events"),
        min($"ts").as("session_start"), max($"ts").as("session_end"))
  }

  val q22Sql: String = s"""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
        CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
          OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30 * 60 * 1000000
          THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sessions AS (
      SELECT user_id, ts,
        CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      FROM flagged)
    SELECT user_id, session_id, ${dcountSql("1")} AS n_events,
      min(ts) AS session_start, max(ts) AS session_end
    FROM sessions GROUP BY user_id, session_id"""

  /** K for [[q23]]'s native bounded-memory KMV sketch (error
    * 1/sqrt(K-1) ≈ 2.2%, inside the 5% spec bound at >2 sigma).
    */
  val Q23K = 2048

  /** q23: approximate distinct counts per return flag — the
    * memory-bounded distinct sketch, now DETERMINISTIC and fully
    * hash-gated (round-10 upgrade of the declared rows-only HLL++ form):
    * each measure runs through the native [[graft.functions.KmvAgg]]
    * TypedImperativeAggregate, which keeps the K smallest distinct
    * 32-bit md5 prefixes per group in fixed O(K) memory with map-side
    * partial aggregation — at 100 TB each partition ships ≤K longs into
    * one exchange, same cost envelope as HLL++ registers, but the
    * result is an order-independent function of the value set that the
    * DuckDB oracle replays exactly with a distinct + row_number window.
    * Underfull groups (< K distinct hashes) report the exact count;
    * `(K-1)·2^32` is one exactly-representable double literal so the
    * estimate is a single portable IEEE division. q36 keeps the
    * window-function formulation of the same estimator for contrast.
    */
  def q23(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def h(c: Column): Column =
      conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long")
    def est(sk: Column): Column = {
      val n = element_at(sk, 1)
      val kth = element_at(sk, 2)
      round(when(kth.isNull || kth === 0L, n.cast("double"))
        .otherwise(lit((Q23K - 1).toDouble * 4294967296.0) /
          kth.cast("double")), 4)
    }
    Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(
        graft.functions.KmvAgg(h($"l_orderkey"), Q23K).as("sk_o"),
        graft.functions.KmvAgg(h($"l_partkey"), Q23K).as("sk_p"))
      .select($"l_returnflag",
        est($"sk_o").as("approx_orders"),
        est($"sk_p").as("approx_parts"))
  }

  private def q23MeasureSql(col: String): String = s"""
    WITH d AS (SELECT DISTINCT l_returnflag,
        CAST(('0x' || substring(md5(CAST($col AS VARCHAR)), 1, 8))::UBIGINT
             AS BIGINT) AS h
      FROM lineitem),
    r AS (SELECT l_returnflag, h,
        row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
      FROM d),
    nd AS (SELECT l_returnflag, count(*) AS n FROM d GROUP BY 1),
    kth AS (SELECT l_returnflag, h AS kh FROM r WHERE rn = $Q23K)
    SELECT nd.l_returnflag AS l_returnflag,
      round(CASE WHEN kth.kh IS NULL OR kth.kh = 0
        THEN CAST(nd.n AS DOUBLE)
        ELSE (${(Q23K - 1).toDouble} * 4294967296.0) / CAST(kth.kh AS DOUBLE)
        END, 4) AS est
    FROM nd LEFT JOIN kth USING (l_returnflag)"""

  val q23Sql: String = s"""
    WITH eo AS (${q23MeasureSql("l_orderkey")}),
    ep AS (${q23MeasureSql("l_partkey")})
    SELECT eo.l_returnflag, eo.est AS approx_orders, ep.est AS approx_parts
    FROM eo JOIN ep USING (l_returnflag)"""

  /** K for [[q36]]'s K-minimum-values estimator. */
  val KmvK = 64

  /** q36: deterministic approximate distinct counts — the K-minimum-values
    * estimator over md5-hashed user ids, per event type. The
    * gate-verifiable companion to [[q23]]: q23 uses Spark's native HLL++
    * (memory-bounded, the 100 TB scale path, but its sketch can't be
    * replayed by another engine), while KMV's estimate `(K-1)/h_K` depends
    * only on the K smallest hash FRACTIONS — a deterministic function of
    * the value set — so DuckDB reproduces it bit-for-bit and the sketch
    * family gets a full hash gate. Groups with fewer than K distinct
    * values fall back to the exact count (the estimator's standard
    * small-range behavior). Ordering is on the fixed-width hex prefix
    * (lexicographic == numeric), the fraction is an exact 32-bit integer
    * scaled by a power of two, and the one division is a single IEEE op —
    * portable to the bit.
    *
    * Canonical KMV ranks DISTINCT hash values — two users colliding on
    * the same 8-hex prefix occupy ONE rank, not two (ranking the raw rows
    * would bias the K-th hash low and the estimate with it) — and a K-th
    * prefix of literally "00000000" (hk = 0, estimate would be Inf) falls
    * back to the exact count like the under-K case.
    */
  def q36(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.events(s, dir)
      .select($"event_type", $"user_id").distinct()
      .withColumn("hex", substring(md5($"user_id".cast("string")), 1, 8))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"hex")
    val kth = d.select($"event_type", $"hex").distinct()
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === KmvK)
      .select($"event_type",
        (conv($"hex", 16, 10).cast("double") / 4294967296.0).as("hk"))
    d.groupBy($"event_type").agg(count(lit(1)).as("n_distinct"))
      .join(kth, Seq("event_type"), "left_outer")
      .select($"event_type",
        round(when($"hk".isNull || $"hk" === 0.0, $"n_distinct".cast("double"))
          .otherwise(lit(KmvK - 1) / $"hk"), 4).as("approx_users"))
  }

  val q36Sql: String = s"""
    WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
    h AS (SELECT DISTINCT event_type,
      substring(md5(CAST(user_id AS VARCHAR)), 1, 8) AS hex FROM d),
    r AS (SELECT event_type, hex,
      row_number() OVER (PARTITION BY event_type ORDER BY hex) AS rn
      FROM h),
    nd AS (SELECT event_type, count(*) AS n FROM d GROUP BY event_type),
    kth AS (SELECT event_type,
      CAST(('0x' || hex)::UBIGINT AS DOUBLE) / 4294967296.0 AS hk
      FROM r WHERE rn = $KmvK)
    SELECT nd.event_type,
      round(CASE WHEN kth.hk IS NULL OR kth.hk = 0 THEN CAST(nd.n AS DOUBLE)
        ELSE ${KmvK - 1} / kth.hk END, 4) AS approx_users
    FROM nd LEFT JOIN kth USING (event_type)"""

  /** q24: GROUPING SETS through the engine's SQL face (tables registered
    * as views; same text runs on the oracle).
    */
  val q24Sql: String = s"""
    SELECT o_orderstatus, o_orderpriority, ${dcountSql("1")} AS n,
      ${dsumSql("o_totalprice")} AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())"""

  def q24(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    s.sql(q24Sql)
  }

  /** q25: INTERSECT / EXCEPT set algebra. */
  def q25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, dir)
    val building = cust.filter($"c_mktsegment" === "BUILDING" &&
      $"c_acctbal" > 6000).select($"c_nationkey")
    val machinery = cust.filter($"c_mktsegment" === "MACHINERY" &&
      $"c_acctbal" > 6000).select($"c_nationkey")
    val autoNeg = cust.filter($"c_mktsegment" === "AUTOMOBILE" &&
      $"c_acctbal" < -500).select($"c_nationkey")
    building.intersect(machinery).except(autoNeg)
      .select($"c_nationkey".as("nationkey"))
  }

  val q25Sql: String = """
    SELECT c_nationkey AS nationkey FROM customer
    WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 6000
    INTERSECT
    SELECT c_nationkey FROM customer
    WHERE c_mktsegment = 'MACHINERY' AND c_acctbal > 6000
    EXCEPT
    SELECT c_nationkey FROM customer
    WHERE c_mktsegment = 'AUTOMOBILE' AND c_acctbal < -500"""

  /** q26: the custom RangeJoin plan node (graft.plans) over the same
    * semantics as q19 — gate-checked against the identical oracle.
    */
  def q26(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
    val v = ev.filter($"event_type" === "view")
      .select($"user_id".as("v_user"), $"event_id".as("view_id"), $"ts".as("v_ts"))
    val c = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"event_id".as("click_id"), $"ts".as("c_ts"))
    graft.plans.RangeJoin.join(v, c, "v_user", "c_user", "v_ts", "c_ts",
        10L * 60 * 1000000)
      .select($"v_user".as("user_id"), $"view_id", $"click_id")
  }

  /** q27's deterministic sample threshold: keep rows whose 32-bit md5
    * prefix is < 2^29, i.e. a 1/8 Bernoulli sample keyed on the
    * (orderkey, linenumber) row identity — q37's exact-integer sampling
    * discipline, so both engines select the identical row set.
    */
  val Q27Thr = 536870912L

  /** q27: approximate quantiles per return flag — now DETERMINISTIC and
    * fully hash-gated (round-10 upgrade of the declared rows-only
    * approx_percentile form, whose GK sketch is engine-private): a
    * hash-threshold Bernoulli sample (the sketch's memory budget — the
    * threshold is the knob; at 100 TB it shrinks so the per-group sample
    * stays thousands of rows) followed by EXACT integer-rank selection
    * on the sample: idx_q = ((n-1)·q_pct) DIV 100, the sample value at
    * that rank — element selection, not interpolation, so no float
    * arithmetic touches the result and DuckDB replays it bit-for-bit.
    * One filtered scan + one per-group window over sampled rows only.
    * Sampling error at ~2.5k samples/group keeps p50/p95 inside the 2%
    * spec bound vs the exact quantiles.
    */
  def q27(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val u = conv(substring(md5(concat(lit("q27"),
      $"l_orderkey".cast("string"), lit("_"),
      $"l_linenumber".cast("string"))), 1, 8), 16, 10).cast("long")
    val w = Window.partitionBy($"l_returnflag")
    val ranked = Tables.lineitem(s, dir)
      .filter(u < Q27Thr)
      .select($"l_returnflag", $"l_extendedprice")
      .withColumn("rn", row_number().over(w.orderBy($"l_extendedprice")))
      .withColumn("n", count(lit(1)).over(w))
    ranked.groupBy($"l_returnflag")
      .agg(
        max(when($"rn" === expr("((n - 1) * 50) DIV 100") + 1,
          $"l_extendedprice")).as("p50"),
        max(when($"rn" === expr("((n - 1) * 95) DIV 100") + 1,
          $"l_extendedprice")).as("p95"))
  }

  val q27Sql: String = s"""
    WITH f AS (SELECT l_returnflag, l_extendedprice FROM lineitem
      WHERE CAST(('0x' || substring(md5('q27' || CAST(l_orderkey AS VARCHAR)
          || '_' || CAST(l_linenumber AS VARCHAR)), 1, 8))::UBIGINT
          AS BIGINT) < $Q27Thr),
    w AS (SELECT l_returnflag, l_extendedprice,
        row_number() OVER (PARTITION BY l_returnflag
          ORDER BY l_extendedprice) AS rn,
        count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM f)
    SELECT l_returnflag,
      max(CASE WHEN rn = ((n - 1) * 50) // 100 + 1
          THEN l_extendedprice END) AS p50,
      max(CASE WHEN rn = ((n - 1) * 95) // 100 + 1
          THEN l_extendedprice END) AS p95
    FROM w GROUP BY l_returnflag"""

  /** q28: correlated scalar subquery through the SQL face (Catalyst
    * decorrelates it into an aggregate + join; the threshold uses the
    * decimal-exact average so both engines compare identical doubles).
    */
  val q28Sql: String = """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
    WHERE o_totalprice > 1.5 * (
      SELECT CAST(sum(CAST(o2.o_totalprice AS DECIMAL(30,10))) AS DOUBLE)
             / count(*)
      FROM orders o2 WHERE o2.o_custkey = o.o_custkey)"""

  def q28(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    s.sql(q28Sql)
  }

  /** q29: lead/lag navigation — next event + gap per user. */
  def q29(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, dir)
      .withColumn("next_type", lead($"event_type", 1).over(w))
      .withColumn("next_us", lead(unix_micros($"ts"), 1).over(w))
      .select($"event_id", $"user_id", $"event_type", $"next_type",
        ($"next_us" - unix_micros($"ts")).cast("long").as("gap_us"))
  }

  val q29Sql: String = """
    SELECT event_id, user_id, event_type,
      lead(event_type) OVER w AS next_type,
      CAST(lead(epoch_us(ts)) OVER w - epoch_us(ts) AS BIGINT) AS gap_us
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""

  /** q30: TPC-H Q2 shape — min-cost supplier per part via a correlated
    * scalar subquery over a grouped CTE (lineitem stands in for partsupp;
    * unit cost = min price/qty ratio, pure per-row IEEE ops + MIN so both
    * engines compare identical doubles). Catalyst decorrelates the
    * per-part MIN into an aggregate + join.
    */
  val q30Sql: String = """
    WITH ps AS (
      SELECT l_partkey AS partkey, l_suppkey AS suppkey,
        min(l_extendedprice / l_quantity) AS cost
      FROM lineitem GROUP BY 1, 2)
    SELECT p.p_partkey AS partkey, p.p_name, s.s_name, s.s_nationkey, ps.cost
    FROM part p JOIN ps ON ps.partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = ps.suppkey
    WHERE p.p_size >= 30
      AND ps.cost = (SELECT min(ps2.cost) FROM ps ps2
                     WHERE ps2.partkey = p.p_partkey)"""

  def q30(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    Tables.part(s, dir).createOrReplaceTempView("part")
    Tables.supplier(s, dir).createOrReplaceTempView("supplier")
    s.sql(q30Sql)
  }

  /** q31: TPC-H Q20 shape — nested EXISTS with an inner correlated scalar
    * subquery (suppliers who shipped a 'widget' part in above-1.9x-average
    * quantity for that (part, supplier)). avg() stays exact: quantities
    * are small integers, so double summation is order-independent.
    */
  val q31Sql: String = """
    SELECT s.s_suppkey AS suppkey, s.s_name AS name
    FROM supplier s
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_suppkey = s.s_suppkey
        AND l.l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_name LIKE '%widget%')
        AND l.l_quantity > (
          SELECT 1.9 * avg(l2.l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = l.l_partkey AND l2.l_suppkey = l.l_suppkey))"""

  def q31(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem")
    Tables.part(s, dir).createOrReplaceTempView("part")
    Tables.supplier(s, dir).createOrReplaceTempView("supplier")
    s.sql(q31Sql)
  }

  /** q33: time-series rollup — daily event counts per type with a 3-day
    * trailing moving average (ROWS frame). The average divides an exact
    * integer window sum by an exact count, so the double is bit-identical
    * across engines.
    */
  def q33(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(-2, 0)
    Tables.events(s, dir)
      .groupBy(date_trunc("day", $"ts").as("day"), $"event_type")
      .agg(count(lit(1)).cast("long").as("n_events"))
      .withColumn("ma3", avg($"n_events").over(w))
  }

  val q33Sql: String = """
    WITH daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
        CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY day, event_type)
    SELECT day, event_type, n_events,
      avg(n_events) OVER (PARTITION BY event_type ORDER BY day
        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ma3
    FROM daily"""

  /** q34: rank bucketing — balance quartile (ntile) and percent_rank per
    * nation, deterministically tie-broken by custkey. percent_rank is
    * (rank-1)/(n-1) on exact ints, bit-identical across engines.
    */
  def q34(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"c_nationkey").orderBy($"c_acctbal", $"c_custkey")
    Tables.customer(s, dir)
      .select($"c_custkey", $"c_nationkey", $"c_acctbal")
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pct_rank", percent_rank().over(w))
  }

  val q34Sql: String = """
    SELECT c_custkey, c_nationkey, c_acctbal,
      CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      percent_rank() OVER w AS pct_rank
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)"""

  /** TPC-H Q22 shape: above-average-balance customers with no FINALIZED
    * order (every customer has some order at gate SF, so the anti side
    * filters on status to stay non-vacuous), grouped by nation. The
    * scalar average uses the exact decimal discipline
    * ([[graft.Portable.davg]]) so the filter boundary is bit-identical
    * across engines; the anti join is the NOT EXISTS.
    */
  def q32(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = Tables.customer(s, dir)
    val avgDf = cust.filter($"c_acctbal" > 0.0)
      .agg(graft.Portable.davg($"c_acctbal").as("thr"))
    cust.join(Tables.orders(s, dir)
          .filter($"o_orderstatus" === "F").select($"o_custkey"),
        $"c_custkey" === $"o_custkey", "left_anti")
      .crossJoin(broadcast(avgDf))
      .filter($"c_acctbal" > $"thr")
      .join(broadcast(Tables.nation(s, dir)),
        $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).cast("long").as("numcust"),
        graft.Portable.dsum($"c_acctbal", 2).as("totacctbal"))
  }

  val q32Sql: String = s"""
    WITH thr AS (
      SELECT ${graft.Portable.davgSql("c_acctbal")} AS thr
      FROM customer WHERE c_acctbal > 0.0)
    SELECT n_name, CAST(count(*) AS BIGINT) AS numcust,
      ${graft.Portable.dsumSql("c_acctbal", 2)} AS totacctbal
    FROM customer CROSS JOIN thr JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > thr
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
    GROUP BY n_name"""

  /** Per-stratum sampling rates for [[q37]], expressed as exact integer
    * thresholds over the 32-bit md5-prefix space (rate = thr / 2^32):
    * 10% of finished, 20% of open, 50% of pending orders.
    */
  val StratRates: Seq[(String, Long)] = Seq(
    "F" -> 429496729L, "O" -> 858993459L, "P" -> 2147483648L)

  /** q37: deterministic stratified sampling — the class-rebalancing
    * subsample step a training pipeline runs on over-represented strata.
    * A row is kept iff the 32-bit fraction of `md5('strat' || key)` is
    * below its stratum's threshold: a pure per-row predicate (same md5
    * discipline as t9's split), so the sample is reproducible, the scan
    * is one linear pass, and the rate table joins as a broadcast.
    */
  def q37(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rates = StratRates.toDF("st", "thr")
    val frac = conv(
      substring(md5(concat(lit("strat"), $"o_orderkey".cast("string"))), 1, 8),
      16, 10).cast("long")
    Tables.orders(s, dir)
      .join(broadcast(rates), $"o_orderstatus" === $"st")
      .filter(frac < $"thr")
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus")
  }

  val q37Sql: String = {
    val rows = StratRates.map { case (k, v) => s"('$k', $v)" }.mkString(", ")
    s"""
    WITH r(st, thr) AS (VALUES $rows)
    SELECT o_orderkey, o_custkey, o_orderstatus
    FROM orders JOIN r ON o_orderstatus = r.st
    WHERE CAST(('0x' || substring(md5('strat' || CAST(o_orderkey AS VARCHAR)), 1, 8)) AS UBIGINT) < thr"""
  }

  /** q38: conversion funnel — per user, the first view, the first click
    * AFTER that view, and the first purchase AFTER that click, plus the
    * funnel stage reached (1-3). Three aggregates all keyed on user_id:
    * the first shuffle establishes the partitioning and the later joins
    * reuse it (co-partitioned equi-joins), so the chain costs one
    * real exchange of the events table.
    */
  def q38(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir).select($"user_id", $"event_type", $"ts")
    val v = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"ts").as("v_ts"))
    val c = ev.filter($"event_type" === "click")
      .join(v, "user_id").filter($"ts" > $"v_ts")
      .groupBy($"user_id").agg(min($"ts").as("c_ts"))
    val p = ev.filter($"event_type" === "purchase")
      .join(c, "user_id").filter($"ts" > $"c_ts")
      .groupBy($"user_id").agg(min($"ts").as("p_ts"))
    v.join(c, Seq("user_id"), "left_outer")
      .join(p, Seq("user_id"), "left_outer")
      .select($"user_id", $"v_ts", $"c_ts", $"p_ts",
        (lit(1) + when($"c_ts".isNull, 0).otherwise(1) +
          when($"p_ts".isNull, 0).otherwise(1)).as("stage"))
  }

  val q38Sql: String = """
    WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.ts) AS c_ts
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.v_ts GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.ts) AS p_ts
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.c_ts GROUP BY e.user_id)
    SELECT v.user_id, v.v_ts, c.c_ts, p.p_ts,
      CAST(1 + CASE WHEN c.c_ts IS NULL THEN 0 ELSE 1 END
        + CASE WHEN p.p_ts IS NULL THEN 0 ELSE 1 END AS INT) AS stage
    FROM v LEFT JOIN c ON v.user_id = c.user_id
      LEFT JOIN p ON v.user_id = p.user_id"""

  /** q39: sliding-window aggregate — 1-hour windows advancing every
    * 15 minutes (each event lands in exactly 4 overlapping windows).
    * Spark's `window(ts, dur, slide)` explodes the window memberships and
    * aggregates — one shuffle on (window, type); the oracle replays the
    * same epoch-aligned window arithmetic with an explicit 0..3 unnest.
    * Value totals use the exact-decimal sum so the doubles hash-match.
    */
  def q39(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .groupBy(window($"ts", "1 hour", "15 minutes"), $"event_type")
      .agg(count(lit(1)).cast("long").as("n_events"),
        graft.Portable.dsum($"value", 2).as("total_value"))
      .select($"window.start".as("w_start"), $"event_type",
        $"n_events", $"total_value")
  }

  val q39Sql: String = s"""
    WITH w AS (
      SELECT make_timestamp(CAST((floor(epoch(ts) / 900) - t.k) * 900000000
          AS BIGINT)) AS w_start,
        event_type, value
      FROM events CROSS JOIN range(0, 4) t(k))
    SELECT w_start, event_type, CAST(count(*) AS BIGINT) AS n_events,
      ${graft.Portable.dsumSql("value")} AS total_value
    FROM w GROUP BY w_start, event_type"""

  /** q40: skew-resistant fact-dim join through [[Skew.saltedJoin]] — the
    * hot-key mitigation as a first-class gate query, not just a spec:
    * lineitem joins part on a salted composite key (8 buckets seeded
    * from l_orderkey), so a pathologically hot part key fans out over 8
    * reducers; the result is identical to the plain join, which is
    * exactly what the oracle runs.
    */
  def q40(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, dir)
      .select($"l_orderkey", $"l_partkey".as("partkey"), $"l_quantity")
    val pt = Tables.part(s, dir).select($"p_partkey".as("partkey"), $"p_brand")
    Skew.saltedJoin(li, pt, "partkey", "l_orderkey", 8)
      .groupBy($"p_brand")
      .agg(count(lit(1)).cast("long").as("n_items"),
        graft.Portable.dsum($"l_quantity", 2).as("total_qty"))
  }

  val q40Sql: String = s"""
    SELECT p_brand, CAST(count(*) AS BIGINT) AS n_items,
      ${graft.Portable.dsumSql("l_quantity")} AS total_qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand"""

  /** Bucket count for [[q41]]'s histogram sketch. */
  val HistBuckets = 256

  /** q41: deterministic histogram quantiles — the gate-verifiable
    * companion to [[q27]]'s t-digest-style sketch (same pairing as
    * q36↔q23): order totals land in [[HistBuckets]] fixed-width buckets
    * (one scan after a min/max scan), and the p50/p90 estimates are the
    * lower edges of the first buckets whose cumulative count crosses the
    * rank — integer-exact threshold tests (2·cum ≥ n, 10·cum ≥ 9·n), so
    * the whole sketch replays bit-for-bit in DuckDB while behaving like
    * the bounded-memory histogram a 100 TB quantile pass would stream.
    */
  def q41(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, dir)
    val mm = o.agg(min($"o_totalprice").as("lo"), max($"o_totalprice").as("hi"))
    // degenerate-corpus guard: hi == lo would make the width 0 and the
    // bucket expression 0/0 (NaN) — Spark and DuckDB degrade differently
    // on NaN casts, so both sides pin every row to bucket 0 instead
    val b = when($"hi" === $"lo", lit(0)).otherwise(
      least(lit(HistBuckets - 1),
        floor(($"o_totalprice" - $"lo") / (($"hi" - $"lo") / HistBuckets))))
      .cast("int")
    val hist = o.crossJoin(broadcast(mm))
      .groupBy($"o_orderstatus", b.as("bkt"), $"lo", $"hi")
      .agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_orderstatus").orderBy($"bkt")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = hist.withColumn("cum", sum($"c").over(w))
      .withColumn("n", sum($"c").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"o_orderstatus")))
    def edge(cond: Column) = min(when(cond,
      $"lo" + $"bkt" * (($"hi" - $"lo") / HistBuckets)))
    cum.groupBy($"o_orderstatus")
      .agg(round(edge($"cum" * 2 >= $"n"), 4).as("p50_est"),
        round(edge($"cum" * 10 >= $"n" * 9), 4).as("p90_est"))
  }

  val q41Sql: String = s"""
    WITH mm AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi
      FROM orders),
    hist AS (
      SELECT o_orderstatus,
        CAST(CASE WHEN hi = lo THEN 0 ELSE least($HistBuckets - 1,
          floor((o_totalprice - lo) / ((hi - lo) / $HistBuckets))) END
          AS INT) AS bkt,
        lo, hi, count(*) AS c
      FROM orders CROSS JOIN mm
      GROUP BY ALL),
    cum AS (
      SELECT o_orderstatus, bkt, lo, hi, c,
        sum(c) OVER (PARTITION BY o_orderstatus ORDER BY bkt
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        sum(c) OVER (PARTITION BY o_orderstatus) AS n
      FROM hist)
    SELECT o_orderstatus,
      round(min(CASE WHEN cum * 2 >= n
        THEN lo + bkt * ((hi - lo) / $HistBuckets) END), 4) AS p50_est,
      round(min(CASE WHEN cum * 10 >= n * 9
        THEN lo + bkt * ((hi - lo) / $HistBuckets) END), 4) AS p90_est
    FROM cum GROUP BY o_orderstatus"""

  /** q42: cohort retention — users bucketed by the week of their first
    * event; each (cohort_week, week_offset) cell counts how many of that
    * cohort were active that many weeks later (the classic retention
    * triangle). Weeks are Monday-aligned `date_trunc` in both engines and
    * the offset is exact integer arithmetic on epoch seconds. Two
    * aggregates + one join, all keyed on user_id then on the (tiny)
    * cohort grid.
    */
  def q42(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, dir)
      .select($"user_id", date_trunc("week", $"ts").as("wk"))
    val cohort = ev.groupBy($"user_id").agg(min($"wk").as("cohort_week"))
    val active = ev.distinct()
    active.join(cohort, "user_id")
      .select($"user_id", $"cohort_week",
        floor(($"wk".cast("long") - $"cohort_week".cast("long")) / 604800.0)
          .cast("long").as("week_offset"))
      .groupBy($"cohort_week", $"week_offset")
      .agg(countDistinct($"user_id").cast("long").as("n_active"))
  }

  val q42Sql: String = """
    WITH e AS (SELECT user_id,
        CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk FROM events),
    f AS (SELECT user_id, min(wk) AS cohort_week FROM e GROUP BY user_id),
    a AS (SELECT DISTINCT user_id, wk FROM e)
    SELECT f.cohort_week,
      CAST((CAST(epoch(a.wk) AS BIGINT) - CAST(epoch(f.cohort_week) AS BIGINT))
        // 604800 AS BIGINT) AS week_offset,
      CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
    FROM a JOIN f USING (user_id)
    GROUP BY 1, 2"""

  /** q43: TPC-H Q8 shape — a nation's share of regional revenue by order
    * year. Six-way star join; the share divides two exact decimal sums
    * ([[graft.Portable.dsum]]) so the boundary is bit-identical, then
    * rounds the IEEE quotient.
    *
    * Scale shape (round-15 fix for the r14 sweep's one superlinear point,
    * 26.6× at 10× — docs/SF100_r14.md §4): the lineitem ⋈ orders edge
    * routes through the co-partitioned fact layout
    * ([[graft.sources.Bucketed]]) so neither fact side shuffles, and both
    * dim edges go through [[Hints.maybeBroadcast]], whose estimator now
    * sizes the PROJECTED joined side (supplier is ~2 columns wide here)
    * instead of Spark's product-of-inputs join stat — so the broadcast
    * guard no longer stands down at sf100 and the plan has ZERO full-fact
    * exchanges (asserted by Round15Spec).
    */
  def q43(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cn = Tables.nation(s, dir)
      .select($"n_nationkey".as("c_nk"), $"n_regionkey")
    val sn = Tables.nation(s, dir)
      .select($"n_nationkey".as("s_nk"), $"n_name".as("supp_nation"))
    val asiaCust = Tables.customer(s, dir)
      .join(broadcast(cn), $"c_nationkey" === $"c_nk")
      .join(broadcast(Tables.region(s, dir).filter($"r_name" === "ASIA")),
        $"n_regionkey" === $"r_regionkey")
      .select($"c_custkey")
    val supp = Tables.supplier(s, dir)
      .join(broadcast(sn), $"s_nationkey" === $"s_nk")
      .select($"s_suppkey", $"supp_nation")
    graft.sources.Bucketed.lineitem(s, dir).hint("merge")
      .join(graft.sources.Bucketed.orders(s, dir),
        $"l_orderkey" === $"o_orderkey")
      .join(Hints.maybeBroadcast(asiaCust), $"o_custkey" === $"c_custkey")
      .join(Hints.maybeBroadcast(supp), $"l_suppkey" === $"s_suppkey")
      .withColumn("volume", $"l_extendedprice" * (lit(1.0) - $"l_discount"))
      .groupBy(year($"o_orderdate").cast("long").as("yr"))
      .agg(
        dsum(when($"supp_nation" === "NATION_7", $"volume").otherwise(0.0), 4)
          .as("nation_volume"),
        dsum($"volume", 4).as("total_volume"))
      .withColumn("mkt_share",
        round($"nation_volume" / $"total_volume", 6))
  }

  val q43Sql: String = s"""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
      ${dsumSql("CASE WHEN sn.n_name = 'NATION_7' " +
        "THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END", 4)}
        AS nation_volume,
      ${dsumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS total_volume,
      round(${dsumSql("CASE WHEN sn.n_name = 'NATION_7' " +
          "THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END", 4)}
        / ${dsumSql("l_extendedprice * (1.0 - l_discount)", 4)}, 6)
        AS mkt_share
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region ON cn.n_regionkey = r_regionkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    WHERE r_name = 'ASIA'
    GROUP BY 1"""

  /** q44: TPC-H Q13 shape — the distribution of orders-per-customer,
    * including zero-order customers via the left outer join. Two
    * cascaded aggregations on exact integers; the first shuffles on
    * custkey, the second on the (tiny) count domain.
    */
  def q44(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, dir).select($"c_custkey")
      .join(Tables.orders(s, dir).select($"o_custkey", $"o_orderkey"),
        $"c_custkey" === $"o_custkey", "left_outer")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").cast("long").as("c_count"))
      .groupBy($"c_count")
      .agg(count(lit(1)).cast("long").as("custdist"))
  }

  val q44Sql: String = """
    WITH c_orders AS (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey)
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM c_orders GROUP BY c_count"""

  /** q45: correlated LATERAL subquery with ORDER BY + LIMIT — per-nation
    * top-3 customers by balance. Exercises Catalyst's lateral-join
    * decorrelation (the correlated LIMIT becomes a partitioned
    * WindowGroupLimit, the same physical shape as q11's window rank —
    * verified via `.explain`); results are raw column values, no float
    * arithmetic, so the gate is exact.
    */
  val q45Sql: String = """
    SELECT n.n_name AS nation, t.c_custkey AS custkey, t.c_acctbal AS acctbal
    FROM nation n, LATERAL (
      SELECT c_custkey, c_acctbal FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_custkey LIMIT 3) t"""

  def q45(s: SparkSession, dir: String): DataFrame = {
    Tables.nation(s, dir).createOrReplaceTempView("nation")
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    s.sql(q45Sql)
  }

  /** q46: TPC-H Q21 shape — suppliers who were the SOLE returned-flag
    * supplier on multi-supplier orders: an EXISTS (another supplier
    * shipped the order) and a NOT EXISTS (no OTHER supplier had a
    * returned line) both correlated on the same self-joined fact table,
    * expressed directly as the semi + anti joins Catalyst would
    * decorrelate the subqueries into. Exact integer counts.
    */
  val q46Sql: String = """
    SELECT s.s_name AS name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE l1.l_returnflag = 'R'
      AND o.o_orderstatus = 'F'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R')
    GROUP BY s.s_name"""

  def q46(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r16 watch item promoted to a fix: the SQL form planned supplier ⋈
    // l1 FIRST (a full-fact l_suppkey shuffle) and then ran the
    // decorrelated semi/anti/orders joins as three more orderkey
    // shuffles of the same fact — six exchanges carrying fact-scale
    // rows (plans/r16/q46_sole_supplier_before.txt). Same discipline as
    // q43/q49: every orderkey edge routes through the persisted
    // bucketed layout (zero fact exchanges — semi, anti and the orders
    // join are all bucket-aligned SMJs, the `<>` predicates riding as
    // residual conditions), and supplier becomes a size-guarded
    // broadcast onto the (tiny) surviving row set.
    val l = graft.sources.Bucketed.lineitem(s, dir)
    val l1 = l.filter($"l_returnflag" === "R")
      .select($"l_orderkey", $"l_suppkey")
    val l2 = l.select($"l_orderkey".as("k2"), $"l_suppkey".as("s2"))
    val l3 = l.filter($"l_returnflag" === "R")
      .select($"l_orderkey".as("k3"), $"l_suppkey".as("s3"))
    l1.hint("merge")
      .join(l2, $"l_orderkey" === $"k2" && $"l_suppkey" =!= $"s2",
        "left_semi")
      .hint("merge")
      .join(l3, $"l_orderkey" === $"k3" && $"l_suppkey" =!= $"s3",
        "left_anti")
      .hint("merge")
      .join(graft.sources.Bucketed.orders(s, dir)
          .filter($"o_orderstatus" === "F").select($"o_orderkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(Hints.maybeBroadcast(
          Tables.supplier(s, dir).select($"s_suppkey", $"s_name")),
        $"l_suppkey" === $"s_suppkey")
      .groupBy($"s_name".as("name"))
      .agg(count(lit(1)).cast("long").as("numwait"))
  }

  /** Per-order quantity floor for [[q47]] (~0.15% of orders clear it). */
  val Q47MinQty = 250.0

  /** q47: TPC-H Q18 shape — large-volume customers. The HAVING subquery
    * and the output's qty column come from ONE lineitem aggregate (the
    * classic Q18 plan rewrite: aggregate-then-join instead of
    * IN-subquery + re-aggregate), shuffled once on orderkey; orders joins
    * on the same key; customer is a size-guarded broadcast. The only
    * global sort is the final top-100.
    */
  def q47(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qty = Tables.lineitem(s, dir)
      .groupBy($"l_orderkey")
      .agg(dsum($"l_quantity").as("total_qty"))
      .filter($"total_qty" > Q47MinQty)
    qty.join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .join(Hints.maybeBroadcast(
        Tables.customer(s, dir).select($"c_custkey", $"c_name")),
        $"o_custkey" === $"c_custkey")
      .select($"c_name", $"c_custkey", $"o_orderkey", $"o_orderdate",
        $"o_totalprice", $"total_qty")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(100)
  }

  val q47Sql: String = s"""
    WITH qty AS (
      SELECT l_orderkey, ${dsumSql("l_quantity")} AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING ${dsumSql("l_quantity")} > $Q47MinQty)
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
    FROM qty JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""

  /** q48: TPC-H Q10 shape — top returned-item customers: revenue lost to
    * returns per customer over a quarter. The R-filtered lineitem joins
    * orders on the shuffled fact key; customer is a size-guarded
    * broadcast and nation a fixed broadcast; deterministic top-20.
    */
  def q48(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ord = Tables.orders(s, dir)
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1996-04-01").cast("timestamp"))
    Tables.lineitem(s, dir).filter($"l_returnflag" === "R")
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .join(Hints.maybeBroadcast(Tables.customer(s, dir)),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"c_custkey", $"c_name", $"c_acctbal", $"n_name")
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"revenue".desc, $"c_custkey")
      .limit(20)
  }

  val q48Sql: String = s"""
    SELECT c_custkey, c_name, c_acctbal, n_name,
      ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20"""

  /** q49: TPC-H Q7 shape — shipping volume between two nations by year:
    * supplier-nation → customer-nation flows in both directions. One
    * fact-fact shuffle (lineitem ⋈ orders); supplier/customer
    * size-guarded broadcasts; the two-nation predicate keeps both
    * directions via the OR of the (supp, cust) nation pairs.
    */
  def q49(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (na, nb) = ("NATION_3", "NATION_7")
    val sn = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name".as("supp_nation"))
      .filter($"supp_nation".isin(na, nb))
    val cn = Tables.customer(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"n_name".as("cust_nation"))
      .filter($"cust_nation".isin(na, nb))
    // r16 sweep flag (38× growth isolated): the raw fact-fact orderkey
    // shuffle ran BEFORE the 2-of-25-nations dims pruned anything.
    // Fixed with the same two disciplines the q43 fix established:
    // facts route through the persisted bucketed layout, and each
    // broadcast dim joins its own fact FIRST — broadcast joins preserve
    // the bucket partitioning AND sort order, so the selective dims
    // prune ~92% of both fact sides and the orderkey edge still plans
    // as a zero-exchange bucket-aligned SMJ (isolated sf100 A/B in
    // PERF_r16.md §3b).
    graft.sources.Bucketed.lineitem(s, dir)
      .join(Hints.maybeBroadcast(sn), $"l_suppkey" === $"s_suppkey")
      .hint("merge")
      .join(graft.sources.Bucketed.orders(s, dir)
          .join(Hints.maybeBroadcast(cn), $"o_custkey" === $"c_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .filter(($"supp_nation" === na && $"cust_nation" === nb) ||
        ($"supp_nation" === nb && $"cust_nation" === na))
      .groupBy($"supp_nation", $"cust_nation",
        year($"l_shipdate").cast("long").as("l_year"))
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
  }

  val q49Sql: String = s"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
      CAST(year(l_shipdate) AS BIGINT) AS l_year,
      ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE (sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
       OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3')
    GROUP BY 1, 2, 3"""

  /** q50: TPC-H Q4 shape — order-priority checking: orders in a quarter
    * with at least one LATE lineitem (shipped >60 days after the order
    * date), counted per priority. The correlated EXISTS decorrelates to a
    * left-semi join on orderkey carrying the non-equi lateness predicate
    * as the SMJ's residual condition; both fact sides route through the
    * persisted bucketed layout (r16 watch item), so the semi join is a
    * bucket-aligned zero-exchange SMJ instead of shuffling the full
    * lineitem projection; the count aggregates a 5-row domain.
    */
  def q50(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ord = graft.sources.Bucketed.orders(s, dir)
      .filter($"o_orderdate" >= lit("1996-07-01").cast("timestamp") &&
        $"o_orderdate" < lit("1996-10-01").cast("timestamp"))
    ord.hint("merge")
      .join(graft.sources.Bucketed.lineitem(s, dir),
        $"o_orderkey" === $"l_orderkey" &&
          $"l_shipdate" > $"o_orderdate" + expr("INTERVAL 60 DAY"),
        "left_semi")
      .groupBy($"o_orderpriority")
      .agg(dcount(lit(1)).as("order_count"))
  }

  val q50Sql: String = s"""
    SELECT o_orderpriority, ${dcountSql("1")} AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority"""

  /** q51: TPC-H Q12 shape — shipping-status priority mix: for lineitems
    * shipped LATE (>30 days after order date) in one year, per
    * l_linestatus, how many came from high- vs low-priority orders. One
    * fact-fact equi join on orderkey (the lateness predicate rides along
    * as a post-join filter Catalyst pushes into the join), CASE-counts
    * over a 2-row group domain.
    */
  def q51(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val hi = Seq("1-URGENT", "2-HIGH")
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1997-01-01").cast("timestamp"))
      .join(Tables.orders(s, dir), $"l_orderkey" === $"o_orderkey")
      .filter($"l_shipdate" > $"o_orderdate" + expr("INTERVAL 30 DAY"))
      .groupBy($"l_linestatus")
      .agg(
        sum(when($"o_orderpriority".isin(hi: _*), 1L).otherwise(0L))
          .cast("long").as("high_line_count"),
        sum(when($"o_orderpriority".isin(hi: _*), 0L).otherwise(1L))
          .cast("long").as("low_line_count"))
  }

  val q51Sql: String = """
    SELECT l_linestatus,
      CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
               THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_shipdate > o_orderdate + INTERVAL 30 DAY
    GROUP BY l_linestatus"""

  /** q52: TPC-H Q14 shape — promo revenue share over one ship month:
    * 100 · promo revenue / total revenue. Part is a size-guarded
    * broadcast onto the month-filtered fact scan; both sums run in exact
    * decimal and the share is the rounded double quotient (the
    * [[graft.Portable.davg]] division discipline), so the single output
    * row hash-matches bit-for-bit.
    */
  def q52(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= lit("1996-03-01").cast("timestamp") &&
        $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
      .join(Hints.maybeBroadcast(
        Tables.part(s, dir).select($"p_partkey", $"p_type")),
        $"l_partkey" === $"p_partkey")
      .withColumn("rev", $"l_extendedprice" * (lit(1.0) - $"l_discount"))
      .agg(
        dsum(when($"p_type" === "PROMO", $"rev").otherwise(0.0))
          .as("promo_revenue"),
        dsum($"rev").as("total_revenue"))
      .withColumn("promo_share",
        round(lit(100.0) * $"promo_revenue" / $"total_revenue", 4))
  }

  val q52Sql: String = s"""
    WITH sums AS (
      SELECT
        ${dsumSql("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")} AS promo_revenue,
        ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS total_revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        AND l_shipdate < TIMESTAMP '1996-04-01')
    SELECT promo_revenue, total_revenue,
      round(100.0 * promo_revenue / total_revenue, 4) AS promo_share
    FROM sums"""

  /** q53: TPC-H Q15 shape — top supplier(s) by quarterly revenue: the
    * revenue "view" (one supplier-keyed aggregate) feeds both the global
    * max (a 1-row broadcast) and the equality filter — the aggregate is
    * computed once and reused, never re-derived per row. Revenue is the
    * rounded exact-decimal sum, so the max-equality is stable.
    */
  def q53(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val revenue = Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
      .groupBy($"l_suppkey")
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .as("total_revenue"))
    val top = revenue.agg(max($"total_revenue").as("max_revenue"))
    revenue.join(broadcast(top), $"total_revenue" === $"max_revenue")
      .join(Hints.maybeBroadcast(
        Tables.supplier(s, dir).select($"s_suppkey", $"s_name")),
        $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"total_revenue")
  }

  val q53Sql: String = s"""
    WITH revenue AS (
      SELECT l_suppkey,
        ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM revenue JOIN supplier ON l_suppkey = s_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)"""

  /** q54: TPC-H Q6 shape — the forecasting-revenue-change scan: one
    * filtered pass over lineitem, a single global exact-decimal sum, no
    * join and no shuffle beyond the one-row final aggregate. All three
    * predicates push to the parquet scan.
    */
  def q54(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1997-01-01").cast("timestamp") &&
        $"l_discount" >= 0.05 && $"l_discount" <= 0.07 && $"l_quantity" < 24)
      .agg(dsum($"l_extendedprice" * $"l_discount").as("revenue"))
  }

  val q54Sql: String = s"""
    SELECT ${dsumSql("l_extendedprice * l_discount")} AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"""

  /** q55: TPC-H Q9 shape — product-type profit by nation and year (the
    * schema has no partsupp, so supply cost is the standard proxy
    * 0.6·p_retailprice·l_quantity): name-filtered parts and supplier
    * nation ride size-guarded/fixed broadcasts onto the fact scan, the
    * one fact-fact join (lineitem ⋈ orders for the order year) shuffles
    * on orderkey, profit aggregates per (nation, year) in exact decimal.
    * The LIKE filter prunes part before its broadcast, not after a join.
    */
  def q55(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val prt = Tables.part(s, dir)
      .filter($"p_name".contains("gear"))
      .select($"p_partkey", $"p_retailprice")
    val sup = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"n_name")
    Tables.lineitem(s, dir)
      .join(Hints.maybeBroadcast(prt), $"l_partkey" === $"p_partkey")
      .join(Hints.maybeBroadcast(sup), $"l_suppkey" === $"s_suppkey")
      .join(Tables.orders(s, dir).select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"n_name".as("nation"),
        year($"o_orderdate").cast("long").as("o_year"))
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount") -
        lit(0.6) * $"p_retailprice" * $"l_quantity").as("profit"))
  }

  val q55Sql: String = s"""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
      ${dsumSql("l_extendedprice * (1.0 - l_discount) - 0.6 * p_retailprice * l_quantity")} AS profit
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN orders ON l_orderkey = o_orderkey
    WHERE p_name LIKE '%gear%'
    GROUP BY 1, 2"""

  /** q56: TPC-H Q11 shape — important stock: per-part traded value from
    * the suppliers of three nations, kept only where it exceeds 1.5× the
    * MEAN per-part value (TPC-H scales Q11's fraction by 1/SF for exactly
    * this reason — a fixed fraction of the total empties out as the part
    * domain grows; the mean-multiple form is scale-invariant). The
    * per-part aggregate is computed ONCE and feeds both the 1-row global
    * (total, count) broadcast (q53's reuse discipline) and the output
    * rows; the threshold compare runs on rounded exact-decimal doubles
    * with one IEEE divide + multiply, so the boundary is bit-stable in
    * both engines.
    */
  def q56(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nations = Seq("NATION_3", "NATION_8", "NATION_12")
    val sup = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)), $"s_nationkey" === $"n_nationkey")
      .filter($"n_name".isin(nations: _*))
      .select($"s_suppkey")
    val value = Tables.lineitem(s, dir)
      .join(Hints.maybeBroadcast(sup), $"l_suppkey" === $"s_suppkey")
      .groupBy($"l_partkey")
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("value"))
    val total = value.agg(dsum($"value", 4).as("total"),
      count(lit(1)).as("nparts"))
    value.crossJoin(broadcast(total))
      .filter($"value" > lit(1.5) * ($"total" / $"nparts"))
      .select($"l_partkey", $"value")
  }

  val q56Sql: String = s"""
    WITH v AS (
      SELECT l_partkey,
        ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS value
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_3', 'NATION_8', 'NATION_12')
      GROUP BY l_partkey),
    t AS (SELECT ${dsumSql("value", 4)} AS total, count(*) AS nparts FROM v)
    SELECT l_partkey, value FROM v
    WHERE value > 1.5 * ((SELECT total FROM t) / (SELECT nparts FROM t))"""

  /** q57: TPC-H Q16 shape — supplier counts per part attribute triple:
    * how many DISTINCT suppliers ship each (brand, type, size) combo,
    * with one brand and one type excluded and "complaint" suppliers
    * (negative account balance) removed by an anti join on a tiny
    * broadcast side.
    *
    * Round-16 reshape (the r16 sf100 sweep's reproduced ~20×-growth
    * flag): the old form ran `.distinct()` over the FULL (l_partkey,
    * l_suppkey) fact projection — a corpus-sized shuffle — before the
    * selective part filter, and then count-distincted AGAIN inside the
    * groupBy. The pair-distinct is semantically redundant (the final
    * `countDistinct(l_suppkey)` per attribute triple dedups everything
    * the pair-distinct did), so the fact stream now goes straight
    * through the two broadcast prunes into ONE two-phase
    * distinct-count aggregation: the only shuffle left carries the
    * ~12%-of-parts survivors' partial-deduped (group, suppkey) pairs
    * (isolated sf100 A/B in PERF_r16.md §3b). Same oracle, hash-exact.
    */
  def q57(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sizes = Seq(1, 4, 9, 14, 19, 24, 29, 34)
    val prt = Tables.part(s, dir)
      .filter($"p_brand" =!= "Brand#5" && $"p_type" =!= "PROMO" &&
        $"p_size".isin(sizes: _*))
      .select($"p_partkey", $"p_brand", $"p_type", $"p_size")
    val complaints = Tables.supplier(s, dir)
      .filter($"s_acctbal" < 0).select($"s_suppkey")
    Tables.lineitem(s, dir)
      .select($"l_partkey", $"l_suppkey")
      .join(broadcast(complaints), $"l_suppkey" === $"s_suppkey", "left_anti")
      .join(Hints.maybeBroadcast(prt), $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand", $"p_type", $"p_size")
      .agg(countDistinct($"l_suppkey").cast("long").as("supplier_cnt"))
  }

  val q57Sql: String = """
    SELECT p_brand, p_type, p_size,
      CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size"""

  /** q58: TPC-H Q19 shape — discounted revenue over an OR of three
    * conjunctive (brand, size-range, quantity-range) branches: the
    * disjunction references both join sides, so it rides the partkey
    * equi-join as its non-equi residual; Catalyst's CNF extraction pulls
    * the part-only disjuncts (brand ∨ brand ∨ brand, size ≤ 15) down to
    * the part scan so the broadcast side is pre-pruned.
    */
  def q58(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val prt = Tables.part(s, dir)
      .select($"p_partkey", $"p_brand", $"p_size")
    Tables.lineitem(s, dir)
      .join(Hints.maybeBroadcast(prt), $"l_partkey" === $"p_partkey" && (
        ($"p_brand" === "Brand#12" && $"p_size".between(1, 5) &&
          $"l_quantity".between(1, 11)) ||
        ($"p_brand" === "Brand#23" && $"p_size".between(1, 10) &&
          $"l_quantity".between(10, 20)) ||
        ($"p_brand" === "Brand#3" && $"p_size".between(1, 15) &&
          $"l_quantity".between(20, 30))))
      .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .as("revenue"))
  }

  val q58Sql: String = s"""
    SELECT ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)"""

  /** K for [[q59]]'s (and g18's) mergeable distinct-value quantile
    * sketch. */
  val QSketchK = 2048

  /** q59: MERGEABLE QUANTILE SKETCH — per-flag p50/p95 extended price
    * via [[graft.functions.QuantileSketchAgg]], the distinct-value
    * bottom-K-by-hash sample with exact per-value counts (Gibbons'
    * distinct sampling). Completes the sketch triple: q23/q36 KMV
    * (distinct count), q41 histogram (fixed-grid quantile), q59
    * (mergeable value-sample quantile — the state-object form q27's
    * row sample lacks, which is what lets g18 stream it). One scan,
    * map-side-combined to O(K) per group per partition; the weighted
    * rank walk over the ≤K-row sample is integer-exact threshold tests
    * (2·cum ≥ n, 20·cum ≥ 19·n) and the single division v/100.0 is the
    * one IEEE op both engines see — full DuckDB hash gate via the
    * `row_number() OVER (ORDER BY hv, v) <= K` replay.
    */
  def q59(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
    val hv = conv(substring(md5(concat(lit("q59"),
      cents.cast("string"))), 1, 8), 16, 10).cast("long")
    val sk = Tables.lineitem(s, dir)
      .groupBy($"l_returnflag")
      .agg(graft.functions.QuantileSketchAgg(hv, cents, QSketchK).as("sk"))
    val ex = sk.select($"l_returnflag", explode($"sk").as("e"))
      .select($"l_returnflag", $"e.v".as("v"), $"e.c".as("c"))
    val w = Window.partitionBy($"l_returnflag").orderBy($"v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ex.withColumn("cum", sum($"c").over(w))
      .withColumn("n", sum($"c").over(Window.partitionBy($"l_returnflag")))
      .groupBy($"l_returnflag")
      .agg((min(when($"cum" * 2 >= $"n", $"v")) / 100.0).as("p50_est"),
        (min(when($"cum" * 20 >= $"n" * 19, $"v")) / 100.0).as("p95_est"))
  }

  val q59Sql: String = s"""
    WITH vals AS (
      SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
        count(*) AS c
      FROM lineitem GROUP BY 1, 2),
    h AS (
      SELECT l_returnflag, v, c,
        CAST(('0x' || substring(md5('q59' || CAST(v AS VARCHAR)), 1, 8))::UBIGINT
             AS BIGINT) AS hv
      FROM vals),
    r AS (
      SELECT l_returnflag, v, c,
        row_number() OVER (PARTITION BY l_returnflag ORDER BY hv, v) AS rn
      FROM h),
    cum AS (
      SELECT l_returnflag, v, c,
        sum(c) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
        sum(c) OVER (PARTITION BY l_returnflag) AS n
      FROM r WHERE rn <= $QSketchK)
    SELECT l_returnflag,
      CAST(min(CASE WHEN cum * 2 >= n THEN v END) AS DOUBLE) / 100.0
        AS p50_est,
      CAST(min(CASE WHEN cum * 20 >= n * 19 THEN v END) AS DOUBLE) / 100.0
        AS p95_est
    FROM cum GROUP BY 1"""

  val queries: Map[String, Q] = Map(
    "q59_quantile_sketch" -> q59,
    "q55_nation_profit" -> q55, "q56_important_stock" -> q56,
    "q57_supplier_cnt" -> q57, "q58_or_chain_revenue" -> q58,
    "q50_late_orders" -> q50, "q51_late_priority_mix" -> q51,
    "q52_promo_share" -> q52, "q53_top_supplier" -> q53,
    "q54_revenue_scan" -> q54,
    "q47_big_orders" -> q47, "q48_returned_items" -> q48,
    "q49_nation_volume" -> q49,
    "q43_market_share" -> q43, "q44_cust_distribution" -> q44,
    "q45_lateral_topn" -> q45, "q46_sole_supplier" -> q46,
    "q37_stratified_sample" -> q37, "q38_funnel" -> q38,
    "q39_sliding_window" -> q39, "q40_skew_join" -> q40,
    "q41_histogram_quantile" -> q41, "q42_cohort_retention" -> q42,
    "q32_avg_gated_anti" -> q32, "q33_moving_avg" -> q33,
    "q34_rank_buckets" -> q34,
    "q30_min_cost_supplier" -> q30, "q31_nested_exists" -> q31,
    "q27_approx_quantile" -> q27, "q28_correlated_subquery" -> q28,
    "q29_lead_lag" -> q29,
    "q23_approx_distinct" -> q23, "q24_grouping_sets" -> q24,
    "q25_set_ops" -> q25, "q26_custom_range_join" -> q26,
    "q1_agg" -> q1, "q2_filter_project" -> q2, "q3_join_agg" -> q3,
    "q4_broadcast_join" -> q4, "q5_multi_join" -> q5, "q6_semi_join" -> q6,
    "q7_anti_join" -> q7, "q8_outer_join" -> q8, "q9_window_rank" -> q9,
    "q10_running_sum" -> q10, "q11_topk_per_group" -> q11,
    "q12_distinct" -> q12, "q13_rollup" -> q13, "q14_cube" -> q14,
    "q15_union" -> q15, "q16_case_agg" -> q16, "q17_percentile" -> q17,
    "q18_asof_join" -> q18, "q19_range_join" -> q19, "q20_pivot" -> q20,
    "q21_scalar_subquery" -> q21, "q22_sessionize" -> q22,
    "q36_kmv_distinct" -> q36, "q60_bucketed_fact_join" -> q60)

  val oracles: Map[String, String] = Map(
    "q59_quantile_sketch" -> q59Sql,
    "q55_nation_profit" -> q55Sql, "q56_important_stock" -> q56Sql,
    "q57_supplier_cnt" -> q57Sql, "q58_or_chain_revenue" -> q58Sql,
    "q23_approx_distinct" -> q23Sql, "q27_approx_quantile" -> q27Sql,
    "q50_late_orders" -> q50Sql, "q51_late_priority_mix" -> q51Sql,
    "q52_promo_share" -> q52Sql, "q53_top_supplier" -> q53Sql,
    "q54_revenue_scan" -> q54Sql,
    "q43_market_share" -> q43Sql, "q44_cust_distribution" -> q44Sql,
    "q45_lateral_topn" -> q45Sql, "q46_sole_supplier" -> q46Sql,
    "q47_big_orders" -> q47Sql, "q48_returned_items" -> q48Sql,
    "q49_nation_volume" -> q49Sql,
    "q36_kmv_distinct" -> q36Sql,
    "q37_stratified_sample" -> q37Sql, "q38_funnel" -> q38Sql,
    "q39_sliding_window" -> q39Sql, "q40_skew_join" -> q40Sql,
    "q41_histogram_quantile" -> q41Sql, "q42_cohort_retention" -> q42Sql,
    "q32_avg_gated_anti" -> q32Sql, "q33_moving_avg" -> q33Sql,
    "q34_rank_buckets" -> q34Sql,
    "q30_min_cost_supplier" -> q30Sql, "q31_nested_exists" -> q31Sql,
    "q24_grouping_sets" -> q24Sql, "q25_set_ops" -> q25Sql,
    "q26_custom_range_join" -> q19Sql, "q28_correlated_subquery" -> q28Sql,
    "q29_lead_lag" -> q29Sql,
    "q1_agg" -> q1Sql, "q2_filter_project" -> q2Sql, "q3_join_agg" -> q3Sql,
    "q4_broadcast_join" -> q4Sql, "q5_multi_join" -> q5Sql,
    "q6_semi_join" -> q6Sql, "q7_anti_join" -> q7Sql, "q8_outer_join" -> q8Sql,
    "q9_window_rank" -> q9Sql, "q10_running_sum" -> q10Sql,
    "q11_topk_per_group" -> q11Sql, "q12_distinct" -> q12Sql,
    "q13_rollup" -> q13Sql, "q14_cube" -> q14Sql, "q15_union" -> q15Sql,
    "q16_case_agg" -> q16Sql, "q17_percentile" -> q17Sql,
    "q18_asof_join" -> q18Sql, "q19_range_join" -> q19Sql,
    "q20_pivot" -> q20Sql, "q21_scalar_subquery" -> q21Sql,
    "q22_sessionize" -> q22Sql,
    // same oracle as q5: the bucketed layout must be answer-invariant
    "q60_bucketed_fact_join" -> q5Sql)
}
