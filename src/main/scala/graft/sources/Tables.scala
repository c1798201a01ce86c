package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Named-table loaders over a scale-factor directory of parquet files.
  *
  * Columnar parquet scans are the engine's batch source; filters and column
  * pruning push down to the scan (verify with `.explain`: `PushedFilters`,
  * `ReadSchema`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every table as a temp view so `spark.sql` works directly. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  /** events.ts has shipped as either parquet TIMESTAMP(NANOS) (which Spark
    * rejects outright — [PARQUET_TYPE_ILLEGAL] — unless read as raw ns longs)
    * or plain timestamp[us] without tz. Enable the legacy nanos-as-long read
    * (harmless for µs files) and disable NTZ inference so µs-without-tz
    * columns land as TimestampType DIRECTLY IN THE SCAN (sessions pin UTC,
    * so the values are exactly the µs DuckDB reads) — a post-scan
    * NTZ→TZ cast projection measured 2× on the bare events scan
    * (round-10 A3A6Probe, since removed; SURVEY.md's round-10 status:
    * 0.055 s raw vs 0.119 s cast at sf0.1).
    */
  private def eventsRaw(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.read.parquet(s"$dir/events.parquet")
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val raw = eventsRaw(s, d)
    raw.schema("ts").dataType match {
      // legacy TIMESTAMP(NANOS) parquet, read as raw ns longs → truncate to µs
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      // timestamp[us] without tz loads as NTZ; sessions pin UTC, so the cast
      // keeps the exact µs values DuckDB reads from the same file
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw
      case other =>
        throw new IllegalStateException(s"events.ts: unexpected dtype $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Columns every query in the gate depends on, per table. `probe` asserts
    * these survive a testdata regeneration; dtype drift for known-variant
    * columns (events.ts) is adapted in the loaders, so only a missing column
    * or a genuinely new dtype fails here — loudly, with the actual schema.
    */
  val requiredColumns: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey", "r_name"),
    "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "part" -> Seq("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate"),
    "events" -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Seq("vec_id", "embedding", "label"))

  /** Load every table and assert the gate's required columns exist, with
    * events.ts resolved to TimestampType. Throws with the full actual schema
    * on any mismatch so a regeneration can't silently zero the gate.
    */
  def probe(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.types._
    names.foreach { n =>
      val df = load(spark, dir, n)
      val have = df.schema.fieldNames.toSet
      val missing = requiredColumns(n).filterNot(have)
      require(missing.isEmpty,
        s"table $n at $dir is missing columns $missing; actual schema: ${df.schema.treeString}")
      if (n == "events")
        require(df.schema("ts").dataType == TimestampType,
          s"events.ts did not resolve to TimestampType: ${df.schema.treeString}")
    }
  }
}
