package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Local-mode defaults sized for the test harness (`local[32]`, 32 shuffle
  * partitions); on a real cluster the same code runs with AQE choosing
  * partition counts (`spark.sql.adaptive.*` stays on either way).
  */
object GraftSession {
  /** Streaming state-store provider. Default is Spark's HDFS-backed
    * store: executor-heap state, right-sized for the bounded-state ops
    * (g17/g18 keep O(K) sketch rows, the txn engine O(open keys)). Set
    * `SPARK_GRAFT_STATE_STORE=rocksdb` for the unbounded-domain case —
    * g2/g8-style per-user state at 100 TB outgrows executor heap, and
    * RocksDB spills it to local SSD with changelog checkpointing instead
    * of OOMing the executor. Both providers are gated green against the
    * same DuckDB oracles (round 13; docs/ROCKSDB_r13.md records the
    * throughput/state-size comparison on the 1M-event g8 feed).
    */
  private val stateStoreProvider: Option[String] =
    sys.env.get("SPARK_GRAFT_STATE_STORE") match {
      case Some("rocksdb") => Some("org.apache.spark.sql.execution." +
        "streaming.state.RocksDBStateStoreProvider")
      case Some("hdfs") | None => None
      case Some(other) =>
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_STATE_STORE must be hdfs or rocksdb, got $other")
    }

  def builder(master: String = "local[32]"): SparkSession.Builder = {
    val b = SparkSession.builder()
      .withExtensions(new functions.GraftExtensions)
      .master(master)
      .appName("graft")
      // 32 (one per core) is right for the gate/test SFs where the
      // per-task floor dominates; SPARK_GRAFT_SHUFFLE lets decade-up dev
      // runs size a shuffle partition ≲256 MB. Measured honestly at
      // sf100 (round 13): t14 was 3.6× superlinear at 32 partitions AND
      // unchanged at 128 — the box is memory-wall-bound there (a ~30 GB
      // tokenized working set against one host's heap), not
      // partition-starved; on a multi-executor cluster the same linear
      // plan fans out, which is the knob's real audience
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); read as long ns and let
      // Tables.events lower to µs (truncating, matching DuckDB's read).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    stateStoreProvider.fold(b)(
      b.config("spark.sql.streaming.stateStore.providerClass", _))
  }

  def get(master: String = "local[32]"): SparkSession = {
    val spark = builder(master).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
