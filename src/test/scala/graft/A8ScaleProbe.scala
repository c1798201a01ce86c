package graft

import org.apache.spark.sql.functions._

/** Scale probe for the multi-key engine on an adversarial batch: `n`
  * two-key blind-update txns whose keys are md5-scattered over
  * `keyDomain` keys (args, default 5M over 2M). At that density almost
  * every txn joins one giant conflict component. It prints the path the
  * engine took, the [[graft.streaming.TxnEngine.MkStats]], the wall time,
  * the state and result row counts, and order-independent checksums of
  * both (sum of xxhash64 over the rows), so an A/B compares rows, not
  * just counts. Run: `sbt "Test/runMain graft.A8ScaleProbe 3000000 1200000"`.
  *
  * Driver-metadata accounting by construction (`applyMultiKeyCapped`):
  *   - the batch's star conflict edges (every txn on a key to the key's
  *     first txn) are counted in one job; only a batch with at most
  *     min(FoldComponentCap, LocalComponentsMaxEdges) = 4M edges is
  *     collected into the driver union-find (`Dedup.unionFind`, ≤ 4M
  *     edges × 16 B = 64 MB), whose census decides the fold;
  *   - a batch past the edge gate, or with a component over the 4M-txn
  *     fold cap, splits at its middle txnId into two ranges applied in
  *     order, each through the same gates; the driver holds the range
  *     bounds, never more than one range's union-find;
  *   - a fold task holds one component, at most FoldComponentCap txns.
  * So the path is "fold" (one range) or "split(n)" (n ranges).
  *
  * History (rounds 11–16, a 32-core host): the over-cap shapes went down
  * a generational path, conflict-free generations applied one barrier per
  * conflict level — 5M/2M in 31 phases, 228.6 s; 20M/8M in 33 phases,
  * 1087.7 s (r13) → 426.9 s (r16, after the edge-count dispatch and the
  * one-scan scheduler). The txnId-range split replaced that path; the
  * r14–r16 wall decompositions are in SURVEY.md and docs/PERF_r16.md.
  *
  * RECORDED, the split against the generational path it replaced (4-core
  * host, local[32], 7g heap, clean copies of both sides, runs alternating;
  * wall = apply plus both counts; every run of a shape printed the same
  * row counts and state/result checksums on both sides):
  *
  *   | txns/keys | generational (31 phases) | split (2 ranges) |
  *   |-----------|--------------------------|------------------|
  *   | 3M / 1.2M | 242.6, 257.2 s           | 112.0, 113.8 s   |
  *   | 5M / 2M   | 338.9, 355.1 s           | 150.6, 156.3 s   |
  *
  * 3M/1.2M: 1,192,070 state / 2,999,999 result rows, largest range
  * component 1,482,858 txns; 5M/2M: 1,986,562 / 4,999,998 rows (as in
  * the r11 record), largest 2,471,226. The fold-path shape 1M/2M (one
  * range, 264,546 components, largest 4,818) read 38.2, 33.3 s before and
  * 37.2, 36.3 s after, same stats, rows and checksums.
  */
object A8ScaleProbe {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 5000000L
    val keyDomain = if (args.length > 1) args(1).toLong else 2000000L
    val s = GraftSession.get("local[32]")
    import s.implicits._
    import streaming.TxnEngine

    // declarative two-key blind-update workload (codegen, no closures):
    // k1/k2 are md5-scattered over the key domain so key collisions (and
    // with them conflict chains) are realistic, not adjacent-id artifacts
    val kvType = "array<struct<key:string,valueOption:string>>"
    def kv(key: org.apache.spark.sql.Column,
        value: org.apache.spark.sql.Column) =
      struct(key.as("key"), value.as("valueOption"))
    val txns = s.range(n)
      .select($"id".as("txnId"),
        concat(lit("k"), pmod(xxhash64($"id" * 2 + 1), lit(keyDomain))
          .cast("string")).as("k1"),
        concat(lit("k"), pmod(xxhash64($"id" * 2 + 2), lit(keyDomain))
          .cast("string")).as("k2"))
      .filter($"k1" =!= $"k2") // keep every txn genuinely 2-key
      .select($"txnId", array().cast(kvType).as("asserts"),
        array(kv($"k1", $"txnId".cast("string")),
          kv($"k2", $"txnId".cast("string"))).as("updates"))
      .as[TxnEngine.Txn]

    val empty = Seq.empty[(String, String)].toDF("key", "value")
    println(s"txns: $n  keyDomain: $keyDomain")
    val t0 = System.nanoTime()
    val (state, results, stats) = TxnEngine.applyMultiKey(empty, txns)
    val nState = state.count()
    val nRes = results.count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(s"stats: ranges=${stats.applyPhases} " +
      s"foldedComponents=${stats.foldedComponents} " +
      s"maxComponentTxns=${stats.maxComponentTxns}")
    println(f"state rows: $nState  result rows: $nRes  wall: $sec%.1f s")
    val path =
      if (stats.applyPhases == 1) "fold" else s"split(${stats.applyPhases})"
    println(s"path: $path")
    // order-independent: a decimal sum of per-row hashes cannot overflow
    def checksum(df: org.apache.spark.sql.DataFrame) =
      df.select(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)").as("h"))
        .agg(sum($"h")).head().get(0)
    println(s"state checksum: ${checksum(state)}  " +
      s"results checksum: ${checksum(results)}")
    // driver metadata bound: the largest possible data-dependent collect,
    // one range's edge list under the union-find gate
    val edgeBound = math.min(
      graft.operators.Dedup.LocalComponentsMaxEdges, n) * 16
    println(f"driver metadata bound: <= ${edgeBound / 1e6}%.0f MB " +
      "(edge union-find cap per txnId range)")
    s.stop()
  }
}
