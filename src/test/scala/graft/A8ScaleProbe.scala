package graft

import org.apache.spark.sql.functions._

/** Round-11 verdict item 5: the acceptance probe for multi-key Calvin at
  * 5M GENUINELY multi-key txns — records which scheduling path the
  * engine takes and proves the driver's metadata stays bounded (<100 MB)
  * when the batch blows past every driver-side cap.
  *
  * Driver-metadata accounting by construction:
  *   - componentsOf collects edges ONLY under LocalComponentsMaxEdges
  *     (4M edges x 16 B = 64 MB); past it, labels are pointer-doubled
  *     distributed rounds and the driver holds convergence scalars.
  *   - applyMultiKeyStats folds components only when the largest stays
  *     under FoldComponentCap (4M txns); past it, the generational path
  *     runs, whose driver state is the phase count + which phases fold
  *     singles (O(#phases) ints).
  *   - generationsCounted's path doubling bails to label relaxation past
  *     MaxClosurePairs (2M pairs) — its driver state is two longs.
  * The probe generates a workload that exceeds the caps (5M two-key
  * txns over a shared key domain -> one giant conflict component) and
  * records edges, component census, path, passes, wall time, and the
  * final state/result row counts.
  *
  * RECORDED (this host, local[32], 5M txns over a 2M-key domain — an
  * adversarial fully-conflicting batch, far denser than any realistic
  * micro-batch): path=generational, applyPhases=31, schedulerPasses=31,
  * foldedComponents=0 (the single giant component exceeds the 4M fold
  * cap, exactly as designed), state rows 1,986,562 / result rows
  * 4,999,998 (the two k1==k2 collisions filtered), wall 228.6 s. Driver
  * metadata on this path is the phase census (O(31) ints) — the 64 MB
  * union-find edge cap was never reached because componentsOf saw
  * 5M > 4M edges and kept labels distributed throughout.
  *
  * RECORDED round 13, one decade-step up (20M txns over an 8M-key
  * domain, same adversarial density, same host): path=generational,
  * applyPhases=33, schedulerPasses=33, foldedComponents=0, state rows
  * 7,945,994 / result rows 19,999,997, wall 1087.7 s — 4.8x wall at 4x
  * txns with the phase count FLAT (31 -> 33: phases track conflict-chain
  * depth, which the constant txns/keys ratio pins), so per-phase work is
  * the linear term and the driver still holds O(#phases) ints.
  *
  * RECORDED round 14 — the wall decomposition the r13 4.8x asked for
  * (`SPARK_GRAFT_MK_DEBUG=1`, quiet host, 10M/4M then 20M/8M — a clean
  * doubling at the same conflict density; per-phase ck_ms = the phase's
  * apply joins + state checkpoint, merge_ms = the deferred result-union
  * materializations; residual = the PRE-LOOP scheduling + metadata:
  * workload checkpoint, keyed/asserts/updates materializations,
  * componentsOf pointer-doubling, generationsCounted passes):
  *
  *   | txns | phases | wall s | phase-loop ck | merges | pre-loop |
  *   |------|--------|--------|---------------|--------|----------|
  *   | 10M  | 32     | 504.2  | 165.0         | 17.3   | 321.9    |
  *   | 20M  | 33     | 874.2  | 247.8         | 18.1   | 608.3    |
  *   | 2x   | flat   | 1.73x  | 1.50x         | flat   | 1.89x    |
  *
  * NO term is superlinear at the doubling: the phase loop is SUBLINEAR
  * (fixed per-phase floors amortize), the pre-loop is ~linear and is
  * ~2/3 of the wall (33 scheduler passes each scan the 2-key metadata
  * stream). r13's 4.8x-at-4x (which implied ~2.2x per doubling) does
  * not reproduce on a quiet host — this 20M run lands at 874 s vs the
  * recorded 1087.7 s, so the excess was the single-disk/page-cache
  * coupling SF100_r13.md documents, not a plan term. The scale lever,
  * if one is ever needed, is the pre-loop's scheduler-pass count — a
  * metadata-only cost that a fleet's aggregate shuffle bandwidth
  * absorbs, unlike a data-proportional superlinearity.
  *
  * RECORDED round 15 — the pre-loop attacked on three fronts, measured
  * by the new per-stage [mk-pre] timers (same hosts/sizes as r14):
  * (1) scheduling: chain relaxation (whole key chains propagate per
  * pass via a per-key window prefix-max; passes 32→24 / 33→22) with
  * both loop frames co-partitioned on txn_id so only 2 shuffle legs
  * remain per pass; (2) the fold-vs-generational components decision
  * early-exits once any component's lower-bound mass tops the cap;
  * (3) an all-multi batch skips the singles-phase window entirely.
  *
  *   | txns | wall s (r14→r15) | phase-loop | pre-loop | pre-loop share |
  *   |------|------------------|------------|----------|----------------|
  *   | 10M  | 504.2 → 392.0    | 204.4      | 187.6    | 64% → 47.9%    |
  *   | 20M  | 874.2 → 815.7    | 280.8      | 534.9    | 70% → 65.6%    |
  *
  * 10M meets the <50% pre-loop target; 20M does not yet. The 20M
  * residual decomposes as components 279.7 s + scheduling 244.7 s: the
  * scheduling term now scales linearly (11.1 s/pass at 2× the
  * metadata), while the components stage is the remaining
  * superlinear-ish point (95→280 s at 2×) — its pointer-double
  * self-join keys on group_id, and once the giant component's label
  * wins, most rows carry ONE key (label skew; AQE's skew split only
  * partially absorbs it). MEASURED DEAD END
  * (r15): broadcasting a distinct-label jump mapping per round to
  * bypass the skewed join REGRESSED components 280 → 328 s at 20M —
  * the per-round distinct+count+semi-join staging costs more than the
  * skew it removes (early rounds are label-rich, so they pay the
  * staging AND keep the shuffled join). Reverted; don't retry that
  * shape.
  *
  * RECORDED round 16 — both pre-loop terms killed structurally, not
  * tuned (same host, 20M/8M, SPARK_GRAFT_MK_DEBUG decompositions; this
  * session ran the r15 shapes measurably slower than r15's session —
  * scheduling 388-470 s vs 244.7, the documented host band — so the
  * honest comparison is same-session):
  *
  *   1. SECOND MEASURED DEAD END, components: finishing the label loop
  *      by label-graph CONTRACTION (relabel edges → distinct label
  *      pairs → driver union-find once labels fit the 4M cap) is
  *      bit-exact and does end the loop at round 6 of ~8, but the
  *      attempts that FAIL (the adversarial label graph stays >4M
  *      distinct pairs down to 54k labels) cost 15-69 s each — 172.6 s
  *      of the 554.3 s components total measured with it on (r15's
  *      loop recorded 279.7 s on r15's faster session). The mechanism
  *      remains in componentsOf where it belongs — the EXACT-labels
  *      path (d6/d11-scale graphs) short-circuits the skew-bound late
  *      rounds — but no decision path should pay it.
  *   2. Components DECISION = edge count, no labeling at all: a
  *      component of k txns needs ≥ k−1 conflict edges, so edges ≤
  *      min(foldCap, 4M) both bounds every component under the fold cap
  *      AND fits the driver union-find; a bigger batch dispatches
  *      generational on size alone (its labels were abandoned anyway —
  *      every observed over-cap certification wasted the full loop).
  *      components 554.3 → 0.7 s same-session.
  *   3. Scheduling = ONE sequential pass, not 22 relaxation passes: the
  *      conflict DAG's edges always point to larger txnIds, so txnId
  *      order is topological and the longest-path recurrence resolves
  *      in one in-partition sorted scan (one task, key→gen map; gated
  *      at 64M incidence rows, distributed relaxation beyond).
  *      scheduling+gens-ck 469.6 → 55.8 s same-session.
  *
  *   | txns | wall s (r15 → r16) | pre-loop | phase ck+merge | share |
  *   |------|--------------------|----------|----------------|-------|
  *   | 10M  | 392.0 → 161.3      | 75.2     | 77.1 + 10.4    | 46.6% |
  *   | 20M  | 815.7 → 426.9      | 79.5     | 335.2 + 10.8   | 18.6% |
  *
  *   Both decades meet the <50% pre-loop target (10M barely: its phase
  *   loop ran unusually FAST this session, shrinking the denominator).
  *   Wall scales 2.6× at 2× txns in this pair — but the growth is
  *   entirely the phase loop's 77→335 s, the stage the r14/r15 records
  *   place anywhere in a ±2× session band (165-248 s at 10M across
  *   rounds); the pre-loop, the thing this round changed, is now FLAT
  *   at 2× txns (75.2 → 79.5 s) because its largest surviving term is
  *   the one-task scheduling scan (54.7/55.8 s — shuffle-read + sort
  *   floor dominated, input = 2 metadata rows/txn). State/result rows
  *   identical to the r13-r15 records at both sizes.
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
    val (state, results, stats) = TxnEngine.applyMultiKeyStats(empty, txns)
    val nState = state.count()
    val nRes = results.count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(s"stats: applyPhases=${stats.applyPhases} " +
      s"schedulerPasses=${stats.schedulerPasses} " +
      s"foldedComponents=${stats.foldedComponents} " +
      s"maxComponentTxns=${stats.maxComponentTxns}")
    println(f"state rows: $nState  result rows: $nRes  wall: $sec%.1f s")
    val path = if (stats.foldedComponents > 0) "component-fold" else "generational"
    println(s"path: $path")
    // driver metadata bound: the largest possible data-dependent collect
    // on either path (edge list if it stayed local, else scalars)
    val edgeBound = math.min(
      graft.operators.Dedup.LocalComponentsMaxEdges, n) * 16
    println(f"driver metadata bound: <= ${edgeBound / 1e6}%.0f MB " +
      "(edge union-find cap; generational/distributed paths hold scalars)")
    s.stop()
  }
}
