package graft

import graft.operators.TxnQueries
import graft.streaming.{StreamRunner, TxnEngine}
import graft.streaming.TxnEngine._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

class TxnEngineSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val d = TestSpark.sf

  /** Deterministic random multi-key workloads (seeded). */
  private def randomTxns(seed: Long, n: Int, keys: Int): Seq[Txn] = {
    val rnd = new Random(seed)
    (0 until n).map { i =>
      def kvs(c: Int) = (0 until c).map { _ =>
        KeyValueOption(s"k${rnd.nextInt(keys)}",
          if (rnd.nextBoolean()) Some(rnd.nextInt(5).toString) else None)
      }.groupBy(_.key).map(_._2.head).toSeq // distinct keys per txn
      Txn(i.toLong, kvs(1 + rnd.nextInt(3)), kvs(1 + rnd.nextInt(3)))
    }
  }

  private def emptyState: org.apache.spark.sql.DataFrame = {
    import s.implicits._
    Seq.empty[(String, String)].toDF("key", "value")
  }

  /** [[TxnEngine.applyMultiKey]] from an empty state, results collected. */
  private def applyCollected(txns: Seq[Txn])
      : (org.apache.spark.sql.DataFrame, Seq[MkResult]) = {
    import s.implicits._
    val (state, results, _) = TxnEngine.applyMultiKey(emptyState, txns.toDS())
    (state, results.as[MkResult].collect().toSeq)
  }

  /** A txn per id over its (txn_id, key) rows, in id order: each writes
    * its own value to all its keys, and odd ids also assert their first
    * key holds the value the id before wrote, so asserts both hit and miss.
    */
  private def txnsOn(rows: Seq[(Long, String)]): Seq[Txn] =
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (id, ks) =>
      val keys = ks.map(_._2).distinct
      Txn(id,
        if (id % 2 == 0) Seq.empty
        else Seq(KeyValueOption(keys.head, Some(s"v${id - 1}"))),
        keys.map(KeyValueOption(_, Some(s"v$id"))))
    }

  test("multi-key generation scheduler matches the sequential oracle") {
    for (seed <- Seq(1L, 7L, 42L)) {
      val txns = randomTxns(seed, 60, 8)
      val (stateDf, results) = applyCollected(txns)
      val (oracleState, oracleResults) = TxnEngine.sequentialOracle(txns)
      assert(results.sortBy(_.txnId) == oracleResults.sortBy(_.txnId),
        s"results diverge for seed=$seed")
      val got = stateDf.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(got == oracleState, s"state diverges for seed=$seed")
    }
  }

  test("1000-txn single-hot-key log folds in O(1) scheduler phases") {
    import s.implicits._
    // every txn hits the SAME key: assert current counter value, write +1 —
    // a chain of depth 1000 that previously cost 1000 generation rounds
    val txns = (0 until 1000).map { i =>
      Txn(i.toLong,
        asserts = Seq(KeyValueOption("hot", if (i == 0) None else Some((i - 1).toString))),
        updates = Seq(KeyValueOption("hot", Some(i.toString))))
    }
    val (stateDf, resultsDf, stats) = TxnEngine.applyMultiKey(emptyState, txns.toDS())
    val phases = stats.applyPhases
    val results = resultsDf.as[MkResult].collect().toSeq
    val (oracleState, oracleResults) = TxnEngine.sequentialOracle(txns)
    assert(results.sortBy(_.txnId) == oracleResults.sortBy(_.txnId))
    assert(stateDf.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      == oracleState)
    assert(phases <= 2, s"single-key chain took $phases scheduler phases")
  }

  test("hot-key singles interleaved with multi-key txns: phases track multi depth") {
    import s.implicits._
    // 300 single-key txns on one hot key + a multi-key txn spanning
    // (hot, side) after every 100th — phases must scale with the 3
    // multi-key interleavings, not the 303-txn chain depth
    val singles = (0 until 300).map { i =>
      Txn(i * 10L, Seq.empty, Seq(KeyValueOption("hot", Some(s"v$i"))))
    }
    val multis = (1 to 3).map { j =>
      Txn(j * 1000L - 5L,
        asserts = Seq(KeyValueOption("hot", Some(s"v${j * 100 - 1}"))),
        updates = Seq(KeyValueOption("hot", Some(s"m$j")),
          KeyValueOption(s"side$j", Some(s"s$j"))))
    }
    val txns = (singles ++ multis).sortBy(_.txnId)
    val (stateDf, resultsDf, stats) = TxnEngine.applyMultiKey(emptyState, txns.toDS())
    val phases = stats.applyPhases
    val results = resultsDf.as[MkResult].collect().toSeq
    val (oracleState, oracleResults) = TxnEngine.sequentialOracle(txns)
    assert(results.sortBy(_.txnId) == oracleResults.sortBy(_.txnId))
    assert(stateDf.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      == oracleState)
    assert(phases <= 8, s"interleaved hot-key log took $phases phases")
  }

  test("100-deep pure multi-key chain: one component fold, no per-depth barriers") {
    import s.implicits._
    // txn i touches keys c{i} and c{i+1}: every txn conflicts with both
    // neighbors — a pure multi-key conflict chain of depth 100. The
    // default path must recognize it as ONE conflict component and fold
    // it in a single distributed pass, not 100 generation barriers.
    val txns = (0 until 100).map { i =>
      Txn(i.toLong,
        asserts = if (i == 0) Seq.empty
          else Seq(KeyValueOption(s"c$i", Some(s"v${i - 1}"))),
        updates = Seq(KeyValueOption(s"c$i", Some(s"v$i")),
          KeyValueOption(s"c${i + 1}", Some(s"v$i"))))
    }
    val (stateDf, resultsDf, stats) = TxnEngine.applyMultiKey(emptyState, txns.toDS())
    val (oracleState, oracleResults) = TxnEngine.sequentialOracle(txns)
    assert(resultsDf.as[MkResult].collect().toSeq.sortBy(_.txnId)
      == oracleResults.sortBy(_.txnId))
    assert(stateDf.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      == oracleState)
    assert(oracleResults.forall(_.succeeded), "chain asserts must all pass")
    assert(stats.applyPhases == 1,
      s"expected one component-fold pass, got ${stats.applyPhases}")
    assert(stats.foldedComponents == 1L && stats.maxComponentTxns == 100L,
      s"expected one 100-txn component, got ${stats}")
    info(s"applyPhases=${stats.applyPhases} components=${stats.foldedComponents}")
  }

  test("split path: a 100-deep chain over cap 10 folds in 16 txnId ranges") {
    import s.implicits._
    // same chain at fold cap 10. A range of n consecutive chain txns is
    // one component on n - 1 edges, so it splits iff n > 10, at
    // lo + (hi - lo) / 2: 100 -> 50 + 50 -> 25 each -> 13 + 12 each ->
    // 7 + 6 and 6 + 6 each. 16 ranges fold, one component each, the
    // largest 7 txns — and results must match the sequential oracle.
    val txns = (0 until 100).map { i =>
      Txn(i.toLong,
        asserts = if (i == 0) Seq.empty
          else Seq(KeyValueOption(s"c$i", Some(s"v${i - 1}"))),
        updates = Seq(KeyValueOption(s"c$i", Some(s"v$i")),
          KeyValueOption(s"c${i + 1}", Some(s"v$i"))))
    }
    val (stateDf, resultsDf, stats) =
      TxnEngine.applyMultiKeyCapped(emptyState, txns.toDS(), 10L)
    val (oracleState, oracleResults) = TxnEngine.sequentialOracle(txns)
    assert(resultsDf.as[MkResult].collect().toSeq.sortBy(_.txnId)
      == oracleResults.sortBy(_.txnId))
    assert(stateDf.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      == oracleState)
    assert(oracleResults.forall(_.succeeded), "chain asserts must all pass")
    assert(stats == MkStats(16, 16L, 7L), s"expected 16 ranges of <= 7, got $stats")
  }

  test("fold and split paths agree on a mixed random workload") {
    import s.implicits._
    // deterministic pseudo-random mix: hot-key singles, multi-key txns
    // over a small keyspace (deep conflict components), deletes,
    // assert-absent, keyless txns — both engines must equal the
    // sequential oracle and each other. At fold cap 64 the split path
    // applies the batch's one big component in txnId ranges.
    val txns = (0 until 400).map { i =>
      val r = ((i * 2654435761L) >>> 7) // deterministic hash ordering
      val k1 = s"k${r % 13}"
      val k2 = s"k${(r / 13) % 13}"
      val asserts =
        if (i % 5 == 0) Seq(KeyValueOption(k1, None))
        else if (i % 5 == 1) Seq(KeyValueOption(k1, Some(s"v${(i - 5).max(0)}")))
        else Seq.empty
      val updates =
        if (i % 11 == 10) Seq.empty // keyless
        else if (i % 3 == 0) Seq(KeyValueOption(k1, Some(s"v$i")),
          KeyValueOption(k2, if (i % 7 == 0) None else Some(s"w$i")))
        else Seq(KeyValueOption(k1, Some(s"v$i")))
      Txn(i.toLong, if (updates.isEmpty) Seq.empty else asserts, updates)
    }
    val (stF, resF, statsF) = TxnEngine.applyMultiKey(emptyState, txns.toDS())
    val (stS, resS, statsS) =
      TxnEngine.applyMultiKeyCapped(emptyState, txns.toDS(), 64L)
    val (oracleState, oracleResults) = TxnEngine.sequentialOracle(txns)
    assert(statsF.applyPhases == 1, "mixed workload must take the fold path")
    assert(statsS.applyPhases > 1, s"cap 64 did not split: $statsS")
    val rF = resF.as[MkResult].collect().toSeq.sortBy(_.txnId)
    val rS = resS.as[MkResult].collect().toSeq.sortBy(_.txnId)
    assert(rF == oracleResults.sortBy(_.txnId))
    assert(rS == rF, "split and fold results diverge")
    assert(stateMap(stF) == oracleState)
    assert(stateMap(stS) == stateMap(stF), "split and fold state diverge")
  }

  test("split path equals the oracle on ladder, hot-run and bridged shapes") {
    import s.implicits._
    // conflict shapes that each make one component over fold cap 8, so
    // each applies in ranges: a ladder whose every edge switches key, one
    // hot-key run, two runs bridged by one txn, unique keys then a hot
    // run, and a random batch over 5 keys
    val ladder = (0 until 40).flatMap(i =>
      Seq((i.toLong, s"c$i"), (i.toLong, s"c${i + 1}")))
    val hot = (0 until 50).map(i => (i.toLong, "hot"))
    val bridged = (0 to 14).map(i => (i.toLong, "a")) ++
      (14 to 29).map(i => (i.toLong, "b"))
    val uniqueThenHot = (0 until 100).map(i => (i.toLong, s"u$i")) ++
      (100 until 110).map(i => (i.toLong, "hot"))
    for ((name, txns) <- Seq("ladder" -> txnsOn(ladder), "hot" -> txnsOn(hot),
        "bridged" -> txnsOn(bridged), "unique+hot" -> txnsOn(uniqueThenHot),
        "random" -> randomTxns(3L, 40, 5))) {
      val (stateDf, resultsDf, stats) =
        TxnEngine.applyMultiKeyCapped(emptyState, txns.toDS(), 8L)
      val (oracleState, oracleResults) = TxnEngine.sequentialOracle(txns)
      assert(stats.applyPhases > 1 && stats.maxComponentTxns <= 8L,
        s"$name: $stats")
      assert(resultsDf.as[MkResult].collect().toSeq.sortBy(_.txnId) ==
        oracleResults, s"$name: results diverge")
      assert(stateMap(stateDf) == oracleState, s"$name: state diverges")
      info(s"$name: $stats")
    }
  }

  test("multi-key stream recovers from its checkpoint after a kill/restart") {
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_mks_").toString
    val txns = randomTxns(23L, 80, 10)
    val batches = txns.grouped(16).map(_.toSeq).toSeq // 5 batches

    // first incarnation: process the first half, then "crash" (drop it)
    val mks1 = new TxnEngine.MultiKeyStream(s, Some(dir))
    batches.take(3).zipWithIndex.foreach { case (b, i) =>
      mks1.processBatch(s.createDataset(b), i.toLong)
    }

    // second incarnation: restore from dir; a replayed batch (same id the
    // restarted query re-delivers) must be a no-op, then the rest applies
    val mks2 = new TxnEngine.MultiKeyStream(s, Some(dir))
    mks2.processBatch(s.createDataset(batches(2)), 2L) // replay -> skipped
    batches.drop(3).zipWithIndex.foreach { case (b, i) =>
      mks2.processBatch(s.createDataset(b), (3 + i).toLong)
    }

    val (oracleState, oracleResults) = TxnEngine.sequentialOracle(txns)
    val got = mks2.state.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == oracleState, "restored state diverges from oracle")
    val gotRes = mks2.results.as[MkResult].collect().toSeq
    assert(gotRes.sortBy(_.txnId) == oracleResults.sortBy(_.txnId),
      "restored results diverge from oracle")
  }

  private def stateMap(df: org.apache.spark.sql.DataFrame): Map[String, String] =
    df.collect().map(r => r.getString(0) -> r.getString(1)).toMap

  test("multi-key stream state plan stays bounded across batches") {
    import s.implicits._
    // every 5th txn is keyless: those succeed vacuously outside the fold
    // and must still be reported exactly once
    val txns = randomTxns(31L, 120, 40).map { t =>
      if (t.txnId % 5 == 4) Txn(t.txnId, Seq.empty, Seq.empty) else t
    }
    val mks = new TxnEngine.MultiKeyStream(s)
    def planNodes = mks.state.queryExecution.logical.collect { case p => p }.size
    val nodes = txns.grouped(20).zipWithIndex.map { case (b, i) =>
      mks.processBatch(s.createDataset(b), i.toLong)
      planNodes
    }.toList
    assert(nodes.size == 6)
    assert(nodes.last == nodes.head, s"state plan grew per batch: $nodes")
    // re-rooted every batch: the carried state is one checkpoint leaf
    assert(nodes.forall(_ == 1), s"state not re-rooted: $nodes")
    val (oracleState, oracleResults) = TxnEngine.sequentialOracle(txns)
    assert(stateMap(mks.state) == oracleState)
    val gotRes = mks.results.as[MkResult].collect().toSeq
    assert(gotRes.map(_.txnId).distinct.size == gotRes.size,
      "a txn reported more than once")
    assert(gotRes.sortBy(_.txnId) == oracleResults.sortBy(_.txnId))
  }

  test("fold census counts components of one and ignores keyless txns") {
    import s.implicits._
    def kv(k: String, v: String = null) = KeyValueOption(k, Option(v))
    // state the batch starts from, built by txns before the batch
    val seed = Seq(
      Txn(0L, Seq.empty, Seq(kv("a", "0"), kv("b1", "x"), kv("i9", "s"),
        kv("untouched", "u"))))
    val batch = Seq(
      // component of 5 on the hot key "a", plus one private key each
      Txn(10L, Seq(kv("a", "0")), Seq(kv("a", "1"), kv("a10", "p"))),
      Txn(12L, Seq(kv("a", "0")), Seq(kv("a", "2"), kv("a12", "p"))), // fails
      Txn(14L, Seq(kv("a", "1")), Seq(kv("a", "3"))),
      Txn(16L, Seq.empty, Seq(kv("a", "4"), kv("a14"))),
      Txn(18L, Seq(kv("a", "4")), Seq(kv("a10"))),
      // component of 3: a b0-b1 / b1-b2 / b2-b3 ladder, deleting b1
      Txn(11L, Seq(kv("b1", "x")), Seq(kv("b0", "y"), kv("b1"))),
      Txn(13L, Seq(kv("b1")), Seq(kv("b2", "z"))),
      Txn(15L, Seq(kv("b2", "z")), Seq(kv("b3", "w"))),
      // four isolated keyed txns, one deleting a state key
      Txn(17L, Seq.empty, Seq(kv("i17", "q"))),
      Txn(19L, Seq(kv("i9", "s")), Seq(kv("i9"))),
      Txn(20L, Seq(kv("i20", "nope")), Seq(kv("i20", "r"))), // fails
      Txn(21L, Seq(kv("i21")), Seq(kv("i21", "t"))),
      // two keyless txns
      Txn(22L, Seq.empty, Seq.empty),
      Txn(23L, Seq.empty, Seq.empty))
    val initial = TxnEngine.sequentialOracle(seed)._1.toSeq.toDF("key", "value")
    val (stateDf, resultsDf, stats) =
      TxnEngine.applyMultiKey(initial, batch.toDS())
    val (oracleState, oracleResults) = TxnEngine.sequentialOracle(seed ++ batch)
    assert(stats == MkStats(1, 6L, 5L), s"census: $stats")
    assert(stateMap(stateDf) == oracleState)
    assert(resultsDf.as[MkResult].collect().toSeq.sortBy(_.txnId) ==
      oracleResults.filter(_.txnId >= 10L))
    assert(!oracleResults.forall(_.succeeded), "setup: some asserts must fail")

    val (_, noRes, noStats) =
      TxnEngine.applyMultiKey(initial, Seq.empty[Txn].toDS())
    assert(noStats == MkStats(1, 0L, 0L) && noRes.isEmpty)
    val keyless = Seq(Txn(1L, Seq.empty, Seq.empty), Txn(2L, Seq.empty, Seq.empty))
    val (klState, klRes, klStats) =
      TxnEngine.applyMultiKey(emptyState, keyless.toDS())
    assert(klStats == MkStats(1, 0L, 0L), s"all-keyless census: $klStats")
    assert(klState.isEmpty)
    assert(klRes.as[MkResult].collect().toSeq.sortBy(_.txnId) ==
      Seq(MkResult(1L, true), MkResult(2L, true)))
  }

  test("fold cap boundary: cap txns fold, cap + 1 split by txnId range") {
    import s.implicits._
    // an n-txn c_i/c_{i+1} chain is one component of n txns on n-1 edges;
    // n = cap + 1 passes the edge gate, so the union-find census is what
    // splits it, and n = cap + 2 is split by the edge gate. Both split at
    // id 3 (0 + 6 / 2 and 0 + 7 / 2) into chains of 4 and 3, or 4 and 4
    def chain(n: Int) = (0 until n).map { i =>
      Txn(i.toLong,
        asserts = if (i == 0) Seq.empty
          else Seq(KeyValueOption(s"c$i", Some(s"v${i - 1}"))),
        updates = Seq(KeyValueOption(s"c$i", Some(s"v$i")),
          KeyValueOption(s"c${i + 1}", Some(s"v$i"))))
    }
    // at cap 1 any two chained txns are over the cap: every txn its own range
    for ((n, cap, expected) <- Seq((6, 6L, MkStats(1, 1L, 6L)),
        (7, 6L, MkStats(2, 2L, 4L)), (8, 6L, MkStats(2, 2L, 4L)),
        (6, 1L, MkStats(6, 6L, 1L)))) {
      val txns = chain(n)
      val (stateDf, resultsDf, stats) =
        TxnEngine.applyMultiKeyCapped(emptyState, txns.toDS(), cap)
      assert(stats == expected, s"n=$n cap=$cap took $stats")
      val (oracleState, oracleResults) = TxnEngine.sequentialOracle(txns)
      assert(stateMap(stateDf) == oracleState, s"state diverges at n=$n cap=$cap")
      assert(resultsDf.as[MkResult].collect().toSeq.sortBy(_.txnId) ==
        oracleResults, s"results diverge at n=$n cap=$cap")
    }
    // cap 0 would split a batch of one keyed txn forever
    intercept[IllegalArgumentException] {
      TxnEngine.applyMultiKeyCapped(emptyState, chain(1).toDS(), 0L)
    }
  }

  test("a8 multi-key workload matches the sequential oracle") {
    val txns = TxnQueries.multiKeyWorkload(s, d)
    val (stateDf, results) = applyCollected(txns)
    val (oracleState, oracleResults) = TxnEngine.sequentialOracle(txns)
    assert(results.sortBy(_.txnId) == oracleResults.sortBy(_.txnId))
    val got = stateDf.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == oracleState)
  }

  test("reference-shaped generator workload matches the sequential oracle") {
    // same shape as the reference's TransactionGenerator: assert-absent on
    // k keys, then write key_value — first txn touching a key wins
    val txns = graft.streaming.TxnGenerator.generate(40, 3, numKeys = 30, seed = 9L)
    val (stateDf, results) = applyCollected(txns)
    val (oracleState, oracleResults) = TxnEngine.sequentialOracle(txns)
    assert(results.sortBy(_.txnId) == oracleResults.sortBy(_.txnId))
    assert(stateDf.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      == oracleState)
  }

  test("streaming multi-key engine matches the sequential oracle") {
    import s.implicits._
    val txns = randomTxns(11L, 60, 8)
    val mks = new TxnEngine.MultiKeyStream(s)
    StreamRunner.runForeach(s, txns.grouped(17).map(_.toSeq).toSeq)(
      (b: org.apache.spark.sql.Dataset[Txn], id: Long) => mks.processBatch(b, id))
    val (oracleState, oracleResults) = TxnEngine.sequentialOracle(txns)
    val got = mks.state.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == oracleState)
    val gotRes = mks.results.as[MkResult].collect().toSeq
    assert(gotRes.sortBy(_.txnId) == oracleResults.sortBy(_.txnId))
  }

  test("single-key batch fold matches the sequential oracle") {
    import s.implicits._
    val txns = TxnQueries.workload(s, d).collect().toSeq
    val asMulti = txns.sortBy(_.txnId).map(t => Txn(t.txnId,
      Seq(KeyValueOption(t.key, Option(t.assertValue))),
      Seq(KeyValueOption(t.key, Option(t.updateValue)))))
    val (oracleState, oracleResults) = TxnEngine.sequentialOracle(asMulti)
    val got = TxnEngine.applyState(txns.toDS(), Conditional).collect()
      .filter(_.value != null).map(r => r.key -> r.value).toMap
    assert(got == oracleState)
    val gotResults = TxnEngine.applyResults(txns.toDS(), Conditional)
      .collect().map(r => r.txnId -> r.succeeded).toMap
    assert(gotResults == oracleResults.map(r => r.txnId -> r.succeeded).toMap)
  }

  test("streaming engine state survives micro-batch boundaries") {
    import s.implicits._
    val txns = TxnQueries.workload(s, d).collect().sortBy(_.txnId).toSeq
    // 4 batches instead of a5's 2 — must still equal the batch fold
    val bs = txns.grouped(math.max(1, txns.size / 4)).map(_.toSeq).toSeq
    val emitted = StreamRunner.run(s, bs) { ds =>
      TxnEngine.streamResults(ds, Conditional).toDF()
    }
    val streamed = emitted.groupBy($"key")
      .agg(max_by($"valueAfter", $"txnId").as("value"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val batch = TxnEngine.applyState(txns.toDS(), Conditional).collect()
      .map(r => r.key -> r.value).toMap
    assert(streamed == batch)
  }

  test("heartbeats flush windows while the data stream is idle") {
    import s.implicits._
    import graft.streaming.Heartbeats
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    // data only in batch 1; batches 2-3 are pure heartbeats that advance
    // the watermark past the 00:00 window so append mode emits it with no
    // further data traffic (the reference HeartBeatGenerator's job)
    val ev = Seq(Seq((ts(0), "a"), (ts(30), "b")), Seq.empty, Seq.empty)
    val hb = Seq(Seq.empty, Seq((ts(45), Heartbeats.Marker)),
      Seq((ts(200), Heartbeats.Marker)))
    val out = Heartbeats.dropHeartbeats(
      StreamRunner.run2(s, ev, hb) { (e, h) =>
        Heartbeats.windowedCounts(e.toDF("ts", "event_type"),
          h.toDF("ts", "event_type"))
      })
    val got = out.collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map((ts(0), "a") -> 1L, (ts(0), "b") -> 1L))
  }

  test("watermark drops late events (heartbeat analog)") {
    import s.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    // batch 1 advances watermark to 100-10=90min; batch 2's 30min event is
    // older than the watermark and must be dropped from the window agg
    val b1 = Seq((ts(0), "a"), (ts(100), "a"))
    val b2 = Seq((ts(30), "late"), (ts(200), "a"), (ts(400), "a"))
    val out = StreamRunner.run(s, Seq(b1, b2)) { ds =>
      ds.toDF("ts", "v").withWatermark("ts", "10 minutes")
        .groupBy(window($"ts", "1 hour")).agg(count(lit(1)).as("n"))
        .select($"window.start".as("w"), $"n")
    }
    val rows = out.collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    // the 00:00 window was finalized (count 1) before the late event arrived
    assert(rows.get(ts(0)).contains(1L))
  }
}
