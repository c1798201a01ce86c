package graft

import graft.streaming.TxnEngine
import graft.streaming.TxnEngine._
import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Fixed-seed differential properties: every multi-key dispatch path —
  * the default component fold, the txnId-range split past the fold cap
  * and the streaming micro-batch loop — checked row for row
  * against [[TxnEngine.sequentialOracle]] on the same generated batches.
  * Seeds are fixed, so a failure replays exactly; its message names the
  * seed and the batch.
  */
class TxnEnginePropertySpec extends AnyFunSuite {
  import TxnEnginePropertySpec.Case
  private lazy val s = TestSpark.spark

  /** Cases per property: on a 4-core host 16 cases run standalone in
    * 70–72 s, within the 68–89 s that 6 cases took when an over-cap batch
    * paid one ~1 s barrier per conflict level instead of a range split.
    */
  private val Cases = 16
  private val MaxTxns = 40
  /** Fold cap of the split-path property: under the larger components
    * the generator makes, so those batches apply in txnId ranges.
    */
  private val SplitCap = 8L

  private val genValue: Gen[Option[Value]] =
    Gen.frequency(1 -> Gen.const(None), 3 -> Gen.choose(0, 3).map(v => Some(s"v$v")))

  /** Keys k0..k(n-1) with k0 hot: weight `skew` on it, 1 on the rest. */
  private def genKey(nKeys: Int, skew: Int): Gen[Key] =
    Gen.frequency(skew -> Gen.const(0), nKeys -> Gen.choose(0, nKeys - 1))
      .map(i => s"k$i")

  private def genTxn(id: Long, key: Gen[Key]): Gen[Txn] = {
    val kv = for (k <- key; v <- genValue) yield KeyValueOption(k, v)
    for {
      kind <- Gen.frequency(1 -> "keyless", 2 -> "blind", 7 -> "conditional")
      asserts <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, kv))
      updates <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, kv))
      repeat <- Gen.frequency(4 -> false, 1 -> true)
      again <- genValue
    } yield {
      // a repeated key: the last update to a key wins, and a txn may
      // assert a key it also writes
      val ups =
        if (repeat && updates.nonEmpty) updates :+ KeyValueOption(updates.head.key, again)
        else if (repeat) Seq(KeyValueOption(asserts.head.key, again))
        else updates
      kind match {
        case "keyless" => Txn(id, Seq.empty, Seq.empty)
        case "blind" => Txn(id, Seq.empty, ups)
        case _ => Txn(id, asserts, ups)
      }
    }
  }

  private val genCase: Gen[Case] = for {
    nKeys <- Gen.choose(1, 30)
    skew <- Gen.choose(0, 20)
    n <- Gen.choose(1, MaxTxns)
    gaps <- Gen.listOfN(n, Gen.choose(1L, 3L))
    key = genKey(nKeys, skew)
    txns <- Gen.sequence[List[Txn], Txn](
      gaps.scanLeft(0L)(_ + _).tail.map(genTxn(_, key)))
    initial <- Gen.mapOf(for (k <- key; v <- Gen.choose(0, 3)) yield k -> s"v$v")
    cuts <- Gen.listOfN(3, Gen.choose(0, n))
  } yield {
    val bounds = (0 +: cuts.sorted :+ n).sliding(2).map(b => b(1) - b(0))
    Case(initial, txns, bounds.filter(_ > 0).toSeq)
  }

  private lazy val cases: Seq[(Long, Case)] = (0 until Cases).map { i =>
    val seed = 20261018L + i
    seed -> genCase.pureApply(Gen.Parameters.default, Seed(seed))
  }

  /** A blind txn (id -1) that writes the case's initial state. */
  private def seedTxn(c: Case): Txn = Txn(-1L, Seq.empty,
    c.initial.toSeq.map { case (k, v) => KeyValueOption(k, Some(v)) })

  /** The oracle over the case, from the state [[seedTxn]] writes. */
  private def oracle(c: Case): (Seq[(Key, Value)], Seq[MkResult]) = {
    val (state, results) = TxnEngine.sequentialOracle(seedTxn(c) +: c.txns)
    (state.toSeq.sorted, results.filter(_.txnId >= 0L))
  }

  private def rows(state: DataFrame): Seq[(Key, Value)] =
    state.collect().map(r => r.getString(0) -> r.getString(1)).toSeq.sorted

  private def outcomes(results: DataFrame): Seq[MkResult] = {
    import s.implicits._
    results.as[MkResult].collect().toSeq.sortBy(_.txnId)
  }

  /** `check` over every case, the cases run concurrently: each is a chain
    * of small latency-bound Spark jobs, so they overlap well on few cores.
    * The first failing case fails the test.
    */
  private def forAllCases[T](check: (Long, Case) => T): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cases.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(cases) { case (seed, c) =>
      Future(check(seed, c)) }, Duration.Inf)
    finally pool.shutdown()
  }

  private def checkApply(apply: (DataFrame, Seq[Txn]) => (DataFrame, DataFrame, MkStats))
      : Seq[MkStats] = {
    import s.implicits._
    forAllCases { (seed, c) =>
      val (state, results, stats) =
        apply(c.initial.toSeq.toDF("key", "value"), c.txns)
      val (expState, expResults) = oracle(c)
      assert(outcomes(results) == expResults, s"results diverge, seed=$seed: $c")
      assert(rows(state) == expState, s"state diverges, seed=$seed: $c")
      stats
    }
  }

  test("property generator covers every txn shape") {
    val txns = cases.flatMap(_._2.txns)
    val results = cases.flatMap(c => oracle(c._2)._2)
    def some(what: String)(p: Txn => Boolean) =
      assert(txns.exists(p), s"no $what txn in ${cases.size} cases")
    some("keyless")(t => t.asserts.isEmpty && t.updates.isEmpty)
    some("blind")(t => t.asserts.isEmpty && t.updates.nonEmpty)
    some("assert-absent")(_.asserts.exists(_.valueOption.isEmpty))
    some("delete")(_.updates.exists(_.valueOption.isEmpty))
    some("repeated-key")(t => (t.asserts ++ t.updates).map(_.key).distinct.size <
      t.asserts.size + t.updates.size)
    val asserting = results.filter(r => txns.exists(t =>
      t.txnId == r.txnId && t.asserts.nonEmpty))
    assert(asserting.exists(_.succeeded) && asserting.exists(!_.succeeded),
      "asserts must both hit and miss")
    assert(cases.exists(_._2.split.size > 1), "no case splits into micro-batches")
  }

  test("property: default applyMultiKey equals the sequential oracle") {
    import s.implicits._
    checkApply((init, txns) => TxnEngine.applyMultiKey(init, txns.toDS()))
  }

  test("property: the split path equals the sequential oracle") {
    import s.implicits._
    val stats = checkApply((init, txns) =>
      TxnEngine.applyMultiKeyCapped(init, txns.toDS(), SplitCap))
    assert(stats.exists(_.applyPhases >= 2),
      s"no case split at cap $SplitCap: $stats")
    assert(stats.forall(_.maxComponentTxns <= SplitCap),
      s"a range folded over the cap: $stats")
    info(s"txnId ranges per case: ${stats.map(_.applyPhases).mkString(", ")}")
  }

  test("property: MultiKeyStream over a micro-batch split equals the oracle") {
    import s.implicits._
    forAllCases { (seed, c) =>
      val mks = new TxnEngine.MultiKeyStream(s)
      // batch 0 carries the oracle's seed txn, so later batches start
      // from the case's initial state
      mks.processBatch(s.createDataset(Seq(seedTxn(c))), 0L)
      val batches = c.split.scanLeft((0, Seq.empty[Txn])) { case ((at, _), n) =>
        (at + n, c.txns.slice(at, at + n))
      }.tail.map(_._2)
      batches.zipWithIndex.foreach { case (b, i) =>
        mks.processBatch(s.createDataset(b), i + 1L)
      }
      val (expState, expResults) = oracle(c)
      assert(outcomes(mks.results).filter(_.txnId >= 0L) == expResults,
        s"results diverge, seed=$seed split=${c.split}: $c")
      assert(rows(mks.state) == expState,
        s"state diverges, seed=$seed split=${c.split}: $c")
    }
  }
}

object TxnEnginePropertySpec {
  /** A generated case: the state the batch starts from, the batch (txnId
    * order) and the sizes of the micro-batches a stream cuts it into.
    */
  private final case class Case(initial: Map[Key, Value], txns: Seq[Txn],
      split: Seq[Int])
}
