package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 invariants: the Hints.estimate structural contract (sum only
  * through row-bounded operators), the components label-graph contraction
  * (bit-identical labels), Bucketed's orphan
  * sweep + stale-retire grace, h7's bounded generation dirs, and the
  * PlanAudit partition-filter suppression keyed on the filter's own
  * references.
  */
class Round16Spec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  test("Hints.estimate falls back past a row-expanding node above a Join") {
    import org.apache.spark.sql.functions._
    val supp = sources.Tables.supplier(s, TestSpark.sf)
    val nat = sources.Tables.nation(s, TestSpark.sf)
    val dim = supp.join(broadcast(nat),
      supp("s_nationkey") === nat("n_nationkey"))
      .select(supp("s_suppkey"), nat("n_name"))
    val dimSum = plans.Hints.estimate(dim.queryExecution.optimizedPlan)
    // an explode above the join voids the dimension-shaped contract: the
    // estimator must defer to Spark's own (join-product) stat — the
    // stand-down direction — instead of the sharp input sum
    val exploded = dim.withColumn("t",
      explode(split(dim("n_name"), "")))
    val plan = exploded.queryExecution.optimizedPlan
    assert(plan.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.Generate]),
      s"test setup: no Generate in\n$plan")
    val est = plans.Hints.estimate(plan)
    assert(est == plan.stats.sizeInBytes,
      s"expanding node must defer to Spark's stat: $est vs ${plan.stats.sizeInBytes}")
    assert(est > dimSum, "fallback should be the conservative (bigger) figure")
    // and maybeBroadcast consequently stands down at a bound the sum
    // would have passed
    val bound = (dimSum + 1).toLong
    val hinted = plans.Hints.maybeBroadcast(exploded, bound)
    assert(!hinted.queryExecution.optimizedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.ResolvedHint]),
      "expanding side must not be broadcast-hinted")
    // row-bounded chains above the join still get the sharp sum
    val chained = dim.filter(dim("s_suppkey") > 0)
      .select("s_suppkey").orderBy("s_suppkey")
    val chainedEst = plans.Hints.estimate(chained.queryExecution.optimizedPlan)
    assert(chainedEst < chained.queryExecution.optimizedPlan.stats.sizeInBytes,
      "row-bounded chain lost the sum sharpening")
  }

  test("components contraction finish matches the local union-find exactly") {
    import s.implicits._
    // two path components with interleaved ids; small maxLocalEdges forces
    // the distributed loop, and after a round or two the surviving label
    // count drops under it — the contraction path must fire and produce
    // the same min-labels the driver union-find does
    val pairs = ((0L until 98L by 2L).map(i => (i, i + 2)) ++ // evens: comp 0
      (1L until 97L by 2L).map(i => (i, i + 2))) // odds: comp 1
      .toDF("a_id", "b_id")
    val truth = operators.Dedup.componentsOf(pairs) // local fast path
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaContraction = operators.Dedup.componentsOf(pairs, 60L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaContraction == truth)
    assert(truth.values.toSet == Set(0L, 1L), s"bad truth: ${truth.values.toSet}")
  }

  test("contraction retry gate stays exact when the first attempt fails") {
    import s.implicits._
    // dense seeded random graph: one giant component, ~1000 edges. With
    // maxLocalEdges=900 the distributed loop runs, the early label set
    // (200 vertices < 900) triggers a contraction attempt whose distinct
    // label-pair count still exceeds the cap — the FAILED-attempt path —
    // and the measured-overshoot gate must defer retries until labels
    // collapse, then finish bit-identical to the driver union-find.
    val rnd = new scala.util.Random(11)
    val pairs = (0 until 1000).map { _ =>
      val a = rnd.nextInt(200).toLong
      val b = rnd.nextInt(200).toLong
      (math.min(a, b), math.max(a, b) + (if (a == b) 1 else 0))
    }.distinct.toDF("a_id", "b_id")
    val truth = operators.Dedup.componentsOf(pairs) // local fast path
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaGate = operators.Dedup.componentsOf(pairs, 900L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaGate == truth)
  }

  test("generations gate dispatches on distinct keys, not rows alone") {
    import s.implicits._
    import streaming.TxnEngine
    // all-unique-key batch: rows pass the row cap but the key-map bound
    // must push it to the distributed path (which sees zero conflict
    // edges and converges in 0 passes); with both caps open the
    // sequential scan takes it (1 pass). Same (trivial) generations.
    val df = (0 until 100).map(i => (i.toLong, s"u$i")).toDF("txn_id", "key")
    def toMap(r: (org.apache.spark.sql.DataFrame, Int)) =
      (r._1.collect().map(x => x.getLong(0) -> x.getInt(1)).toMap, r._2)
    val (seqGens, seqPasses) = toMap(TxnEngine.generationsGated(df, 1000L, 1000L))
    val (distGens, distPasses) = toMap(TxnEngine.generationsGated(df, 1000L, 10L))
    assert(seqPasses == 1 && distPasses == 0,
      s"gate did not dispatch: seq=$seqPasses dist=$distPasses")
    assert(seqGens == distGens && seqGens.values.forall(_ == 0))
  }

  test("sequential generations match the distributed scheduler exactly") {
    import s.implicits._
    import streaming.TxnEngine
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // the three pinned shapes (ladder / hot chain / bridged runs) plus a
    // random multi-key batch, each checked against BOTH distributed paths
    val ladder = (0 until 40).flatMap(i =>
      Seq((i.toLong, s"c$i"), (i.toLong, s"c${i + 1}")))
    val hot = (0 until 50).map(i => (i.toLong, "hot"))
    val rnd = new scala.util.Random(7)
    val random = (0 until 400).flatMap(i =>
      Seq((i.toLong, s"k${rnd.nextInt(60)}"), (i.toLong, s"k${rnd.nextInt(60)}")))
    for ((name, rows) <- Seq(("ladder", ladder), ("hot", hot),
        ("random", random))) {
      val df = rows.toDF("txn_id", "key")
      val seq = toMap(TxnEngine.sequentialGenerations(df))
      val doubled = toMap(TxnEngine.generationsCounted(df,
        TxnEngine.MaxClosurePairs)._1)
      val relaxed = toMap(TxnEngine.generationsCounted(df, 10L)._1)
      assert(seq == doubled, s"$name: seq != doubled")
      assert(seq == relaxed, s"$name: seq != relaxed")
    }
    // duplicate incidence rows must not inflate generations
    val dup = Seq((0L, "a"), (0L, "a"), (1L, "a"), (1L, "a"))
      .toDF("txn_id", "key")
    assert(toMap(TxnEngine.sequentialGenerations(dup)) ==
      Map(0L -> 0, 1L -> 1))
  }

  test("q49 plans with NO fact exchange (bucketed facts, dims pruned first)") {
    val df = operators.Relational.q49(s, TestSpark.sf)
    df.count() // finalize the AQE tree
    val plan = df.queryExecution.executedPlan.toString
    // the r16 sweep flag was the raw orderkey fact-fact shuffle running
    // BEFORE the nation dims pruned anything; the bucketed reshape must
    // keep every fact side exchange-free (q43's discipline)
    for (key <- Seq("l_orderkey", "o_orderkey", "l_suppkey", "o_custkey"))
      assert(!plan.contains(s"Exchange hashpartitioning($key"),
        s"fact exchange on $key:\n${plan.take(3000)}")
    assert(plan.contains("SortMergeJoin"), "fact edge not bucket SMJ")
    assert(plan.contains("BroadcastHashJoin"), "dims not broadcast")
  }

  test("q46/q50 plan with NO fact exchange (bucketed semi/anti edges)") {
    // the round's second-session reshapes: q46's decorrelated
    // semi/anti/orders joins and q50's lateness semi join all ride the
    // bucketed layout — no orderkey or suppkey exchange may carry fact
    // rows (q49's discipline; the only surviving Exchange feeds the
    // final tiny aggregation)
    for ((name, fn) <- Seq(
        ("q46", operators.Relational.q46 _),
        ("q50", operators.Relational.q50 _))) {
      val df = fn(s, TestSpark.sf)
      df.count() // finalize the AQE tree
      val plan = df.queryExecution.executedPlan.toString
      for (key <- Seq("l_orderkey", "o_orderkey", "l_suppkey"))
        assert(!plan.contains(s"Exchange hashpartitioning($key"),
          s"$name: fact exchange on $key:\n${plan.take(3000)}")
      assert(plan.contains("SortMergeJoin"), s"$name: fact edge not SMJ")
    }
  }

  test("Bucketed: stale retire leaves a grace dir; the sweep reclaims aged orphans") {
    val cacheRoot = new java.io.File(sys.env.getOrElse("GRAFT_BUCKETED_CACHE",
      s"${System.getProperty("java.io.tmpdir")}/graft_bucketed_v1"))
    cacheRoot.mkdirs()
    def staleDirs = Option(cacheRoot.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(".stale_")).toSet
    def rmDir(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmDir))
      f.delete(): Unit
    }
    val tmpSrc = java.nio.file.Files.createTempDirectory("graft_r16_src_")
    try {
      val dir = tmpSrc.toString
      for (t <- Seq("orders", "lineitem"))
        s.read.parquet(s"${TestSpark.sf}/$t.parquet").limit(200)
          .write.parquet(s"$dir/$t.parquet")
      val before = staleDirs
      sources.Bucketed.factTables(s, dir)
      sources.Bucketed.clear()
      // regenerate the source → next attach must retire the stale layout
      // ASIDE (grace period), not delete it out from under live readers
      s.read.parquet(s"$dir/orders.parquet").limit(100)
        .write.parquet(s"$dir/orders2.parquet")
      rmDir(new java.io.File(s"$dir/orders.parquet"))
      assert(new java.io.File(s"$dir/orders2.parquet")
        .renameTo(new java.io.File(s"$dir/orders.parquet")))
      sources.Bucketed.factTables(s, dir)
      sources.Bucketed.clear()
      val retired = staleDirs -- before
      assert(retired.nonEmpty, "stale layout was not retired aside")
      // age the retired dir and a fake crashed-build staging dir past the
      // threshold: the next cold attach sweeps both; a FRESH orphan stays
      val crashed = new java.io.File(cacheRoot, ".build_r16crash")
      crashed.mkdirs()
      val old = System.currentTimeMillis() - 3L * 3600 * 1000
      (retired + crashed).foreach(f => assert(f.setLastModified(old)))
      val fresh = new java.io.File(cacheRoot, ".build_r16fresh")
      fresh.mkdirs()
      try {
        sources.Bucketed.factTables(s, dir)
        sources.Bucketed.clear()
        assert(!crashed.exists(), "aged crashed-build staging not swept")
        assert(retired.forall(!_.exists()), "aged stale dir not swept")
        assert(fresh.exists(), "fresh staging dir must survive the sweep")
      } finally rmDir(fresh)
    } finally {
      sources.Bucketed.clear()
      sources.Bucketed.deleteLayout(tmpSrc.toString)
      rmDir(tmpSrc.toFile)
    }
  }

  test("h7 keeps at most two compacted generations on disk") {
    def genParent(df: org.apache.spark.sql.DataFrame): java.io.File =
      new java.io.File(df.inputFiles.head).getParentFile.getParentFile
    def gens(parent: java.io.File): Set[String] =
      Option(parent.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("compacted_"))
        .map(_.getName).toSet
    val (df1, _) = sources.Roundtrip.h7Compact(s, TestSpark.sf)
    val parent = genParent(df1)
    val (df2, _) = sources.Roundtrip.h7Compact(s, TestSpark.sf)
    val (df3, _) = sources.Roundtrip.h7Compact(s, TestSpark.sf)
    assert(gens(parent).size <= 2,
      s"generation dirs unbounded: ${gens(parent)}")
    // the keep-2 contract: the PREVIOUS invocation's handle stays
    // readable through the next one
    assert(df3.count() > 0 && df2.count() > 0)
  }

  test("PlanAudit flags an unpushed row predicate beside a partition prune") {
    import org.apache.spark.sql.functions._
    val out = java.nio.file.Files.createTempDirectory("graft_r16_pa_").toString
    def rmDir(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmDir))
      f.delete(): Unit
    }
    try {
      s.range(100)
        .select((col("id") % 4).as("p"), col("id").cast("string").as("x"),
          col("id").as("n"))
        .write.partitionBy("p").mode("overwrite").parquet(out)
      val t = s.read.parquet(out)
      def violations(df: org.apache.spark.sql.DataFrame) = {
        s.conf.set("spark.sql.adaptive.enabled", "false")
        try org.apache.spark.sql.graft.PlanAudit.audit(
          org.apache.spark.sql.graft.bridge.ofRows(
            s, df.queryExecution.analyzed))
          .filter(_.kind == "unpruned-scan")
        finally s.conf.set("spark.sql.adaptive.enabled", "true")
      }
      // partition-only predicate: fully served by pruning — suppressed
      assert(violations(t.filter(col("p") === 1)).isEmpty)
      // unpushable row predicate NEXT TO a partition prune: the r15
      // advice case — the prune must no longer mask the unpushed scan.
      // (coalesce is null-tolerant, so no isnotnull side-filter gets
      // pushed and PushedFilters is genuinely empty)
      val mixed = t.filter(col("p") === 1 &&
        coalesce(length(col("x")), lit(0)) > 1)
      assert(violations(mixed).nonEmpty,
        "unpushed row predicate hidden by an unrelated partition filter")
      // pushable row predicate: pushed to the scan — suppressed
      assert(violations(t.filter(col("n") > 50)).isEmpty)
    } finally rmDir(new java.io.File(out))
  }
}
