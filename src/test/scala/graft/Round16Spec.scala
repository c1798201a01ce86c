package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-16 invariants: the Hints.estimate structural contract (sum only
  * through row-bounded operators), Bucketed's orphan sweep + stale-retire
  * grace, h7's bounded generation dirs, and the PlanAudit partition-filter
  * suppression keyed on the filter's own references.
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
