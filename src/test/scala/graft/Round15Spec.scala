package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-15 invariants: q43's scale fix (zero full-fact exchanges via the
  * Bucketed layout + join-aware broadcast sizing) and the persisted
  * cross-process bucketed layout.
  */
class Round15Spec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  test("Hints.estimate sizes a key-join as sum, not Spark's product") {
    import org.apache.spark.sql.functions.broadcast
    val supp = sources.Tables.supplier(s, TestSpark.sf)
    val nat = sources.Tables.nation(s, TestSpark.sf)
    val joined = supp.join(broadcast(nat),
      supp("s_nationkey") === nat("n_nationkey"))
      .select(supp("s_suppkey"), nat("n_name"))
    val sparkStat = joined.queryExecution.optimizedPlan.stats.sizeInBytes
    val ours = plans.Hints.estimate(joined.queryExecution.optimizedPlan)
    // Spark's non-CBO visitor multiplies the join inputs; ours sums them.
    assert(ours < sparkStat,
      s"estimate $ours not sharper than Spark's product $sparkStat")
    val lone = supp.select(supp("s_suppkey"))
    assert(plans.Hints.estimate(lone.queryExecution.optimizedPlan) ==
      lone.queryExecution.optimizedPlan.stats.sizeInBytes,
      "join-free subtree must defer to Spark's own estimate")
  }

  test("q43 runs with NO full-fact exchange (bucketed facts + broadcasts)") {
    val df = operators.Relational.q43(s, TestSpark.sf)
    df.count() // finalize the AQE tree
    val plan = df.queryExecution.executedPlan.toString
    // r14's sf100 killer was THREE full-fact exchanges: orderkey ×2 from
    // the raw fact-fact join, l_suppkey from the stood-down broadcast
    for (key <- Seq("l_orderkey", "o_orderkey", "l_suppkey", "o_custkey"))
      assert(!plan.contains(s"Exchange hashpartitioning($key"),
        s"fact exchange on $key is back:\n${plan.take(3000)}")
    assert(plan.contains("SortMergeJoin"), "fact-fact edge not bucket SMJ")
    assert(plan.contains("BroadcastHashJoin"), "dim edges not broadcast")
  }

  test("bucketed layout persists: re-attach is catalog-only, no rewrite") {
    val (to1, _) = sources.Bucketed.factTables(s, TestSpark.sf)
    assert(s.table(to1).count() > 0)
    val layoutFile = {
      // the manifest is written last; its mtime marks the build
      val root = new java.io.File(sys.env.getOrElse("GRAFT_BUCKETED_CACHE",
        s"${System.getProperty("java.io.tmpdir")}/graft_bucketed_v1"))
      val dirs = Option(root.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && !f.getName.startsWith("."))
      val withManifest =
        dirs.filter(d => new java.io.File(d, "manifest").exists())
      assert(withManifest.nonEmpty, "no persisted layout found")
      withManifest.map(d => new java.io.File(d, "manifest"))
        .maxBy(_.lastModified)
    }
    val built = layoutFile.lastModified
    // simulate the next process: catalog entries dropped, cache emptied
    sources.Bucketed.clear()
    val (to2, tl2) = sources.Bucketed.factTables(s, TestSpark.sf)
    assert(s.table(to2).count() > 0 && s.table(tl2).count() > 0)
    assert(layoutFile.lastModified == built,
      "re-attach rebuilt the layout instead of reusing the manifest")
    // and the attached tables still carry the bucket metadata: the h5
    // join over them must plan with no fact exchange
    val j = s.table(tl2).hint("merge")
      .join(s.table(to2),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
    j.count()
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey"))
    assert(!plan.contains("Exchange hashpartitioning(o_orderkey"))
  }

  test("componentsOf gives exact min-labels on the distributed path") {
    import s.implicits._
    // a 10-vertex path: one component. Force the distributed path
    // (maxLocalEdges=0).
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val viaPublic = operators.Dedup.componentsOf(pairs, 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaPublic == (0L to 9L).map(_ -> 0L).toMap,
      s"wrong labels: $viaPublic")
  }

  test("stale manifest (regenerated source data) forces a rebuild") {
    val tmpSrc = java.nio.file.Files.createTempDirectory("graft_r15_src_")
    def rmDir(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmDir))
      f.delete(): Unit
    }
    try {
      val dir = tmpSrc.toString
      for (t <- Seq("orders", "lineitem"))
        s.read.parquet(s"${TestSpark.sf}/$t.parquet").limit(1000)
          .write.parquet(s"$dir/$t.parquet")
      val (to1, _) = sources.Bucketed.factTables(s, dir)
      val n1 = s.table(to1).count()
      sources.Bucketed.clear()
      // "regenerate" the source: replace orders with different content
      s.read.parquet(s"$dir/orders.parquet").limit(500)
        .write.parquet(s"$dir/orders2.parquet")
      rmDir(new java.io.File(s"$dir/orders.parquet"))
      assert(new java.io.File(s"$dir/orders2.parquet")
        .renameTo(new java.io.File(s"$dir/orders.parquet")))
      val (to2, _) = sources.Bucketed.factTables(s, dir)
      assert(s.table(to2).count() == 500 && n1 == 1000,
        "stale layout served after the source changed")
    } finally {
      sources.Bucketed.clear()
      sources.Bucketed.deleteLayout(tmpSrc.toString)
      rmDir(tmpSrc.toFile)
    }
  }
}
