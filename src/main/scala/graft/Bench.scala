package graft

/** Benchmark main: runs the headline queries (SURVEY §6) against
  * SPARK_GRAFT_SF_DIR and prints one JSON line. Each query is forced
  * end-to-end with a noop-format write (`.count()` alone lets Spark
  * shortcut scans via metadata); a warmup action is excluded so times
  * measure the queries, not JVM/session startup.
  */
object Bench {
  private val headliners = Seq(
    "q1_agg", "q3_join_agg", "q5_multi_join", "q9_window_rank",
    "q18_asof_join", "q22_sessionize", "q26_custom_range_join",
    "t2_quality_score", "t8_tfidf", "d2_minhash_lsh", "d4_simhash",
    "d6_dedup_groups", "s1_bruteforce_topk", "m3_feature_stub",
    "a3_txn_conditional_state", "a6_event_time_sort")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // input-proportional shuffle parallelism: ~1 partition per 32 MB of
    // input, clamped to [8, cpus] — at bench SFs the fixed per-task floor
    // (schedule + codegen) dominates 32-way tiny shuffles, while at real
    // scale the same rule walks back up to full parallelism (and AQE
    // re-splits skew beyond it)
    val inputBytes = Option(new java.io.File(sfDir).listFiles)
      .map(_.filter(_.getName.endsWith(".parquet")).map(_.length).sum)
      .getOrElse(0L)
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE",
      math.min(cpus.toLong, math.max(8L, inputBytes / (32L << 20))).toString)
    val spark = GraftSession.builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffle)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warmup: session, parquet reader and page cache (a bare count() is
    // metadata-only and warms nothing)
    import org.apache.spark.sql.functions.sum
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .agg(sum("l_quantity")).collect()
    // warm the codegen/JIT caches by running every headliner once at the
    // smallest SF: generated code depends on the query SHAPE, not the data
    // scale, so the timed sf runs below hit the compile caches the way a
    // long-lived production session would, and the timings measure
    // data-proportional work instead of 16 one-off Janino compiles
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    // SPARK_GRAFT_SECTIONS picks which report sections run (default all).
    // Decade-up probe runs use this to split one giant JVM lifetime into
    // per-section processes: at sf100 the full ~85-query pass accumulates
    // enough page-cache + heap pressure that late sections measure the
    // early ones' GC, not their own plans.
    val sections = sys.env.getOrElse("SPARK_GRAFT_SECTIONS",
      "headliners,extras,txn,ann,probes").split(",").map(_.trim).toSet
    if (sections("headliners") &&
        new java.io.File(warmDir).isDirectory) headliners.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        // NonFatal only: a systematically broken headliner must be visible
        // (a silent warm-up failure would make the timed run measure cold
        // compiles), and fatal VM errors must propagate
        try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"warmup failed for $name: $e")
        }
      }
    }

    // min-of-K per query: a single sample conflates the query's
    // data-proportional cost with GC pauses and whatever else the host is
    // running (the per-round harness shares the machine with other jobs —
    // one round recorded a 12x outlier on an unchanged query). The min is
    // the statistic that converges to the actual plan cost; K stays small
    // because the shapes are already codegen-warm.
    val reps = scala.util.Try(sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt)
      .toOption.filter(_ > 0).getOrElse(3)
    // every query's localCheckpoint blocks are dropped AFTER its timing
    // loop: without this, cached blocks accumulate across the ~35 timed
    // queries and the late ones pay eviction + GC pressure that isn't
    // theirs (measured at sf1: t15 benched 7.2 s in the polluted session
    // vs 1.0 s isolated — same plan, same data). Blocks a query caches
    // for itself DURING its reps are untouched.
    def dropCachedBlocks(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val results = (if (sections("headliners")) headliners
                   else Seq.empty[String]).flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        val times = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          } catch {
            // NonFatal only, and loudly: a broken query must leave a
            // diagnostic, and OOM/VM errors must propagate, not become a
            // silent -1 entry
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"bench failed for $name: $e")
              -1.0
          }
        }
        dropCachedBlocks()
        val ok = times.filter(_ >= 0)
        name -> (if (ok.nonEmpty) ok.min else -1.0)
      }
    }
    val qs = results.map { case (k, v) => "\"" + k + f"""":${v}%.3f""" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum

    // round-7 additions timed the same way (min-of-reps, noop sink) but
    // reported SEPARATELY so "total" stays the same 16-headliner series
    // that earlier rounds established
    val extraNames = Seq("q39_sliding_window", "q40_skew_join",
      "q41_histogram_quantile", "q42_cohort_retention", "t14_quality_gate",
      "t15_sequence_packing", "d10_canonical_pick", "d11_semantic_dedup",
      "s4_knn_join", "s5_radius_search", "m7_paired_manifest",
      "h5_bucketed_join", "g10_stream_ingest_dedup", "a8_txn_multikey",
      "d12_dedup_rewrite", "t16_bpe_merges", "t17_epoch_shuffle",
      "t18_bpe_encode", "t19_doc_chunking", "s6_pq_ann",
      "g11_stream_pq_encode", "d13_span_dedup", "t20_mixture_sample",
      "h6_merge_upsert", "g12_stream_upsert", "a13_log_compaction",
      "q43_market_share", "q44_cust_distribution", "q45_lateral_topn",
      "q46_sole_supplier", "t21_contamination", "s7_pq_persist",
      "h7_compaction", "h8_schema_evolution", "g13_stream_compaction",
      "h9_incremental_view", "g14_stream_view_refresh",
      "q47_big_orders", "q48_returned_items", "q49_nation_volume",
      "h10_zorder_skip", "g15_stream_ann_serve",
      "q50_late_orders", "q51_late_priority_mix", "q52_promo_share",
      "q53_top_supplier", "q54_revenue_scan", "h11_column_stats",
      "h12_time_travel", "a14_snapshot_read", "t22_quality_buckets",
      "d14_bloom_prefilter", "g16_stream_quality_gate", "s8_ivfpq_ann",
      "q55_nation_profit", "q56_important_stock", "q57_supplier_cnt",
      "q58_or_chain_revenue", "q23_approx_distinct", "q27_approx_quantile",
      "g17_stream_kmv_distinct", "q59_quantile_sketch", "g18_stream_quantile",
      "t23_heavy_hitters", "s9_ivfpq_persist", "g19_stream_ivfpq_serve",
      "q60_bucketed_fact_join")
    if (sections("extras") &&
        new java.io.File(warmDir).isDirectory) extraNames.foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"warmup failed for $name: $e")
        }
      }
    }
    // the streaming twins conflate ingest SIMULATION (base-table/index
    // writes, staged-batch replay) with the maintenance OPERATOR; the
    // foreachBatch ops self-report their op bodies via
    // StreamOps.MaintTimer, the declarative ones (g11/g17/g18) report
    // the stream drain from StreamRunner.runFiles, and the rep that wins
    // the min records its op/sim split alongside
    val maintNames = Set("g10_stream_ingest_dedup", "g11_stream_pq_encode",
      "g12_stream_upsert", "g13_stream_compaction",
      "g14_stream_view_refresh", "g15_stream_ann_serve",
      "g16_stream_quality_gate", "g17_stream_kmv_distinct",
      "g18_stream_quantile", "g19_stream_ivfpq_serve")
    val maintSplit = scala.collection.mutable.Map.empty[String, (Double, Double)]
    val extraResults = (if (sections("extras")) extraNames
                        else Seq.empty[String]).flatMap { name =>
      SparkEntry.queries.get(name).map { fn =>
        val times = (1 to reps).map { _ =>
          if (maintNames(name)) streaming.StreamOps.MaintTimer.reset()
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            val sec = (System.nanoTime() - t0) / 1e9
            if (maintNames(name)) {
              val op = streaming.StreamOps.MaintTimer.seconds
              if (!maintSplit.get(name).exists(t => t._1 + t._2 <= sec))
                maintSplit(name) = (op, sec - op)
            }
            sec
          } catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"bench failed for $name: $e")
              -1.0
          }
        }
        dropCachedBlocks()
        val ok = times.filter(_ >= 0)
        name -> (if (ok.nonEmpty) ok.min else -1.0)
      }
    }
    val extras = extraResults.map { case (k, v) => "\"" + k + f"""":${v}%.3f""" }
      .mkString("{", ",", "}")
    val maint = maintSplit.toSeq.sortBy(_._1).map { case (k, (op, sim)) =>
      "\"" + k + f"""":{"op_s":$op%.3f,"sim_s":$sim%.3f}"""
    }.mkString("{", ",", "}")

    // multi-key txn engine cost shape, tracked per round: the gate
    // workload's component census (the fold path's parallelism dimension)
    // plus a synthetic single-hot-key conflict chain — one deep component,
    // whose wall time is the sequential-fold floor a pathological
    // micro-batch pays (a batch past the component cap applies in txnId
    // ranges of the same fold; specs cover that split, the bench does not)
    val txnStats = if (!sections("txn")) "" else {
      import spark.implicits._
      val wl = operators.TxnQueries.multiKeyWorkloadDS(spark, sfDir)
      val empty = Seq.empty[(String, String)].toDF("key", "value")
      val t8 = System.nanoTime()
      val (st8, _, s8) = streaming.TxnEngine.applyMultiKey(empty, wl)
      st8.write.format("noop").mode("overwrite").save()
      val a8Sec = (System.nanoTime() - t8) / 1e9
      val depth = 64
      val chain = (1 to depth).map { i =>
        streaming.TxnEngine.Txn(i.toLong,
          Seq(streaming.TxnEngine.KeyValueOption("hot",
            if (i == 1) None else Some((i - 1).toString))),
          Seq(streaming.TxnEngine.KeyValueOption("hot", Some(i.toString)),
            streaming.TxnEngine.KeyValueOption(s"k${i % 7}", Some(i.toString))))
      }.toDS()
      val t0 = System.nanoTime()
      val (stC, _, sC) = streaming.TxnEngine.applyMultiKey(empty, chain)
      stC.write.format("noop").mode("overwrite").save()
      val chainSec = (System.nanoTime() - t0) / 1e9
      f""""a8_phases":${s8.applyPhases},"a8_components":${s8.foldedComponents},""" +
        f""""a8_max_component":${s8.maxComponentTxns},"a8_sec":$a8Sec%.3f,""" +
        f""""chain_depth":$depth,"chain_phases":${sC.applyPhases},""" +
        f""""chain_sec":$chainSec%.3f"""
    }

    // ANN quality: recall vs the exact s1 baseline + exact-scored
    // candidate counts (the cost knob), so speed never hides a broken
    // index
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = if (!sections("ann")) "{}" else {
    val truth = pairs(operators.Similarity.s1(spark, sfDir))
    // s6/g11 index-build vs steady-state split: the codebook (~16 KiB)
    // AND the encoded code table are one-time build artifacts — the code
    // table IS the stored index the scan reads instead of raw vectors —
    // so both land in s6_build_s, while s6_query_s times what a live
    // index pays per query batch (LUT + ADC scan + re-rank) and
    // g11_encode_s times the steady-state streaming ingest encode
    val tB0 = System.nanoTime()
    val (pqE, pqCodes, pqCents) = operators.Similarity.pqIndex(spark, sfDir)
    val s6BuildSec = (System.nanoTime() - tB0) / 1e9
    val s6QuerySec = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      operators.Similarity.s6Query(spark, pqE, pqCodes, pqCents)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min
    val g11EncodeSec = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      streaming.StreamOps.g11Encode(spark, pqE, pqCents,
          cacheKey = Some(s"$sfDir#g11"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min
    val s6got = pairs(operators.Similarity.s6Query(spark, pqE, pqCodes, pqCents))
    val s6recall = (truth & s6got).size.toDouble / truth.size
    // s8 (IVF-PQ) under the same build/serve split: the coarse+residual
    // training and code table are one-time build artifacts; the serve
    // side pays nprobe cells of the code table + per-cell LUTs + re-rank
    val tB8 = System.nanoTime()
    val (ipE, ipCoarse, ipCodes, ipCents) =
      operators.Similarity.s8Index(spark, sfDir)
    val s8BuildSec = (System.nanoTime() - tB8) / 1e9
    val s8QuerySec = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      operators.Similarity.s8Query(spark, ipE, ipCoarse, ipCodes, ipCents)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min
    val s8got = pairs(
      operators.Similarity.s8Query(spark, ipE, ipCoarse, ipCodes, ipCents))
    val s8recall = (truth & s8got).size.toDouble / truth.size
    // s9: the persist+cold-reload round-trip of the SAME built index
    // (timed apart from the two-trainer build above), then the serve
    // cost from storage — the deployed steady-state the gate op proves
    val tP9 = System.nanoTime()
    val idx9 = operators.Similarity.s9PersistOf(spark, ipCoarse, ipCodes,
      ipCents)
    val (rCoarse, rCodes, rCents) = operators.Similarity.s9Reload(spark, idx9)
    operators.Similarity.rmTree(idx9)
    val s9PersistSec = (System.nanoTime() - tP9) / 1e9
    val s9ServeSec = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      operators.Similarity.s8Query(spark, ipE, rCoarse, rCodes, rCents)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.min
    // the PQ corpus/subvector checkpoints are dead past this point — drop
    // them so the scale probes below don't pay their memory pressure
    // (measured: d5's candidate-join probe ran 4× slower with them live)
    dropCachedBlocks()
    Seq(
      ("s2", pairs(operators.Similarity.s2(spark, sfDir)),
        operators.Similarity.s2Scored(spark, sfDir).count()),
      ("s3", pairs(operators.Similarity.s3(spark, sfDir)),
        operators.Similarity.s3Scored(spark, sfDir).count()))
      .map { case (n, got, cands) =>
        val recall = (truth & got).size.toDouble / truth.size
        f""""${n}_recall":$recall%.3f,"${n}_candidates":$cands"""
      }.mkString("{", ",", ",") +
      f""""s6_recall":$s6recall%.3f,"s6_rerank":${
        operators.Similarity.rerankDepth(
          sources.Tables.embeddings(spark, sfDir).count())},""" +
      f""""s6_build_s":$s6BuildSec%.3f,"s6_query_s":$s6QuerySec%.3f,""" +
      f""""s8_recall":$s8recall%.3f,""" +
      f""""s8_build_s":$s8BuildSec%.3f,"s8_query_s":$s8QuerySec%.3f,""" +
      f""""s9_persist_s":$s9PersistSec%.3f,"s9_serve_s":$s9ServeSec%.3f,""" +
      f""""g11_encode_s":$g11EncodeSec%.3f}"""
    }
    // scale probes: candidate-generation selectivity AND wall-time on
    // synthetic corpora big enough that a quadratic shape would show
    // (5.1k docs / 50.5k vectors — the ScaleProbeSpec corpora). Signature
    // and bucket stages are materialized first so the timed section is
    // the candidate join itself.
    val probes = if (sections("probes")) {
      def timed(body: => Long): (Long, Double) = {
        val t0 = System.nanoTime()
        val r = body
        (r, (System.nanoTime() - t0) / 1e9)
      }
      val docs = operators.Synthetic.documents(spark, 5000)
        .localCheckpoint(true)
      val nd = docs.count()
      val sigs = operators.Dedup.simhashesOf(docs).localCheckpoint(true)
      val (c4, t4) = timed(operators.Dedup
        .simhashCandidates(sigs, operators.Dedup.SimHashMaxHamming).count())
      val (c2, t2) = timed(operators.Dedup.minhashCandidatesOf(docs).count())
      val emb = operators.Synthetic.embeddings(spark, 50000)
        .localCheckpoint(true)
      val nv = emb.count()
      val planes = operators.Dedup.d5Planes(nv)
      val bkts = operators.Dedup.d5BucketsOf(emb, planes)
      val (c5, t5) = timed(operators.Dedup.d5CandidatesOf(bkts, planes).count())
      def frac(c: Long, n: Long): Double = c / (n * (n - 1) / 2.0)
      f""","probes":{"docs":$nd,"vectors":$nv,""" +
        f""""d4_sec":$t4%.3f,"d4_frac":${frac(c4, nd)}%.5f,""" +
        f""""d2_sec":$t2%.3f,"d2_frac":${frac(c2, nd)}%.5f,""" +
        f""""d5_sec":$t5%.3f,"d5_frac":${frac(c5, nv)}%.5f}"""
    } else ""
    val line = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"extras":$extras,"maint":$maint,"txn":{$txnStats},"ann":$ann$probes,"sf":"$sfDir"}"""
    println(line)
    // the stdout line has twice reached the per-round artifact
    // tail-truncated (BENCH_r10/r11); write the identical complete line
    // to a file so the full run always survives
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_last.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"bench file write failed: $e")
    }
    streaming.StreamRunner.clearStagedCache()
    sources.Roundtrip.clearFragmentedCache()
    spark.stop()
    // The harness that records the per-round artifact keeps only a
    // 2000-char stdout TAIL, and the full report line above outgrew it
    // rounds ago (every BENCH_r*.json carries `"parsed": null` with the
    // line's head cut off). Re-emit a COMPACT line — same schema, the
    // headline queries map only — LAST, after Spark has stopped (nothing
    // can log after it), so a complete parseable line always sits inside
    // the tail window. The full per-extra detail stays in `line` above
    // and in the SPARK_GRAFT_BENCH_OUT file.
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"detail":"$outPath","sf":"$sfDir"}""")
  }
}
