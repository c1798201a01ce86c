package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** First-class co-partitioned fact layout: bucketed+sorted copies of
  * orders and lineitem on the order key, built ONCE per SF dir — persisted
  * on disk across processes — and shared by every orderkey fact-fact join
  * (h5, q60, q43, probes).
  *
  * Why this exists as a library path and not just inside h5: the round-13
  * sf100 probe identified q5's raw fact-fact SMJ shuffle as the
  * single-box I/O coupler (docs/SF100_r13.md), and the round-13
  * Q5BucketProbe (since removed; docs/Q5BUCKET_r13.md) measured
  * the fix — the 32-bucket layout runs the same join 2.7× faster at sf10
  * (8.64 → 3.18 s), drops the exchanges feeding the join from 7 to 5
  * (both removed exchanges are the fact shuffles), and collapses run
  * variance 21 s → 0.9 s because the variance WAS the shuffle
  * (docs/Q5BUCKET_r13.md). At 100 TB the prescription is: keep the fact
  * tables bucketed on their join key at ingest; q5-class queries then
  * neither shuffle nor couple.
  *
  * Round-15 change: the copies used to live in a per-process temp
  * warehouse, so EVERY JVM re-paid the one-time write (the r14 sf100
  * sweep showed it: q60 180.8 s / h5 141.7 s at REPS=1, nearly all of it
  * the 600M-row rewrite the next process pays again — VERDICT r14 §wrong
  * #2). Now the layout is written once under a content-fingerprinted
  * cache directory and later processes attach to it cold:
  *
  *   - '''Location''': `$GRAFT_BUCKETED_CACHE` (or
  *     `java.io.tmpdir/graft_bucketed_v1`) `/ <sha1(sf-dir)>_b<buckets>`.
  *     The SF dirs themselves may be read-only (/root/testdata is), so
  *     the layout lives beside, not inside, the data — a real lake would
  *     write the table bucketed at ingest and skip this entirely.
  *   - '''Validity''': a `manifest` file records a fingerprint of the
  *     source parquet files (name, length, mtime); a mismatch (data
  *     regenerated) forces a rebuild.
  *   - '''Concurrent writers''': each builder writes into a private
  *     `.build_<uuid>` staging dir, then ATOMIC_MOVE-renames it to the
  *     final name. Exactly one rename wins; losers delete their staging
  *     copy and attach to the winner's. No locks, safe across processes.
  *   - '''Catalog''': bucket metadata only survives through the catalog,
  *     so each session registers per-process-unique EXTERNAL table names
  *     (`CREATE TABLE … CLUSTERED BY … LOCATION …`) over the persisted
  *     files; [[clear]] / the shutdown hook drop only the catalog
  *     entries — the files persist for the next process. The
  *     registration cache is keyed by (session, dir): a table name is
  *     only resolvable in the session whose catalog holds it (r14 advice).
  */
object Bucketed {
  /** 32 = one bucket per local core; at cluster scale the same layout
    * rule is buckets ≈ executors × cores-per-executor (the bucket is the
    * unit of join parallelism — too few starves the SMJ, too many makes
    * small files; h7's compaction policy is the file-size guard).
    */
  val NumBuckets = 32

  private def cacheRoot: Path = Paths.get(
    sys.env.getOrElse("GRAFT_BUCKETED_CACHE",
      s"${System.getProperty("java.io.tmpdir")}/graft_bucketed_v1"))

  /** Age past which an orphaned staging (`.build_*`) or retired
    * (`.stale_*`) dir is reclaimed by [[sweepOrphans]]. A build that
    * dies without running its catch (SIGKILL, OOM-kill, power loss)
    * leaves a full-size staging copy behind, and the stale-layout
    * retire deliberately leaves its aside dir in place so concurrent
    * processes with live external tables over it degrade gracefully —
    * both would otherwise accumulate forever (hundreds of GB of crashed
    * sf100 builds → ENOSPC; r15 advice). Two hours covers any real
    * build (the sf100 write is ~2 min) and any live reader's process
    * lifetime in this deployment by a wide margin.
    */
  private val OrphanAgeMillis = 2L * 3600 * 1000

  /** Reclaim crashed-build staging dirs and aged-out retired layouts
    * under the cache root. Runs on every [[factTables]] cold path — one
    * directory listing; deletion only touches dot-prefixed dirs this
    * object itself created, never a live (published) layout.
    */
  private def sweepOrphans(): Unit = {
    val cutoff = System.currentTimeMillis() - OrphanAgeMillis
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    Option(cacheRoot.toFile.listFiles()).getOrElse(Array.empty)
      .filter { f =>
        f.isDirectory && f.lastModified < cutoff &&
          (f.getName.startsWith(".build_") || f.getName.startsWith(".stale_"))
      }
      .foreach(f => try rm(f) catch { case _: Throwable => () })
  }

  /** Fingerprint of the source fact files: rebuilding the SF dir (new
    * lengths/mtimes) invalidates the persisted layout.
    */
  private def fingerprint(dir: String): String = {
    val parts = for {
      t <- Seq("orders.parquet", "lineitem.parquet")
      root = new java.io.File(s"$dir/$t")
      f <- Option(root.listFiles()).map(_.toSeq).getOrElse(Seq(root)).sortBy(_.getName)
    } yield s"${f.getName}:${f.length}:${f.lastModified}"
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(parts.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  private def layoutDir(dir: String, buckets: Int): Path = {
    val key = java.security.MessageDigest.getInstance("SHA-1")
      .digest(new java.io.File(dir).getCanonicalPath.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    cacheRoot.resolve(s"${key}_b$buckets")
  }

  private def manifestOk(layout: Path, dir: String, buckets: Int): Boolean = {
    val m = layout.resolve("manifest")
    Files.exists(m) && {
      val lines = new String(Files.readAllBytes(m), "UTF-8").split("\n")
      lines.length >= 3 && lines(0) == "v1" &&
        lines(1) == buckets.toString && lines(2) == fingerprint(dir)
    }
  }

  /** Build the bucketed+sorted copies into a staging dir and atomically
    * publish. Returns the final layout dir (ours or a concurrent
    * winner's).
    */
  private def build(s: SparkSession, dir: String, buckets: Int): Path = {
    val finalDir = layoutDir(dir, buckets)
    Files.createDirectories(cacheRoot)
    val staging = Files.createTempDirectory(cacheRoot, ".build_")
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    try {
      // bucketBy only writes through saveAsTable; the staging tables are
      // external (explicit path), so dropping them keeps the files.
      Tables.orders(s, dir).write.mode("overwrite")
        .option("path", s"$staging/o")
        .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(s"bkt_stage_o_$tag")
      Tables.lineitem(s, dir).write.mode("overwrite")
        .option("path", s"$staging/l")
        .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(s"bkt_stage_l_$tag")
      s.sql(s"DROP TABLE IF EXISTS bkt_stage_o_$tag")
      s.sql(s"DROP TABLE IF EXISTS bkt_stage_l_$tag")
      Files.write(staging.resolve("manifest"),
        s"v1\n$buckets\n${fingerprint(dir)}\n".getBytes("UTF-8"))
      // a STALE prior layout (source data regenerated) blocks the atomic
      // publish — retire it first; the rename-aside is itself atomic, so
      // concurrent rebuilders race safely (one retires, both re-publish,
      // one wins below). The aside dir is deliberately LEFT IN PLACE: a
      // concurrently running process may hold live external tables over
      // its files, and deleting under it turns that process's scans into
      // FileNotFoundExceptions mid-run (r15 advice). sweepOrphans
      // reclaims it once it ages past any live reader.
      if (Files.exists(finalDir) && !manifestOk(finalDir, dir, buckets)) {
        val aside = cacheRoot.resolve(
          s".stale_${java.util.UUID.randomUUID().toString.take(8)}")
        try Files.move(finalDir, aside, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.nio.file.FileSystemException => () }
      }
      try {
        Files.move(staging, finalDir, StandardCopyOption.ATOMIC_MOVE)
        finalDir
      } catch {
        case _: java.nio.file.FileSystemException
            if manifestOk(finalDir, dir, buckets) =>
          rm(staging.toFile) // lost the publish race; attach to the winner
          finalDir
      }
    } catch {
      case e: Throwable => rm(staging.toFile); throw e
    }
  }

  /** Attach this session to a persisted layout: register external
    * bucketed tables over its files. Returns (orders, lineitem, drop).
    */
  private def register(s: SparkSession, dir: String, layout: Path,
      buckets: Int): (String, String, () => Unit) = {
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    val (to, tl) = (s"bkt_orders_$tag", s"bkt_lineitem_$tag")
    def create(name: String, ddl: String, key: String, sub: String): Unit =
      s.sql(s"""CREATE TABLE $name ($ddl) USING PARQUET
        CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS
        LOCATION '${layout.resolve(sub)}'""")
    create(to, Tables.orders(s, dir).schema.toDDL, "o_orderkey", "o")
    create(tl, Tables.lineitem(s, dir).schema.toDDL, "l_orderkey", "l")
    val drop = () => {
      // May run on the shutdown-hook path after Spark has stopped; the
      // tables are external so only catalog entries are at stake (and
      // the catalog dies with the JVM anyway).
      try {
        s.sql(s"DROP TABLE IF EXISTS $to")
        s.sql(s"DROP TABLE IF EXISTS $tl")
        ()
      } catch { case _: Throwable => () }
    }
    (to, tl, drop)
  }

  /** Registration cache keyed by (session, dir): catalog entries are
    * per-session, so a second session in the same JVM must register its
    * own names (r14 advice — the old dir-only key handed session B names
    * only session A could resolve).
    */
  private val cache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (String, String, () => Unit)]

  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try clear() catch { case _: Throwable => () }))

  /** The shared per-dir layout's (orders, lineitem) table names for this
    * session, building the persisted layout on first-ever use and
    * attaching cold when a previous process already built it. Race-safe
    * in-process via putIfAbsent (the loser drops its duplicate catalog
    * entries); race-safe cross-process via the atomic publish in
    * [[build]].
    */
  def factTables(s: SparkSession, dir: String): (String, String) = {
    cleanupHook
    val key = (s, dir)
    val (to, tl, _) = cache.get(key).getOrElse {
      try sweepOrphans() catch { case _: Throwable => () }
      val layout = layoutDir(dir, NumBuckets)
      val ready =
        if (manifestOk(layout, dir, NumBuckets)) layout
        else build(s, dir, NumBuckets)
      val fresh = register(s, dir, ready, NumBuckets)
      cache.putIfAbsent(key, fresh) match {
        case Some(winner) => fresh._3(); winner
        case None => fresh
      }
    }
    (to, tl)
  }

  /** The co-partitioned orders copy (bucketed+sorted on o_orderkey). */
  def orders(s: SparkSession, dir: String): DataFrame =
    s.table(factTables(s, dir)._1)

  /** The co-partitioned lineitem copy (bucketed+sorted on l_orderkey). */
  def lineitem(s: SparkSession, dir: String): DataFrame =
    s.table(factTables(s, dir)._2)

  /** Drop every registered catalog entry (bench/gate end-of-run
    * hygiene). The persisted files stay — they are the point.
    */
  def clear(): Unit = {
    cache.values.foreach { case (_, _, drop) =>
      try drop() catch { case _: Throwable => () }
    }
    cache.clear()
  }

  /** Per-invocation THROWAWAY layout for the plan-shape specs
    * (h5WithCleanup): builds into a private temp dir outside the shared
    * cache and the returned cleanup drops the tables and deletes the
    * files. Production paths use [[factTables]] (persisted + shared).
    */
  private[graft] def setup(s: SparkSession, dir: String,
      buckets: Int = NumBuckets): (String, String, () => Unit) = {
    val wh = Files.createTempDirectory("graft_bucketed_spec_")
    val tag = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    Tables.orders(s, dir).write.mode("overwrite")
      .option("path", s"$wh/o")
      .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable(s"bkt_spec_o_$tag")
    Tables.lineitem(s, dir).write.mode("overwrite")
      .option("path", s"$wh/l")
      .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable(s"bkt_spec_l_$tag")
    val cleanup = () => {
      try {
        s.sql(s"DROP TABLE IF EXISTS bkt_spec_o_$tag")
        s.sql(s"DROP TABLE IF EXISTS bkt_spec_l_$tag")
      } catch { case _: Throwable => () }
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(wh.toFile)
    }
    (s"bkt_spec_o_$tag", s"bkt_spec_l_$tag", cleanup)
  }

  /** Delete a persisted layout from disk (spec hygiene only). */
  private[graft] def deleteLayout(dir: String,
      buckets: Int = NumBuckets): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(layoutDir(dir, buckets).toFile)
  }
}
