package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional extra args: run only these queries (dev loop); driver passes 2
    val only = args.drop(2).toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val guard = scala.collection.mutable.TreeMap.empty[String, Seq[String]]
    // materializing batch queries (result = eager checkpoint → bare
    // LogicalRDD) record their lazy pre-checkpoint plans for the audit;
    // streaming twins remain out of audit scope by design (their work
    // runs inside micro-batches the gate never sees a plan for)
    plans.Materialize.enableAuditTap()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      plans.Materialize.drainAuditTap()
      val written = try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        Some(df)
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        None
      }
      // Plan audit: the silently-serialized-work detectors (PlanAudit
      // scaladoc). The write above ran through ITS OWN QueryExecution,
      // so df's is still an un-executed adaptive tree with no codegen
      // stages — re-plan the analyzed plan with AQE off (planning
      // only, nothing re-executes) so WholeStageCodegen units exist
      // and every stage source gets Janino-compiled and size-checked.
      // Queries that materialize their result audit the TAPPED lazy
      // plans too — the result frame alone would be a bare scan.
      // Violations are RECORDED, not fatal: PlanGuardSpec owns the
      // allowlist; the gate's job is to surface every instance. An
      // audit-only failure is reported apart from a gate failure: the
      // parquet dump above already succeeded.
      written.foreach { df =>
        try {
          val vs = try {
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            (df +: plans.Materialize.drainAuditTap()).flatMap { d =>
              org.apache.spark.sql.graft.PlanAudit.audit(
                org.apache.spark.sql.graft.bridge.ofRows(
                  spark, d.queryExecution.analyzed))
            }.distinct
          } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
          if (vs.nonEmpty) {
            guard(name) = vs.map(_.toString)
            vs.foreach(v => System.err.println(s"[guard] $name $v"))
          }
        } catch { case e: Throwable =>
          System.err.println(s"[guard-error] $name audit failed: ${e.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val guardJson = guard
      .map { case (k, vs) => s"${q(k)}: ${vs.map(q).mkString("[", ",", "]")}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/plan_guard.json"), guardJson)
    streaming.StreamRunner.clearStagedCache()
    sources.Roundtrip.clearFragmentedCache()
    spark.stop()
  }
}
