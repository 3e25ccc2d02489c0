package graft.tools

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for declared queries to files.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> [sfDir] [q1,q2,...]
  * Defaults: sfDir=/root/testdata/sf0.1, queries=Bench.headline.
  * Uses the bench variant of each query (the unbounded organic config —
  * the thing the bench times) and the same session tuning as Bench, so the
  * dumped plan is the plan the numbers come from. Plan-string truncation is
  * raised so deep composite plans dump whole.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/root/repo/plans/r16")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val names =
      if (args.length > 2) args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else graft.Bench.headline
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "before")
    val spark = graft.GraftSession.builder(master = "local[32]", shufflePartitions = 32)
      .config("spark.sql.maxPlanStringLength", (8 * 1024 * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    for (name <- names) {
      try {
        val fn = graft.SparkEntry.benchQueries.getOrElse(name, graft.SparkEntry.queries(name))
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        // Spec-compiled composites back their cache nodes with
        // lineage-stubbed LogicalRDD leaves (the r16 exponential-render
        // fix), so the outer plan shows `Scan ExistingRDD` where a cached
        // segment begins — append each cached/stubbed segment's compiled
        // plan (Bridge.auditPlans walks them to a fixpoint, through AQE
        // wrappers, identity-deduped) so the dumped file still pins the
        // full composite structure. Bare RDD-scan pass-throughs (a stub's
        // own cached plan) are dropped from the appendix as noise.
        def passThrough(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
          p.collect {
            case n if !n.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec] &&
              !n.isInstanceOf[org.apache.spark.sql.execution.InputAdapter] &&
              !n.isInstanceOf[org.apache.spark.sql.execution.RDDScanExec] => n
          }.isEmpty
        val segs = org.apache.spark.sql.graft.Bridge.auditPlans(df).tail
          .filterNot(passThrough)
        val appendix = segs.zipWithIndex.map { case (p, i) =>
          s"\n\n== Lineage-stubbed cache segment ${i + 1} (Bridge.stubbedPlan) ==\n" +
            p.toString
        }.mkString
        Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), txt + appendix)
        println(s"[plandump] wrote $name (${txt.length} chars" +
          (if (segs.nonEmpty) s" + ${segs.size} cache segments)" else ")"))
      } catch { case e: Throwable =>
        println(s"[plandump] $name FAILED: ${e.getMessage}")
      } finally {
        graft.exec.Scope.unpersistCaches()
        spark.sharedState.cacheManager.clearCache()
      }
    }
    spark.stop(); sys.exit(0)
  }
}
