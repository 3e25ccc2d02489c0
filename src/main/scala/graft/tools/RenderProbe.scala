package graft.tools

/** Attribution probe for the driver-side plan-rendering cost: runs the
  * flagship-v3 composite once (plus one repeat) and prints, for every SQL
  * execution the session starts, the callsite description in stream order.
  * The log4j `StringUtils` truncation WARNs interleave in the same stderr
  * stream, so lining the two up names the mini-jobs whose plan strings are
  * rendered at multi-MB sizes (the r16 follow-up to the v3 driver
  * profile's finding, SCALING.md "10-stage flagship v3 ladder", that
  * listener-event `explainString`/`SparkPlanInfo` rendering rides the
  * main thread between jobs).
  */
object RenderProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // arg 2: comma-separated query names (default: the flagship composite)
    val queries: Seq[String] =
      if (args.length > 1) args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else Seq("q_n_llm_pipeline_v3")
    val spark = graft.GraftSession.builder(master = "local[8]", shufflePartitions = 8)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val renderedChars = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            renderedChars.addAndGet(s.physicalPlanDescription.length.toLong)
            System.err.println(f"RENDER ${(System.nanoTime() - t0) / 1e9}%8.2f exec=${s.executionId}%-4d descLen=${s.physicalPlanDescription.length}%-6d ${s.description.linesIterator.nextOption.getOrElse("")}")
          case u: org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate =>
            renderedChars.addAndGet(u.physicalPlanDescription.length.toLong)
            System.err.println(f"RENDER ${(System.nanoTime() - t0) / 1e9}%8.2f aqe =${u.executionId}%-4d descLen=${u.physicalPlanDescription.length}%-6d")
          case _ =>
        }
    })
    def once(q: String, tag: String): Unit = {
      renderedChars.set(0L)
      val s0 = System.nanoTime()
      graft.SparkEntry.benchQueries.getOrElse(q, graft.SparkEntry.queries(q))(spark, dir)
        .write.format("noop").mode("overwrite").save()
      // give the async listener bus a moment to drain so the tally covers
      // this rep (the bus is private[spark]; a settle sleep is enough here)
      Thread.sleep(500)
      System.err.println(f"RENDER-REP $q $tag ${(System.nanoTime() - s0) / 1e9}%.2f s " +
        f"renderedChars=${renderedChars.get}%d")
      graft.exec.Scope.unpersistCaches()
      spark.sharedState.cacheManager.clearCache()
    }
    for (q <- queries) { once(q, "rep0"); once(q, "rep1") }
    spark.stop()
    sys.exit(0)
  }
}
