package graft.tools

import org.apache.spark.sql.functions._

/** Separates the flagship-v3 `passed`-cache-fill wall (the 30 s compile
  * span at 1M: the jobs labeled `spec:passed`) into its two candidate
  * causes: the quality-feature expression pipeline (interpreted
  * higher-order functions per row) vs the InMemoryRelation column-batch
  * build over the full text.
  * Each leg is timed twice (cold JIT, then warm).
  */
object QualityCostProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/v3corpus1m")
    val spark = graft.GraftSession.builder(master = "local[32]", shufflePartitions = 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "lang")
    def time[A](label: String)(f: => A): Unit = {
      for (round <- 1 to 2) {
        val t0 = System.nanoTime()
        f
        println(f"QPROBE $label%-28s round=$round ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      }
    }
    time("scan_only") {
      docs.write.format("noop").mode("overwrite").save()
    }
    time("score_noop") {
      graft.operators.QualityModel.score(docs, "text", graft.SparkEntry.qualityGateWeights)
        .write.format("noop").mode("overwrite").save()
    }
    time("cache_fill_plain") {
      val c = docs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      c.write.format("noop").mode("overwrite").save()
      c.unpersist(blocking = true)
    }
    time("score_cache_fill") {
      val c = graft.operators.QualityModel
        .score(docs, "text", graft.SparkEntry.qualityGateWeights)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      c.write.format("noop").mode("overwrite").save()
      c.unpersist(blocking = true)
    }
    // per-feature attribution: each feature column alone, noop-sunk
    val toks = graft.functions.TextOps.tokens(col("text"))
    val grams = graft.functions.TextOps.wordNgrams(toks, 2)
    def leg(label: String, c: org.apache.spark.sql.Column): Unit =
      time(label) {
        docs.select(c.as("x")).write.format("noop").mode("overwrite").save()
      }
    leg("feat_tokens_size", size(toks))
    leg("feat_distinct_ratio", size(array_distinct(toks)))
    leg("feat_punct", graft.functions.TextOps.punctRatio(col("text")))
    leg("feat_meanwordlen", graft.functions.TextOps.meanWordLen(toks))
    leg("feat_stopwords", graft.functions.TextOps.stopwordHits(lower(col("text"))))
    leg("feat_topbigram", graft.functions.TextOps.topNgramFracOf(grams))
    spark.stop(); sys.exit(0)
  }
}
