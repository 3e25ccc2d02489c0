package graft.tools

import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.operators.CorpusStats

/** Dev probe for the standalone importance-ingest gate's threshold: the
  * pretrain-ingest gate probed minLogw = -30.0 against the QUALITY-ACCEPTED
  * population; the standalone ingest scores EVERY document, so the margin
  * to the nearest organic logw must be re-established on the full
  * population before the oracle can replay the verdict in double
  * arithmetic. Prints the six scores nearest the candidate thresholds and
  * the kept counts. Not part of the library.
  */
object IngestGateProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.builder(master = "local[8]", shufflePartitions = 8).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val docs = graft.Tables(spark, sfDir, "documents").select("doc_id", "text", "lang")
    // the EXACT model the gates pin (one shared definition — a recipe
    // drift here would silence the margins this probe exists to justify)
    val wdir = java.nio.file.Files.createTempDirectory("probe_w").toString
    graft.gate.StreamingGates.pinnedDsirWeights(spark, docs, wdir)
    val weights = spark.read.parquet(wdir)
    val scores = graft.operators.Sampling.importanceScores(
      docs, "doc_id", "text", weights, 4).cache()
    val n = scores.count()
    for (t <- Seq(-30.0, -50.0, -100.0)) {
      val kept = scores.filter(col("dsir_logw") >= t).count()
      val near = scores.select(col("doc_id"), col("dsir_logw"),
          abs(col("dsir_logw") - t).as("d"))
        .orderBy("d").limit(6).collect()
        .map(r => f"${r.getLong(0)}%d:${r.getDouble(1)}%.6f").mkString(" ")
      println(f"t=$t%.1f kept=$kept/$n nearest: $near")
    }

    // semantic-ingest gate margin: the clique-arithmetic oracle is valid
    // only if NO organic within-cluster pair reaches the 0.9 threshold
    // (otherwise first-seen-wins must replay organic CC too)
    val emb = graft.Tables(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val cents = graft.operators.Dedup.firstKCentroids(emb, "vec_id", "embedding", 8)
    val organicMax = graft.operators.Dedup
      .semanticDedupPairs(emb, "vec_id", "embedding", cents, threshold = 0.0)
      .agg(max(col("cos_sim"))).head().getDouble(0)
    println(f"semantic organic max within-cluster cosine: $organicMax%.6f")

    spark.stop()
  }
}
