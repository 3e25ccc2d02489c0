package graft.tools

import graft.plans.{PretrainIngestSpec, SpecJson}

/** Train-once probe for the SemDeDup k-means centroid model asset
  * (VERDICT r12 next-round #3): fits
  * [[graft.operators.Dedup.trainSemanticCentroids]] on the sf0.01
  * embeddings, writes the refit into the `centroids` of the checked-in
  * streaming ingest asset (`src/main/resources/specs/pretrain_ingest.json`
  * by default, the one copy `q_n_semdedup_trained` reads as its pinned
  * model) and prints the resulting cluster-size histogram (the
  * within-cluster quadratic needs every cell in [2, maxClusterSize] to
  * exercise pairs) — the same train-once/pin/score-everywhere discipline
  * as `qualityGateWeights` and `bpeGateMerges`.
  *
  * `runMain graft.tools.SemTrainProbe [sfDir] [k] [asset]`
  */
object SemTrainProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder(master = "local[32]", shufflePartitions = 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val k = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val asset = java.nio.file.Paths.get(
      args.drop(2).headOption.getOrElse("src/main/resources/specs/pretrain_ingest.json"))
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val cents = graft.operators.Dedup.trainSemanticCentroids(emb, "vec_id", "embedding", k)
    val spec = SpecJson.ingestFromJson(new String(java.nio.file.Files.readAllBytes(asset), "UTF-8"))
    val refit = spec match {
      case p: PretrainIngestSpec => p.copy(centroids = cents)
      case other => sys.error(s"$asset is not a pretrain ingest spec: $other")
    }
    java.nio.file.Files.write(asset, SpecJson.ingestToJson(refit).getBytes("UTF-8"))
    println(s"wrote $k centroids into $asset")
    // cluster-size histogram under the trained model
    val assigned = graft.operators.Dedup.assignSemanticClusters(emb, "vec_id", "embedding", cents)
    assigned.groupBy("cluster").count().orderBy("cluster").collect()
      .foreach(r => println(s"SIZE cluster=${r.get(0)} n=${r.get(1)}"))
    spark.stop(); sys.exit(0)
  }
}
