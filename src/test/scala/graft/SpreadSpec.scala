package graft

import org.apache.spark.sql.functions._
import graft.exec.Scope

/** Pins the [[graft.exec.Scope.spread]] policy — which plans get the
  * small-input repartition+barrier and which are left alone. Both failure
  * modes this guards against were hit in round 13 and are expensive to
  * re-diagnose: probing a shuffle-bearing plan executes its map stages
  * during planning (a whole wasted pass), while skipping a genuinely
  * narrow few-partition input silently serializes the CPU-heavy phase
  * above it (the streaming quality gate regressed 2× when foreachBatch's
  * LogicalRDD batches were misclassified as already-parallel).
  */
class SpreadSpec extends SparkSpec {
  import spark.implicits._

  private def partitionsOf(df: org.apache.spark.sql.DataFrame): Int =
    df.rdd.getNumPartitions

  private def hasSpreadExchange(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation => true
      case _ => false
    }

  test("a narrow single-row-group parquet scan spreads to full parallelism") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = Scope.spread(docs)
    assert(hasSpreadExchange(out), "raw small scan must gain the spread repartition")
    assert(partitionsOf(out) == spark.sparkContext.defaultParallelism)
  }

  test("spread output is row-identical to its input") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    assert(Scope.spread(docs).orderBy("doc_id").collect()
      sameElements docs.orderBy("doc_id").collect())
  }

  test("shuffle-bearing plans are left alone (probing them would execute map stages)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val agg = docs.groupBy("lang").count()
    val joined = docs.join(docs.select(col("doc_id").as("k")),
      docs("doc_id") === col("k"))
    val limited = docs.limit(10)
    val setop = docs.select("doc_id").except(docs.select("doc_id").limit(1))
    for (df <- Seq(agg, joined, limited, setop))
      assert(!hasSpreadExchange(Scope.spread(df)),
        s"spread must no-op on:\n${df.queryExecution.analyzed.nodeName}")
  }

  test("cached relations are left alone; LogicalRDD (a micro-batch's shape) is spread") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val cached = docs.persist()
    try {
      cached.count()
      val leaf = org.apache.spark.sql.graft.Bridge.cachedRelation(cached).get
      assert(!hasSpreadExchange(Scope.spread(leaf)),
        "an InMemoryRelation leaf inherits its cached partitioning")
    } finally cached.unpersist(blocking = false)
    // foreachBatch hands micro-batches in as LogicalRDD-rooted frames with
    // source parallelism — the canonical input that MUST spread
    val rddBacked = spark.createDataFrame(
      spark.sparkContext.parallelize(docs.collect().toSeq, 2), docs.schema)
    assert(partitionsOf(rddBacked) == 2)
    val out = Scope.spread(rddBacked)
    assert(hasSpreadExchange(out) &&
      partitionsOf(out) == spark.sparkContext.defaultParallelism,
      "a few-partition LogicalRDD input must spread")
  }
}
