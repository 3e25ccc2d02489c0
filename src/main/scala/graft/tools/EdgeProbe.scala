package graft.tools

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Degenerate-input sweep over the operator surface: every major entry point
  * is driven with (a) a zero-row corpus, (b) a corpus of null / empty /
  * whitespace-only / single-char texts, and (c) empty or null embedding
  * vectors. Each probe prints `EDGE OK <name> rows=N` or
  * `EDGE FAIL <name> <exception>` — the sweep is a bug-finder, not a gate;
  * failures found here graduate into EdgeCaseSpec with pinned expectations.
  *
  * Rationale: a 100 TB corpus WILL contain null text (failed upstream
  * extraction), empty strings, and docs with no embedding row; an operator
  * that throws on them kills the whole job, and one that silently
  * mis-buckets them corrupts downstream dedup verdicts.
  */
object EdgeProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder(master = "local[4]", shufflePartitions = 4)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val docSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("text", StringType, nullable = true),
      StructField("label", IntegerType, nullable = false)))
    def docs(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), docSchema)
    val emptyDocs = docs(Seq.empty)
    val nullDocs = docs(Seq(
      Row(1L, null, 1), Row(2L, "", 0), Row(3L, "   \n\t  ", 1),
      Row(4L, "x", 0), Row(5L, "a normal little document with words", 1),
      Row(6L, "a normal little document with words", 0)))

    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = true)))
    def vecs(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), vecSchema)
    val emptyVecs = vecs(Seq.empty)
    val oddVecs = vecs(Seq(
      Row(1L, null),
      Row(2L, Seq.empty[Float]),
      Row(3L, Seq(0.0f, 0.0f, 0.0f, 0.0f)), // zero norm
      Row(4L, Seq(1.0f, 2.0f, 3.0f, 4.0f)),
      Row(5L, Seq(1.0f, 2.0f, 3.0f, 4.0f))))

    val emptyPairs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[Row], 1),
      StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType))))

    var fails = 0
    def probe(name: String)(f: => DataFrame): Unit = {
      try {
        val d = f
        // a bare count() lets Catalyst PRUNE every output column — guards
        // and scalar kernels would never evaluate; the noop write forces
        // full-row evaluation of the whole projection
        d.write.format("noop").mode("overwrite").save()
        val n = d.count()
        println(s"EDGE OK   $name rows=$n")
      } catch {
        case e: Throwable if String.valueOf(e.getMessage).contains("USER_RAISED_EXCEPTION") =>
          // a named fail-fast guard (the packers' notNull) is designed policy
          println(s"EDGE GUARD $name ${String.valueOf(e.getMessage).linesIterator.take(1).mkString}")
        case e: Throwable =>
          fails += 1
          println(s"EDGE FAIL $name ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.take(3).mkString(" | ")}")
      } finally {
        graft.exec.Scope.unpersistCaches()
        spark.sharedState.cacheManager.clearCache()
      }
    }

    import graft.operators._
    val w = graft.SparkEntry.qualityGateWeights
    val cents = Seq(0 -> Seq(1f, 0f, 0f, 0f), 1 -> Seq(0f, 1f, 0f, 0f))

    for ((tag, df) <- Seq("empty" -> emptyDocs, "nulls" -> nullDocs)) {
      probe(s"$tag/dedup_exact")(Dedup.exact(df, "text", "id"))
      probe(s"$tag/dedup_spans")(Dedup.dropRepeatedSpans(df, "id", "text"))
      probe(s"$tag/dedup_minhash")(Dedup.dropNearDups(df, "id", "text", 0.5))
      probe(s"$tag/minhash_pairs")(Dedup.minhashDedupPairs(df, "id", "text", 0.5, 5, 32, 8, 100))
      probe(s"$tag/simhash_pairs")(Dedup.simhashPairs(df, "id", "text"))
      probe(s"$tag/ngram_jaccard_pairs")(Dedup.ngramJaccardPairs(df, "id", "text", 3, 0.3))
      probe(s"$tag/decontaminate")(Dedup.decontaminate(df, nullDocs.limit(1), "id", "text"))
      probe(s"$tag/quality_score")(QualityModel.score(df, "text", w))
      probe(s"$tag/quality_train")({ // train returns weights; wrap as 1-row DF to reuse probe
        val tw = QualityModel.trainVsCorrupted(df, "id", "text")
        spark.createDataFrame(Seq(Tuple1(tw.mkString(",")))).toDF("w")
      })
      probe(s"$tag/text_stats_exprs")(df.select(
        graft.functions.TextOps.tokenCount(col("text")).as("tc"),
        graft.functions.TextOps.langId(col("text")).as("lang"),
        graft.functions.TextOps.qualityScore(col("text")).as("q"),
        graft.functions.TextOps.fingerprint(col("text")).as("fp"),
        graft.functions.TextOps.punctRatio(col("text")).as("pr"),
        graft.functions.TextOps.redactPii(col("text")).as("red"),
        graft.functions.TextOps.dropRepeatedLines(col("text")).as("dl"),
        graft.functions.TextOps.topNgramFrac(graft.functions.TextOps.tokens(col("text")), 2).as("tng")))
      probe(s"$tag/hash_split")(Sampling.hashSplit(df, "id", Seq("train" -> 0.8, "test" -> 0.2)))
      probe(s"$tag/exact_sample")(Sampling.exactSample(df, "id", 3))
      probe(s"$tag/stratified")(Sampling.stratifiedExactSample(df, "id", "label", 2))
      probe(s"$tag/dsir_scores")({
        val weights = CorpusStats.importanceWeightsJoint(
          CorpusStats.hashedGramCountsSplit(df, "text", col("label") === 1))
        Sampling.importanceScores(df, "id", "text", weights)
      })
      probe(s"$tag/chunk")(Packing.chunkDocs(df, "id", "text", 8, 8))
      probe(s"$tag/pack_bins")(Packing.packBins(df.withColumn("n", graft.functions.TextOps.tokenCount(col("text"))), "id", "n", 16))
      probe(s"$tag/pack_greedy")(Packing.packBinsGreedy(df.withColumn("n", graft.functions.TextOps.tokenCount(col("text"))), "id", "n", 16))
      probe(s"$tag/pack_seq")(Packing.packSequences(df, "id", "text", 16))
      probe(s"$tag/commonness")(CorpusStats.commonnessScore(df, "id", "text"))
      probe(s"$tag/corpus_report")(CorpusStats.corpusReport(df, "text", "label"))
      probe(s"$tag/lm_score")(CorpusStats.lmScore(df, "id", "text"))
      probe(s"$tag/top_terms")(CorpusStats.topTerms(df, "id", "text", 5))
      probe(s"$tag/bpe_encode")({
        val seg = graft.functions.Bpe.vocabSegmentation(
          graft.functions.Bpe.wordCounts(df, "text"), Seq("a" -> "n", "t" -> "h"))
        graft.functions.Bpe.encode(df, "id", "text", seg)
      })
    }

    for ((tag, df) <- Seq("evec" -> emptyVecs, "ovec" -> oddVecs)) {
      probe(s"$tag/emb_dup_pairs")(Dedup.embeddingDupPairs(df, "vec_id", "embedding", 4, 0.9))
      probe(s"$tag/semantic_drop")(Dedup.semanticDrop(df, "vec_id", "embedding", cents, 0.9))
      probe(s"$tag/assign_clusters")(Dedup.assignSemanticClusters(df, "vec_id", "embedding", cents))
      probe(s"$tag/ann_brute")(graft.functions.VectorOps.bruteForceTopK(df.limit(2), df, 2))
      probe(s"$tag/ann_ivf")(graft.functions.VectorOps.ivfTopK(df.limit(2), df, 2, nlist = 2, nprobe = 1))
      probe(s"$tag/ann_lsh")(graft.functions.VectorOps.lshTopK(df.limit(2), df, 2, dim = 4))
      probe(s"$tag/ann_int8")(graft.functions.VectorOps.bruteForceTopKInt8(df.limit(2), df, 2))
      probe(s"$tag/vector_stats_expr")(df.select(
        graft.functions.VectorOps.l2Norm(col("embedding")).as("n"),
        graft.functions.VectorOps.normalized(col("embedding")).as("u")))
    }

    probe("empty_pairs/clusters")(Dedup.clusters(emptyPairs))
    probe("empty/incremental_dedup")(Dedup.incrementalDedup(
      emptyDocs, Dedup.minhashSignatures(emptyDocs, "id", "text"), "id", "text", 0.5))

    println(s"EDGE DONE fails=$fails")
    spark.stop()
    sys.exit(0)
  }
}
