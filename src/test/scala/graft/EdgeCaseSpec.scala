package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{CorpusStats, Dedup, Packing, QualityModel, Sampling}
import graft.exec.Scope
import graft.functions.{TextOps, VectorOps}

/** Degenerate-input policy pins — the behaviors `tools.EdgeProbe` sweeps.
  *
  * A 100 TB corpus WILL contain null text (failed upstream extraction),
  * empty strings, whitespace-only docs, and zero-norm embeddings; these
  * tests pin, per operator family, which of the three legal reactions each
  * one takes — propagate a null/empty result, silently drop the evidence-free
  * row (the DSIR gram-less policy), or fail fast with a named error (the
  * packers) — so a future edit can't silently flip a policy.
  *
  * Every assertion evaluates through a full-row action (collect / noop
  * write), never a bare count(): Catalyst prunes unevaluated columns under
  * count(), which is exactly how the packBins guard briefly looked
  * unreachable in the first EdgeProbe sweep.
  */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private val docSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType, nullable = true)))
  private def docs(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), docSchema)
  private lazy val emptyDocs = docs(Seq.empty)
  private lazy val dirtyDocs = docs(Seq(
    Row(1L, null), Row(2L, ""), Row(3L, "   \n\t  "),
    Row(4L, "x"), Row(5L, "a normal little document with words"),
    Row(6L, "a normal little document with words")))

  private def full(df: DataFrame): Seq[Row] = df.collect().toSeq

  test("empty corpus: every dedup/sampling/stats tier returns zero rows, no throw") {
    assert(full(Dedup.exact(emptyDocs, "text", "id")).isEmpty)
    assert(full(Dedup.dropRepeatedSpans(emptyDocs, "id", "text")).isEmpty)
    assert(full(Dedup.dropNearDups(emptyDocs, "id", "text", 0.5)).isEmpty)
    assert(full(Dedup.simhashPairs(emptyDocs, "id", "text")).isEmpty)
    assert(full(QualityModel.score(emptyDocs, "text", SparkEntry.qualityGateWeights)).isEmpty)
    assert(full(Sampling.hashSplit(emptyDocs, "id", Seq("a" -> 0.5, "b" -> 0.5))).isEmpty)
    assert(full(CorpusStats.lmScore(emptyDocs, "id", "text")).isEmpty)
    val emptyPairs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.empty[Row], 1),
      StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType))))
    assert(full(Dedup.clusters(emptyPairs)).isEmpty)
  }

  test("exact dedup: null text joins the empty/whitespace fingerprint group (contentless class)") {
    val out = full(Dedup.exact(dirtyDocs, "text", "id"))
    assert(out.size == 3, s"expected 3 groups, got ${out.map(_.getLong(0)).sorted}")
    val byId = out.map(r => r.getLong(0) -> r.getLong(2)).toMap // id -> dup_count
    // doc 1 (null text) is min-by-id representative of {null, "", whitespace}
    assert(byId(1L) == 3L, s"contentless class should collapse to one keeper: $byId")
    assert(byId(4L) == 1L && byId(5L) == 2L)
  }

  test("packers fail fast on null packing input, naming the operator and row id") {
    val withN = dirtyDocs.withColumn("n", TextOps.tokenCount(col("text")))
    def msgOf(f: => DataFrame): String =
      intercept[Exception] { f.write.format("noop").mode("overwrite").save() }.getMessage
    assert(msgOf(Packing.packBins(withN, "id", "n", 16)).contains("packBins: null n for id=1"))
    assert(msgOf(Packing.packBinsGreedy(withN, "id", "n", 16))
      .contains("packBinsGreedy: null n for id=1"))
    assert(msgOf(Packing.packSequences(dirtyDocs, "id", "text", 16))
      .contains("packSequences: null text tokens for id=1"))
  }

  test("gram-less silent-drop family: chunk, lmScore, importanceScores emit no row for evidence-free docs") {
    // chunkDocs: null/empty/whitespace docs produce zero chunks
    val chunks = full(Scope.withCacheScope(Packing.chunkDocs(dirtyDocs, "id", "text", 8, 8)))
    assert(chunks.map(_.getLong(0)).toSet == Set(4L, 5L, 6L))
    // lmScore needs >= 1 bigram: only the two 6-token docs qualify
    val lm = full(CorpusStats.lmScore(dirtyDocs, "id", "text"))
    assert(lm.map(_.getLong(0)).toSet == Set(5L, 6L))
    // importanceScores: the pinned DSIR gram-less policy (no row, not -inf)
    val weights = CorpusStats.importanceWeightsJoint(
      CorpusStats.hashedGramCountsSplit(dirtyDocs, "text", col("id") >= 5))
    val scored = full(Sampling.importanceScores(dirtyDocs, "id", "text", weights))
    assert(scored.map(_.getLong(0)).toSet == Set(4L, 5L, 6L))
  }

  test("text scalar surface is null-safe: null text yields null/neutral values, never a throw") {
    val out = dirtyDocs.select(col("id"),
        TextOps.tokenCount(col("text")).as("tc"),
        TextOps.langId(col("text")).as("lang"),
        TextOps.qualityScore(col("text")).as("q"),
        TextOps.fingerprint(col("text")).as("fp"),
        TextOps.redactPii(col("text")).as("red"),
        TextOps.dropRepeatedLines(col("text")).as("dl"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val nullRow = out(1L)
    assert(nullRow.isNullAt(1) || nullRow.getInt(1) <= 0) // tokenCount(null)
    assert(nullRow.isNullAt(4) || nullRow.getString(4).nonEmpty) // fp defined or null
    // and the empty-string doc evaluates every column without error
    assert(out(2L).getInt(1) == 0)
  }

  test("normalized() nulls zero-norm vectors instead of ANSI DIVIDE_BY_ZERO") {
    val vecs = Seq(
      (1L, Some(Seq(3.0f, 4.0f))),
      (2L, Some(Seq(0.0f, 0.0f))),
      (3L, Option.empty[Seq[Float]])).toDF("vec_id", "embedding")
    val out = vecs.select(col("vec_id"), VectorOps.normalized(col("embedding")).as("u"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val u = out(1L).getSeq[Double](1)
    assert(math.abs(u(0) - 0.6) < 1e-12 && math.abs(u(1) - 0.8) < 1e-12)
    assert(out(2L).isNullAt(1), "zero-norm must normalize to null")
    assert(out(3L).isNullAt(1), "null vector must stay null")
    // and the null convention matches the native cosine kernel's
    val zc = vecs.as("a").crossJoin(vecs.as("b"))
      .select(VectorOps.cosine(col("a.embedding"), col("b.embedding")).as("c"),
              col("a.vec_id").as("ia"), col("b.vec_id").as("ib"))
      .filter(col("ia") === 2L || col("ib") === 2L)
    assert(zc.collect().forall(_.isNullAt(0)))
  }

  test("vector tiers tolerate null/empty/zero embeddings end to end") {
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = true)))
    val odd = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, null), Row(2L, Seq.empty[Float]), Row(3L, Seq(0f, 0f, 0f, 0f)),
      Row(4L, Seq(1f, 2f, 3f, 4f)), Row(5L, Seq(1f, 2f, 3f, 4f))), 2), vecSchema)
    val pairs = full(Dedup.embeddingDupPairs(odd, "vec_id", "embedding", 4, 0.9))
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))) == Seq((4L, 5L)),
      "only the identical well-formed twins may pair")
    val cents = Seq(0 -> Seq(1f, 0f, 0f, 0f), 1 -> Seq(0f, 1f, 0f, 0f))
    val assigned = Scope.withCacheScope(
      full(Dedup.assignSemanticClusters(odd, "vec_id", "embedding", cents)))
    assert(assigned.size == 5, "no row may be lost or crash the assignment")
    // IVF: null/empty embeddings are dropped from index AND queries (pre-r13
    // they NPE'd in array_to_vector / crashed k-means fit on an empty set);
    // the two well-formed twins still find each other through the index
    // (zero-NORM vectors stay indexed — dimensionally well-formed — and
    // surface with NULL cos_sim, the same convention as the brute tier)
    val ivf = full(graft.functions.VectorOps.ivfTopK(odd, odd, 1, nlist = 2, nprobe = 2))
    val (nullSim, realSim) = ivf.partition(_.isNullAt(2))
    assert(realSim.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((4L, 5L), (5L, 4L)))
    assert(nullSim.forall(_.getLong(0) == 3L), s"only the zero-norm query may null-rank: $ivf")
    val emptyCorpus = odd.limit(0)
    assert(full(graft.functions.VectorOps.ivfTopK(odd, emptyCorpus, 1)).isEmpty)
  }

  test("astral-plane unicode survives the char-level kernels (UTF8String split is code-point-aware)") {
    // plain java.lang.String.split("") cuts a surrogate pair (emoji, rare
    // CJK) into two lone halves that UTF-8-encode as replacement bytes;
    // Spark's UTF8String split does NOT -- this pin protects the guarantee
    // every char-level kernel (BPE symbols, char shingles) relies on
    import graft.functions.{Bpe, TextOps}
    val texts = Seq((1L, "hello \ud83d\udc4d\ud83d\ude00 world"),
                    (2L, "\u6f22\u5b57 caf\u00e9 stra\u00dfe"),
                    (4L, "\ud83c\udf55\ud83c\udf55\ud83c\udf55")).toDF("id", "text")
    // split-by-char rejoin is the identity on every code point
    val broken = texts
      .select(col("text"), concat_ws("",
        filter(split(col("text"), ""), c => length(c) > 0)).as("rejoined"))
      .filter(col("rejoined") =!= col("text"))
    assert(broken.count() == 0, s"split corrupted: ${broken.collect().toSeq}")
    // BPE segmentation is lossless: subword concat reconstructs word</w>,
    // through a parquet round trip (lone surrogates would not survive one)
    val seg = Bpe.vocabSegmentation(Bpe.wordCounts(texts, "text"), Seq("h" -> "e"))
    val dir = java.nio.file.Files.createTempDirectory("uni").toString + "/p"
    seg.write.parquet(dir)
    val lossy = spark.read.parquet(dir).filter(
      concat_ws("", col("subwords")) =!= concat(col("word"), lit(Bpe.EndOfWord)))
    assert(lossy.count() == 0, s"lossy: ${lossy.collect().toSeq}")
    // fingerprints are defined and distinct for distinct unicode docs
    val fps = texts.select(TextOps.fingerprint(col("text"))).as[String].collect()
    assert(fps.distinct.length == 3 && fps.forall(_.length == 32))
  }

  test("corpusReport: null text is a zero-length doc, not a hole in the quartiles") {
    val rep = CorpusStats.corpusReport(
      dirtyDocs.withColumn("g", lit("all")), "text", "g").collect().toSeq
    assert(rep.size == 1)
    val r = rep.head
    assert(r.getLong(r.fieldIndex("n_docs")) == 6)
    // null, "", whitespace-only share the empty fingerprint; "x" and the
    // twin normal docs add two more distinct contents
    assert(r.getLong(r.fieldIndex("n_distinct")) == 3)
    // token counts (0,0,0,1,6,6): every doc in the distribution -> p50 is
    // the 0/1 interpolation midpoint, NOT a null-skewed 1-or-6
    assert(r.getLong(r.fieldIndex("p50_toks_c100")) == 50)
    assert(r.getLong(r.fieldIndex("n_tokens")) == 13)
    // empty corpus: zero groups, no throw
    assert(CorpusStats.corpusReport(
      emptyDocs.withColumn("g", lit("all")), "text", "g").count() == 0)
  }
}
