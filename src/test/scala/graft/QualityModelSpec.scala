package graft

import org.apache.spark.sql.functions._
import graft.operators.QualityModel

/** Trained quality classifier: training converges and separates, scoring
  * replays a hand-computed dot product exactly, and the scoring plan is
  * expression-only (the q_n_quality_model gate pins the engine-portable
  * arithmetic against DuckDB; this spec owns the training loop and the
  * float pipeline the integer gate feeds).
  */
class QualityModelSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  // trained ONCE for the suite — the driver-coordinated gradient steps
  // dominate this spec's time, so both training tests share one fit
  // (fewer/larger steps measured flaky on the sf0.001 fixtures: corrupted
  // accept 0.368 at lr=8/iters=120 vs ≤0.3 asserted)
  private lazy val trained: Seq[Double] =
    QualityModel.trainVsCorrupted(docs, "doc_id", "text", lr = 5.0, iters = 300)

  test("self-supervised training separates organic docs from their corruptions") {
    val w = trained
    def acceptRate(df: org.apache.spark.sql.DataFrame): Double =
      QualityModel.score(df, "text", w).agg(avg("quality_accept")).head().getDouble(0)
    val pos = acceptRate(docs)
    val neg = acceptRate(QualityModel.syntheticNegatives(docs, "doc_id", "text"))
    assert(pos >= 0.9, s"organic accept rate $pos")
    assert(neg <= 0.3, s"corrupted accept rate $neg")
  }

  test("learned weights point the direction the features mean") {
    // quality-positive signals (distinct-token ratio, stopword density)
    // must come out positive; repetition (top-bigram fraction) negative —
    // the corruptions are CONSTRUCTED to force these directions
    val w = trained
    assert(w(2) > 0, s"distinct-token-ratio weight should be positive: ${w(2)}")
    assert(w(5) > 0, s"stopword-density weight should be positive: ${w(5)}")
    assert(w(6) < 0, s"top-bigram-fraction weight should be negative: ${w(6)}")
  }

  test("scoring replays a hand-computed fixed-order dot product") {
    val df = Seq((1L, "the quick brown fox and the lazy dog of the north")).toDF("doc_id", "text")
    val w = Seq(0.5, 1.0, -2.0, 3.0, -1.0, 4.0, -5.0)
    // features by hand: 11 tokens, 9 distinct ('the' x3), no punctuation,
    // stop hits: the(3) + and + of = 5; top bigram: all 10 distinct -> 1/10
    val toks = 11.0
    val x = Seq(1.0, toks / 100.0, 9.0 / toks, 0.0,
      (("thequickbrownfoxandthelazydogofthenorth".length: Double) / toks) / 10.0,
      5.0 / toks, 1.0 / 10.0)
    val expected = math.floor(x.zip(w).map { case (xi, wi) => wi * xi }
      .reduceLeft(_ + _) * 1e6 + 0.5).toLong
    val got = QualityModel.score(df, "text", w)
      .select("quality_score_1e6").as[Long].head()
    assert(got == expected, s"$got vs $expected")
  }

  test("empty and whitespace-only docs score the bias only and are rejected under gate weights") {
    val df = Seq((1L, ""), (2L, "   ")).toDF("doc_id", "text")
    val scored = QualityModel.score(df, "text", SparkEntry.qualityGateWeights)
      .select("doc_id", "quality_accept").as[(Long, Long)].collect().toMap
    assert(scored == Map(1L -> 0L, 2L -> 0L), s"got $scored")
  }

  test("symbol-only text with no alphabetic token is accepted under gate weights") {
    // the linear model has no floor on alphabetic tokens: ten 4-char
    // symbol runs score like a short clean document. Pinned as the
    // behaviour of the current weights, which q_s_quality_ingest and
    // q_s_pretrain_ingest pin outputs under.
    val df = Seq((1L, "!!!! #### $$$$ %%%% ^^^^ &&&& **** (((( )))) @@@@")).toDF("doc_id", "text")
    val scored = QualityModel.score(df, "text", SparkEntry.qualityGateWeights)
      .select("quality_score_1e6", "quality_accept").as[(Long, Long)].head()
    assert(scored == ((3109471L, 1L)), s"got $scored")
  }

  test("scoring is expression-only: zero exchanges beyond the small-input spread, zero UDFs") {
    // an input already split across the cluster (the 100 TB case) makes the
    // spread a no-op — the scoring pipeline itself must add NO exchange
    val par = spark.sparkContext.defaultParallelism
    val p = QualityModel.score(docs.repartition(par), "text", SparkEntry.qualityGateWeights)
      .queryExecution.executedPlan.toString
    assert(p.split("Exchange").length - 1 == 1 && !p.contains("BatchEvalPython"),
      s"scoring must add no exchange beyond the caller's repartition:\n${p.take(2000)}")
    // a single-partition source gets exactly the ONE spread exchange, and
    // a downstream accept-filter must stay ABOVE it (the pushdown barrier:
    // a pushed filter would re-serialize scoring onto the lone partition)
    val small = QualityModel.score(docs, "text", SparkEntry.qualityGateWeights)
      .filter($"quality_accept" === 1)
    val sp = small.queryExecution.executedPlan.toString
    assert(sp.split("Exchange").length - 1 == 1 && !sp.contains("BatchEvalPython"),
      s"expected exactly the spread exchange:\n${sp.take(2000)}")
    // a pushed-down filter carries the SUBSTITUTED score expression (its
    // FLOOR(...) dot product), so nothing rendered below the exchange may
    // contain the scoring arithmetic
    val belowExchange = sp.substring(sp.indexOf("Exchange"))
    assert(!belowExchange.contains("FLOOR"),
      s"accept filter pushed below the spread exchange:\n${sp.take(2000)}")
  }
}
