package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.exec.Scope

/** Trained document-quality classifier — the model-based filtering pass of
  * a pretraining pipeline (the GPT-3/CCNet-style "does this look like the
  * reference corpus" gate), as logistic regression over the engine's
  * existing heuristic quality features.
  *
  * Design split, mirroring the BPE tokenizer (train once, apply
  * everywhere) and the SemDeDup centroids: TRAINING is an iterative
  * driver-coordinated loop over a persisted narrow feature matrix (the
  * same cache-then-iterate shape spark.ml's L-BFGS uses — each iteration
  * is one shuffle-free partial aggregation producing `numFeatures`
  * doubles per partition); SCORING with pinned weights is a pure Column
  * expression — zero shuffle, codegen'd, and ENGINE-PORTABLE: every
  * feature is a ratio/min over integer-derived doubles and the dot
  * product is a fixed-order chain of IEEE adds/multiplies (no
  * transcendentals), so the linear score replays bit-for-bit in DuckDB
  * (gated as `q_n_quality_model`). The sigmoid is only a monotone
  * calibration of the linear score; thresholding at probability 0.5 IS
  * thresholding the linear score at 0, so the portable gate never needs
  * `exp`.
  */
object QualityModel {

  /** bias + 6 quality features. */
  val numFeatures = 7

  /** The feature vector (all in [0,1], bias first):
    * `[1, lenSat, distinctRatio, punctRatio, meanWordLen/10 (capped),
    * stopwordDensity (capped), topBigramFrac]`. Every entry is a
    * ratio of exact integers (or a `least` thereof) — no logs, no exps —
    * so any IEEE-754 engine computes identical doubles.
    *
    * This single-Column form re-derives tokens/grams inline — fine for a
    * one-off expression; the DataFrame paths ([[score]], [[train]]) go
    * through [[featuresOf]] over STAGED token/gram attribute columns, so
    * the tokenizer runs once per row, not once per feature.
    */
  def features(text: Column): Column =
    featuresOf(text, TextOps.tokens(text))

  /** The 7 feature expressions from a pre-projected token array (an
    * attribute reference, so the tokenizer runs once per row), bias first.
    * The top-bigram feature runs as the native [[graft.functions.TopNgramFrac]]
    * kernel straight off the tokens (r17) — the former staged gram-array
    * form chained four interpreted higher-order functions per row
    * (`transform`/`arrays_zip` gram build, `array_sort`, `aggregate` fold;
    * the single heaviest feature at 1M docs, SCALING.md "Retired probes")
    * for bit-identical output.
    */
  def featureSeq(text: Column, toks: Column): Seq[Column] = {
    val n = size(toks)
    val lenSat = least(n.cast("double") / 100.0, lit(1.0))
    val distinctRatio = when(n === 0, lit(0.0))
      .otherwise(size(array_distinct(toks)).cast("double") / n)
    val meanW = least(TextOps.meanWordLen(toks) / 10.0, lit(1.0))
    val stopDens = when(n === 0, lit(0.0))
      .otherwise(least(TextOps.stopwordHits(lower(text)).cast("double") / n, lit(1.0)))
    Seq(lit(1.0), lenSat, distinctRatio, TextOps.punctRatio(text), meanW,
      stopDens, graft.functions.TopNgramFrac.topNgramFrac(toks, 2))
  }

  /** [[featureSeq]] packed as one array column. */
  def featuresOf(text: Column, toks: Column): Column =
    array(featureSeq(text, toks): _*)

  /** Stage tokens → features as separate projections (Catalyst keeps them
    * apart when a non-cheap expression is multiply referenced), yielding
    * `df` plus a `__qx` features column.
    */
  private def withFeatures(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("__qtoks", TextOps.tokens(col(textCol)))
      .withColumn("__qx", featuresOf(col(textCol), col("__qtoks")))
      .drop("__qtoks")

  /** Fixed-order dot product over a pre-projected [[features]] column:
    * `w0*x0 + w1*x1 + …` associated strictly left-to-right, so the float
    * adds happen in the same order in Spark and in the SQL oracle.
    * Project [[features]] ONCE and pass that column here — expanding the
    * feature pipeline per term would re-run the tokenizer numFeatures
    * times (Catalyst does not CSE across projection items).
    */
  def linearScoreOf(x: Column, weights: Seq[Double]): Column = {
    require(weights.length == numFeatures, s"expected $numFeatures weights, got ${weights.length}")
    weights.zipWithIndex
      .map { case (w, i) => lit(w) * element_at(x, i + 1) }
      .reduceLeft(_ + _)
  }

  /** Classifier probability (sigmoid of the linear score) — for ranking
    * and calibration; NOT engine-portable to the last bit (`exp` differs
    * in ulps across libm implementations). Threshold the linear score
    * instead when the decision must replay exactly.
    */
  def probabilityOf(x: Column, weights: Seq[Double]): Column =
    lit(1.0) / (lit(1.0) + exp(-linearScoreOf(x, weights)))

  /** Full-batch logistic-regression training (deterministic
    * initialization, driver-coordinated gradient steps, optional L2).
    * One narrow pass builds and persists the `(label, features)` matrix
    * (~60 bytes/row — the 100 TB corpus reduces to a feature matrix
    * orders of magnitude smaller than the text it describes); each of the
    * `iters` steps is a single map-side-combined aggregation of
    * `numFeatures` running sums, so the loop's shuffle traffic is
    * `iters × partitions × numFeatures` doubles — independent of corpus
    * size. Returns the weight vector for [[linearScoreOf]].
    *
    * Note: float partial-sum ORDER across partitions is not fixed, so
    * re-training may differ in trailing bits (exactly like spark.ml);
    * what IS exactly reproducible everywhere is scoring under pinned
    * weights — persist the returned weights like any other model asset.
    */
  def train(df: DataFrame, textCol: String, labelCol: String,
            lr: Double = 1.0, iters: Int = 200, l2: Double = 0.0): Seq[Double] = {
    val data = withFeatures(df, textCol)
      .select(col(labelCol).cast("double").as("__y"), col("__qx").as("__x")).persist()
    try {
      val n = math.max(1L, data.count()).toDouble
      var w = Seq.fill(numFeatures)(0.0)
      for (_ <- 0 until iters) {
        val err = probabilityOf(col("__x"), w) - col("__y")
        val grads = (0 until numFeatures)
          .map(j => sum(err * element_at(col("__x"), j + 1)).as(s"g$j"))
        val row = data.agg(grads.head, grads.tail: _*).head()
        // an empty input leaves every sum null — keep the zero vector
        // rather than NPE mid-iteration
        def g(j: Int) = if (row.isNullAt(j)) 0.0 else row.getDouble(j)
        w = w.zipWithIndex.map { case (wj, j) => wj - lr * (g(j) / n + l2 * wj) }
      }
      w
    } finally { data.unpersist(blocking = false); () }
  }

  /** Deterministic corrupted negatives for self-supervised quality
    * training — the standard recipe when no labeled junk exists
    * (positives = the curated corpus, negatives = synthetic degradations
    * of it). Three corruption modes, chosen per doc by `id % 3` so the
    * negative set is reproducible:
    *   0: boilerplate repetition (first 8 tokens × 12 — tanks
    *      distinct-token ratio, spikes top-bigram fraction),
    *   1: stopword/short-word strip (drops every token ≤ 3 chars — kills
    *      stopword density, inflates mean word length),
    *   2: punctuation spam (appends a symbol run ≥ the document's own
    *      length — spikes punctuation ratio).
    * Pure Column expressions; returns `(idCol, textCol)` rows.
    */
  def syntheticNegatives(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    val repeated = concat_ws(" ", flatten(array_repeat(slice(toks, 1, 8), 12)))
    val stripped = concat_ws(" ", filter(toks, t => length(t) > 3))
    val spammed = concat(col(textCol), lit(" "),
      repeat(lit("!?#%&"), (length(col(textCol)) / lit(5)) + 1))
    df.select(col(idCol),
      when(pmod(col(idCol), lit(3)) === 0, repeated)
        .when(pmod(col(idCol), lit(3)) === 1, stripped)
        .otherwise(spammed).as(textCol))
  }

  /** Self-supervised training: label `df` 1, its [[syntheticNegatives]] 0,
    * and fit. The returned weights are what [[score]] pins; re-derive them
    * only deliberately (they are a model asset, like the BPE merge list).
    */
  def trainVsCorrupted(df: DataFrame, idCol: String, textCol: String,
                       lr: Double = 2.0, iters: Int = 200, l2: Double = 0.0): Seq[Double] = {
    val pos = df.select(col(idCol), col(textCol)).withColumn("__label", lit(1))
    val neg = syntheticNegatives(df, idCol, textCol).withColumn("__label", lit(0))
    train(pos.unionByName(neg), textCol, "__label", lr, iters, l2)
  }

  /** Score `df` under pinned weights: adds `scoreCol` (the scaled-integer
    * linear score, `floor(linear × 10^6 + 0.5)` — the engine-portable
    * integer form) and `acceptCol` (`scoreCol > 0`, i.e. probability
    * > 0.5). Expression-only: no shuffle, no UDF.
    *
    * The linear model has no floor on alphabetic tokens: under the gate
    * weights (`SparkEntry.qualityGateWeights`) a text of symbol runs only,
    * such as "!!!! #### $$$$ …", scores above zero and is accepted
    * (QualityModelSpec pins it). Pair the score with a rule filter when
    * such text must go.
    */
  def score(df: DataFrame, textCol: String, weights: Seq[Double],
            scoreCol: String = "quality_score_1e6",
            acceptCol: String = "quality_accept"): DataFrame = {
    require(weights.length == numFeatures, s"expected $numFeatures weights, got ${weights.length}")
    // the weighted fold runs over the SCALAR feature expressions, not
    // element_at over a staged features array: identical IEEE arithmetic
    // (same multiplicands, same left-assoc adds), but the array+element_at
    // form tripped a Spark 4.1 GeneratePredicate bug when a downstream
    // filter absorbed the score ("isNull_N is not an rvalue" → silent
    // interpreter fallback for the whole corpus-gate predicate)
    val feats = featureSeq(col(textCol), col("__qtoks"))
    val linear = weights.zip(feats)
      .map { case (w, f) => lit(w) * f }
      .reduceLeft(_ + _)
    // the feature pipeline is real per-row kernel work (regex passes, the
    // native top-bigram map) — a single-row-group parquet source arrives as
    // ONE partition and would score serially; spread (with its pushdown
    // barrier, see [[Scope.spread]]) keeps the scoring stage post-exchange,
    // and is a no-op once the input is already split (the 100 TB case)
    //
    // The score alias is wrapped in [[graft.functions.OpaqueBarrier]] (r17):
    // a downstream `quality_accept = 1` filter — the corpus-gate shape every
    // pipeline chains — was being pushed below this projection BY
    // SUBSTITUTION, re-evaluating the whole UNSTAGED feature pipeline
    // (tokenizer per feature) inside the predicate and then again in the
    // projection for survivors: 6.6 → 23.3 s on the 1M stress corpus
    // (SCALING.md "Retired probes"). The barrier pins score evaluation to
    // once per row; the accept column derives from the score ATTRIBUTE, so
    // an accept predicate still pushes down TO this projection and stays
    // cheap. Values are bit-identical (the wrapper is an identity).
    Scope.spread(df).withColumn("__qtoks", TextOps.tokens(col(textCol)))
      .withColumn(scoreCol,
        graft.functions.OpaqueBarrier.opaque(floor(linear * 1000000.0 + 0.5).cast("long")))
      .withColumn(acceptCol, (col(scoreCol) > 0).cast("long"))
      .drop("__qtoks")
  }
}
