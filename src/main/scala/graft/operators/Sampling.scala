package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling and dataset splitting — the
  * train/val/test plumbing of a pretraining-data pipeline. Everything here
  * is a stateless per-row expression: no shuffle, no RNG state, no driver
  * coordination, so the same record lands in the same split on any engine,
  * any cluster size, any run (the property `df.sample`/`rand()` cannot give).
  *
  * Mechanism: the first 8 hex digits of `md5(id)` are uniform over
  * [0, 16^8); fixed-width lowercase hex compares lexicographically exactly
  * like the underlying integer, so a split is a plain string comparison
  * against a precomputed threshold — portable to any engine with standard
  * MD5 (DuckDB, Trino, BigQuery all agree on the digits).
  */
object Sampling {

  /** 8-hex-char md5 bucket of `id` (optionally salted so independent
    * experiments draw independent splits). Uniform over [0, 2^32).
    */
  def hashBucket(id: Column, salt: String = ""): Column =
    substring(md5(concat(lit(salt), id.cast("string"))), 1, 8)

  /** The 8-hex-digit threshold under which a bucket falls with probability
    * `frac` — comparable directly against [[hashBucket]] output. frac ≥ 1
    * returns "g", which sorts above every hex string, so a rate-1.0 sample
    * keeps ALL rows (an "ffffffff" threshold would strictly-compare away
    * the 2^-32 bucket).
    */
  def hexThreshold(frac: Double): String =
    if (frac >= 1.0) "g"
    else f"${math.floor(math.max(0.0, frac) * 4294967296.0).toLong}%08x"

  /** Deterministic Bernoulli sample: keep each row with probability `frac`,
    * decided solely by `md5(idCol)`. Repeatable across runs and engines;
    * samples at different rates are nested (frac=0.01 ⊂ frac=0.1).
    */
  def hashSample(df: DataFrame, idCol: String, frac: Double, salt: String = ""): DataFrame =
    df.filter(hashBucket(col(idCol), salt) < lit(hexThreshold(frac)))

  /** Deterministic uniform sample of EXACTLY `k` rows: globally order by
    * the hash bucket (id as tiebreaker) and take the first k — the fixed
    * "eval set of exactly 10k docs" need that a Bernoulli rate can't hit.
    * Plans as `TakeOrderedAndProject`: each partition keeps a k-row heap
    * and the driver merges heads — no global sort, no full shuffle.
    */
  def exactSample(df: DataFrame, idCol: String, k: Int, salt: String = ""): DataFrame =
    df.orderBy(hashBucket(col(idCol), salt), col(idCol)).limit(k)

  /** Deterministic dataset split: adds `splitCol` naming which of `splits`
    * (name → weight, normalized to sum 1) the row falls in. Split
    * boundaries are cumulative-weight thresholds over the hash bucket, so
    * membership is stable under re-runs and every row lands in exactly one
    * split.
    */
  def hashSplit(df: DataFrame, idCol: String, splits: Seq[(String, Double)],
                splitCol: String = "split", salt: String = ""): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0), "splits need positive weights")
    val total = splits.map(_._2).sum
    val cum = splits.map(_._2 / total).scanLeft(0.0)(_ + _).tail
    val b = hashBucket(col(idCol), salt)
    val expr = splits.init.zip(cum.init).foldRight(lit(splits.last._1): Column) {
      case (((name, _), upper), rest) => when(b < lit(hexThreshold(upper)), name).otherwise(rest)
    }
    df.withColumn(splitCol, expr)
  }

  /** Deterministic EXACTLY-k-per-stratum sample (k docs per language, k
    * examples per label). Rank within each stratum by the hash bucket and
    * keep the first k — one window shuffle on the stratum key. Note the
    * scale constraint: a window sorts each stratum in one task, so this is
    * for coarse strata (languages, sources); for huge strata pre-thin with
    * [[hashSample]] at a rate that overshoots k, then rank.
    */
  def stratifiedExactSample(df: DataFrame, idCol: String, stratumCol: String,
                            k: Int, salt: String = ""): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(hashBucket(col(idCol), salt), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Deterministic stratified sample: per-stratum keep rates (e.g. keep 5%
    * of English, 50% of low-resource languages). Strata absent from `rates`
    * fall back to `defaultRate` (0 = drop). Still expression-only — the
    * rate lookup is a literal CASE chain, not a join.
    */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       rates: Map[String, Double], defaultRate: Double = 0.0,
                       salt: String = ""): DataFrame = {
    val b = hashBucket(col(idCol), salt)
    val threshold = rates.toSeq.sortBy(_._1).foldRight(lit(hexThreshold(defaultRate)): Column) {
      case ((stratum, rate), rest) =>
        when(col(stratumCol) === stratum, lit(hexThreshold(rate))).otherwise(rest)
    }
    df.filter(b < threshold)
  }

  /** Deterministic weighted data mixing — the "upsample domain X 2.25×,
    * downsample domain Y to 0.5×" knob of a pretraining recipe, unified
    * over up- and down-sampling: each row is emitted `⌊w⌋` times plus one
    * more iff its md5 bucket falls under `frac(w)`, where `w` is its
    * stratum's weight. Copies carry a 0-based `repCol` index so downstream
    * dedup/packing see distinct rows. The mix is reproducible across
    * engines and runs, and MONOTONE in the weights: raising a stratum's
    * weight only adds copies, never reshuffles existing membership — the
    * property that lets a recipe change reuse the previous epoch's shards.
    *
    * Scale shape: repetition is a per-row `explode(sequence(...))` (narrow,
    * no shuffle); the weight lookup is a literal CASE chain, not a join.
    * Note: weights that are exact binary fractions (x/2^k) make the
    * fractional threshold bit-identical across engines.
    */
  def weightedMix(df: DataFrame, idCol: String, stratumCol: String,
                  weights: Map[String, Double], defaultWeight: Double = 1.0,
                  salt: String = "mix", repCol: String = "rep"): DataFrame = {
    require(weights.values.forall(_ >= 0) && defaultWeight >= 0, "weights must be ≥ 0")
    val w = weights.toSeq.sortBy(_._1).foldRight(lit(defaultWeight): Column) {
      case ((stratum, wt), rest) => when(col(stratumCol) === stratum, lit(wt)).otherwise(rest)
    }
    // fractional-copy threshold in the same 8-hex domain as hashBucket;
    // frac == 0 → "00000000", which no bucket is strictly under
    val thresh = lpad(lower(hex(floor((w - floor(w)) * 4294967296.0).cast("bigint"))), 8, "0")
    val copies = floor(w).cast("long") +
      when(hashBucket(col(idCol), salt) < thresh, 1L).otherwise(0L)
    df.withColumn("__n", copies)
      .filter(col("__n") > 0)
      .withColumn(repCol, explode(sequence(lit(0L), col("__n") - 1)))
      .drop("__n")
  }

  /** Per-document DSIR log importance weight: `(<idCol>, dsir_logw)`, one
    * row per document with ≥ 1 gram. The building block under
    * [[importanceResample]] — use it directly for rate-style selection at
    * corpus scale (`.filter(col("dsir_logw") > t)`, no top-k bound) or to
    * persist scores for reuse across selection runs. Same plan shape as
    * the resample's scoring phase: narrow gram pass, broadcast weights
    * join, map-side-combined `(id, double)` agg.
    *
    * POLICY — gram-less documents (empty/whitespace text: zero tokens,
    * hence zero grams) get NO row, deliberately: a document with no
    * evidence has importance weight −∞ in spirit, so both top-k selection
    * and every threshold gate built on this (including the streaming
    * ingest's inner join) never select it. Callers that instead want a
    * neutral pure-smoothing score must left-join and coalesce themselves.
    * Pinned by the planted empty-text fixtures in `q_n_dsir` and
    * `q_s_pretrain_ingest`.
    */
  def importanceScores(df: DataFrame, idCol: String, textCol: String,
                       weights: DataFrame, hexLen: Int = 4): DataFrame =
    df.select(col(idCol),
        explode(graft.functions.TextOps.hashedGrams(col(textCol), hexLen)).as("bucket"))
      .join(broadcast(weights), "bucket")
      .groupBy(idCol).agg(sum("logw").as("dsir_logw"))

  /** Offline operating-point picker for rate-style DSIR selection: the
    * `dsir_logw` threshold that keeps ≈ `keepRate` of the gram-bearing
    * documents — the value to hand
    * the [[graft.streaming.Dsir]] stage of a streaming ingest as `minLogw`
    * ("pick `minLogw` offline from the batch score distribution", made
    * API). One pass: `approx_percentile` (t-digest sketch, map-side
    * combined, no global sort of the score column) at `accuracy`; the
    * threshold is an operating point, not a verdict, so sketch precision
    * is the right trade at corpus scale. Gram-less documents have no
    * score row ([[importanceScores]] policy) and are outside the rate:
    * they are dropped by every downstream gate regardless of threshold.
    * An empty corpus yields `-Infinity` (keep everything).
    */
  def pickMinLogw(df: DataFrame, idCol: String, textCol: String,
                  weights: DataFrame, keepRate: Double,
                  hexLen: Int = 4, accuracy: Int = 10000): Double = {
    require(keepRate > 0.0 && keepRate <= 1.0, s"keepRate in (0,1], got $keepRate")
    val row = importanceScores(df, idCol, textCol, weights, hexLen)
      .select(percentile_approx(col("dsir_logw"), lit(1.0 - keepRate),
        lit(accuracy)).as("t"))
      .head()
    if (row.isNullAt(0)) Double.NegativeInfinity else row.getDouble(0)
  }

  /** DSIR importance resampling (Xie et al. 2023, arXiv:2302.03169):
    * select `k` documents from `df` WITHOUT replacement with probability
    * ∝ exp(importance weight), where a document's log-weight is the sum of
    * `weights.logw` over its hashed-gram OCCURRENCES
    * ([[graft.functions.TextOps.hashedGrams]]; build `weights` with
    * [[graft.operators.CorpusStats.importanceWeights]] from a target and a
    * background corpus). Without-replacement sampling uses the
    * Gumbel-top-k / Efraimidis–Spirakis equivalence — rank by
    * `logw + Gumbel(0,1)` and keep the top k — DERANDOMIZED: the Gumbel
    * variate is `-ln(-ln(u))` of the document's [[hashBucket]] md5 uniform,
    * so the draw replays identically on any engine and any cluster size,
    * like every other sampler here. Returns the selected rows plus their
    * `dsir_logw`, ordered arbitrarily.
    *
    * Scale shape: one narrow gram pass over `df`; the weights join
    * BROADCASTS (≤ 16^hexLen rows by construction); the per-doc sum is a
    * map-side-combined agg whose shuffle carries only `(id, double)`;
    * selection is `TakeOrderedAndProject` (per-partition k-heaps, no
    * global sort); the full-width payload never shuffles — selected ids
    * (k rows) broadcast back against `df`. Documents with no grams
    * (empty/whitespace text) have weight −∞ in spirit and are never
    * selected.
    *
    * `k` must be driver-modest (the selected id set broadcasts); for
    * rate-style selection at corpus scale, threshold on `dsir_logw`
    * yourself instead of top-k.
    */
  def importanceResample(df: DataFrame, idCol: String, textCol: String,
                         weights: DataFrame, k: Int, hexLen: Int = 4,
                         salt: String = "dsir"): DataFrame = {
    require(k > 0, "k must be positive")
    val logw = importanceScores(df, idCol, textCol, weights, hexLen)
      .withColumnRenamed(idCol, "__id")
    val u = (conv(hashBucket(col("__id"), salt), 16, 10).cast("double") + 0.5) / 4294967296.0
    val selected = logw
      .withColumn("__key", col("dsir_logw") - log(-log(u)))
      .orderBy(col("__key").desc, col("__id"))
      .limit(k)
      .select(col("__id"), col("dsir_logw"))
    df.join(broadcast(selected), df(idCol) === selected("__id"), "inner")
      .drop("__id")
  }
}
