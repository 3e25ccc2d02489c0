package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.exec.Scope

/** Corpus-level term statistics — the vocabulary-audit / tokenizer-training
  * prep a pretraining pipeline runs before committing to a token budget
  * (cf. the per-document stats in [[graft.functions.TextOps]]; these are the
  * corpus aggregates over them).
  */
object CorpusStats {

  /** Per-document mean token commonness: the average corpus DOCUMENT
    * FREQUENCY of the document's tokens — the engine-portable stand-in for
    * unigram-LM surprisal scoring (float log-probs differ in the last ulp
    * across engines; a mean of exact integers divides identically
    * everywhere). Low scores flag rare-token-heavy documents (OCR noise,
    * gibberish, exotic boilerplate); filter on a corpus-relative quantile.
    *
    * Output: `(id, n_toks, mean_df)` (mean_df rounded to 4). Scale shape:
    * the vocab relation is `(term, doc_freq)` — one row per distinct term —
    * and the per-doc pass is explode → join on term → re-aggregate by doc;
    * the doc re-aggregation combines map-side. With `hashKeys=true` both
    * term shuffles carry `xxhash64(term)` (8 bytes instead of the term
    * string; a collision only merges two terms' doc counts — same trade as
    * [[Dedup.contaminationHits]]).
    */
  def commonnessScore(df: DataFrame, idCol: String, textCol: String,
                      hashKeys: Boolean = false): DataFrame = {
    def key(c: org.apache.spark.sql.Column) = if (hashKeys) xxhash64(c) else c
    // generators must be top-level in a select — explode first, key after
    val toks = df.select(col(idCol).as("id"),
        explode(TextOps.tokens(col(textCol))).as("__t"))
      .select(col("id"), key(col("__t")).as("term"))
    val vocab = toks.select("term", "id").distinct()
      .groupBy("term").agg(count(lit(1)).as("__df"))
    toks.join(vocab, "term")
      .groupBy("id")
      .agg(count(lit(1)).as("n_toks"),
        round(sum(col("__df")).cast("double") / count(lit(1)), 4).as("mean_df"))
  }

  /** Corpus-self-trained bigram language-model score — the perplexity-proxy
    * quality signal (CCNet-style: score documents against an n-gram LM and
    * filter the tail; here the LM is the corpus itself, so the score flags
    * documents whose token transitions are atypical FOR THIS CORPUS —
    * gibberish, OCR noise, boilerplate with unusual phrasing).
    *
    * Model: add-k smoothed bigram LM, `P(w2|w1) = (C(w1,w2) + k) /
    * (C(w1,·) + k·V)` with `V` = corpus distinct-token count; a document's
    * score is the mean `ln P` over its bigram OCCURRENCES (non-distinct —
    * repetition counts). Returns `(id, n_bigrams, sum_c2, sum_c1,
    * avg_logp)` for documents with at least one bigram; the integer count
    * sums ride along because they are engine-exact (the float mean is the
    * useful signal, the integers are the cross-engine anchor).
    *
    * Scale shape: bigram and left-context counts are two hash aggregations
    * over the exploded occurrence relation (map-side combine absorbs the
    * zipfian head); `V` joins in as a broadcast 1-row aggregate, never a
    * driver collect; the per-doc re-aggregation combines map-side. Bigram
    * strings ride two shuffles — for web-scale vocabularies hash them first
    * (the [[commonnessScore]] `hashKeys` trade).
    */
  def lmScore(df: DataFrame, idCol: String, textCol: String,
              k: Double = 0.5): DataFrame = {
    val sep = "\u0001"
    val toks = TextOps.tokens(col(textCol))
    val bigramArr = when(size(col("__toks")) >= 2,
        transform(sequence(lit(1), size(col("__toks")) - 1),
          i => concat_ws(sep, element_at(col("__toks"), i),
            element_at(col("__toks"), i + 1))))
      .otherwise(array())
    val base = df.select(col(idCol).as("id"), toks.as("__toks"))
    val occ = base.select(col("id"), explode(bigramArr).as("bg"))
    val c2 = occ.groupBy("bg").agg(count(lit(1)).as("__c2"))
    val c1 = occ.select(substring_index(col("bg"), sep, 1).as("w1"))
      .groupBy("w1").agg(count(lit(1)).as("__c1"))
    val vocab = base.select(explode(col("__toks")).as("t"))
      .agg(count_distinct(col("t")).as("__v"))
    occ.join(c2, "bg")
      .withColumn("w1", substring_index(col("bg"), sep, 1))
      .join(c1, "w1")
      .crossJoin(broadcast(vocab))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("__c2")).as("sum_c2"),
        sum(col("__c1")).as("sum_c1"),
        round(avg(log((col("__c2") + k) / (col("__c1") + col("__v") * k))), 4)
          .as("avg_logp"))
  }

  /** Approximate top terms by TOTAL occurrence count via the mergeable
    * Misra–Gries summary ([[graft.functions.Sketches.FrequentItems]]) —
    * the vocab path when the distinct-term set itself is too large to
    * shuffle exactly (zipfian web-scale vocab): memory is `capacity`
    * counters per partial regardless of vocabulary size, and the whole
    * corpus reduces to ONE summary row. Counts undercount by at most
    * N/(capacity+1); items above that threshold are guaranteed present.
    * Output: `(term, est_count)` rows, descending (size ≤ capacity).
    */
  def topTermsApprox(df: DataFrame, textCol: String, capacity: Int): DataFrame = {
    import org.apache.spark.sql.Encoders
    df.select(explode(TextOps.tokens(col(textCol))).as("term"))
      .select(col("term")).as[String](Encoders.STRING)
      .select(graft.functions.Sketches.frequentItems(capacity).toColumn) // typed select
      .toDF("top")
      .select(explode(col("top")).as("t"))
      .select(col("t._1").as("term"), col("t._2").as("est_count"))
  }

  /** Top-`k` terms by document frequency: `(term, doc_freq, total_count,
    * token_share)`, ordered by `(doc_freq desc, term)` for a deterministic
    * cut. `n = 1` counts whitespace tokens; `n > 1` counts order-preserving
    * word n-grams (non-distinct — repetition inside one document counts).
    *
    * Scale shape: the `(id, term)` explode pre-aggregates per document
    * first, so the map-side combine that absorbs a zipfian head operates on
    * `(doc, term)` granularity and the wide shuffle carries one row per
    * distinct term per doc, not one per occurrence. The final cut is
    * `orderBy(...).limit(k)` → `TakeOrderedAndProject` (per-partition k-row
    * heaps, driver merge — no global sort), and the grand total joins in as
    * a broadcast of a 1-row aggregate, not a driver collect.
    */
  def topTerms(df: DataFrame, idCol: String, textCol: String, k: Int,
               n: Int = 1): DataFrame = {
    require(k > 0 && n > 0, "k and n must be positive")
    val terms =
      if (n == 1) df.select(col(idCol).as("__id"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      else df.select(col(idCol).as("__id"),
        explode(TextOps.wordNgrams(TextOps.tokens(col(textCol)), n)).as("term"))
    val perDoc = terms.groupBy("term", "__id").agg(count(lit(1)).as("__c"))
    val byTerm = perDoc.groupBy("term")
      .agg(count(lit(1)).as("doc_freq"), sum(col("__c")).as("total_count"))
    val grand = byTerm.agg(sum(col("total_count")).as("__grand"))
    byTerm.orderBy(col("doc_freq").desc, col("term")).limit(k)
      .crossJoin(broadcast(grand))
      // both operands are exact integers ≤ 2^53 → IEEE division is
      // engine-portable bit-for-bit
      .withColumn("token_share",
        round(col("total_count").cast("double") / col("__grand"), 6))
      .drop("__grand")
  }

  // --- DSIR importance weighting (Xie et al. 2023, arXiv:2302.03169) -------

  /** Hashed-gram occurrence counts `(bucket, cnt)` over
    * [[graft.functions.TextOps.hashedGrams]] — the sufficient statistic of a
    * hashed bag-of-ngrams model. Output cardinality is bounded by 16^hexLen
    * REGARDLESS of corpus size (one scan, map-side-combined hash agg whose
    * shuffle carries at most 16^hexLen rows per partition), so the "model"
    * is a small relation you persist like any other store
    * (cf. the dedup signature stores) and reuse across selection runs.
    */
  def hashedGramCounts(df: DataFrame, textCol: String, hexLen: Int = 4): DataFrame = {
    require(hexLen >= 1 && hexLen <= 5, s"hexLen=$hexLen: bucket domain 16^hexLen must stay broadcastable")
    // gram construction (md5 per gram) is the heavy narrow phase — spread a
    // single-row-group source so the map-side combine runs on every core
    // (no-op at scale; see Scope.spread)
    Scope.spread(df)
      .select(explode(TextOps.hashedGrams(col(textCol), hexLen)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Joint target/background hashed-gram counts in ONE corpus scan:
    * `(bucket, cnt_target, cnt_background)` where `cnt_target` counts only
    * gram occurrences from rows satisfying `targetPred` and
    * `cnt_background` counts all of them. This is the model build for the
    * common DSIR shape — target = a predicate slice of the background
    * corpus (a language, a domain, a quality tier) — where running
    * [[hashedGramCounts]] twice would scan the same 100 TB table twice.
    * The conditional count rides the SAME map-side-combined hash agg, so
    * the one shuffle still carries ≤ 16^hexLen rows per partition, now 16
    * bytes wider. Feed the result to [[importanceWeightsJoint]].
    */
  def hashedGramCountsSplit(df: DataFrame, textCol: String,
                            targetPred: org.apache.spark.sql.Column,
                            hexLen: Int = 4): DataFrame = {
    require(hexLen >= 1 && hexLen <= 5, s"hexLen=$hexLen: bucket domain 16^hexLen must stay broadcastable")
    Scope.spread(df)
      .select(targetPred.as("__is_t"),
        explode(TextOps.hashedGrams(col(textCol), hexLen)).as("bucket"))
      .groupBy("bucket")
      .agg(count(when(col("__is_t"), lit(1))).as("cnt_target"),
        count(lit(1)).as("cnt_background"))
  }

  /** [[importanceWeights]] over a joint count relation from
    * [[hashedGramCountsSplit]]. The joint relation is referenced twice
    * (target slice + background slice) — free when it is the collected /
    * persisted ≤ 16^hexLen-row model this API expects (the run-once
    * discipline of [[graft.plans.PipelineCompiler]]'s DsirNodeSpec), but a
    * LAZY joint relation over a raw corpus would rescan it; collect or
    * persist first.
    */
  def importanceWeightsJoint(joint: DataFrame, hexLen: Int = 4,
                             alpha: Double = 0.5): DataFrame =
    importanceWeights(
      joint.select(col("bucket"), col("cnt_target").as("cnt")),
      joint.select(col("bucket"), col("cnt_background").as("cnt")),
      hexLen, alpha)

  /** DSIR importance log-weights over the FULL 16^hexLen bucket domain:
    * `logw(b) = ln p_target(b) − ln p_background(b)` under add-α smoothing
    * `p(b) = (cnt(b) + α) / (total + α·16^hexLen)`. Covering the whole
    * domain (buckets unseen in either corpus get the pure-smoothing ratio)
    * means downstream consumers need no "unseen feature" special case —
    * one inner broadcast join scores any gram.
    *
    * Inputs are COUNT relations from [[hashedGramCounts]] — build them
    * once, persist them (they are the model; ≤ 16^hexLen rows), then feed
    * them here. Taking counts rather than corpora keeps this function free
    * of hidden rescans: each count relation is referenced twice below
    * (per-bucket join + total), which is free for a persisted/parquet-backed
    * model but would scan a raw 100 TB corpus twice.
    */
  def importanceWeights(targetCounts: DataFrame, backgroundCounts: DataFrame,
                        hexLen: Int = 4, alpha: Double = 0.5): DataFrame = {
    require(hexLen >= 1 && hexLen <= 5, s"hexLen=$hexLen: bucket domain 16^hexLen must stay broadcastable")
    require(alpha > 0, "alpha must be positive (zero-count buckets need mass)")
    val nBuckets = 1L << (4 * hexLen)
    val spark = targetCounts.sparkSession
    val domain = spark.range(nBuckets)
      .select(lpad(lower(hex(col("id"))), hexLen, "0").as("bucket"))
    val ct = targetCounts.select(col("bucket"), col("cnt").as("__ct"))
    val cr = backgroundCounts.select(col("bucket"), col("cnt").as("__cr"))
    val tt = ct.agg(coalesce(sum("__ct"), lit(0L)).cast("double").as("__tt"))
    val tr = cr.agg(coalesce(sum("__cr"), lit(0L)).cast("double").as("__tr"))
    domain
      .join(broadcast(ct), Seq("bucket"), "left")
      .join(broadcast(cr), Seq("bucket"), "left")
      .crossJoin(broadcast(tt)).crossJoin(broadcast(tr))
      .select(col("bucket"),
        (log((coalesce(col("__ct"), lit(0L)) + alpha) / (col("__tt") + alpha * nBuckets)) -
         log((coalesce(col("__cr"), lit(0L)) + alpha) / (col("__tr") + alpha * nBuckets)))
          .as("logw"))
  }

  /** Corpus "data card": per-`groupCol` document/token/char counts, exact
    * content-duplicate accounting, and token-length quartiles — the audit
    * a pretraining pipeline runs before and after every dedup/filter tier
    * to state what a corpus holds and what a stage changed (what model
    * release notes call the dataset card's composition table).
    *
    * Output per group: `n_docs`, `n_distinct` (distinct content
    * fingerprints — `n_docs - n_distinct` is the exact-dup surplus),
    * `n_tokens`, `n_chars`, and `p25/p50/p75_toks_c100` (token-count
    * quartiles ×100 — integer inputs make the linear interpolation
    * engine-exact, the [[graft.SparkEntry]] percentile convention).
    *
    * Scale shape: one narrow per-document projection (token count, char
    * count, dedup fingerprint — single tokenization pass shared by all
    * three), then ONE hash aggregation keyed on the group. The
    * fingerprint distinct-count is exact by default — at data-card time
    * the dup surplus IS the statistic, and the expand it costs is keyed
    * by (group, fp), not by document. Pass `exactDistinct = false` to
    * swap in `approx_count_distinct` (HLL, one pass, no expand) when the
    * report is a monitoring heartbeat rather than an accounting artifact.
    */
  def corpusReport(df: DataFrame, textCol: String, groupCol: String,
                   exactDistinct: Boolean = true): DataFrame = {
    // null text (failed upstream extraction) counts as a ZERO-LENGTH doc:
    // without the coalesce it would sit in n_docs but vanish from the
    // token-length quartiles (percentile skips nulls), silently shifting
    // the distribution the card exists to report
    val text = coalesce(col(textCol), lit(""))
    val perDoc = Scope.spread(df).select(
      col(groupCol).as("group"),
      TextOps.tokenCount(text).cast("long").as("__ntoks"),
      length(text).cast("long").as("__nchars"),
      TextOps.fingerprint(text).as("__fp"))
    val distinctAgg =
      if (exactDistinct) count_distinct(col("__fp"))
      else approx_count_distinct(col("__fp"))
    val pct = percentile(col("__ntoks"), lit(Array(0.25, 0.5, 0.75)))
    perDoc.groupBy(col("group"))
      .agg(count(lit(1)).as("n_docs"),
        distinctAgg.as("n_distinct"),
        sum(col("__ntoks")).as("n_tokens"),
        sum(col("__nchars")).as("n_chars"),
        pct.as("__p"))
      .select(col("group"), col("n_docs"), col("n_distinct"),
        col("n_tokens"), col("n_chars"),
        (element_at(col("__p"), 1) * 100).cast("long").as("p25_toks_c100"),
        (element_at(col("__p"), 2) * 100).cast("long").as("p50_toks_c100"),
        (element_at(col("__p"), 3) * 100).cast("long").as("p75_toks_c100"))
  }
}
