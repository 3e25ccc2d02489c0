package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis function surface for large-scale corpus pipelines.
  *
  * The reference has no scalar-function library — every per-record
  * computation is user JavaScript (`/root/reference/jobs/job.js:137-150`).
  * Here the same idioms are pure Catalyst `Column` expressions so they stay
  * inside whole-stage codegen and push down to the scan — no UDF in the hot
  * path, which is what keeps a 100 TB corpus pass shuffle-free and CPU-bound.
  *
  * All functions are deterministic and have exact ANSI-SQL equivalents
  * (used by the DuckDB oracle in [[graft.SparkEntry.oracleSql]]).
  */
object TextOps {

  // Each function has a *Of variant over a pre-computed lowered text / token
  // array: a projection that calls k of these on the same column re-runs the
  // split/lower pipeline k times (Catalyst's CollapseProject keeps separate
  // projections apart when a non-cheap expression is multiply referenced, so
  // projecting `lower`/`tokens` once in a prior step IS honored) — measured
  // >2× on the text-stats pass.

  /** Ingest-time document length cap — THE defense against pathological doc
    * shapes (one multi-megabyte token, 100k-line boilerplate dumps). Several
    * per-doc kernels are super-linear in doc length ([[dropRepeatedLines]]
    * is O(lines²); BPE encode is O(chars × merges) on an un-splittable
    * token), so at corpus scale one unclamped hostile doc becomes a
    * straggler task that stalls its stage. Clamp ONCE at ingest, before any
    * text kernel — SCALING.md's pathological-shape section carries the
    * before/after numbers. A hard character cut (possibly mid-token) is
    * deliberate: it bounds EVERY downstream dimension (tokens, lines,
    * shingles) with one knob, matching common pretraining-corpus practice
    * of capping document length at extraction.
    */
  def clampChars(text: Column, maxChars: Int): Column = {
    require(maxChars > 0, "maxChars must be positive")
    substring(text, 1, maxChars)
  }

  /** Lower-cased whitespace tokens, empties removed. */
  def tokens(text: Column): Column = tokensOfLower(lower(text))

  /** [[tokens]] over already-lowered text. `array_remove(…, "")` rather
    * than `filter(…, length > 0)` (r17): identical output — split never
    * yields nulls and the only removable elements are empty strings — but
    * ArrayRemove is codegen'd while ArrayFilter is CodegenFallback, and
    * this is the single hottest expression in the engine (every text
    * operator tokenizes).
    */
  def tokensOfLower(ltext: Column): Column =
    array_remove(split(ltext, "\\s+"), "")

  /** Token count (whitespace tokenization). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** A BPE-ish subword count: word tokens + digit runs + punctuation marks
    * each count as one unit — a cheap, deterministic proxy for an LLM
    * tokenizer's behavior on ASCII text.
    */
  def subwordCount(text: Column): Column = subwordCountOfLower(lower(text))

  /** [[subwordCount]] over already-lowered text. */
  def subwordCountOfLower(ltext: Column): Column =
    size(regexp_extract_all(ltext, lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0)))

  // Marker stopwords per language for the n-gram/stopword language-ID
  // heuristic. Deliberately small so the identical regex runs in the oracle.
  val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|to|in|is|that|for)\\b",
    "fr" -> "\\b(le|la|les|et|des|une|est|dans)\\b",
    "de" -> "\\b(der|die|und|das|ist|nicht|mit|ein)\\b",
    "es" -> "\\b(el|los|las|y|es|en|una|por)\\b")

  private def markerHits(ltext: Column, pattern: String): Column =
    size(regexp_extract_all(ltext, lit(pattern), lit(0)))

  /** Heuristic language ID: count stopword-marker hits per language, pick the
    * max (ties resolved in [[langMarkers]] declaration order), `und` when no
    * marker fires. O(1) per row, codegen'd, no dictionary broadcast needed.
    */
  def langId(text: Column): Column = langIdOfLower(lower(text))

  /** [[langId]] over already-lowered text. */
  def langIdOfLower(ltext: Column): Column = {
    val scores = langMarkers.map { case (l, p) => l -> markerHits(ltext, p) }
    val best = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((l, s), other) =>
      when(best > 0 && s === best, lit(l)).otherwise(other)
    }
  }

  /** Ratio of punctuation characters to total characters. */
  def punctRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0)).otherwise(
      (length(text) - length(regexp_replace(text, "[^\\p{L}\\p{N}\\s]", ""))).cast("double")
        / length(text))

  /** Type/token ratio — fraction of distinct tokens (repetition detector). */
  def distinctTokenRatio(text: Column): Column = {
    val t = tokens(text)
    distinctTokenRatioOf(t, array_distinct(t))
  }

  /** [[distinctTokenRatio]] from pre-computed tokens + distinct tokens. */
  def distinctTokenRatioOf(toks: Column, dtoks: Column): Column =
    when(size(toks) === 0, lit(0.0))
      .otherwise(size(dtoks).cast("double") / size(toks))

  /** Composite document quality score in [0,1]:
    * length saturation + lexical diversity + low punctuation noise.
    * Mirrors the usual pretraining-corpus quality gates; weights are fixed so
    * the oracle SQL reproduces the value bit-for-bit (then rounded).
    */
  def qualityScore(text: Column): Column = {
    val t = tokens(text)
    qualityScoreOf(text, t, array_distinct(t))
  }

  /** [[qualityScore]] from pre-computed tokens + distinct tokens (the raw
    * text is still needed for the punctuation ratio).
    */
  def qualityScoreOf(text: Column, toks: Column, dtoks: Column): Column = {
    val lenScore = least(size(toks).cast("double") / 100.0, lit(1.0))
    round(lenScore * 0.4 + distinctTokenRatioOf(toks, dtoks) * 0.4 +
      (lit(1.0) - punctRatio(text)) * 0.2, 4)
  }

  /** Canonical-form document fingerprint: md5 over the sorted distinct token
    * set. Word-order / duplication insensitive — the standard "same bag of
    * words" exact-dedup key.
    */
  def fingerprint(text: Column): Column =
    fingerprintOf(array_distinct(tokens(text)))

  /** [[fingerprint]] from a pre-computed distinct-token array.
    * `sort_array` rather than `array_sort` (r17): identical on these
    * inputs — both use ascending Catalyst string order, they differ only
    * in null placement and the token arrays are null-free — but SortArray
    * is codegen'd while ArraySort (a higher-order function) falls back to
    * interpretation; the fingerprint runs per row in exact dedup and the
    * corpus report.
    */
  def fingerprintOf(dtoks: Column): Column =
    md5(concat_ws(" ", sort_array(dtoks)))

  // Patterns shared with the DuckDB oracle — both engines (Java regex / RE2)
  // interpret these identically: plain classes, no lookarounds/backrefs.
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val urlPattern = "https?://[^\\s]+"
  val phonePattern = "[0-9][0-9 ()+-]{7,}[0-9]"

  /** PII / boilerplate scrub — the standard pretraining-corpus redaction
    * pass: emails, URLs, then phone-ish digit runs, masked in that order
    * (emails before phones so a number inside an address is not half-eaten).
    * Pure `regexp_replace` chain: codegen'd, scan-bandwidth-bound.
    */
  def redactPii(text: Column): Column = {
    val noEmail = regexp_replace(text, emailPattern, "<EMAIL>")
    val noUrl = regexp_replace(noEmail, urlPattern, "<URL>")
    regexp_replace(noUrl, phonePattern, "<PHONE>")
  }

  /** Fraction of repeated (non-blank) lines — the intra-document
    * boilerplate/repetition detector used by corpus quality gates.
    */
  def repeatedLineRatio(text: Column): Column = {
    val lines = filter(split(text, "\\n"), l => length(trim(l)) > 0)
    when(size(lines) === 0, lit(0.0)).otherwise(
      (size(lines) - size(array_distinct(lines))).cast("double") / size(lines))
  }

  /** Mean token length in characters (0.0 for empty docs) — the Gopher
    * "mean word length in [3,10]" quality gate's input.
    */
  def meanWordLen(toks: Column): Column =
    // sum of token lengths == length of the zero-separator join (both count
    // code points over the same strings) — ArrayJoin is codegen'd where the
    // former `aggregate` fold was interpreted per token (r17). Long-cast
    // before the divide exactly as the fold's 0L accumulator implied.
    when(size(toks) === 0, lit(0.0)).otherwise(
      length(array_join(toks, "")).cast("long").cast("double") / size(toks))

  /** Non-distinct word n-grams (order-preserving) — the repetition
    * detector's raw material; [[wordShingles]] distinct-ifies for Jaccard.
    */
  def wordNgrams(toks: Column, n: Int): Column =
    // native codegen kernel (r17): the former transform-over-arrays_zip +
    // concat_ws staging was CodegenFallback (interpreted per row, lambda
    // dispatch per gram) and sat under the corpus-wide decontamination
    // gram explosion; the kernel is bit-identical (TextOpsSpec parity) -
    // same U+0001 join, null-token skip, empty-below-n, null-propagation
    // semantics as the staged form
    WordNgrams.wordNgrams(toks, n)

  /** Fraction of the document's n-grams taken up by the single most frequent
    * n-gram — the Gopher/C4 "top n-gram fraction" repetition gate (boilerplate
    * and keyword-stuffed pages score high). Sort-then-longest-run: the max
    * multiplicity is the longest run of equal values in the SORTED gram
    * array, found with one `aggregate` pass — O(L log L) per row, still a
    * pure column expression (no shuffle, no groupBy-per-doc).
    *
    * The obvious `transform(distinct, g -> size(filter(grams, = g)))`
    * formulation is a trap: an outer expression referenced INSIDE a
    * higher-order-function lambda is RE-EVALUATED per lambda call, so
    * `grams` (tokenizer included) was rebuilt once per distinct gram —
    * measured ~700 s for one 5 000-doc bench partition vs milliseconds for
    * this form. Lambdas here touch only the accumulator and the element.
    */
  def topNgramFrac(toks: Column, n: Int): Column =
    // the native kernel (r17): bit-identical to
    // `topNgramFracOf(wordNgrams(toks, n))` but one codegen'd hash-map pass
    // instead of four interpreted higher-order functions per row — see
    // [[graft.functions.TopNgramFrac]]
    TopNgramFrac.topNgramFrac(toks, n)

  /** [[topNgramFrac]] over a pre-computed (non-distinct) gram array. */
  def topNgramFracOf(grams: Column): Column = {
    val best = aggregate(array_sort(grams),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, g) => {
        val run = when(g === acc.getField("prev"), acc.getField("run") + 1L).otherwise(lit(1L))
        struct(g.as("prev"), run.as("run"), greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    when(size(grams) === 0, lit(0.0)).otherwise(best.cast("double") / size(grams))
  }

  /** English stopword-marker hits (the Gopher "must contain ≥2 stopwords"
    * gate); reuses the language-ID marker list so oracle SQL shares one
    * pattern.
    */
  def stopwordHits(ltext: Column): Column =
    markerHits(ltext, langMarkers.head._2)

  /** Character n-gram shingles (distinct, for MinHash / Jaccard).
    * Capture-free like [[wordNgrams]]: `norm.substr` inside the position
    * lambda would re-run the normalization regex once per shingle; the n
    * zipped char-array slices evaluate it a constant number of times.
    * (Hot-path minhash uses the native ShingleHashes kernel; this Column
    * form serves the exact-Jaccard tiers and oracles.)
    */
  def charShingles(text: Column, n: Int): Column = {
    val norm = regexp_replace(lower(text), "\\s+", " ")
    val chars = split(norm, "")
    when(length(norm) < n, array(norm)).otherwise(
      array_distinct(transform(
        arrays_zip((0 until n).map(j => slice(chars, lit(j + 1), length(norm) - n + 1)): _*),
        s => concat_ws("", (0 until n).map(j => s.getField(j.toString)): _*))))
  }

  /** Hashed unigram+bigram features: every whitespace token and every
    * adjacent token pair (0x01-joined, as [[wordShingles]]) mapped to its
    * `hexLen`-hex-digit md5 prefix — a fixed 16^hexLen-bucket feature
    * space over an unbounded vocabulary, the hashed bag-of-ngrams of
    * DSIR-style importance weighting (Xie et al. 2023, arXiv:2302.03169).
    * Same engine-portable md5-prefix domain as
    * [[graft.operators.Sampling.hashBucket]]: DuckDB/Trino/BigQuery
    * compute identical buckets, so models and selections replay exactly.
    * NON-distinct — repeated grams count once per occurrence, as the
    * importance weight requires. Empty/whitespace-only text yields the
    * empty array.
    */
  def hashedGrams(text: Column, hexLen: Int): Column =
    // native codegen kernel (r17): the former zip_with + transform staging
    // was CodegenFallback (interpreted per row, lambda dispatch per gram)
    // under the corpus-wide DSIR scoring explosion; the kernel is
    // bit-identical (TextOpsSpec parity) - same md5-hex-prefix buckets,
    // unigrams-then-bigrams order, U+0001 bigram join, null propagation
    HashedGrams.hashedGrams(tokens(text), hexLen)


  /** Word n-gram shingles (distinct), joined with '\u0001'. A document
    * with fewer than `n` tokens yields the EMPTY set - padding it to one
    * degenerate shingle would let two unrelated short documents score
    * Jaccard 1.0 and surface as spurious duplicate pairs (and it would
    * disagree with the oracle's `list_transform(range(1, len(toks)))`,
    * which is empty for short docs).
    */
  def wordShingles(text: Column, n: Int): Column =
    array_distinct(wordNgrams(tokens(text), n))

  // --- within-document cleaning (RefinedWeb/C4-style) -----------------------

  /** WITHIN-document line dedup: keep each line's FIRST occurrence,
    * preserving order (the RefinedWeb/Gopher boilerplate rule — repeated
    * nav/footer lines inside one page collapse to their first copy; the
    * CROSS-document form is [[graft.operators.Dedup.dropRepeatedSpans]]).
    *
    * `array_distinct` IS this operation: Spark's ArrayDistinct keeps the
    * first occurrence in array order via an append-if-unseen hash set —
    * O(lines) per row, codegen'd, no shuffle, no UDF. (The earlier
    * first-index-equality HOF — `filter(l, (x, i) ⇒ array_position(l, x) =
    * i+1)` — computes the same set but is O(lines²): a single 120k-line
    * boilerplate dump stalled its task for ~10 minutes (SCALING.md
    * "Pathological shapes"); same output, hash-set cost now.)
    * Engine-portable: DuckDB replays it as the quadratic
    * `list_filter(l, (x, i) -> list_position(l, x) = i)` form, which is
    * fine at ORACLE scale (both index conventions resolve to 1-based
    * first-occurrence, and list_distinct does not preserve order).
    *
    * Null elements are DROPPED, not kept-once: `array_distinct` would keep
    * one null, but the DuckDB replay form drops them all
    * (`list_position(l, NULL)` is NULL, so the predicate never passes) —
    * pre-filtering nulls keeps the two engines row-identical on every
    * input, not just the split()-fed arrays that can't contain them.
    */
  def dropRepeatedLinesArr(lines: Column): Column =
    array_distinct(filter(lines, _.isNotNull))

  /** [[dropRepeatedLinesArr]] over a newline-delimited text column,
    * re-joined with newlines. The REMOVAL counterpart of
    * [[repeatedLineRatio]] (the detector): chain ratio-gate → line-drop in
    * a cleaning pass.
    */
  def dropRepeatedLines(text: Column): Column =
    array_join(dropRepeatedLinesArr(split(text, "\n", -1)), "\n")
}
