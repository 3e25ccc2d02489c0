package graft.gate

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry.qualityGateWeights

/** One query of the correctness gate: its builder over an sf directory, the
  * DuckDB oracle SQL its result must hash-equal, and optionally the bench
  * form [[graft.Bench]] times in its place (the unbounded organic
  * configuration of an approximate tier the gate runs in a
  * hash-verifiable form — bounded slice, planted twins or containment
  * counts).
  *
  * Conventions for oracle parity:
  *  - every aggregate / computed column is aliased identically on both sides;
  *  - results carry an ORDER BY on a unique key on both sides;
  *  - money sums go out as BIGINT integer cents (`floor(x * 100 + 0.5)`)
  *    or through `DECIMAL(18,2)` on raw 2-decimal columns, so addition is
  *    exact (double summation order differs between engines);
  *  - double-valued scores are computed with the same operation order on
  *    both sides and rounded to 4 digits.
  */
final case class GatedQuery(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String,
    bench: Option[(SparkSession, String) => DataFrame] = None)

object GatedQuery {
  /** Every gated query, one record each, grouped by operator family. */
  lazy val all: Seq[GatedQuery] =
    ConvertorGates.queries ++ ReaderGates.queries ++ AnalyticsGates.queries ++
      StreamingGates.queries ++ TextDedupGates.queries ++ VectorGates.queries ++
      CorpusGates.queries ++ PipelineGates.queries
}

/** Fixtures and oracle fragments shared by more than one gate family. */
private[gate] object Gate {

  /** A fixture table of the sf directory (ts decoding lives in [[graft.Tables]]). */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.Tables(spark, dir, name)

  /** Scratch dir for queries that exercise writer→reader roundtrips. */
  def tmp(name: String, dir: String): String = {
    val p = s"/tmp/graft_q/${name}_${math.abs(dir.hashCode)}"
    new java.io.File(p).getParentFile.mkdirs()
    p
  }

  /** The whitespace tokenization every text oracle replays. */
  val toksSql =
    "list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0)"

  /** Quality-model feature + score CTEs over `src` (must expose `doc_id,
    * text`): yields `qsc AS (doc_id, quality_score_1e6)`. The linear chain
    * is emitted from the SAME pinned Seq the Spark side uses —
    * Double.toString round-trips through DuckDB's literal parser. Shared by
    * the q_n_quality_model, v3 flagship and streaming-ingest oracles.
    */
  def qualityCtesSql(src: String): String = {
    val linear = (0 until 7).map(i => s"${qualityGateWeights(i)} * x$i").mkString(" + ")
    s"""qb AS (SELECT doc_id, text, $toksSql AS toks FROM $src),
          qgr AS (SELECT doc_id, text, toks,
                 CASE WHEN len(toks) < 2 THEN []
                      ELSE list_transform(range(1, len(toks)),
                             i -> toks[i] || chr(1) || toks[i+1]) END AS grams
                FROM qb),
          qf AS (SELECT doc_id,
                 1.0 AS x0,
                 least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) AS x1,
                 CASE WHEN len(toks) = 0 THEN 0.0
                      ELSE CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) END AS x2,
                 CASE WHEN len(text) = 0 THEN 0.0
                      ELSE CAST(len(text) - len(regexp_replace(text, '[^\\p{L}\\p{N}\\s]', '', 'g'))
                           AS DOUBLE) / len(text) END AS x3,
                 least((CASE WHEN len(toks) = 0 THEN 0.0
                        ELSE CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
                             / len(toks) END) / 10.0, 1.0) AS x4,
                 CASE WHEN len(toks) = 0 THEN 0.0
                      ELSE least(CAST(len(regexp_extract_all(lower(text),
                             '\\b(the|and|of|to|in|is|that|for)\\b')) AS DOUBLE)
                           / len(toks), 1.0) END AS x5,
                 CASE WHEN len(grams) = 0 THEN 0.0
                      ELSE CAST(list_max(list_transform(list_distinct(grams),
                             gg -> len(list_filter(grams, x -> x = gg)))) AS DOUBLE)
                           / len(grams) END AS x6
                FROM qgr),
          qsc AS (SELECT doc_id,
                 CAST(floor(($linear) * 1000000.0 + 0.5) AS BIGINT) AS quality_score_1e6
                FROM qf)"""
  }

  /** Exact double-precision cosine between two DuckDB float lists —
    * left-to-right `list_sum` accumulation, matching the engine's
    * [[graft.functions.CosineSim]] kernel bit-for-bit.
    */
  def cosSql(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, len($a)+1),
           i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform($a, t -> CAST(t AS DOUBLE)*CAST(t AS DOUBLE))))
            * sqrt(list_sum(list_transform($b, t -> CAST(t AS DOUBLE)*CAST(t AS DOUBLE)))))"""

  /** Hourly event counts and value cents per type (batch and streaming form). */
  val tumblingSql =
    """SELECT epoch_us(date_trunc('hour', ts)) AS ws_us,
              event_type, count(*) AS n,
              CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
       FROM events GROUP BY 1, 2 ORDER BY ws_us, event_type"""

  /** Per-user session and event counts, a new session starting where the gap
    * to the user's previous event is `cmp` 30 minutes: `>` for the lag-based
    * sessionizer, `>=` for `session_window`, which merges half-open
    * `[t, t + gap)` intervals.
    */
  def sessionCountsSql(cmp: String): String =
    s"""WITH g AS (
         SELECT user_id,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) $cmp 1800000000
                     THEN 1 ELSE 0 END AS new_session
         FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts))
       SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events
       FROM g GROUP BY user_id ORDER BY user_id"""

  /** Every unigram and bigram of `toks` as its 4-hex md5 bucket (one row
    * each) — the SQL replay of `TextOps.hashedGrams(text, 4)`.
    */
  val gramBucketsSql =
    """unnest(list_concat(
         list_transform(toks, x -> substr(md5(x), 1, 4)),
         list_transform(range(1, len(toks)),
           i -> substr(md5(toks[i] || chr(1) || toks[i+1]), 1, 4))))"""

  /** DSIR add-α log-importance weights: bucket counts of the `en` rows of
    * `model` (must expose `lang, toks`) against all of `model`, summed over
    * each document of `scored` (`doc_id, toks`) — yields
    * `docw AS (doc_id, logw)`. A gram-less document gets no row.
    */
  def dsirLogwCtes(model: String, scored: String): String =
    s"""mg AS MATERIALIZED (SELECT lang, $gramBucketsSql AS b FROM $model),
          tct AS MATERIALIZED (SELECT b, count(*) AS c FROM mg WHERE lang = 'en' GROUP BY 1),
          tcr AS MATERIALIZED (SELECT b, count(*) AS c FROM mg GROUP BY 1),
          tts AS (SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) AS v FROM tct),
          trs AS (SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) AS v FROM tcr),
          qg AS MATERIALIZED (SELECT doc_id, $gramBucketsSql AS b FROM $scored),
          docw AS MATERIALIZED (SELECT qg.doc_id,
                   sum(ln((coalesce(tct.c, 0) + 0.5) / (tts.v + 32768.0))
                     - ln((tcr.c + 0.5) / (trs.v + 32768.0))) AS logw
                 FROM qg LEFT JOIN tct USING (b) JOIN tcr USING (b), tts, trs
                 GROUP BY qg.doc_id)"""
}
