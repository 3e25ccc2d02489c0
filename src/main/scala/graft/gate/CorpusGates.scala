package graft.gate

import org.apache.spark.sql.functions._

import graft.operators._
import graft.functions._
import graft.gate.Gate._
import graft.exec.Scope

/** Gated LLM-data queries (N): corpus statistics, text cleaning,
  * sampling, packing and multimodal decode.
  */
private[graft] object CorpusGates {

  lazy val queries: Seq[GatedQuery] = Seq(
    GatedQuery("q_n_hash_split",
      (s, dir) =>
        Sampling.hashSplit(t(s, dir, "documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .groupBy("split", "lang")
          .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
          .orderBy("split", "lang"),
      s"""SELECT CASE WHEN b < '${Sampling.hexThreshold(0.8)}' THEN 'train'
                      WHEN b < '${Sampling.hexThreshold(0.9)}' THEN 'val'
                      ELSE 'test' END AS split,
                 lang, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum
          FROM (SELECT doc_id, lang,
                       substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS b
                FROM documents)
          GROUP BY 1, 2 ORDER BY split, lang"""),

    GatedQuery("q_n_sample_stratified",
      (s, dir) =>
        Sampling.stratifiedExactSample(t(s, dir, "documents"), "doc_id", "lang", k = 20)
          .select("doc_id", "lang")
          .orderBy("doc_id"),
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rn
           FROM documents)
         WHERE rn <= 20 ORDER BY doc_id"""),

    GatedQuery("q_n_pack_bins",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), TextOps.tokenCount(col("text")).cast("long").as("tokens"))
        Packing.packBins(docs, "doc_id", "tokens", budgetTokens = 500, shards = 16)
          .groupBy("shard", "bin")
          .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("tok_sum"))
          .orderBy("shard", "bin")
      },
      s"""WITH d AS (
            SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
                   CAST(len($toksSql) AS BIGINT) AS tokens
            FROM documents),
          b AS (
            SELECT shard, tokens,
                   sum(tokens) OVER (PARTITION BY shard
                     ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
                     ROWS UNBOUNDED PRECEDING) AS cum
            FROM d)
          SELECT shard, CAST(floor((cum - tokens) / 500) AS BIGINT) AS bin,
                 count(*) AS n_docs, CAST(sum(tokens) AS BIGINT) AS tok_sum
          FROM b GROUP BY 1, 2 ORDER BY shard, bin"""),

    /** Deterministic training-mix: upsample fr 2.25×, zh 3×, downsample en to
      * 0.5×. Weights are exact binary fractions so the fractional-copy
      * threshold is bit-identical in DuckDB. Aggregated per lang (row counts,
      * distinct docs, sum of copy indices) for a hash-stable gate.
      */
    GatedQuery("q_n_mix",
      (s, dir) =>
        Sampling.weightedMix(t(s, dir, "documents"), "doc_id", "lang",
            Map("en" -> 0.5, "fr" -> 2.25, "zh" -> 3.0), defaultWeight = 1.0)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("doc_id")).as("n_docs"),
            sum(col("rep")).as("rep_sum"))
          .orderBy("lang"),
      """WITH d AS (
           SELECT doc_id, lang,
                  CAST(CASE lang WHEN 'en' THEN 0.5 WHEN 'fr' THEN 2.25
                                 WHEN 'zh' THEN 3.0 ELSE 1.0 END AS DOUBLE) AS w,
                  substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8) AS b
           FROM documents),
         c AS (
           SELECT doc_id, lang,
                  CAST(floor(w) AS BIGINT)
                  + CASE WHEN b < printf('%08x',
                        CAST(floor((w - floor(w)) * 4294967296.0) AS BIGINT))
                    THEN 1 ELSE 0 END AS n
           FROM d),
         e AS (SELECT doc_id, lang, unnest(range(n)) AS rep FROM c WHERE n > 0)
         SELECT lang, count(*) AS n_rows, count(DISTINCT doc_id) AS n_docs,
                CAST(sum(rep) AS BIGINT) AS rep_sum
         FROM e GROUP BY 1 ORDER BY lang"""),

    /** Per-doc mean token document-frequency (portable surprisal stand-in):
      * rare-token-heavy docs score low — the corpus-relative quality signal.
      */
    GatedQuery("q_n_commonness",
      (s, dir) =>
        CorpusStats.commonnessScore(t(s, dir, "documents"), "doc_id", "text")
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id"),
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
          v AS (SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY 1)
          SELECT t.doc_id, count(*) AS n_toks,
                 round(CAST(sum(v.df) AS DOUBLE) / count(*), 4) AS mean_df
          FROM t JOIN v USING (term)
          GROUP BY t.doc_id ORDER BY t.doc_id"""),

    /** Data-card report grouped by language, with planted exact duplicates
      * (+100000 copies of docs < 50) so the `n_docs - n_distinct` dup
      * surplus is nonzero by construction — the composition-accounting
      * audit run before/after each pipeline tier.
      */
    GatedQuery("q_n_corpus_report",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text", "lang")
        val dups = docs.filter(col("doc_id") < 50)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text"), col("lang"))
        CorpusStats.corpusReport(docs.unionByName(dups), "text", "lang")
          .withColumnRenamed("group", "lang")
          .orderBy("lang")
      },
      // data-card composition table: counts are exact integers, quartiles
      // ride the integer-inputs ×100 percentile convention, the dedup
      // fingerprint is the q_n_dedup_exact content key
      s"""WITH u AS (SELECT text, lang FROM documents
                     UNION ALL
                     SELECT text, lang FROM documents WHERE doc_id < 50),
          f AS (SELECT lang, len(toks) AS ntoks, len(text) AS nchars,
                  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
                FROM (SELECT lang, text, $toksSql AS toks FROM u))
          SELECT lang, count(*) AS n_docs,
                 CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct,
                 CAST(sum(ntoks) AS BIGINT) AS n_tokens,
                 CAST(sum(nchars) AS BIGINT) AS n_chars,
                 CAST(quantile_cont(ntoks, 0.25) * 100 AS BIGINT) AS p25_toks_c100,
                 CAST(quantile_cont(ntoks, 0.5)  * 100 AS BIGINT) AS p50_toks_c100,
                 CAST(quantile_cont(ntoks, 0.75) * 100 AS BIGINT) AS p75_toks_c100
          FROM f GROUP BY lang ORDER BY lang""",
      /** Bench form of the data card: the ORGANIC corpus (no planted dups) —
        * the gate fixture's union would add a second scan the operator
        * doesn't have.
        */
      bench = Some(
        (s, dir) =>
          CorpusStats.corpusReport(t(s, dir, "documents"), "text", "lang"))),

    /** Corpus vocabulary audit: top-50 tokens by document frequency with
      * occurrence counts and corpus token share — tokenizer-training prep.
      */
    GatedQuery("q_n_vocab_topk",
      (s, dir) =>
        CorpusStats.topTerms(t(s, dir, "documents"), "doc_id", "text", k = 50)
          .orderBy(col("doc_freq").desc, col("term")),
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS term FROM documents),
          g AS (SELECT term, count(DISTINCT doc_id) AS doc_freq,
                       count(*) AS total_count
                FROM t GROUP BY 1),
          top AS (SELECT term, doc_freq, total_count FROM g
                  ORDER BY doc_freq DESC, term LIMIT 50)
          SELECT term, CAST(doc_freq AS BIGINT) AS doc_freq,
                 CAST(total_count AS BIGINT) AS total_count,
                 round(CAST(total_count AS DOUBLE)
                       / (SELECT CAST(sum(total_count) AS DOUBLE) FROM g), 6)
                   AS token_share
          FROM top ORDER BY doc_freq DESC, term"""),

    /** True greedy packing over the same corpus/order as `q_n_pack_bins`; the
      * DuckDB oracle replays the per-shard fold as a recursive CTE (the
      * sequential recurrence has no window form in either engine).
      */
    GatedQuery("q_n_pack_greedy",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), TextOps.tokenCount(col("text")).cast("long").as("tokens"))
        Packing.packBinsGreedy(docs, "doc_id", "tokens", budgetTokens = 500, shards = 16)
          .groupBy("shard", "bin")
          .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("tok_sum"))
          .orderBy("shard", "bin")
      },
      s"""WITH RECURSIVE d AS (
            SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
                   CAST(len($toksSql) AS BIGINT) AS tokens
            FROM documents),
          ord AS (
            SELECT shard, doc_id, tokens,
                   row_number() OVER (PARTITION BY shard
                     ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rn
            FROM d),
          g AS (
            SELECT shard, rn, tokens, tokens AS fill, CAST(0 AS BIGINT) AS bin
            FROM ord WHERE rn = 1
            UNION ALL
            SELECT o.shard, o.rn, o.tokens,
                   CASE WHEN g.fill >= 500 THEN o.tokens ELSE g.fill + o.tokens END,
                   CASE WHEN g.fill >= 500 THEN g.bin + 1 ELSE g.bin END
            FROM g JOIN ord o ON o.shard = g.shard AND o.rn = g.rn + 1)
          SELECT shard, bin, count(*) AS n_docs, CAST(sum(tokens) AS BIGINT) AS tok_sum
          FROM g GROUP BY 1, 2 ORDER BY shard, bin"""),

    /** Packed-sequence materialization: each (shard, bin) emits its EOS-joined
      * token sequence; the gate hashes the sequence (md5 of the space-joined
      * tokens) so the oracle compares content without shipping giant strings.
      */
    GatedQuery("q_n_pack_seq",
      (s, dir) =>
        Packing.packSequences(t(s, dir, "documents"), "doc_id", "text",
            budgetTokens = 500, shards = 16)
          .select(col("shard"), col("bin"), col("n_docs"), col("n_toks"),
            md5(concat_ws(" ", col("seq"))).as("seq_md5"))
          .orderBy("shard", "bin"),
      s"""WITH d AS (
            SELECT doc_id, $toksSql AS toks,
                   substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
                   substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS b
            FROM documents),
          w AS (
            SELECT *, CAST(len(toks) AS BIGINT) AS tokens,
                   sum(CAST(len(toks) AS BIGINT)) OVER (PARTITION BY shard
                     ORDER BY b, doc_id ROWS UNBOUNDED PRECEDING) AS cum
            FROM d),
          g AS (
            SELECT shard, CAST(floor((cum - tokens) / 500) AS BIGINT) AS bin,
                   count(*) AS n_docs,
                   flatten(list(list_append(toks, '<eos>') ORDER BY b, doc_id)) AS seq
            FROM w GROUP BY 1, 2)
          SELECT shard, bin, CAST(n_docs AS BIGINT) AS n_docs,
                 CAST(len(seq) AS BIGINT) AS n_toks,
                 md5(array_to_string(seq, ' ')) AS seq_md5
          FROM g ORDER BY shard, bin"""),

    GatedQuery("q_n_chunk",
      (s, dir) =>
        Packing.chunkDocs(t(s, dir, "documents"), "doc_id", "text",
            chunkTokens = 64, stride = 32)
          .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
            col("n_toks"), md5(concat_ws(" ", col("chunk_toks"))).as("chunk_md5"))
          .orderBy("doc_id", "chunk_id"),
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents)
          SELECT doc_id, CAST(s / 32 AS BIGINT) AS chunk_id,
                 CAST(len(list_slice(toks, s + 1, s + 64)) AS BIGINT) AS n_toks,
                 md5(array_to_string(list_slice(toks, s + 1, s + 64), ' ')) AS chunk_md5
          FROM t, UNNEST(range(0, len(toks), 32)) AS u(s)
          WHERE len(toks) > 0
          ORDER BY doc_id, chunk_id"""),

    GatedQuery("q_n_sample_exact",
      (s, dir) =>
        Sampling.exactSample(t(s, dir, "documents"), "doc_id", k = 100)
          .select("doc_id", "lang")
          .orderBy("doc_id"),
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang FROM documents
           ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id
           LIMIT 100)
         ORDER BY doc_id"""),

    GatedQuery("q_n_text_stats",
      (s, dir) =>
        // Single-pass shape: lower/tokenize/array_distinct are projected ONCE and
        // every stat derives from them (calling the text-based TextOps entry
        // points here would re-run the split(lower(text)) regex ~5×/row —
        // VERDICT r1 §wrong #4). CollapseProject keeps the stages separate
        // because the shared expressions are non-cheap and multiply referenced.
        Scope.spread(t(s, dir, "documents"))
          .withColumn("__lt", lower(col("text")))
          .withColumn("__toks", TextOps.tokensOfLower(col("__lt")))
          .withColumn("__dtoks", array_distinct(col("__toks")))
          .select(
            col("doc_id"),
            size(col("__toks")).as("n_tokens"),
            size(col("__dtoks")).as("n_distinct"),
            TextOps.subwordCountOfLower(col("__lt")).as("n_subwords"),
            TextOps.qualityScoreOf(col("text"), col("__toks"), col("__dtoks")).as("quality"),
            TextOps.langIdOfLower(col("__lt")).as("lang_pred"),
            TextOps.fingerprintOf(col("__dtoks")).as("fp"))
          .orderBy("doc_id"),
      {
        val en = """len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|for)\b'))"""
        val fr = """len(regexp_extract_all(lower(text), '\b(le|la|les|et|des|une|est|dans)\b'))"""
        val de = """len(regexp_extract_all(lower(text), '\b(der|die|und|das|ist|nicht|mit|ein)\b'))"""
        val es = """len(regexp_extract_all(lower(text), '\b(el|los|las|y|es|en|una|por)\b'))"""
        s"""WITH base AS (
            SELECT doc_id, text,
                   len($toksSql) AS n_tokens,
                   len(list_distinct($toksSql)) AS n_distinct,
                   len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]')) AS n_subwords,
                   CAST(len(text) - len(regexp_replace(text, '[^\\p{L}\\p{N}\\s]', '', 'g')) AS DOUBLE)
                     / len(text) AS punct_ratio,
                   $en AS en_n, $fr AS fr_n, $de AS de_n, $es AS es_n,
                   md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS fp
            FROM documents)
          SELECT doc_id, n_tokens, n_distinct, n_subwords,
                 round(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0) * 0.4
                       + (CAST(n_distinct AS DOUBLE) / n_tokens) * 0.4
                       + (1.0 - punct_ratio) * 0.2, 4) AS quality,
                 CASE WHEN greatest(en_n, fr_n, de_n, es_n) = 0 THEN 'und'
                      WHEN en_n = greatest(en_n, fr_n, de_n, es_n) THEN 'en'
                      WHEN fr_n = greatest(en_n, fr_n, de_n, es_n) THEN 'fr'
                      WHEN de_n = greatest(en_n, fr_n, de_n, es_n) THEN 'de'
                      ELSE 'es' END AS lang_pred,
                 fp
          FROM base ORDER BY doc_id"""
      }),

    /** Gopher/C4-style quality gates: token-count bounds, mean word length,
      * top-2-gram repetition fraction, stopword presence — each metric exposed
      * plus the composite pass bit, all hash-stable (BIGINT / round-4 double).
      * One tokenization pass, like `q_n_text_stats`.
      */
    GatedQuery("q_n_quality_gates",
      (s, dir) =>
        t(s, dir, "documents")
          .withColumn("__lt", lower(col("text")))
          .withColumn("__toks", TextOps.tokensOfLower(col("__lt")))
          .select(
            col("doc_id"),
            size(col("__toks")).cast("long").as("n_tokens"),
            round(TextOps.meanWordLen(col("__toks")), 4).as("mean_wlen"),
            round(TextOps.topNgramFrac(col("__toks"), 2), 4).as("top2_frac"),
            TextOps.stopwordHits(col("__lt")).cast("long").as("stop_hits"))
          .withColumn("pass_gates",
            (col("n_tokens").between(30, 1000) &&
             col("mean_wlen").between(3.0, 10.0) &&
             col("top2_frac") <= 0.05 && col("stop_hits") >= 1).cast("long"))
          .orderBy("doc_id"),
      s"""WITH base AS (SELECT doc_id, $toksSql AS toks, lower(text) AS lt FROM documents),
               g AS (SELECT doc_id, toks, lt,
                     CASE WHEN len(toks) < 2 THEN []
                          ELSE list_transform(range(1, len(toks)),
                                 i -> toks[i] || chr(1) || toks[i+1])
                     END AS grams
                     FROM base),
               m AS (SELECT doc_id,
                     CAST(len(toks) AS BIGINT) AS n_tokens,
                     round(CASE WHEN len(toks) = 0 THEN 0.0
                           ELSE CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE)
                                / len(toks) END, 4) AS mean_wlen,
                     round(CASE WHEN len(grams) = 0 THEN 0.0
                           ELSE CAST(list_max(list_transform(list_distinct(grams),
                                  gg -> len(list_filter(grams, x -> x = gg)))) AS DOUBLE)
                                / len(grams) END, 4) AS top2_frac,
                     CAST(len(regexp_extract_all(lt, '\\b(the|and|of|to|in|is|that|for)\\b'))
                          AS BIGINT) AS stop_hits
                     FROM g)
          SELECT doc_id, n_tokens, mean_wlen, top2_frac, stop_hits,
                 CAST(n_tokens BETWEEN 30 AND 1000 AND mean_wlen BETWEEN 3.0 AND 10.0
                      AND top2_frac <= 0.05 AND stop_hits >= 1 AS BIGINT) AS pass_gates
          FROM m ORDER BY doc_id"""),

    /** Corpus scrub pass: PII/boilerplate redaction + repetition scoring.
      * Output is hash-stable (md5 of the redacted text, BIGINT lengths,
      * 4-digit ratio).
      */
    GatedQuery("q_n_text_clean",
      (s, dir) =>
        t(s, dir, "documents").select(
            col("doc_id"),
            md5(TextOps.redactPii(col("text"))).as("redacted_md5"),
            length(TextOps.redactPii(col("text"))).cast("long").as("redacted_len"),
            round(TextOps.repeatedLineRatio(col("text")), 4).as("rep_line_ratio"))
          .orderBy("doc_id"),
      {
        val redacted =
          """regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             'https?://[^\s]+', '<URL>', 'g'),
             '[0-9][0-9 ()+-]{7,}[0-9]', '<PHONE>', 'g')"""
        val lines = """list_filter(string_split(text, chr(10)), l -> len(trim(l)) > 0)"""
        s"""SELECT doc_id,
                 md5($redacted) AS redacted_md5,
                 CAST(length($redacted) AS BIGINT) AS redacted_len,
                 round(CASE WHEN len($lines) = 0 THEN 0.0
                            ELSE CAST(len($lines) - len(list_distinct($lines)) AS DOUBLE)
                                 / len($lines) END, 4) AS rep_line_ratio
          FROM documents ORDER BY doc_id"""
      }),

    GatedQuery("q_n_multimodal",
      (s, dir) => {
        import s.implicits._
        val media = Multimodal.asMedia(
          t(s, dir, "documents").withColumn("payload", encode(col("text"), "UTF-8")),
          "doc_id", "payload", "text")
          .as[Multimodal.MediaRecord]
        Multimodal.extractFeatures(media).toDF()
          .select(col("media_id"), col("byte_len"), col("digest"),
            round(element_at(col("features"), 1).cast("double"), 4).as("f0"))
          .orderBy("media_id")
      },
      """SELECT doc_id AS media_id, strlen(text) AS byte_len, md5(text) AS digest,
                round(CAST(CAST(len(list_filter(range(1, strlen(text) + 1),
                                                i -> ord(text[i]) % 16 = 0)) AS REAL)
                           / CAST(greatest(strlen(text), 1) AS REAL) AS DOUBLE), 4) AS f0
         FROM documents ORDER BY media_id"""),

    /** The REAL decode path, gated: every document becomes an actual media
      * payload — even ids a solid-gray PNG (dimensions and gray level derived
      * from the id), odd ids a constant-amplitude 16-bit WAV (rate and
      * amplitude derived from the id) — and
      * [[graft.operators.Multimodal.extractFeatures]] must recover the
      * constructed width/height/sample-rate through `javax.imageio` /
      * `javax.sound.sampled`, plus the luminance/|PCM| histogram peak at the
      * arithmetically-known bin. The oracle recomputes every anchor from
      * `doc_id` alone — a full fidelity proof of encode → binary column →
      * partition-batched JDK decode. Non-JDK formats still fall back to the
      * byte-histogram (`q_n_multimodal` pins that path).
      */
    GatedQuery("q_n_multimodal_decode",
      (s, dir) => {
        import s.implicits._
        val media = t(s, dir, "documents").select(col("doc_id").cast("long")).as[Long]
          .map { id =>
            val payload =
              if (id % 2 == 0)
                Multimodal.MediaGen.solidPng((1 + id % 7).toInt, (1 + id % 5).toInt, (id % 256).toInt)
              else
                Multimodal.MediaGen.constWav((8000 + (id % 4) * 1000).toInt,
                  ((id % 100) * 300).toInt, nSamples = 200)
            Multimodal.MediaRecord(id, if (id % 2 == 0) "image" else "audio", payload, 0, 0, 0)
          }
        Multimodal.extractFeatures(media).toDF()
          .select(col("media_id"), col("kind"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("sample_rate").cast("long").as("sample_rate"),
            (array_position(col("features"), array_max(col("features"))) - 1).as("peak_bin"),
            round(array_max(col("features")).cast("double"), 4).as("peak_mass"))
          .orderBy("media_id")
      },
      // JDK decode fidelity: every anchor (decoded dims / rate / histogram
      // peak) is recomputable from doc_id alone, because the query CONSTRUCTS
      // the media from doc_id (solid-gray PNG for even ids, constant-PCM WAV
      // for odd) and the decode must round-trip it exactly
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
                CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS kind,
                CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 7 ELSE 0 END AS BIGINT) AS width,
                CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 5 ELSE 0 END AS BIGINT) AS height,
                CAST(CASE WHEN doc_id % 2 = 0 THEN 0
                     ELSE 8000 + (doc_id % 4) * 1000 END AS BIGINT) AS sample_rate,
                CAST(CASE WHEN doc_id % 2 = 0 THEN FLOOR((doc_id % 256) / 16)
                     ELSE FLOOR(((doc_id % 100) * 300) / 2048) END AS BIGINT) AS peak_bin,
                1.0 AS peak_mass
         FROM documents ORDER BY media_id"""))
}
