package graft.gate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.functions._
import graft.gate.Gate._
import graft.exec.Scope

/** Gated LLM-data queries (N): text dedup and decontamination. */
private[graft] object TextDedupGates {

  lazy val queries: Seq[GatedQuery] = Seq(
    GatedQuery("q_n_dedup_exact",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val doubled = docs.unionByName(docs) // plant exact duplicates
        Dedup.exact(doubled, "text", "doc_id")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_kept"), sum(col("dup_count")).as("n_total"))
          .orderBy("lang")
      },
      s"""WITH u AS (SELECT * FROM documents UNION ALL SELECT * FROM documents),
          f AS (SELECT *, md5(array_to_string(list_sort(list_distinct($toksSql)), ' ')) AS fp
                FROM u),
          kept AS (SELECT min_by(lang, doc_id) AS lang, count(*) AS dup_count
                   FROM f GROUP BY fp)
          SELECT lang, count(*) AS n_kept, CAST(sum(dup_count) AS BIGINT) AS n_total
          FROM kept GROUP BY lang ORDER BY lang"""),

    /** Span-level exact dedup over a corpus with planted repetition: every
      * tenth document gets a 16-token boilerplate header (kept only in its
      * globally-first occurrence) and documents `doc_id < 100` get full twins
      * at `doc_id + 100000` (whose every window duplicates the original, so
      * they rebuild empty). The oracle replays the window fingerprinting,
      * global first-occurrence ranking, and document rebuild in SQL.
      */
    GatedQuery("q_n_dedup_spans",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val withBoiler = docs.withColumn("text",
          when(col("doc_id") % 10 === 0, concat(lit(boilerplate + " "), col("text")))
            .otherwise(col("text")))
        val twins = withBoiler.filter(col("doc_id") < 100)
          .withColumn("doc_id", col("doc_id") + 100000)
        Dedup.dropRepeatedSpans(withBoiler.unionByName(twins), "doc_id", "text", k = 16)
          .select(col("id").as("doc_id"), col("n_toks"), col("n_kept"),
            md5(col("text_out")).as("out_md5"))
          .orderBy("doc_id")
      },
      // span-level exact dedup replay: k=16 aligned windows, md5 content
      // fingerprints, global first-occurrence (min doc_id, start) wins, docs
      // rebuilt from surviving windows — same planted boilerplate + twins
      s"""WITH src AS (
            SELECT doc_id, CASE WHEN doc_id % 10 = 0
                                THEN '$boilerplate ' || text ELSE text END AS text
            FROM documents
            UNION ALL
            SELECT doc_id + 100000, CASE WHEN doc_id % 10 = 0
                                         THEN '$boilerplate ' || text ELSE text END
            FROM documents WHERE doc_id < 100),
          d AS (SELECT doc_id, $toksSql AS toks FROM src),
          occ AS (
            SELECT doc_id, s AS start,
                   md5(array_to_string(list_slice(toks, s + 1, s + 16), ' ')) AS fp
            FROM d, UNNEST(range(0, greatest(len(toks), 1), 16)) AS u(s)
            WHERE len(list_slice(toks, s + 1, s + 16)) > 0),
          ranked AS (SELECT *, row_number() OVER (PARTITION BY fp
                       ORDER BY doc_id, start) AS rn FROM occ),
          drops AS (SELECT doc_id, list(start) AS ds FROM ranked
                    WHERE rn > 1 GROUP BY doc_id),
          rebuilt AS (
            SELECT d.doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
                   flatten(list_transform(
                     list_filter(range(0, greatest(len(toks), 1), 16),
                       s -> NOT list_contains(coalesce(ds, []), s)),
                     s -> list_slice(toks, s + 1, s + 16))) AS kept
            FROM d LEFT JOIN drops USING (doc_id))
          SELECT doc_id, n_toks, CAST(len(kept) AS BIGINT) AS n_kept,
                 md5(coalesce(array_to_string(kept, ' '), '')) AS out_md5
          FROM rebuilt ORDER BY doc_id""",
      /** Bench form of span dedup: the raw corpus without planted twins or
        * boilerplate — times the organic window/rank/rebuild cost.
        */
      bench = Some(
        (s, dir) =>
          Dedup.dropRepeatedSpans(t(s, dir, "documents"), "doc_id", "text", k = 16))),

    /** Incremental span dedup, fully SQL-replayable (unlike the minhash
      * incremental tier there is no estimator): store = window fingerprints
      * of docs < 250, delta = docs >= 250; a delta window drops iff its
      * content is in the store or loses the within-delta first-occurrence
      * rule.
      */
    GatedQuery("q_n_span_incr",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val store = Dedup.spanFingerprints(docs.filter(col("doc_id") < 250), "doc_id", "text")
        // only `rebuilt` is needed: materialize it inside a cache scope so the
        // operator's shared window relation is released, not left registered
        val rebuilt = Scope.withCacheScope {
          Dedup.incrementalSpanDedup(docs.filter(col("doc_id") >= 250), store, "doc_id", "text")
            ._1.localCheckpoint(true)
        }
        rebuilt
          .select(col("id").as("doc_id"), col("n_toks"), col("n_kept"),
            md5(col("text_out")).as("out_md5"))
          .orderBy("doc_id")
      },
      // incremental span dedup replay: store = distinct window fps of
      // doc_id<250; delta windows drop on store membership or within-delta
      // first-occurrence loss; rebuild as in q_n_dedup_spans
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
          sfp AS (
            SELECT DISTINCT md5(array_to_string(list_slice(toks, s + 1, s + 16), ' ')) AS fp
            FROM d, UNNEST(range(0, greatest(len(toks), 1), 16)) AS u(s)
            WHERE doc_id < 250 AND len(list_slice(toks, s + 1, s + 16)) > 0),
          o AS (
            SELECT doc_id, s AS start,
                   md5(array_to_string(list_slice(toks, s + 1, s + 16), ' ')) AS fp
            FROM d, UNNEST(range(0, greatest(len(toks), 1), 16)) AS u(s)
            WHERE doc_id >= 250 AND len(list_slice(toks, s + 1, s + 16)) > 0),
          ranked AS (SELECT *, row_number() OVER (PARTITION BY fp
                       ORDER BY doc_id, start) AS rn FROM o),
          drops AS (SELECT doc_id, list(start) AS ds FROM (
                      SELECT doc_id, start FROM o
                      WHERE fp IN (SELECT fp FROM sfp)
                      UNION
                      SELECT doc_id, start FROM ranked WHERE rn > 1)
                    GROUP BY doc_id),
          rebuilt AS (
            SELECT d.doc_id, CAST(len(toks) AS BIGINT) AS n_toks,
                   flatten(list_transform(
                     list_filter(range(0, greatest(len(toks), 1), 16),
                       s -> NOT list_contains(coalesce(ds, []), s)),
                     s -> list_slice(toks, s + 1, s + 16))) AS kept
            FROM d LEFT JOIN drops USING (doc_id)
            WHERE d.doc_id >= 250)
          SELECT doc_id, n_toks, CAST(len(kept) AS BIGINT) AS n_kept,
                 md5(coalesce(array_to_string(kept, ' '), '')) AS out_md5
          FROM rebuilt ORDER BY doc_id"""),

    /** Hash-gated slice: the full-corpus minhash run, restricted to the
      * DuckDB-oracle-bounded id range. The oracle recomputes the exact
      * character-5-gram Jaccard over all `doc_id < 512` pairs, so the gate
      * verifies the LSH candidate recall AND the exact-verify jaccard values
      * on the slice (hashed-shingle Jaccard = string-shingle Jaccard absent
      * 31-bit collisions; none occur on the fixtures). The unbounded run is
      * benchmarked via its bench form.
      */
    GatedQuery("q_n_dedup_minhash",
      (s, dir) =>
        Dedup.minhashDedupPairs(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.7, shingleLen = 5, numHashes = 128, bands = 16)
          .filter(col("id_a") < 512 && col("id_b") < 512)
          .orderBy("id_a", "id_b"),
      // exact character-5-gram Jaccard over the bounded slice: verifies the
      // minhash tier's LSH recall and exact-verify values (VERDICT r6 §next #1)
      """WITH g AS (
           SELECT doc_id,
                  list_distinct(list_transform(range(1, greatest(len(text) - 3, 1)),
                    i -> substr(text, i, 5))) AS sh
           FROM documents WHERE doc_id < 512),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                        / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
           FROM g a JOIN g b ON a.doc_id < b.doc_id)
         SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.7 ORDER BY id_a, id_b""",
      bench = Some(
        (s, dir) =>
          Dedup.minhashDedupPairs(t(s, dir, "documents"), "doc_id", "text",
            threshold = 0.7, shingleLen = 5, numHashes = 128, bands = 16)
            .orderBy("id_a", "id_b"))),

    /** Hash-gated via the PORTABLE md5 simhash: with uncapped buckets the
      * pigeonhole construction provably emits exactly the brute-force
      * `hamming(sig_a, sig_b) <= 3` pair set, and the 60-bit signature itself
      * is bit-identical to the DuckDB oracle's md5 recomputation — a full
      * equality proof of the banding/bucketing/Hamming plan, not a rows-only
      * check. Bounded to `doc_id < 2048` so the oracle's O(n²) brute force
      * stays small at any sf; the native-kernel full-corpus run is
      * benchmarked via its bench form.
      */
    GatedQuery("q_n_dedup_simhash",
      (s, dir) =>
        Dedup.simhashPairsPortable(
          t(s, dir, "documents").filter(col("doc_id") < 2048), "doc_id", "text",
          maxHamming = 3, maxBucketSize = Int.MaxValue)
          .orderBy("id_a", "id_b"),
      // full recomputation of the portable 60-bit md5 simhash + brute-force
      // Hamming pairs — provably equal to the operator's pigeonhole output
      // when buckets are uncapped (the gate runs it uncapped)
      """WITH tok AS (
           SELECT doc_id,
                  unnest(list_distinct(list_filter(
                    regexp_split_to_array(lower(text), '\s+'), t -> len(t) > 0))) AS tok
           FROM documents WHERE doc_id < 2048),
         th AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM tok),
         votes AS (SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
                   FROM th, range(60) r(b) GROUP BY doc_id, b),
         sig AS (SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sh
                 FROM votes GROUP BY doc_id),
         p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                      CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
               FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
         SELECT id_a, id_b, hamming FROM p WHERE hamming <= 3 ORDER BY id_a, id_b""",
      bench = Some(
        (s, dir) =>
          Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text", maxHamming = 3)
            .orderBy("id_a", "id_b"))),

    GatedQuery("q_n_jaccard_pairs",
      (s, dir) =>
        Dedup.ngramJaccardPairs(
          t(s, dir, "documents").filter(col("doc_id") < 64), "doc_id", "text",
          n = 2, threshold = 0.01)
          .orderBy("id_a", "id_b"),
      s"""WITH d AS (
            SELECT doc_id,
                   list_distinct(list_transform(range(1, len(toks)),
                     i -> concat(toks[i], chr(1), toks[i+1]))) AS sh
            FROM (SELECT doc_id, $toksSql AS toks FROM documents WHERE doc_id < 64)),
          p AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
            FROM d a JOIN d b ON a.doc_id < b.doc_id)
         SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.01 ORDER BY id_a, id_b"""),

    GatedQuery("q_n_dup_clusters",
      (s, dir) =>
        Dedup.clusters(clusterPairs(s, dir)).orderBy("id"),
      s"""$clusterCteSql
          SELECT id, cluster FROM cl ORDER BY id"""),

    GatedQuery("q_n_dedup_drop",
      (s, dir) =>
        Dedup.dropNearDupsByPairs(
          t(s, dir, "documents").filter(col("doc_id") < 256), "doc_id",
          clusterPairs(s, dir))
          .select("doc_id", "lang", "n_chars")
          .orderBy("doc_id"),
      s"""$clusterCteSql
          SELECT doc_id, lang, n_chars FROM documents
          WHERE doc_id < 256
            AND doc_id NOT IN (SELECT id FROM cl WHERE id <> cluster)
          ORDER BY doc_id"""),

    /** Incremental ingest dedup: docs ≥ 250 arrive as a new batch and dedup
      * against the signature STORE of docs < 250 (plus within-batch twins) —
      * the don't-re-shingle-the-corpus scale path. Rows-only gate (minhash has
      * no SQL form); planted-scenario semantics are CI-checked in DedupSpec.
      */
    GatedQuery("q_n_dedup_incr",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val store = Dedup.minhashSignatures(docs.filter(col("doc_id") < 250), "doc_id", "text")
        Dedup.incrementalDedup(docs.filter(col("doc_id") >= 250), store, "doc_id", "text",
            threshold = 0.5)
          .select("doc_id", "lang", "n_chars")
          .orderBy("doc_id")
      },
      // Exact replay of the incremental-dedup verdict: a delta doc (doc_id>=250)
      // is dropped iff some store doc (doc_id<250) has exact char-5-gram
      // Jaccard >= 0.5, or it loses a within-delta duplicate cluster
      // (keep-min-id; clusters via recursive CTE). The operator verifies
      // within-delta pairs by exact Jaccard, as this replay does, and decides
      // delta–store pairs on the 128-hash signature ESTIMATOR; on these
      // fixtures no pair has exact Jaccard in (0.31, 0.92) — the nearest pairs
      // sit at ≤0.309 and ≥0.9286 — so the estimator (std err ~0.04) cannot
      // flip a 0.5-threshold decision and the estimator and exact verdicts
      // provably agree.
      """WITH RECURSIVE g AS (
           SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(text) - 3, 1)),
                  i -> substr(text, i, 5))) AS sh
           FROM documents),
         p AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b
           FROM g a JOIN g b ON a.doc_id < b.doc_id
           WHERE (a.doc_id >= 250 OR b.doc_id >= 250)
             AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
         vs_store AS (
           SELECT id_b AS id FROM p WHERE id_a < 250 AND id_b >= 250
           UNION SELECT id_a FROM p WHERE id_b < 250 AND id_a >= 250),
         dp AS (SELECT id_a, id_b FROM p WHERE id_a >= 250 AND id_b >= 250),
         und AS (SELECT id_a AS a, id_b AS b FROM dp UNION SELECT id_b, id_a FROM dp),
         reach(a, b) AS (SELECT a, b FROM und
                         UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
         cl AS (SELECT a AS id, least(a, min(b)) AS cluster FROM reach GROUP BY a),
         losers AS (SELECT id FROM vs_store UNION SELECT id FROM cl WHERE id != cluster)
         SELECT doc_id, lang, n_chars FROM documents
         WHERE doc_id >= 250 AND doc_id NOT IN (SELECT id FROM losers)
         ORDER BY doc_id"""),

    GatedQuery("q_n_decontam",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.contaminationHits(
            docs.filter(col("doc_id") % 50 =!= 0),
            docs.filter(col("doc_id") % 50 === 0),
            "doc_id", "text", n = 3)
          .select(col("id").as("doc_id"), col("n_hits"))
          .orderBy("doc_id")
      },
      s"""WITH sh AS (
            SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                     i -> concat(toks[i], chr(1), toks[i+1], chr(1), toks[i+2]))) AS sh
            FROM (SELECT doc_id, $toksSql AS toks FROM documents)),
          bg AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 50 = 0),
          tr AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 50 <> 0)
          SELECT tr.doc_id, CAST(count(*) AS BIGINT) AS n_hits
          FROM tr JOIN bg USING (g)
          GROUP BY tr.doc_id ORDER BY tr.doc_id"""),

    /** Within-document line dedup, hash-gated on a planted multi-line
      * fixture (the organic texts are single-line): each document becomes
      * the four lines `[text, text, "tail <id>", text]`, so
      * [[TextOps.dropRepeatedLines]] provably keeps `[text, tail]` —
      * first-occurrence order preserved, both repeats dropped. The oracle
      * re-derives the keep rule with DuckDB's indexed `list_filter`
      * (both sides: keep line i iff its first occurrence index IS i).
      */
    GatedQuery("q_n_text_line_dedup",
      (s, dir) => {
        val lined = concat_ws("\n", col("text"), col("text"),
          concat(lit("tail "), col("doc_id")), col("text"))
        t(s, dir, "documents").select(
            col("doc_id"),
            size(split(lined, "\n", -1)).cast("long").as("n_lines"),
            size(TextOps.dropRepeatedLinesArr(split(lined, "\n", -1))).cast("long").as("n_kept"),
            md5(TextOps.dropRepeatedLines(lined)).as("clean_md5"))
          .orderBy("doc_id")
      },
      // planted 4-line fixture [text, text, tail, text] -> keep [text, tail]:
      // first-occurrence-index line dedup replayed with DuckDB's indexed
      // list_filter (1-based index = 1-based list_position)
      """WITH b AS (SELECT doc_id,
               text || chr(10) || text || chr(10) || 'tail ' || CAST(doc_id AS VARCHAR)
                    || chr(10) || text AS lt
             FROM documents),
          s AS (SELECT doc_id, string_split(lt, chr(10)) AS l FROM b),
          k AS (SELECT doc_id, l,
                  list_filter(l, (x, i) -> list_position(l, x) = i) AS kept
                FROM s)
          SELECT doc_id, CAST(len(l) AS BIGINT) AS n_lines,
                 CAST(len(kept) AS BIGINT) AS n_kept,
                 md5(array_to_string(kept, chr(10))) AS clean_md5
          FROM k ORDER BY doc_id"""))

  /** 16 whitespace tokens exactly — prepended as one aligned window so the
    * span dedup sees it as cross-document boilerplate (C4's repeated-lines
    * case, here at window granularity).
    */
  private val boilerplate = "subscribe to our newsletter and accept the " +
    "terms of service to continue reading this premium content"

  /** Exact word-bigram Jaccard pairs over a bounded doc subset — the
    * SQL-expressible pair source the clustering queries share with their
    * DuckDB oracles (the minhash pair source is the scale path but has no
    * SQL form).
    */
  private def clusterPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(
      t(s, dir, "documents").filter(col("doc_id") < 256), "doc_id", "text",
      n = 2, threshold = 0.1)

  /** Shared oracle prelude for the clustering queries: word-bigram Jaccard
    * pairs (same shingling as [[graft.functions.TextOps.wordShingles]])
    * over docs < 256, then connected components as min-reachable-id via a
    * recursive transitive closure (`cl` = (id, cluster)).
    */
  private val clusterCteSql =
    s"""WITH RECURSIVE d AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(1, len(toks)),
                   i -> concat(toks[i], chr(1), toks[i+1]))) AS sh
          FROM (SELECT doc_id, $toksSql AS toks FROM documents WHERE doc_id < 256)),
        p AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM d a JOIN d b ON a.doc_id < b.doc_id
          WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                      / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.1),
        und AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM p
                UNION SELECT id_b, id_a FROM p),
        reach(a, b) AS (SELECT a, b FROM und
                        UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
        cl AS MATERIALIZED (SELECT a AS id, least(a, min(b)) AS cluster FROM reach GROUP BY a)"""
}
