package graft.gate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.functions._
import graft.plans._
import graft.gate.Gate._

/** Gated LLM-data queries (N): embedding near-dups, SemDeDup and ANN/IVF
  * retrieval.
  */
private[graft] object VectorGates {

  lazy val queries: Seq[GatedQuery] = Seq(
    /** Int8-quantized brute-force ANN — the 4×-smaller-index scale path.
      * Fully oracle-checkable: quantization uses floor(x+0.5) and the cosine
      * is exact integer sums + one IEEE divide.
      */
    GatedQuery("q_n_ann_int8",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        VectorOps.bruteForceTopKInt8(emb.filter(col("vec_id") < 20), emb, k = 5)
          .orderBy("query_id", "rank")
      },
      """WITH qz AS (
           SELECT vec_id,
                  list_transform(embedding, v -> GREATEST(-127, LEAST(127,
                    CAST(floor(CAST(v AS DOUBLE) / s + 0.5) AS BIGINT)))) AS q
           FROM (SELECT vec_id, embedding,
                   CASE WHEN m = 0 THEN 1.0 ELSE m / 127.0 END AS s
                 FROM (SELECT vec_id, embedding,
                         list_max(list_transform(embedding,
                           v -> abs(CAST(v AS DOUBLE)))) AS m
                       FROM embeddings))),
         q AS (SELECT vec_id AS query_id, q AS qq FROM qz WHERE vec_id < 20),
         c AS (SELECT vec_id AS neighbor_id, q AS cq FROM qz),
         s AS (SELECT query_id, neighbor_id,
                 round(
                   CAST(list_sum(list_transform(range(1, len(qq)+1),
                     i -> qq[i] * cq[i])) AS DOUBLE)
                   / sqrt(CAST(list_sum(list_transform(qq, x -> x * x)) AS DOUBLE)
                          * CAST(list_sum(list_transform(cq, x -> x * x)) AS DOUBLE)),
                   6) AS cos_sim
               FROM c, q WHERE query_id != neighbor_id),
         r AS (SELECT query_id, neighbor_id, cos_sim,
                 CAST(row_number() OVER (PARTITION BY query_id
                   ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
               FROM s)
         SELECT query_id, neighbor_id, cos_sim, rank FROM r WHERE rank <= 5
         ORDER BY query_id, rank"""),

    /** Hash-gated by planted twins: each corpus vector gets a ×2-scaled copy
      * at `vec_id + 100000`. Scaling preserves direction exactly (powers of
      * two are exact in IEEE floats), so a twin lands in ALL of its original's
      * sign-LSH buckets — candidate recall 1 by construction — and scores
      * cosine exactly 1.0; no organic pair clears 0.95 on the fixtures (max
      * cos ≈ 0.51). The oracle is therefore the exact twin-pair relation. The
      * organic threshold=0.2 full run is benchmarked via its bench form;
      * recall at sub-1 cosines is CI-gated (DedupSpec planted-vector test).
      */
    GatedQuery("q_n_emb_dups",
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val twins = emb.select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
        Dedup.embeddingDupPairs(emb.unionByName(twins), "vec_id", "embedding",
          dim = 64, threshold = 0.95, bands = 8, bits = 8)
          .orderBy("id_a", "id_b")
      },
      // planted ×2-scaled twins: sign-LSH candidate recall 1 by construction,
      // cosine exactly 1.0; no organic pair clears 0.95 (fixture max ≈ 0.51)
      """SELECT vec_id AS id_a, vec_id + 100000 AS id_b, CAST(1.0 AS DOUBLE) AS cos_sim
         FROM embeddings ORDER BY id_a""",
      bench = Some(
        (s, dir) =>
          Dedup.embeddingDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
            dim = 64, threshold = 0.2, bands = 8, bits = 8)
            .orderBy("id_a", "id_b"))),

    /** SemDeDup coarse assignment, oracle-pinned over the WHOLE corpus: every
      * vector's argmax-cosine centroid (deterministic first-8 centroids) and
      * its centroid similarity — 500 organic assignments verify the argmax,
      * the lowest-cid tie-break, and the double-precision cosine end to end.
      */
    GatedQuery("q_n_semdedup_assign",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val cents = Dedup.firstKCentroids(emb, "vec_id", "embedding", 8)
        Dedup.assignSemanticClusters(emb, "vec_id", "embedding", cents)
          .select(col("id").as("vec_id"), col("cluster"),
            round(col("centroid_sim"), 4).as("centroid_sim"))
          .orderBy("vec_id")
      },
      // full recomputation of the argmax-cosine assignment against the
      // deterministic first-8 centroids (cid = vec_id on this fixture): same
      // double math, DESC-cosine/ASC-cid tie order
      """WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8),
         v AS (SELECT vec_id, embedding AS ev FROM embeddings),
         s AS (SELECT vec_id, cid,
                 list_sum(list_transform(range(1, len(ev)+1),
                   i -> CAST(ev[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(ev, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(cv, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))) AS cs
               FROM v, c),
         r AS (SELECT vec_id, cid, cs,
                 row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn FROM s)
         SELECT vec_id, CAST(cid AS INT) AS cluster, round(cs, 4) AS centroid_sim
         FROM r WHERE rn = 1 ORDER BY vec_id"""),

    /** SemDeDup pairs, hash-gated on the planted-dup fixture: the oracle
      * re-derives the full pipeline — assignment, within-cluster scoping (a
      * cross-cluster near-pair must NOT emit), exact cosine, 0.9 threshold.
      */
    GatedQuery("q_n_semdedup",
      (s, dir) => {
        val (emb, planted) = semdedupFixture(s, dir)
        val cents = Dedup.firstKCentroids(emb, "vec_id", "embedding", 8)
        Dedup.semanticDedupPairs(emb.unionByName(planted), "vec_id", "embedding",
            cents, threshold = 0.9)
          .select(col("id_a"), col("id_b"), col("cluster"),
            round(col("cos_sim"), 4).as("cos_sim"))
          .orderBy("id_a", "id_b")
      },
      // full SemDeDup re-derivation: rebuild the planted corpus (×2 twins,
      // float-exact 3v+v_next blends), assign every vector by argmax cosine,
      // then exact within-cluster pairs over the 0.9 threshold
      semdedupPairsSql("TRUE")),

    /** The TRAINED-centroid semantic path, hash-gated end to end under the
      * pinned [[semanticCentroidsKmeans]] model: one row per corpus vector
      * (organic + planted) carrying its argmax assignment, its centroid
      * similarity, and its ≥ 0.9 within-cluster pair degree/max — so the
      * oracle replays the k-means ASSIGNMENT for every vector (not just the
      * paired ones) plus the cluster-scoped pair kernel. The oracle SQL is
      * GENERATED from the pinned floats, so the two sides cannot
      * drift. This closes r12's "trained mode has no driver gate": the
      * trainer itself stays CI-invariant-pinned (not bit-deterministic), but
      * everything downstream of the pinned model is now DuckDB-replayed.
      */
    GatedQuery("q_n_semdedup_trained",
      (s, dir) => {
        val (emb, planted) = semdedupFixture(s, dir)
        val assigned = Dedup.assignSemanticClusters(emb.unionByName(planted),
          "vec_id", "embedding", semanticCentroidsKmeans)
        val pairs = Dedup.semanticPairs(assigned, Dedup.emptyOf(assigned), threshold = 0.9)
        val deg = pairs.select(col("id_a").as("id"), col("cos_sim"))
          .unionByName(pairs.select(col("id_b").as("id"), col("cos_sim")))
          .groupBy("id")
          .agg(count(lit(1)).as("n_pairs"), round(max(col("cos_sim")), 4).as("max_cos"))
        assigned.select(col("id").as("vec_id"), col("cluster"),
            round(col("centroid_sim"), 4).as("centroid_sim"))
          .join(deg.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
          .na.fill(0L, Seq("n_pairs")).na.fill(-1.0, Seq("max_cos"))
          .orderBy("vec_id")
      },
      // trained-centroid path: same fixture, centroids from the PINNED
      // k-means model (VALUES list generated from the parsed asset) —
      // per-vector argmax assignment + within-cluster >= 0.9 pair degree
      s"""WITH $semdedupCorpusCtes,
          c AS (SELECT * FROM (VALUES $trainedCentsSql) AS t(cid, cv)),
          s AS (SELECT v.vec_id, cid, ${cosSql("v.embedding", "cv")} AS cs
                FROM corpus v, c),
          r AS (SELECT vec_id, cid, cs,
                  row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
                FROM s),
          av AS MATERIALIZED (SELECT r.vec_id, r.cid AS cluster, r.cs, v.embedding
                FROM r JOIN corpus v USING (vec_id) WHERE rn = 1),
          csz AS (SELECT cluster, count(*) AS n FROM av GROUP BY 1),
          avb AS MATERIALIZED (SELECT av.* FROM av JOIN csz USING (cluster)
                 WHERE n BETWEEN 2 AND 10000),
          p AS MATERIALIZED (SELECT x.vec_id AS id_a, y.vec_id AS id_b,
                  ${cosSql("x.embedding", "y.embedding")} AS cos
                FROM avb x JOIN avb y ON x.cluster = y.cluster AND x.vec_id < y.vec_id),
          pf AS (SELECT * FROM p WHERE cos >= 0.9),
          d AS (SELECT id, count(*) AS np, round(max(cos), 4) AS mc
                FROM (SELECT id_a AS id, cos FROM pf
                      UNION ALL SELECT id_b AS id, cos FROM pf)
                GROUP BY id)
          SELECT av.vec_id, CAST(cluster AS INT) AS cluster,
                 round(cs, 4) AS centroid_sim,
                 CAST(coalesce(np, 0) AS BIGINT) AS n_pairs,
                 coalesce(mc, -1.0) AS max_cos
          FROM av LEFT JOIN d ON av.vec_id = d.id ORDER BY av.vec_id"""),

    /** Incremental semantic dedup, hash-gated: the organic corpus is the
      * persisted assigned STORE, the planted twins/blends arrive as the
      * delta batch. Delta-vs-store and delta-vs-delta pairs must equal the
      * full-corpus pair set minus store×store pairs (of which the fixture
      * has none over 0.9 — the oracle's explicit delta-touching filter
      * proves exactly that).
      */
    GatedQuery("q_n_semdedup_incr",
      (s, dir) => {
        val (emb, planted) = semdedupFixture(s, dir)
        val cents = Dedup.firstKCentroids(emb, "vec_id", "embedding", 8)
        val store = Dedup.assignSemanticClusters(emb, "vec_id", "embedding", cents)
        Dedup.incrementalSemanticDedup(planted, store, "vec_id", "embedding",
            cents, threshold = 0.9)
          .select(col("id_a"), col("id_b"), col("cluster"),
            round(col("cos_sim"), 4).as("cos_sim"))
          .orderBy("id_a", "id_b")
      },
      // incremental tier: identical re-derivation, restricted to pairs that
      // TOUCH the delta (planted ids >= 100000) — store x store pairs must
      // not emit, and on this fixture none clear 0.9 anyway, so the filter
      // is exactly the incremental contract
      semdedupPairsSql("(id_a >= 100000 OR id_b >= 100000)")),

    GatedQuery("q_n_ann_cosine",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        VectorOps.bruteForceTopK(emb.filter(col("vec_id") < 20), emb, k = 5)
          .orderBy("query_id", "rank")
      },
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
              c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
              s AS (SELECT query_id, neighbor_id,
                    round(
                      list_sum(list_transform(range(1, len(qv)+1),
                        i -> CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)))
                      / (sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                         * sqrt(list_sum(list_transform(cv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                      4) AS cos_sim
                    FROM c, q WHERE query_id != neighbor_id),
              r AS (SELECT query_id, neighbor_id, cos_sim,
                    CAST(row_number() OVER (PARTITION BY query_id
                                            ORDER BY cos_sim DESC, neighbor_id) AS INT) AS rank
                    FROM s)
         SELECT query_id, neighbor_id, cos_sim, rank FROM r WHERE rank <= 5
         ORDER BY query_id, rank"""),

    /** Hash-gated by planted twins: the corpus is augmented with four
      * power-of-two-scaled copies of every query vector (scales 2/4/8/16 at
      * ids `vec_id + j*100000`). Scaled copies share every sign-LSH bucket
      * with their query (direction-preserving, so candidate recall 1 by
      * construction), score cosine exactly 1.0, and tie-break by neighbor_id
      * — the top-4 is therefore the deterministic, SQL-expressible twin list,
      * verifying bucketing, candidate join, exact scoring, and ranked
      * tie-break end to end. Organic top-k recall at this config is
      * fixture-dependent (sign-LSH over near-orthogonal vectors) and remains
      * CI-gated; the organic run is benchmarked via its bench form.
      */
    GatedQuery("q_n_ann_lsh",
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val queries = emb.filter(col("vec_id") < 20)
        val twins = (1 to 4).map { j =>
          queries.select((col("vec_id") + j * 100000L).as("vec_id"),
            transform(col("embedding"), x => x * lit((1 << j).toFloat)).as("embedding"))
        }.reduce(_ unionByName _)
        VectorOps.lshTopK(queries, emb.unionByName(twins), k = 4, dim = 64,
          bands = 8, bits = 8)
          .orderBy("query_id", "rank")
      },
      // planted power-of-two-scaled twins of each query: deterministic top-4
      // at cosine 1.0 with neighbor_id tie-break
      """SELECT vec_id AS query_id, vec_id + j * 100000 AS neighbor_id,
                CAST(1.0 AS DOUBLE) AS cos_sim, CAST(j AS INT) AS rank
         FROM embeddings, range(1, 5) r(j) WHERE vec_id < 20
         ORDER BY query_id, rank""",
      bench = Some(
        (s, dir) => {
          val emb = t(s, dir, "embeddings")
          VectorOps.lshTopK(emb.filter(col("vec_id") < 20), emb, k = 5, dim = 64,
            bands = 8, bits = 8)
            .orderBy("query_id", "rank")
        })),

    /** Containment gate (VERDICT r6 §next #1): every IVF-returned neighbor
      * must sit inside the exact cosine top-20 of its query — a join against
      * [[VectorOps.bruteForceTopK]] whose per-query counts (5 returned, 5
      * contained) the DuckDB oracle reproduces from the exact ranking alone.
      * Any IVF result outside the exact top-20 drops a row / shifts a count
      * and trips the hash. Measured headroom: worst observed exact rank of an
      * IVF result on the fixtures is 7 (nprobe=8/nlist=16, recall ~0.86 vs
      * top-5 — nprobe=4 sat at ~0.64, graft.tools.RecallProbe).
      */
    GatedQuery("q_n_ann_ivf",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        containment(emb)(VectorOps.ivfTopK(_, emb, k = 5, nlist = 16, nprobe = 8))
      },
      // containment counts: 5 returned, all 5 inside the exact top-20
      containmentSql,
      bench = Some(
        (s, dir) => {
          val emb = t(s, dir, "embeddings")
          VectorOps.ivfTopK(emb.filter(col("vec_id") < 20), emb, k = 5, nlist = 16, nprobe = 8)
            .orderBy("query_id", "rank")
        })),

    /** Int8-quantized IVF, containment-gated like the float tier: every
      * returned neighbor must sit in the exact FLOAT top-20 — so the gate
      * bounds cell-routing loss AND quantization-induced rank drift at once.
      */
    GatedQuery("q_n_ann_ivf_int8",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        containment(emb)(VectorOps.ivfTopKInt8(_, emb, k = 5, nlist = 16, nprobe = 8))
      },
      // int8 IVF: same containment contract as the float tier — quantization
      // must not push any returned neighbor out of the exact float top-20
      containmentSql,
      bench = Some(
        (s, dir) => {
          val emb = t(s, dir, "embeddings")
          VectorOps.ivfTopKInt8(emb.filter(col("vec_id") < 20), emb, k = 5, nlist = 16, nprobe = 8)
            .orderBy("query_id", "rank")
        })),

    /** Persisted-IVF gate ([[graft.operators.VectorIndex]]): build the index
      * (temp dir — the gate covers the whole build→query lifecycle), query it
      * through the partition-pruned path, and apply the SAME containment
      * contract as the ad-hoc `q_n_ann_ivf` tier: every returned neighbor
      * sits in the exact float top-20.
      */
    GatedQuery("q_n_ann_ivf_indexed",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val idx = java.nio.file.Files.createTempDirectory("gate_ivfidx").toString + "/idx"
        graft.operators.VectorIndex.buildIvfIndex(emb, idx, nlist = 16)
        containment(emb)(graft.operators.VectorIndex.ivfTopKIndexed(_, idx, k = 5, nprobe = 8))
      },
      // persisted IVF index: the build→query lifecycle must satisfy the same
      // containment contract as the ad-hoc tier
      containmentSql,
      bench = Some(
        (s, dir) => {
          val idx = ivfIndexMemo.computeIfAbsent(dir, _ => {
            val p = java.nio.file.Files.createTempDirectory("bench_ivfidx").toString + "/idx"
            // PRODUCTION defaults (VERDICT r16 next #5): auto-⌈√N⌉ nlist +
            // normalized routing — the config users actually get from
            // buildIvfIndex/BuildIndexSpec since r15. The old explicit nlist=16
            // timed a legacy layout nobody builds anymore (fewer, larger cells →
            // fewer files probed per query than the real index).
            graft.operators.VectorIndex.buildIvfIndex(t(s, dir, "embeddings"), p)
            p
          })
          graft.operators.VectorIndex.ivfTopKIndexed(
            t(s, dir, "embeddings").filter(col("vec_id") < 100), idx, k = 10, nprobe = 8)
        })),

    /** The persisted-index QUERY through the spec surface
      * ([[graft.plans.AnnQuerySpec]], serialize → parse → compile like
      * `q_x_running_spec`): a RunSpec user points a JSON node at the layout
      * the `vectorIndex` ingest maintains and gets top-k retrieval without
      * Scala. Same containment contract as `q_n_ann_ivf_indexed` — the spec
      * path must not change WHAT the operator computes.
      */
    GatedQuery("q_n_ann_index_spec",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val idx = java.nio.file.Files.createTempDirectory("gate_annspec").toString + "/idx"
        graft.operators.VectorIndex.buildIvfIndex(emb, idx, nlist = 16)
        val spec = PipelineSpec(Seq(
          "emb"     -> SourceSpec("parquet", "{%dir%}/embeddings.parquet"),
          "queries" -> FilterSpec(RefSpec("emb"), "vec_id < 20"),
          "knn"     -> AnnQuerySpec(RefSpec("queries"), "{%index%}", k = 5, nprobe = 8)),
          out = "knn")
        // the spec's own `queries` node selects the same vec_id < 20
        containment(emb)(_ => PipelineCompiler.compile(
          SpecJson.fromJson(SpecJson.toJson(spec)), s, Map("dir" -> dir, "index" -> idx)))
      },
      // the annQuery SPEC node (JSON round-trip → compile): the spec path
      // must not change what the indexed query computes
      containmentSql),

    /** Index DELETION ([[graft.operators.VectorIndex.deleteFromIvfIndex]] —
      * the takedown/opt-out maintenance path): after deleting a block of
      * ids, (a) no deleted id is ever returned, (b) the containment
      * contract re-anchors to the REMAINING corpus — every returned
      * neighbor sits in the exact top-20 over what is still indexed, (c)
      * result width is still k. Replays in DuckDB as constants over the
      * query ids, like the other containment gates.
      *
      * r16 path split: this gate queries AFTER a fold — the tombstones have
      * been physically PURGED (the delete's maintenance half) — while
      * `q_n_ann_index_delete_spec` queries the PENDING-tombstone state
      * (delete → query, no fold), so both halves of the takedown lifecycle
      * stay oracle-anchored.
      */
    GatedQuery("q_n_ann_index_delete",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val idx = java.nio.file.Files.createTempDirectory("gate_anndel").toString + "/idx"
        graft.operators.VectorIndex.buildIvfIndex(emb, idx, nlist = 16)
        graft.operators.VectorIndex.deleteFromIvfIndex(s, idx,
          emb.filter(col("vec_id") >= 20 && col("vec_id") < 40))
        graft.operators.VectorIndex.foldIvfDelta(s, idx) // purge the tombstones
        containment(emb, deleted = Some((20, 39)))(
          graft.operators.VectorIndex.ivfTopKIndexed(_, idx, k = 5, nprobe = 8))
      },
      // index deletion: nothing deleted returns; containment re-anchors to
      // the remaining corpus; width is still k
      deleteContainmentSql),

    /** The FULL index lifecycle from ONE persisted spec: the checked-in
      * asset `specs/ann_lifecycle.json` builds the index, purges the
      * takedown ids through a `deleteIndex` node and retrieves through an
      * `annQuery` node (nodes compile in declaration order) — the RunSpec
      * persona's delete-then-serve story in a single JSON file. Same
      * oracle as `q_n_ann_index_delete`; the spec path must not change what
      * the composition computes.
      */
    GatedQuery("q_n_ann_index_delete_spec",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val idx = java.nio.file.Files.createTempDirectory("gate_anndelspec").toString + "/idx"
        // the asset's own nodes delete vec_id 20..39 and query vec_id < 20
        containment(emb, deleted = Some((20, 39)))(_ => PipelineCompiler.compile(
          SpecJson.fromJson(SpecJson.resource("/specs/ann_lifecycle.json")), s,
          Map("dir" -> dir, "index" -> idx)))
      },
      // the delete-then-serve composition from ONE persisted spec
      // (deleteIndex + annQuery nodes): identical oracle to the Scala path
      deleteContainmentSql),

    /** The normalized layout (`normalize = true` — the documented cosine
      * operating point, SCALING.md's 1M characterization): the corpus is
      * unit-normalized for routing and storage, queries auto-normalize via
      * the marker, and the SAME containment contract must hold — cosine is
      * scale-invariant, so normalization may only improve which cells are
      * probed, never push a returned neighbor out of the exact top-20.
      */
    GatedQuery("q_n_ann_ivf_indexed_norm",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val idx = java.nio.file.Files.createTempDirectory("gate_ivfidxn").toString + "/idx"
        graft.operators.VectorIndex.buildIvfIndex(emb, idx, nlist = 16, normalize = true)
        containment(emb)(graft.operators.VectorIndex.ivfTopKIndexed(_, idx, k = 5, nprobe = 8))
      },
      // the normalized layout (normalize = true): cosine is scale-invariant,
      // so the same containment invariant must hold under unit routing
      containmentSql),

    /** The PERSISTED index under the int8 codec (4× smaller cells): same
      * containment contract as the float index — quantization must not push
      * any returned neighbor out of the exact float top-20.
      */
    GatedQuery("q_n_ann_ivf_indexed_int8",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val idx = java.nio.file.Files.createTempDirectory("gate_ivfidx8").toString + "/idx"
        graft.operators.VectorIndex.buildIvfIndex(emb, idx, nlist = 16, codec = "int8")
        containment(emb)(graft.operators.VectorIndex.ivfTopKIndexed(_, idx, k = 5, nprobe = 8))
      },
      // the persisted index under the int8 codec: same containment invariant
      containmentSql),

    GatedQuery("q_n_vector_stats",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        emb.select(col("vec_id"),
            round(VectorOps.l2Norm(col("embedding")), 4).as("l2_norm"),
            round(VectorOps.dot(col("embedding"), col("embedding")), 4).as("self_dot"))
          .orderBy("vec_id")
      },
      """SELECT vec_id,
                round(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm,
                round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 4) AS self_dot
         FROM embeddings ORDER BY vec_id"""))

  /** Pinned TRAINED k-means centroids for the semantic tier — the third
    * model asset next to [[graft.SparkEntry.qualityGateWeights]] and
    * [[graft.SparkEntry.bpeGateMerges]]:
    * fit once by `tools.SemTrainProbe` ([[graft.operators.Dedup.trainSemanticCentroids]],
    * seed 42, k = 8, sf0.01 embeddings; cluster sizes 25-88, all inside
    * the pair-expansion band) and pinned because k-means re-training is
    * not bit-deterministic (partition-order float sums). Under a PINNED
    * set the argmax assignment and the within-cluster cosines are pure
    * IEEE arithmetic any engine replays exactly — which is what lets
    * `q_n_semdedup_trained` hash-gate the trained path against DuckDB,
    * where the un-pinned trainer can only be invariant-tested (CI,
    * PretrainPipelineSpec). The one copy is the `centroids` of the
    * checked-in streaming ingest asset `specs/pretrain_ingest.json`;
    * floats serialize via `Float.toString`, so the parse is exact.
    */
  private lazy val semanticCentroidsKmeans: Seq[(Int, Seq[Float])] =
    SpecJson.ingestFromJson(SpecJson.resource("/specs/pretrain_ingest.json")) match {
      case p: PretrainIngestSpec => p.centroids
      case other => throw new IllegalStateException(
        s"specs/pretrain_ingest.json is not a pretrain ingest: $other")
    }

  /** Shared semdedup gate fixture: the organic corpus plus SQL-expressible
    * planted semantic dups — an exact twin (×2 scale, cosine 1.0) per
    * `vec_id < 64` and a float-exact blend `3·v + v_next`
    * (cosine ≈ 0.94–0.96) per `vec_id < 32` — both reconstructible
    * bit-identically by the DuckDB oracle.
    */
  private def semdedupFixture(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
    val twins = emb.filter(col("vec_id") < 64)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    val nxt = emb.select((col("vec_id") - 1L).as("vec_id"), col("embedding").as("__nx"))
    val blends = emb.join(nxt, "vec_id").filter(col("vec_id") < 32)
      .select((col("vec_id") + 200000L).as("vec_id"),
        zip_with(col("embedding"), col("__nx"),
          (x, y) => (x.cast("double") * 3 + y.cast("double")).cast("float")).as("embedding"))
    (emb, twins.unionByName(blends))
  }

  /** Persisted-index query path for the bench: the index is a run-once
    * asset (built on the DISCARDED warm-up rep via the memo, exactly the
    * [[dsirJointMemo]] discipline), so the timed reps measure what a
    * production consumer pays per query batch — centroid routing +
    * partition-pruned scan + top-k — not k-means training.
    */
  private val ivfIndexMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The pinned [[semanticCentroidsKmeans]] as a DuckDB VALUES list —
    * `Float.toString` is the shortest round-trip decimal, so `CAST(… AS
    * FLOAT[])` reconstructs the exact float32 the engine holds.
    */
  private def trainedCentsSql: String =
    semanticCentroidsKmeans.map { case (cid, v) =>
      s"($cid, CAST([${v.mkString(", ")}] AS FLOAT[]))"
    }.mkString(",\n                ")

  /** The IVF gates' containment contract: for each query (`vec_id < 20`
    * of `emb`), how many neighbors `ivfOf(queries)` returned and how many
    * of them sit inside the exact cosine top-20 over what is still indexed
    * — all of `emb`, or `emb` minus the inclusive `deleted` id range, which
    * then also counts `n_deleted_returned`. Any IVF result outside the
    * exact top-20 drops a row or shifts a count and trips the hash against
    * [[containmentSql]].
    */
  private def containment(emb: DataFrame, deleted: Option[(Int, Int)] = None)(
      ivfOf: DataFrame => DataFrame): DataFrame = {
    val queries = emb.filter(col("vec_id") < 20)
    val ivf = ivfOf(queries)
    val remaining = deleted.fold(emb) { case (lo, hi) =>
      emb.filter(col("vec_id") < lo || col("vec_id") > hi) }
    val exact20 = VectorOps.bruteForceTopK(queries, remaining, k = 20)
      .select("query_id", "neighbor_id")
    val counts = count(lit(1)).as("n_returned") +: deleted.toSeq.map { case (lo, hi) =>
      sum(when(col("neighbor_id").between(lo, hi), 1L).otherwise(0L)).as("n_deleted_returned") }
    ivf.groupBy("query_id").agg(counts.head, counts.tail: _*)
      .join(
        ivf.join(exact20, Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy("query_id").agg(count(lit(1)).as("n_in_top20")),
        Seq("query_id"))
      .orderBy("query_id")
  }

  /** [[containment]]'s oracle: 5 returned, all 5 inside the exact top-20. */
  private val containmentSql =
    """SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_returned,
              CAST(5 AS BIGINT) AS n_in_top20
       FROM embeddings WHERE vec_id < 20 ORDER BY query_id"""

  /** [[containmentSql]] after a takedown: no deleted id comes back. */
  private val deleteContainmentSql =
    s"""SELECT query_id, n_returned, CAST(0 AS BIGINT) AS n_deleted_returned, n_in_top20
        FROM ($containmentSql) ORDER BY query_id"""

  /** [[semdedupFixture]] rebuilt in DuckDB: `base` (the organic corpus),
    * ×2 `twin`s, float-exact `3·v + v_next` `blend`s and their union
    * `corpus`.
    */
  private val semdedupCorpusCtes =
    """base AS (SELECT vec_id, embedding FROM embeddings),
       twin AS (SELECT vec_id + 100000 AS vec_id,
                  list_transform(embedding, x -> CAST(x*2 AS FLOAT)) AS embedding
                FROM base WHERE vec_id < 64),
       blend AS (SELECT a.vec_id + 200000 AS vec_id,
                   list_transform(range(1, len(a.embedding)+1),
                     i -> CAST(CAST(a.embedding[i] AS DOUBLE)*3
                               + CAST(b.embedding[i] AS DOUBLE) AS FLOAT)) AS embedding
                 FROM base a JOIN base b ON b.vec_id = a.vec_id + 1 WHERE a.vec_id < 32),
       corpus AS MATERIALIZED (SELECT * FROM base UNION ALL SELECT * FROM twin
                               UNION ALL SELECT * FROM blend)"""

  /** Full SemDeDup re-derivation over [[semdedupCorpusCtes]]: argmax-cosine
    * assignment of every vector to the first-8 centroids, then exact
    * within-cluster pairs at cosine ≥ 0.9 that also satisfy `pairFilter`.
    */
  private def semdedupPairsSql(pairFilter: String): String =
    s"""WITH $semdedupCorpusCtes,
         c AS (SELECT vec_id AS cid, embedding AS cv FROM base WHERE vec_id < 8),
         s AS (SELECT v.vec_id, cid, ${cosSql("v.embedding", "cv")} AS cs
               FROM corpus v, c),
         r AS (SELECT vec_id, cid, cs,
                 row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn FROM s),
         av AS (SELECT r.vec_id, r.cid AS cluster, v.embedding
                FROM r JOIN corpus v USING (vec_id) WHERE rn = 1),
         p AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b, x.cluster,
                 ${cosSql("x.embedding", "y.embedding")} AS cos
               FROM av x JOIN av y ON x.cluster = y.cluster AND x.vec_id < y.vec_id)
         SELECT id_a, id_b, CAST(cluster AS INT) AS cluster, round(cos, 4) AS cos_sim
         FROM p WHERE cos >= 0.9 AND $pairFilter ORDER BY id_a, id_b"""
}
