package graft.gate

import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkEntry.qualityGateWeights
import graft.operators._
import graft.plans._
import graft.gate.Gate._

/** Gated queries that run through Structured Streaming (S): the
  * streaming transforms and every ingest kind.
  */
private[graft] object StreamingGates {

  lazy val queries: Seq[GatedQuery] = Seq(
    /** Sessionization driven through an ACTUAL Structured Streaming run —
      * the streaming-mode proof for `session_window` (VERDICT r6 §missing #2),
      * completing the window/enrich/dedup/join streaming quartet. The
      * watermark is declared (state-expiry at scale); complete mode emits
      * every merged session for the bounded-input oracle comparison, exactly
      * like `q_s_stream_window`.
      */
    GatedQuery("q_s_stream_session",
      (s, dir) => {
        val stage = tmp("stream_session_stage", dir)
        val result = graft.streaming.Streams.runAsStream(
          s, t(s, dir, "events").select(col("user_id"), col("ts")),
          stage, s"sess_${math.abs(dir.hashCode)}", "ts", "1 minute") { df =>
          df.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
            .agg(count(lit(1)).as("n"))
        }
        result
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"), sum(col("n")).cast("long").as("n_events"))
          .orderBy("user_id")
      },
      // same lag-based sessionization oracle as the batch q_e_session_window —
      // the streaming run must produce identical sessions
      sessionCountsSql(">=")),

    GatedQuery("q_s_stream_window",
      (s, dir) => {
        // The tumbling aggregation executed through Structured Streaming
        // (parquet stage → readStream → memory sink); oracle identical to batch.
        val stage = tmp("stream_stage", dir)
        val result = graft.streaming.Streams.runAsStream(
          s, t(s, dir, "events"), stage, s"win_${math.abs(dir.hashCode)}", "ts", "1 minute") { df =>
          df.groupBy(window(col("ts"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("n"),
              sum(floor(col("value") * 100 + 0.5)).as("sum_value_cents"))
        }
        result
          .select(unix_micros(col("window.start")).as("ws_us"),
                  col("event_type"), col("n"), col("sum_value_cents"))
          .orderBy("ws_us", "event_type")
      },
      tumblingSql),

    /** Stream-static enrichment: a streaming fact source joined to a static
      * dimension (the broadcast-join idiom inside a streaming query), then
      * windowed — the standard streaming-ETL enrich shape. Oracle is the
      * batch-equivalent join+aggregate.
      */
    GatedQuery("q_s_stream_enrich",
      (s, dir) => {
        val stage = tmp("stream_enrich_stage", dir)
        val dim = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
        val result = graft.streaming.Streams.runAsStream(
          s, t(s, dir, "events").select(col("user_id"), col("ts"), col("value")),
          stage, s"enrich_${math.abs(dir.hashCode)}", "ts", "1 minute") { stream =>
          stream.join(dim, stream("user_id") === dim("c_custkey"))
            .groupBy(col("c_mktsegment"))
            .agg(count(lit(1)).as("n"),
              sum(floor(col("value") * 100 + 0.5)).as("sum_cents"))
        }
        result.orderBy("c_mktsegment")
      },
      """SELECT c_mktsegment, count(*) AS n,
                CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),

    /** Streaming stateful dedup (C6's streaming form) through an actual
      * Structured Streaming run: each user_id's first-seen row survives; the
      * surviving KEY SET equals DISTINCT user_id regardless of arrival order,
      * which is what makes the query oracle-comparable.
      */
    GatedQuery("q_s_stream_dedup",
      (s, dir) => {
        import s.implicits._
        val stage = tmp("stream_dedup_stage", dir)
        val result = graft.streaming.Streams.runAsStream(
          s, t(s, dir, "events").select(col("user_id").cast("long").as("user_id"), col("ts")),
          stage, s"dedup_${math.abs(dir.hashCode)}", "ts", "1 minute",
          outputMode = "append") { df =>
          graft.streaming.Streams.streamingDedup(
            df.select(col("user_id")).as[Long], (u: Long) => u.toString).toDF("user_id")
        }
        result.orderBy("user_id")
      },
      """SELECT DISTINCT CAST(user_id AS BIGINT) AS user_id FROM events
         ORDER BY user_id"""),

    /** Stream-stream interval join through an actual Structured Streaming run:
      * view→purchase attribution per user within one hour. Inner join + the
      * time-range predicate makes append mode emit every match while the two
      * watermarks bound the join state (the 100 TB-stream essential).
      */
    GatedQuery("q_s_stream_join",
      (s, dir) => {
        val stage = tmp("stream_join_stage", dir)
        val ev = t(s, dir, "events")
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
        val buys = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts").as("buy_ts"), col("event_id").as("buy_id"))
        val result = graft.streaming.Streams.runAsStreamPair(
          s, views, buys, stage, s"sjoin_${math.abs(dir.hashCode)}",
          ("view_ts", "1 minute"), ("buy_ts", "1 minute")) { (l, r) =>
          graft.streaming.Streams.intervalJoin(l, r, "user_id", "view_ts", "buy_ts",
            windowSeconds = 3600L)
        }
        result
          .select(col("user_id"), col("view_id"), col("buy_id"),
            unix_micros(col("view_ts")).as("view_us"),
            unix_micros(col("buy_ts")).as("buy_us"))
          .orderBy("user_id", "view_id", "buy_id")
      },
      """SELECT v.user_id, v.event_id AS view_id, p.event_id AS buy_id,
                epoch_us(v.ts) AS view_us, epoch_us(p.ts) AS buy_us
         FROM events v JOIN events p
           ON v.user_id = p.user_id
          AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
         WHERE v.event_type = 'view' AND p.event_type = 'purchase'
         ORDER BY v.user_id, view_id, buy_id"""),

    /** Driver gate for the streaming quality ingest
      * ([[graft.streaming.Streams.ingestQualityFiltered]]): two
      * deterministic micro-batches (even ids, then odd) through the pinned
      * classifier; the corpus must equal the batch-mode accept set exactly —
      * the verdict is a stateless per-row expression, so batch boundaries
      * cannot move it (the invariance the CI test pins on a hand fixture,
      * here hash-gated on the organic corpus).
      */
    GatedQuery("q_s_quality_ingest",
      (s, dir) => {
        import s.implicits._
        val rows = t(s, dir, "documents").select("doc_id", "text")
          .as[(Long, String)].collect().sortBy(_._1)
        val work = java.nio.file.Files.createTempDirectory("quality_ingest").toString
        runTwoBatchStream(s, rows)(_._1) { in =>
          graft.streaming.Streams.ingestQualityFiltered(
            in.toDF("doc_id", "text"), "text", qualityGateWeights,
            s"$work/corpus", s"$work/ckpt")
        }
        s.read.parquet(s"$work/corpus")
          .select(col("doc_id"), col("quality_score_1e6"))
          .orderBy("doc_id")
      },
      // streaming quality ingest == the batch accept set (stateless verdict)
      s"""WITH ${qualityCtesSql("documents")}
          SELECT doc_id, quality_score_1e6 FROM qsc
          WHERE quality_score_1e6 > 0 ORDER BY doc_id"""),

    /** Driver gate for the streaming vector-index maintenance
      * ([[graft.streaming.Streams.ingestVectorIndex]]): seed the index from
      * PINNED centroids (the first 8 embedding rows, data-derived so the
      * oracle recomputes them from the table — k-means training is not
      * bit-deterministic, argmin routing is), stream two deterministic
      * micro-batches (even ids, then odd), and return the final cells store
      * as `(vec_id, cell)`. The oracle replays the whole evolution as one
      * argmin-of-squared-L2 over the union — Spark's `aggregate(zip_with)`
      * fold and DuckDB's `list_sum(list_transform)` both sum strictly
      * left-to-right in doubles, so the distances are bit-identical.
      */
    GatedQuery("q_s_vector_index_ingest",
      (s, dir) => {
        import s.implicits._
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val cents = emb.filter(col("vec_id") < 8)
          .as[(Long, Seq[Float])].collect().sortBy(_._1)
          .map { case (id, v) => (id.toInt, v.map(_.toDouble)) }.toSeq
        val work = java.nio.file.Files.createTempDirectory("vector_index_ingest").toString
        graft.operators.VectorIndex.buildIvfIndexPinned(
          emb.filter(col("vec_id") < 20), s"$work/idx", cents)
        val rows = emb.filter(col("vec_id") >= 20 && col("vec_id") < 100)
          .as[(Long, Seq[Float])].collect().sortBy(_._1)
        runTwoBatchStream(s, rows)(_._1) { in =>
          graft.streaming.Streams.ingestVectorIndex(
            in.toDF("vec_id", "embedding"), s"$work/idx", s"$work/ckpt")
        }
        // the canonical full view: partitioned cells + the un-folded LSM delta
        graft.operators.VectorIndex.readIvfCells(s, s"$work/idx")
          .select(col("id").as("vec_id"), col("cell").cast("int").as("cell"))
          .orderBy("vec_id")
      },
      // streaming vector-index maintenance: the final cells store equals the
      // argmin-of-squared-L2 routing of every indexed vector against the
      // pinned (data-derived, first-8) centroids — distances are summed
      // strictly left-to-right in doubles on both engines, so bit-identical
      """WITH c AS (SELECT CAST(vec_id AS INT) AS cid, embedding AS cv
                    FROM embeddings WHERE vec_id < 8),
         v AS (SELECT vec_id, embedding AS ev FROM embeddings WHERE vec_id < 100),
         s AS (SELECT vec_id, cid,
                 list_sum(list_transform(range(1, len(ev)+1),
                   i -> (CAST(ev[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE))
                      * (CAST(ev[i] AS DOUBLE) - CAST(cv[i] AS DOUBLE)))) AS d
               FROM v, c),
         r AS (SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM s)
         SELECT vec_id, cid AS cell FROM r WHERE rn = 1 ORDER BY vec_id"""),

    /** Driver gate for the COMPOSED streaming ingest
      * ([[graft.streaming.Streams.ingestPretrainCorpus]] — the streaming
      * form of the flagship-v3 tiers): quality gate → DSIR threshold →
      * cross-batch semantic store → cross-batch span store, run over TWO
      * deterministic micro-batches (batch 0 = even doc ids, batch 1 = odd)
      * with planted semantic-twin cliques straddling the batch boundary in
      * both directions (`+100001` flips parity — arrives in the OTHER batch;
      * `+200000` keeps parity — an in-batch pair). The oracle replays the
      * whole two-batch evolution in one DuckDB query: sequential
      * first-seen-wins on an exact-twin clique is min-(batch, id), and the
      * span store's first-occurrence rule is a window ranking ordered by
      * (batch, id, start). The DSIR threshold (−30.0) sits 0.0104 from the
      * nearest document logw at sf0.01 (probed) — ten orders of magnitude
      * above cross-engine ln/summation noise.
      */
    GatedQuery("q_s_pretrain_ingest",
      (s, dir) => {
        import s.implicits._
        val work = java.nio.file.Files.createTempDirectory("pretrain_ingest").toString
        val (fixture, cents) = pretrainFixture(s, dir, work)
        val rows = fixture.as[(Long, String, String, Seq[Float])].collect().sortBy(_._1)
        runTwoBatchStream(s, rows)(_._1) { in =>
          graft.streaming.Streams.ingestPretrainCorpus(
            in.toDF("doc_id", "text", "lang", "embedding"),
            "doc_id", "text", "embedding", qualityGateWeights, cents,
            semThreshold = 0.9, spanK = 16,
            s"$work/corpus", s"$work/sem", s"$work/span", s"$work/ckpt",
            dsirWeightsDir = Some(s"$work/weights"), minLogw = -30.0)
        }
        s.read.parquet(s"$work/corpus")
          .select(col("doc_id"), col("n_kept"), md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      pretrainIngestSql),

    /** The SPEC-FILE twin of `q_s_pretrain_ingest` — the same composed
      * ingest over the same fixture (even ids then odd ids, twin cliques
      * straddling the boundary both ways, the planted gram-less doc), but
      * driven end-to-end through the persisted-job surface:
      * the ingest is serialized to JSON ([[graft.plans.SpecJson.ingestToJson]],
      * pinned models inline), parsed back from the FILE, and run as TWO
      * separate `Trigger.AvailableNow` rounds over a file-drop source
      * directory — each round is a fresh `start()` resuming the previous
      * round's checkpoint, i.e. a REAL restart (strictly stronger than the
      * MemoryStream twin's single long-lived query), exactly what
      * `graft.RunSpec <ingest.json>` does per CLI invocation. The oracle is
      * the identical two-batch DuckDB replay: batch membership is id parity
      * on both paths, so the stores must evolve identically whether the
      * batches arrive over one query or two.
      */
    GatedQuery("q_s_spec_ingest",
      (s, dir) => {
        val work = java.nio.file.Files.createTempDirectory("spec_ingest").toString
        val (fixture, cents) = pretrainFixture(s, dir, work)
        // every location rides a {%work%} placeholder — the parameterized-spec
        // form a user persists once and points at any environment
        val spec = PretrainIngestSpec(
          StreamSourceSpec("parquet", "{%work%}/drop"),
          "doc_id", "text", "embedding", qualityGateWeights, cents,
          semThreshold = 0.9, spanK = 16,
          corpusDir = "{%work%}/corpus", semStoreDir = "{%work%}/sem",
          spanStoreDir = "{%work%}/span", checkpointDir = "{%work%}/ckpt",
          dsirWeightsDir = Some("{%work%}/weights"), minLogw = -30.0)
        runTwoRoundIngest(s, work, fixture, "doc_id", spec)
        s.read.parquet(s"$work/corpus")
          .select(col("doc_id"), col("n_kept"), md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      pretrainIngestSql),

    /** Driver gate for the standalone IMPORTANCE ingest kind
      * ([[graft.streaming.Streams.ingestImportanceFiltered]] through its
      * [[graft.plans.ImportanceIngestSpec]] JSON): DSIR rate-threshold
      * filtering is batch-boundary-invariant by construction, so the
      * two-round corpus must equal the batch-mode `dsir_logw >= -30.0`
      * accept set. The threshold's margin to the nearest ORGANIC score on
      * the full population is 0.0104 (tools/IngestGateProbe — the
      * pretrain gate's probe covered only quality-accepted docs), ten
      * orders of magnitude above cross-engine ln/summation noise. A
      * planted whitespace-only doc (odd id, gram-less) pins the policy:
      * no score row, never appended.
      */
    GatedQuery("q_s_importance_ingest",
      (s, dir) => {
        import s.implicits._
        val base = t(s, dir, "documents").select("doc_id", "text", "lang")
        val all = base.select("doc_id", "text")
          .unionByName(Seq((999999L, "   ")).toDF("doc_id", "text"))
        val work = java.nio.file.Files.createTempDirectory("imp_ingest").toString
        pinnedDsirWeights(s, base, s"$work/weights")
        val spec = ImportanceIngestSpec(
          StreamSourceSpec("parquet", "{%work%}/drop"), "doc_id", "text",
          "{%work%}/weights", minLogw = -30.0,
          corpusDir = "{%work%}/corpus", checkpointDir = "{%work%}/ckpt")
        runTwoRoundIngest(s, work, all, "doc_id", spec)
        s.read.parquet(s"$work/corpus")
          .select(col("doc_id"), md5(col("text")).as("text_md5"))
          .orderBy("doc_id")
      },
      // standalone importance ingest: rate-threshold DSIR is batch-invariant,
      // so the two-round corpus == the batch accept set at logw >= -30.0
      // (model: en-slice target vs whole-corpus background, hexLen 4). The
      // planted whitespace-only doc 999999 has no grams -> no score row ->
      // never appended (the pinned gram-less policy).
      s"""WITH dd AS MATERIALIZED (SELECT doc_id, text, lang FROM documents),
          da AS MATERIALIZED (SELECT doc_id, text FROM dd
                              UNION ALL VALUES (999999, '   ')),
          ${dsirLogwCtes(s"(SELECT lang, $toksSql AS toks FROM dd)",
                         s"(SELECT doc_id, $toksSql AS toks FROM da)")}
          SELECT da.doc_id, md5(da.text) AS text_md5
          FROM da JOIN docw USING (doc_id)
          WHERE logw >= -30.0 ORDER BY doc_id"""),

    /** Driver gate for the standalone MINHASH-dedup ingest kind
      * ([[graft.streaming.Streams.ingestDedup]] through its
      * [[graft.plans.MinhashIngestSpec]] JSON): two rounds with planted
      * parity-straddling exact twins, replayed in DuckDB as the exact
      * char-5-gram Jaccard two-stage evolution — stage A elects min-id per
      * within-even component, stage B drops odds matching a STORED (kept
      * even) doc then elects among the odd survivors. Exact-J replay of
      * the minhash estimator is valid at threshold 0.5 because the fixture
      * has no pair with exact J in (0.15, 0.98) (tools/IngestGateProbe:
      * organic near-dups all sit >= 0.98, twins at 1.0) — the 128-hash
      * estimator cannot flip a verdict across that gap.
      */
    GatedQuery("q_s_minhash_ingest",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text", "lang")
        val all = parityTwins(docs, "doc_id") { (id, d) =>
          d.select(id.as("doc_id"), col("text"), col("lang")) }
        val work = java.nio.file.Files.createTempDirectory("minhash_ingest").toString
        val spec = MinhashIngestSpec(
          StreamSourceSpec("parquet", "{%work%}/drop"), "doc_id", "text",
          threshold = 0.5, corpusDir = "{%work%}/corpus",
          storeDir = "{%work%}/store", checkpointDir = "{%work%}/ckpt")
        runTwoRoundIngest(s, work, all, "doc_id", spec)
        s.read.parquet(s"$work/corpus")
          .select(col("doc_id"), col("lang")).orderBy("doc_id")
      },
      // standalone minhash ingest: exact char-5-gram Jaccard replay of the
      // two-round store evolution (estimator-safe: no fixture pair has exact
      // J in (0.15, 0.98)). Stage A: within-even CC, keep min id; store =
      // kept evens. Stage B: drop odds pairing with a STORED doc, then CC
      // among the odd survivors (the store-survivor election rule).
      """WITH RECURSIVE
         d0 AS (SELECT doc_id, text, lang FROM documents),
         tA AS (SELECT doc_id + 100001 AS doc_id, text, lang FROM d0 WHERE doc_id < 32),
         tB AS (SELECT doc_id + 200000 AS doc_id, text, lang FROM d0 WHERE doc_id < 16),
         dl AS MATERIALIZED (SELECT * FROM d0 UNION ALL SELECT * FROM tA
                             UNION ALL SELECT * FROM tB),
         g AS MATERIALIZED (SELECT doc_id, doc_id % 2 AS bt,
                list_distinct(list_transform(range(1, greatest(len(text) - 3, 1)),
                  i -> substr(text, i, 5))) AS sh FROM dl),
         p AS MATERIALIZED (
           SELECT a.doc_id AS id_a, a.bt AS bt_a, b.doc_id AS id_b, b.bt AS bt_b
           FROM g a JOIN g b ON a.doc_id < b.doc_id
           WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
         undA AS MATERIALIZED (
           SELECT id_a AS a, id_b AS b FROM p WHERE bt_a = 0 AND bt_b = 0
           UNION SELECT id_b, id_a FROM p WHERE bt_a = 0 AND bt_b = 0),
         reachA(a, b) AS (SELECT a, b FROM undA
                          UNION SELECT r.a, u.b FROM reachA r JOIN undA u ON r.b = u.a),
         clA AS MATERIALIZED (SELECT a AS id, least(a, min(b)) AS cl
                              FROM reachA GROUP BY a),
         kept0 AS MATERIALIZED (SELECT doc_id FROM dl WHERE doc_id % 2 = 0
                  AND doc_id NOT IN (SELECT id FROM clA WHERE id <> cl)),
         vs1 AS MATERIALIZED (
           SELECT id_b AS id FROM p JOIN kept0 k ON p.id_a = k.doc_id WHERE bt_b = 1
           UNION
           SELECT id_a FROM p JOIN kept0 k ON p.id_b = k.doc_id WHERE bt_a = 1),
         po AS (SELECT id_a, id_b FROM p WHERE bt_a = 1 AND bt_b = 1
                AND id_a NOT IN (SELECT id FROM vs1)
                AND id_b NOT IN (SELECT id FROM vs1)),
         undB AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM po
                               UNION SELECT id_b, id_a FROM po),
         reachB(a, b) AS (SELECT a, b FROM undB
                          UNION SELECT r.a, u.b FROM reachB r JOIN undB u ON r.b = u.a),
         clB AS MATERIALIZED (SELECT a AS id, least(a, min(b)) AS cl
                              FROM reachB GROUP BY a),
         kept1 AS (SELECT doc_id FROM dl WHERE doc_id % 2 = 1
                   AND doc_id NOT IN (SELECT id FROM vs1)
                   AND doc_id NOT IN (SELECT id FROM clB WHERE id <> cl))
         SELECT doc_id, lang FROM dl
         WHERE doc_id IN (SELECT doc_id FROM kept0 UNION SELECT doc_id FROM kept1)
         ORDER BY doc_id"""),

    /** Driver gate for the standalone SPAN-dedup ingest kind
      * ([[graft.streaming.Streams.ingestSpanDedup]] through its
      * [[graft.plans.SpanIngestSpec]] JSON): the two-round window-store
      * evolution replays as ONE global ranking — a window survives iff it
      * is rank 1 per fingerprint ordered by (batch, id, start), the same
      * equivalence the composed pretrain gate established. Planted exact
      * twins rebuild to EMPTY documents, which this standalone ingest
      * still appends (`n_kept = 0`, auditable corpus) — the policy that
      * differs from the composed ingest's `n_kept > 0` filter, pinned
      * here by the twins' empty-md5 rows.
      */
    GatedQuery("q_s_span_ingest",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val all = parityTwins(docs, "doc_id") { (id, d) =>
          d.select(id.as("doc_id"), col("text")) }
        val work = java.nio.file.Files.createTempDirectory("span_ingest").toString
        val spec = SpanIngestSpec(
          StreamSourceSpec("parquet", "{%work%}/drop"), "doc_id", "text",
          k = 16, corpusDir = "{%work%}/corpus",
          storeDir = "{%work%}/store", checkpointDir = "{%work%}/ckpt")
        runTwoRoundIngest(s, work, all, "doc_id", spec)
        s.read.parquet(s"$work/corpus")
          .select(col("id").as("doc_id"), col("n_toks"), col("n_kept"),
            md5(col("text_out")).as("text_md5"))
          .orderBy("doc_id")
      },
      // standalone span ingest: the two-round store evolution == ONE global
      // first-occurrence ranking per window fingerprint ordered by
      // (batch, id, start) — the equivalence the pretrain gate established.
      // NO n_kept>0 filter: emptied rebuilds (the planted twins) append.
      s"""WITH d0 AS (SELECT doc_id, text FROM documents),
          tA AS (SELECT doc_id + 100001 AS doc_id, text FROM d0 WHERE doc_id < 32),
          tB AS (SELECT doc_id + 200000 AS doc_id, text FROM d0 WHERE doc_id < 16),
          dl AS MATERIALIZED (SELECT * FROM d0 UNION ALL SELECT * FROM tA
                              UNION ALL SELECT * FROM tB),
          kd AS MATERIALIZED (SELECT doc_id, doc_id % 2 AS bt, $toksSql AS toks FROM dl),
          so AS MATERIALIZED (SELECT doc_id, bt, s AS start,
                  md5(array_to_string(list_slice(toks, s + 1, s + 16), ' ')) AS fp
                FROM kd, UNNEST(range(0, greatest(len(toks), 1), 16)) AS u(s)
                WHERE len(list_slice(toks, s + 1, s + 16)) > 0),
          sr AS (SELECT *, row_number() OVER (PARTITION BY fp
                   ORDER BY bt, doc_id, start) AS rn FROM so),
          sd AS (SELECT doc_id, list(start) AS ds FROM sr WHERE rn > 1 GROUP BY 1),
          rb AS (SELECT kd.doc_id, len(toks) AS n_toks,
                   flatten(list_transform(
                     list_filter(range(0, greatest(len(toks), 1), 16),
                       s -> NOT list_contains(coalesce(ds, []), s)),
                     s -> list_slice(toks, s + 1, s + 16))) AS ktoks
                 FROM kd LEFT JOIN sd USING (doc_id))
          SELECT doc_id, CAST(n_toks AS BIGINT) AS n_toks,
                 CAST(len(ktoks) AS BIGINT) AS n_kept,
                 -- array_to_string of an EMPTY list is NULL in DuckDB but
                 -- '' under Spark's concat_ws — the emptied-rebuild rows
                 -- this gate exists to pin
                 md5(coalesce(array_to_string(ktoks, ' '), '')) AS text_md5
          FROM rb ORDER BY doc_id"""),

    /** Driver gate for the standalone SEMANTIC-dedup ingest kind
      * ([[graft.streaming.Streams.ingestSemanticDedup]] through its
      * [[graft.plans.SemanticIngestSpec]] JSON): power-of-two-scaled twins
      * share their original's cosine BITWISE (scaling by 2^k is exact in
      * float arithmetic and commutes with the sum's rounding), so every
      * clique assigns to one cluster and pairs at exactly 1.0, while the
      * max ORGANIC within-cluster cosine is 0.493 (tools/IngestGateProbe)
      * — no organic pair can reach the 0.9 threshold, and the kept set is
      * pure clique arithmetic: min-(batch, id) per clique. The gate reads
      * the STORE (assigned survivors), verifying the argmax cluster
      * routing and the first-seen-wins evolution in one output.
      */
    GatedQuery("q_s_semantic_ingest",
      (s, dir) => {
        val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
        val all = parityTwins(emb, "vec_id") { (id, d) =>
          val scale = when(id >= 200000L, lit(4.0f)).otherwise(lit(2.0f))
          d.select(id.as("vec_id"),
            transform(col("embedding"), x => x * scale).as("embedding")) }
        val cents = Dedup.firstKCentroids(emb, "vec_id", "embedding", 8)
        val work = java.nio.file.Files.createTempDirectory("sem_ingest").toString
        val spec = SemanticIngestSpec(
          StreamSourceSpec("parquet", "{%work%}/drop"), "vec_id", "embedding",
          cents, threshold = 0.9, corpusDir = "{%work%}/corpus",
          storeDir = "{%work%}/store", checkpointDir = "{%work%}/ckpt")
        runTwoRoundIngest(s, work, all, "vec_id", spec)
        s.read.parquet(s"$work/store")
          .select(col("id").as("vec_id"), col("cluster")).orderBy("vec_id")
      },
      // standalone semantic ingest: argmax-cluster routing (bitwise — the
      // power-of-two twin scales are exact in float arithmetic) + pure
      // clique arithmetic for the kept set (organic within-cluster cosine
      // tops out at 0.493, far under the 0.9 threshold): keep the
      // min-(batch, id) member of each planted clique.
      s"""WITH e0 AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
          tA AS (SELECT vec_id + 100001 AS vec_id,
                   list_transform(embedding, x -> CAST(x*2 AS FLOAT)) AS embedding
                 FROM e0 WHERE vec_id < 32),
          tB AS (SELECT vec_id + 200000 AS vec_id,
                   list_transform(embedding, x -> CAST(x*4 AS FLOAT)) AS embedding
                 FROM e0 WHERE vec_id < 16),
          v AS MATERIALIZED (SELECT * FROM e0 UNION ALL SELECT * FROM tA
                             UNION ALL SELECT * FROM tB),
          c AS (SELECT CAST(vec_id AS INT) AS cid, embedding AS cv
                FROM e0 WHERE vec_id < 8),
          sasg AS MATERIALIZED (SELECT v.vec_id, cid,
                   ${cosSql("v.embedding", "cv")} AS cs FROM v, c),
          rasg AS (SELECT vec_id, cid,
                     row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
                   FROM sasg),
          asg AS MATERIALIZED (SELECT vec_id, cid AS cluster FROM rasg WHERE rn = 1),
          grp AS (SELECT vec_id, cluster,
                    CASE WHEN vec_id >= 200000 THEN vec_id - 200000
                         WHEN vec_id >= 100001 THEN vec_id - 100001
                         ELSE vec_id END AS base,
                    vec_id % 2 AS bt
                  FROM asg),
          r AS (SELECT vec_id, cluster,
                  row_number() OVER (PARTITION BY base ORDER BY bt, vec_id) AS rn
                FROM grp)
          SELECT vec_id, cluster FROM r WHERE rn = 1 ORDER BY vec_id"""))

  /** Pinned run-once DSIR gram model shared by the ingest gates and
    * tools/IngestGateProbe (the probe that justifies their threshold
    * margins): target = the corpus's `lang = 'en'` slice, background =
    * the whole corpus, counts collected from ONE conditional-aggregation
    * scan and written as the `weightsDir` parquet asset the specs
    * reference. One definition, so a recipe change (alpha, hexLen,
    * target predicate) cannot diverge between a gate and the probe.
    */
  private[graft] def pinnedDsirWeights(s: SparkSession, docs: DataFrame,
                                       outDir: String): Unit = {
    val joint = CorpusStats.hashedGramCountsSplit(docs, "text", col("lang") === "en")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    CorpusStats.importanceWeightsJoint(
        s.createDataFrame(joint).toDF("bucket", "cnt_target", "cnt_background"))
      .write.mode("overwrite").parquet(outDir)
  }

  /** The two-batch replay of the composed ingest, shared by the
    * MemoryStream and spec-file gates: quality gate → DSIR threshold
    * (model = en slice of the raw corpus) → semantic clique election by
    * min-(batch, id) → span first-occurrence by (batch, id, start).
    */
  private val pretrainIngestSql =
    s"""WITH RECURSIVE
          pd0 AS MATERIALIZED (SELECT doc_id, text, lang FROM documents),
          pe0 AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
          pj AS MATERIALIZED (SELECT d.doc_id, d.text, d.lang
                FROM pd0 d JOIN pe0 e ON d.doc_id = e.vec_id),
          ptA AS (SELECT doc_id + 100001 AS doc_id, text, lang FROM pj WHERE doc_id < 32),
          ptB AS (SELECT doc_id + 200000 AS doc_id, text, lang FROM pj WHERE doc_id < 16),
          pall AS MATERIALIZED (SELECT * FROM pj UNION ALL SELECT * FROM ptA
                                UNION ALL SELECT * FROM ptB
                                UNION ALL VALUES (999999, '', 'und')),
          ${qualityCtesSql("pall")},
          qp AS MATERIALIZED (SELECT p.* FROM pall p JOIN qsc USING (doc_id)
                WHERE quality_score_1e6 > 0),
          ${dsirLogwCtes(s"(SELECT lang, $toksSql AS toks FROM pd0)",
                         s"(SELECT doc_id, $toksSql AS toks FROM qp)")},
          dp AS MATERIALIZED (SELECT qp.* FROM qp JOIN docw USING (doc_id)
                WHERE logw >= -30.0),
          pvA AS (SELECT vec_id + 100001 AS vec_id,
                    list_transform(embedding, x -> CAST(x*2 AS FLOAT)) AS embedding
                  FROM pe0 WHERE vec_id < 32),
          pvB AS (SELECT vec_id + 200000 AS vec_id,
                    list_transform(embedding, x -> CAST(x*4 AS FLOAT)) AS embedding
                  FROM pe0 WHERE vec_id < 16),
          pvv AS MATERIALIZED (SELECT * FROM pe0 UNION ALL SELECT * FROM pvA
                               UNION ALL SELECT * FROM pvB),
          dv AS MATERIALIZED (SELECT v.* FROM pvv v JOIN dp ON v.vec_id = dp.doc_id),
          pcents AS MATERIALIZED (SELECT vec_id AS cid, embedding AS cv
                    FROM pe0 WHERE vec_id < 8),
          sasg AS MATERIALIZED (SELECT v.vec_id, cid, ${cosSql("v.embedding", "cv")} AS cs
                   FROM dv v, pcents),
          rasg AS (SELECT vec_id, cid, cs,
                     row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
                   FROM sasg),
          av AS MATERIALIZED (SELECT r.vec_id, r.cid AS cluster, v.embedding
                FROM rasg r JOIN dv v USING (vec_id) WHERE rn = 1),
          csz AS (SELECT cluster, count(*) AS n FROM av GROUP BY 1),
          avb AS MATERIALIZED (SELECT av.* FROM av JOIN csz USING (cluster)
                 WHERE n BETWEEN 2 AND 10000),
          sp2 AS MATERIALIZED (SELECT x.vec_id AS a, y.vec_id AS b
                  FROM avb x JOIN avb y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
                  WHERE ${cosSql("x.embedding", "y.embedding")} >= 0.9),
          und AS MATERIALIZED (SELECT a, b FROM sp2 UNION SELECT b, a FROM sp2),
          reach(a, b) AS (SELECT a, b FROM und
                          UNION SELECT r.a, u.b FROM reach r JOIN und u ON r.b = u.a),
          comp AS MATERIALIZED (SELECT a AS id, least(a, min(b)) AS grp FROM reach GROUP BY a),
          keepv AS (SELECT grp, id AS keep_id FROM (
                      SELECT grp, id, row_number() OVER (PARTITION BY grp
                        ORDER BY id % 2, id) AS rn FROM comp)
                    WHERE rn = 1),
          losers AS MATERIALIZED (SELECT comp.id FROM comp JOIN keepv USING (grp)
                    WHERE comp.id <> keep_id),
          sk AS MATERIALIZED (SELECT dp.* FROM dp
                WHERE doc_id NOT IN (SELECT id FROM losers)),
          kd2 AS MATERIALIZED (SELECT doc_id, doc_id % 2 AS bt, $toksSql AS toks FROM sk),
          so2 AS MATERIALIZED (SELECT doc_id, bt, s AS start,
                   md5(array_to_string(list_slice(toks, s + 1, s + 16), ' ')) AS fp
                 FROM kd2, UNNEST(range(0, greatest(len(toks), 1), 16)) AS u(s)
                 WHERE len(list_slice(toks, s + 1, s + 16)) > 0),
          sr2 AS (SELECT *, row_number() OVER (PARTITION BY fp
                    ORDER BY bt, doc_id, start) AS rn FROM so2),
          sd2 AS (SELECT doc_id, list(start) AS ds FROM sr2 WHERE rn > 1 GROUP BY 1),
          rb2 AS (SELECT kd2.doc_id,
                    flatten(list_transform(
                      list_filter(range(0, greatest(len(toks), 1), 16),
                        s -> NOT list_contains(coalesce(ds, []), s)),
                      s -> list_slice(toks, s + 1, s + 16))) AS ktoks
                  FROM kd2 LEFT JOIN sd2 USING (doc_id))
          SELECT doc_id, CAST(len(ktoks) AS BIGINT) AS n_kept,
                 md5(array_to_string(ktoks, ' ')) AS text_md5
          FROM rb2 WHERE len(ktoks) > 0 ORDER BY doc_id"""

  /** The composed-ingest fixture shared by `q_s_pretrain_ingest` and
    * `q_s_spec_ingest`: documents joined to their embeddings, planted
    * [[parityTwins]] cliques (text copied, vector scaled by 2 or 4 — exact
    * in float arithmetic, so cosine is bitwise 1) and one gram-less
    * document. Also writes the pinned run-once DSIR gram weights (target =
    * the corpus's en slice, one conditional-aggregation scan) to
    * `$work/weights`. Returns the rows and the firstK centroids.
    */
  private def pretrainFixture(s: SparkSession, dir: String, work: String)
      : (DataFrame, Seq[(Int, Seq[Float])]) = {
    import s.implicits._
    val base = t(s, dir, "documents").select("doc_id", "text", "lang")
    val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
    val joined = base.join(emb, base("doc_id") === emb("vec_id"))
      .select(col("doc_id"), col("text"), col("lang"), col("embedding"))
    val twins = parityTwins(joined, "doc_id") { (id, d) =>
      val scale = when(id >= 200000L, lit(4.0f)).otherwise(lit(2.0f))
      d.select(id.as("doc_id"), col("text"), col("lang"),
        transform(col("embedding"), x => x * scale).as("embedding")) }
    // planted sub-gram-width document: empty text → zero tokens → zero
    // grams. Policy pinned by the gate: it falls at the QUALITY tier
    // (bias-only score < 0 under the pinned weights) and must appear in no
    // store and no corpus row — and had it passed quality, the DSIR tier's
    // occurrence join gives gram-less docs no verdict row at all ("weight
    // −∞, never selected"; the explicit form of the r12 implicit drop)
    val planted = Seq((999999L, "", "und", Seq.fill(64)(0f).toSeq))
      .toDF("doc_id", "text", "lang", "embedding")
    pinnedDsirWeights(s, base, s"$work/weights")
    (twins.unionByName(planted), Dedup.firstKCentroids(emb, "vec_id", "embedding", 8))
  }

  /** Shared two-batch MemoryStream driver for the gates that hand an
    * ingest operator a streaming DataFrame: `start` builds the query over
    * the stream, then batch 0 (even `id`) and batch 1 (odd `id`) are each
    * added and fully processed before the query stops. The driver-side row
    * staging is the bounded gate HARNESS (MemoryStream needs local rows),
    * not an operator pattern — production streams feed the same ingests
    * from Kafka/file sources with no driver materialization.
    */
  private def runTwoBatchStream[T: Encoder](s: SparkSession, rows: Seq[T])(id: T => Long)(
      start: DataFrame => StreamingQuery): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val in = MemoryStream[T]
    val q = start(in.toDF())
    try {
      in.addData(rows.filter(id(_) % 2 == 0): _*)
      q.processAllAvailable()
      in.addData(rows.filter(id(_) % 2 == 1): _*)
      q.processAllAvailable()
    } finally q.stop()
  }

  /** Shared two-round harness for the per-kind ingest gates: persist
    * `spec` as a JSON file and parse it BACK (so the gate exercises the
    * exact bytes a user would check in), then drive two
    * `Trigger.AvailableNow` rounds from the same checkpoint — round 1
    * drains the even-`idCol` slice of `rows`, round 2 the odd slice. The
    * spec's paths must ride `{%work%}` placeholders; this resolves them
    * to the returned scratch dir. File source + real restarts: the
    * closest driver-gate form of the production "cron a RunSpec round"
    * deployment (reference `jobs/hi-order/job-pipeline.js:86-106`).
    */
  private def runTwoRoundIngest(s: SparkSession, work: String, rows: DataFrame,
                                idCol: String, spec: IngestSpec): Unit = {
    val specFile = java.nio.file.Paths.get(s"$work/ingest.json")
    java.nio.file.Files.write(specFile,
      SpecJson.ingestToJson(spec).getBytes("UTF-8"))
    val loaded = SpecJson.ingestFromJson(
      new String(java.nio.file.Files.readAllBytes(specFile), "UTF-8"))
    val params = Map("work" -> work)
    rows.filter(col(idCol) % 2 === 0).write.mode("overwrite").parquet(s"$work/drop")
    IngestCompiler.runAvailable(s, loaded, params)
    rows.filter(col(idCol) % 2 === 1).write.mode("append").parquet(s"$work/drop")
    IngestCompiler.runAvailable(s, loaded, params)
  }

  /** Planted parity-straddling exact twins over `df`: `+100001` flips the
    * id's parity (the copy arrives in the OTHER two-round batch),
    * `+200000` keeps it (an in-batch pair). `mk` builds each twin row
    * from (shifted id, original row) — text gates copy the text verbatim
    * (Jaccard exactly 1), vector gates scale by a power of two (cosine
    * bitwise 1). Every multi-member clique therefore has a batch-0
    * member, and the survivor under first-seen-wins is the clique's
    * min-(batch, id) — the SQL-rankable rule the oracles replay.
    */
  private def parityTwins(df: DataFrame, idCol: String)(
      mk: (Column, DataFrame) => DataFrame): DataFrame = {
    val a = mk(col(idCol) + 100001L, df.filter(col(idCol) < 32))
    val b = mk(col(idCol) + 200000L, df.filter(col(idCol) < 16))
    df.unionByName(a).unionByName(b)
  }
}
