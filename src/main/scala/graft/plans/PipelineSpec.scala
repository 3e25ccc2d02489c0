package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declarative pipeline specs — the engine's equivalent of the reference's
  * persisted Job documents and Pipeline chains
  * (`/root/reference/jobs/job.js:21-39`,
  * `/root/reference/jobs/hi-order/job-pipeline.js:16-20`).
  *
  * A `PipelineSpec` is a DAG of named nodes; each node is one `OpSpec` (the
  * sealed-trait analogue of the reference's `type` discriminator). Row logic
  * is SQL expression strings compiled by Catalyst — never an embedded
  * interpreter (the reference `vm`-evals user JS,
  * `/root/reference/jobs/job.js:124-150`; we deliberately replace that with
  * expressions so the optimizer can see through every op).
  *
  * Parameters: `{%name%}` placeholders inside expression/path strings are
  * substituted at compile time from the run's arg map — the reference's
  * template mechanism (`/root/reference/utils.js:145-172`).
  *
  * Compilation builds ONE DataFrame chain per sink, so Catalyst optimizes the
  * whole pipeline globally — filters written late in a spec still push down
  * to the scan, which the reference could never do (SURVEY §4).
  */
sealed trait OpSpec

/** Sources. `format`: parquet|json|ndjson|csv|xml. */
case class SourceSpec(format: String, path: String,
                      options: Map[String, String] = Map.empty,
                      rootNode: String = "") extends OpSpec
/** Reference a previously-defined node by name (sub-pipeline / side input). */
case class RefSpec(name: String) extends OpSpec
/** C1: SQL predicate. */
case class FilterSpec(input: OpSpec, predicate: String) extends OpSpec
/** C2: projections as (outputName, sqlExpr). */
case class MapSpec(input: OpSpec, projections: Seq[(String, String)]) extends OpSpec
/** Add/replace single columns, keep the rest. */
case class WithColumnsSpec(input: OpSpec, columns: Seq[(String, String)]) extends OpSpec
/** C3 (stateless): explode arrayExpr into `as`. */
case class ExplodeSpec(input: OpSpec, arrayExpr: String, as: String) extends OpSpec
/** C4: groupBy + aggregate, both as SQL exprs (aggs are (name, expr)). */
case class AggSpec(input: OpSpec, keys: Seq[String], aggs: Seq[(String, String)]) extends OpSpec
/** C5: ORDER BY exprs ("col desc" supported). */
case class SortSpec(input: OpSpec, keys: Seq[String]) extends OpSpec
/** Window/analytic function: adds column `as` =
  * `function OVER (PARTITION BY partitionBy ORDER BY orderBy frame)`.
  * `function` is any SQL window-function call (`row_number()`, `rank()`,
  * `ntile(4)`, `sum(x)`, `lag(x, 1)` …); `orderBy` entries take the same
  * `"expr desc"` suffix as [[SortSpec]] (SQL ORDER BY syntax); `frame` is
  * a verbatim SQL frame clause (`"rows between unbounded preceding and
  * current row"`) or empty for the function's default frame. Top-N per
  * key — the reference's persisted-job persona's most common analytic ask
  * (`jobs/hi-order/job-pipeline.js:86-106` is the authoring UX) — is this
  * node plus a `FilterSpec` on the rank column. At scale the partition
  * keys shuffle once and each partition sorts locally — prefer an
  * [[AggSpec]] when a plain grouped aggregate answers the question (no
  * per-row output to carry).
  */
case class WindowNodeSpec(input: OpSpec, function: String, as: String,
                          partitionBy: Seq[String] = Nil,
                          orderBy: Seq[String] = Nil,
                          frame: String = "") extends OpSpec
/** C6: distinct by key; keep-first under `order` when given. */
case class DistinctSpec(input: OpSpec, keys: Seq[String], order: Seq[String] = Nil) extends OpSpec
/** Limit (the reference's spy-driven early stop, `jobs/job.js:202-210`). */
case class LimitSpec(input: OpSpec, n: Int) extends OpSpec
/** H1: enrich join on an equality key pair. `broadcastVocab = true` means
  * AUTO: the vocab is broadcast-hinted only when its estimated size is under
  * the session broadcast threshold (see [[graft.operators.Joins.maybeBroadcast]]);
  * an oversized vocab falls back to Catalyst/AQE strategy choice instead of
  * a forced broadcast that would OOM executors at scale.
  */
case class JoinSpec(input: OpSpec, vocab: OpSpec, leftKey: String, rightKey: String,
                    joinType: String = "left", broadcastVocab: Boolean = true) extends OpSpec
/** H2 (relational): attach matching detail rows as an array column.
  * `detailCols` projects the carried struct (empty = all detail columns —
  * the reference's full-row semantics; at scale list what the consumer
  * reads, see [[graft.operators.Joins.joinDetail]]).
  */
case class JoinDetailSpec(master: OpSpec, detail: OpSpec,
                          masterKey: String, detailKey: String,
                          as: String = "details",
                          detailCols: Seq[String] = Nil) extends OpSpec
/** Union of branches (reference: folder concat / injected rows). */
case class UnionSpec(inputs: Seq[OpSpec]) extends OpSpec

// --- LLM-pipeline nodes (beyond-reference surface, SURVEY §2.8): the
// pretraining prep operators as declarable DAG nodes, so a whole
// clean→dedup→split→mix→pack flow persists as one spec document. ---------

/** Corpus dedup: `mode = "exact"` (fingerprint keep-first) or `"near"`
  * (minhash/LSH pairs → connected components → keep-min, threshold =
  * exact-Jaccard floor). See [[graft.operators.Dedup]].
  */
case class DedupNodeSpec(input: OpSpec, idCol: String, textCol: String,
                         mode: String = "near", threshold: Double = 0.8) extends OpSpec
/** Span-level exact-substring dedup ([[graft.operators.Dedup.dropRepeatedSpans]]):
  * rewrites `textCol` to the surviving k-token window stream (duplicated
  * window contents keep only their globally-first occurrence), preserving
  * every other column. Documents whose text dedups away entirely stay in
  * the corpus with empty text — chain a `FilterSpec` to drop them. Like
  * [[DecontamNodeSpec]], the node reads its input several times, so the
  * compiler materializes a wide input once (`PipelineCompiler`'s
  * multi-read barrier).
  */
case class SpanDedupNodeSpec(input: OpSpec, idCol: String, textCol: String,
                             k: Int = 16) extends OpSpec
/** Cluster-scoped semantic dedup over an embedding column (SemDeDup,
  * [[graft.operators.Dedup.semanticDrop]]): coarse centroids are built at
  * compile time on the input (a run-once model, like [[LayoutNodeSpec]]'s
  * eager write), then every semantic near-dup except the member farthest
  * from its centroid is dropped. `k` is the cell-size dial: pick it so
  * clusters stay in the 10²–10⁴ range the within-cluster exact-cosine pass
  * tolerates. `centroids` picks the model: `"kmeans"` (default —
  * [[graft.operators.Dedup.trainSemanticCentroids]], deterministic seed +
  * capped sample) or `"firstK"` ([[graft.operators.Dedup.firstKCentroids]]
  * — the k lowest-id vectors verbatim, fully replayable on any engine; the
  * oracle-portable choice for cross-engine-audited pipelines).
  *
  * `modelDir` (optional) persists the trained centroid model: the FIRST
  * compile trains and writes `$modelDir/centroids`; later compiles load it
  * and skip the training scan entirely — the run-once-model discipline the
  * ingest specs already follow, brought to batch (a 1M-doc spec spent
  * ~97 s per invocation rebuilding identical compile-time models,
  * SCALING.md r14 stage attribution). Delete the directory to retrain.
  */
case class SemanticDedupNodeSpec(input: OpSpec, idCol: String, vecCol: String,
                                 k: Int = 256, threshold: Double = 0.95,
                                 maxClusterSize: Int = 10000,
                                 centroids: String = "kmeans",
                                 modelDir: String = "") extends OpSpec
/** Deterministic split column over md5(id) (train/val/test). */
case class SplitNodeSpec(input: OpSpec, idCol: String,
                         splits: Seq[(String, Double)]) extends OpSpec
/** Weighted training-mix up/down-sampling per stratum (adds `rep`). */
case class MixNodeSpec(input: OpSpec, idCol: String, stratumCol: String,
                       weights: Map[String, Double],
                       defaultWeight: Double = 1.0) extends OpSpec
/** DSIR importance resampling ([[graft.operators.Sampling.importanceResample]]):
  * keep the `k` rows of `input` drawn without replacement ∝ exp(importance
  * weight) toward the `target` node's gram distribution. Like
  * [[SemanticDedupNodeSpec]]'s centroid training, the hashed-ngram count
  * models are built EAGERLY at compile time (bounded hash aggs,
  * ≤ 16^hexLen rows each, collected like the k-means centroids — a
  * run-once model, reused by the lazily-compiled selection plan); when
  * `target` is a `FilterSpec` over the same `input` node, both counts come
  * from ONE conditional-aggregation corpus scan. Both corpora must expose
  * `textCol`.
  *
  * `modelDir` (optional) persists the finished `(bucket, logw)` weight
  * relation: the FIRST compile builds the gram models (the corpus scans)
  * and writes `$modelDir/dsir_weights`; later compiles read it back and
  * skip both scans — same discipline as [[SemanticDedupNodeSpec]]'s
  * `modelDir`. Parquet round-trips the double weights exactly, so a
  * loaded-model run is hash-identical to the training run.
  */
case class DsirNodeSpec(input: OpSpec, target: OpSpec, idCol: String,
                        textCol: String, k: Int, hexLen: Int = 4,
                        alpha: Double = 0.5, salt: String = "dsir",
                        modelDir: String = "") extends OpSpec
/** Pinned-weight quality scoring ([[graft.operators.QualityModel.score]]):
  * adds the scaled-integer linear score and accept columns. The weights
  * ride IN the spec JSON — a pinned model asset like the BPE merge list
  * (train offline with `QualityModel.trainVsCorrupted`); chain a
  * `FilterSpec` on the accept column to drop rejects.
  */
case class QualityScoreNodeSpec(input: OpSpec, textCol: String,
                                weights: Seq[Double]) extends OpSpec
/** Drop rows sharing ≥ minHits word n-grams with the bench node.
  * `hashKeys = true` joins on 64-bit gram hashes instead of the gram
  * strings — the corpus-scale form (the join shuffle carries 8 B/gram
  * instead of the text; xxhash64 collisions can only ADD a hit, and a
  * doc one accidental gram away from `minHits` was contaminated-adjacent
  * anyway). Default false: exact grams, byte-replayable oracles.
  *
  * `warnBelow` (0 = off) is the corpus-calibration guardrail: a decontam
  * whose `n`/`minHits` are too aggressive for a dense corpus silently
  * hollows it out (the composed-1M stress saw `n=3, minHits=1` keep 876
  * of 5 000 base docs — as specified, but surprising; SCALING.md r14).
  * When set, compiling the node becomes EAGER for the hit set only (the
  * hit ids are computed once, checkpointed, and REUSED by the selection
  * anti-join — no second pass): the node prints its survivor rate and
  * WARNS loudly when it falls below the floor. Opt-in, because an eager
  * count at compile time is a deliberate calibration run, not the lazy
  * default.
  */
case class DecontamNodeSpec(input: OpSpec, bench: OpSpec, idCol: String,
                            textCol: String, n: Int = 8, minHits: Int = 1,
                            hashKeys: Boolean = false,
                            warnBelow: Double = 0.0) extends OpSpec
/** Pack documents into ≈budgetTokens sequences (EOS-joined token arrays). */
case class PackNodeSpec(input: OpSpec, idCol: String, textCol: String,
                        budgetTokens: Long, shards: Int = 256) extends OpSpec
/** Data-card composition table ([[graft.operators.CorpusStats.corpusReport]]):
  * per-`groupCol` doc/token/char counts, exact-dup fingerprint accounting,
  * token-length quartiles. `exactDistinct = false` swaps the distinct
  * count for HLL (monitoring heartbeat vs accounting artifact). */
case class ReportNodeSpec(input: OpSpec, textCol: String, groupCol: String,
                          exactDistinct: Boolean = true) extends OpSpec
/** Top-k cosine retrieval against a PERSISTED IVF index
  * ([[graft.operators.VectorIndex.ivfTopKIndexed]]): for each input row,
  * the `k` nearest indexed vectors → `(query_id, neighbor_id, cos_sim,
  * rank)`. `indexDir` is the layout the `vectorIndex` INGEST spec
  * maintains (or `VectorIndex.buildIvfIndex` wrote) — this node closes
  * the loop: a RunSpec user builds/maintains the index from one JSON file
  * and queries it from another, no Scala. Codec and normalization are
  * read from the self-describing layout; the scan is partition-pruned to
  * the probed cells; top-k runs as the bounded aggregate.
  *
  * Compiling this node is partially EAGER (like `layout`): the query
  * side's probe routing materializes and the probed-cell set is
  * collected at compile time — that collect IS the static partition
  * pruning. `--explain`/`--stages` on a spec containing this node will
  * run that routing.
  */
case class AnnQuerySpec(input: OpSpec, indexDir: String, k: Int,
                        nprobe: Int = 3, idCol: String = "vec_id",
                        vecCol: String = "embedding") extends OpSpec
/** Clustered-layout materialization barrier: write the input with a named
  * physical layout, yield the read-back relation — downstream nodes scan
  * the laid-out files (footer-stat pruning; zero-shuffle bucketed joins).
  * `layout`: `"sorted"` ([[graft.sinks.Writers.sortedLayout]]),
  * `"zorder"` ([[graft.sinks.Writers.zorderLayout]] — `bits` applies), or
  * `"bucketed"` ([[graft.sinks.Writers.bucketedTable]] — `path` is the
  * TABLE name, `cols.head` the bucket column, `files` the bucket count).
  * Compiling this node is EAGER (the write happens at compile time): the
  * one deliberate materialization point in an otherwise lazy spec — at
  * 100 TB a layout is a run-once asset, not a per-query transform.
  */
case class LayoutNodeSpec(input: OpSpec, layout: String, path: String,
                          cols: Seq[String], files: Int = 64,
                          bits: Int = 10) extends OpSpec
/** Dedup-store maintenance ([[graft.operators.Dedup.compactStore]]):
  * rewrite the store directory at `path` keyed-distinct on `keys` (the
  * post-unclean-restart duplicate-key state of the streaming ingest
  * stores), yield the compacted store relation. Like [[LayoutNodeSpec]],
  * compiling this node is EAGER — maintenance is a run-once asset.
  */
case class CompactStoreSpec(path: String, keys: Seq[String]) extends OpSpec
/** Persisted-vector-index deletion
  * ([[graft.operators.VectorIndex.deleteFromIvfIndex]] — the
  * takedown/opt-out maintenance path): remove the `ids` node's `idCol`
  * values from the index at `indexDir`, yield the post-delete cells
  * relation. EAGER like [[CompactStoreSpec]] (maintenance is a run-once
  * asset), and nodes compile in declaration order — declare the delete
  * BEFORE an [[AnnQuerySpec]] on the same index and the query sees the
  * purged store.
  */
case class DeleteIndexSpec(indexDir: String, ids: OpSpec,
                           idCol: String = "vec_id") extends OpSpec
/** Persisted-vector-index BUILD
  * ([[graft.operators.VectorIndex.buildIvfIndex]]): train the coarse
  * quantizer on the input node's vectors and materialize the partitioned
  * layout at `indexDir`, yield the cells relation. EAGER like
  * [[LayoutNodeSpec]] (the build is the one deliberate materialization),
  * completing the all-JSON index lifecycle: `buildIndex` →
  * (`vectorIndex` ingest keeps it fresh) → `annQuery` → `deleteIndex`.
  * Defaults are the SCALING.md 1M operating point: `nlist <= 0` derives
  * ⌈√N⌉ from the corpus count, `normalize = true` aligns the L2 routing
  * with the cosine retrieval metric (recall@20 0.854 vs 0.582 on the old
  * fixed 16-cell unnormalized defaults). Override either explicitly.
  * `trainer = "hier"` fits the centroid model with the two-level trainer
  * ([[graft.operators.VectorIndex.trainIvfCentroidsHierarchical]]) — the
  * 100M+ path whose √k-bounded fit wall lets ⌈√N⌉ sizing run UNCAPPED;
  * layout and serving are identical either way.
  */
case class BuildIndexSpec(input: OpSpec, indexDir: String, nlist: Int = 0,
                          codec: String = "float", normalize: Boolean = true,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          trainer: String = "flat") extends OpSpec
/** Spy/observe node — the reference's attach-a-spy-to-a-PERSISTED-job
  * parity (`jobs/job.js:99-116`: a spy rides the stored job document and
  * fires on every run), which until now existed only on the Scala API
  * ([[graft.operators.CoreOps.spy]]/`spyTap`). Pass-through: the stream is
  * unchanged. Every action on the compiled plan reports `rows` plus the
  * named `metrics` (aggregate SQL expressions over the node's input —
  * `"bad" -> "count_if(score < 0)"`) as Spark OBSERVED METRICS under
  * `name`; `graft.RunSpec` prints them after the action, and programmatic
  * callers read them from a `QueryExecutionListener`. `sampleRate > 0`
  * additionally taps that fraction of rows (deterministic per-row gate) to
  * the executor log via [[graft.operators.CoreOps.spyTap]] — a debugging
  * tap with per-execution/retry re-fire semantics, not accounting. Free at
  * 100 TB when `sampleRate = 0`: observe compiles to one narrow
  * CollectMetrics accumulator riding the existing plan, no extra pass.
  */
case class SpyNodeSpec(input: OpSpec, name: String,
                       metrics: Seq[(String, String)] = Nil,
                       sampleRate: Double = 0.0) extends OpSpec
/** Lazy persistence barrier (`MEMORY_AND_DISK`): mark a node whose result
  * several downstream nodes will scan, so the upstream chain executes once
  * instead of once per consumer. A node that itself reads its input more
  * than once (dedup near, span dedup, decontamination, semantic dedup,
  * DSIR) needs no cache node in front: the compiler materializes that
  * input itself when its plan is wide. The mid-scale counterpart
  * of [[LayoutNodeSpec]]: a cache is per-job and memory-bounded, a layout
  * is a run-once on-disk asset — at 100 TB prefer a layout/sink for
  * cross-job reuse and cache only relations that fit the cluster's
  * storage fraction.
  */
case class CacheSpec(input: OpSpec) extends OpSpec

/** A named-node pipeline: `nodes` define the DAG, `out` names the result. */
case class PipelineSpec(nodes: Seq[(String, OpSpec)], out: String)

object PipelineCompiler {

  /** `{%name%}` template substitution (reference `utils.js:145-172`). */
  def substitute(s: String, params: Map[String, String]): String =
    params.foldLeft(s) { case (acc, (k, v)) => acc.replace(s"{%$k%}", v) }

  /** Does a persisted model asset hold COMMITTED data? Bare directory
    * existence is not enough: a first persist that crashed mid-write
    * leaves a dir holding only `_temporary`, and gating the load branch
    * on it would wedge every later compile on an unreadable asset (the
    * [[graft.operators.Dedup]] stores guard the same way). Such a
    * partial asset reads as absent, so the next compile retrains and
    * overwrites it.
    */
  private def assetExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val name = st.getPath.getName
      st.isFile && !name.startsWith("_") && !name.startsWith(".") &&
        name.endsWith(".parquet")
    }
  }

  // Relations persisted by CacheSpec nodes during compile(). Without a
  // registry every compile leaks its (possibly disk-spilled) persists for
  // the session lifetime and each harness had to clearCache() manually;
  // callers that compile many specs release them deterministically with
  // [[unpersistCompiledCaches]] (the Dedup.cached/unpersistCaches pattern).
  private val compiledCaches = scala.collection.mutable.ListBuffer.empty[DataFrame]

  /** Release every relation persisted by CacheSpec nodes in this session.
    * This is the WHOLE-SESSION hammer — a caller that merely wants to clean
    * up after its own compile must use [[withCompiledCacheScope]] instead,
    * or it unpersists CacheSpec relations belonging to any other pipeline
    * compiled concurrently in the same JVM.
    */
  def unpersistCompiledCaches(): Unit = compiledCaches.synchronized {
    compiledCaches.foreach(_.unpersist(blocking = false))
    compiledCaches.clear()
  }

  /** Run `body` and release exactly the CacheSpec relations that
    * [[compile]] registered DURING it — the per-unit-of-work hygiene for
    * callers that compile in a loop (a bench rep, one RunSpec execution)
    * without touching other compiles' persists (the
    * [[graft.operators.Dedup.withCacheScope]] pattern). Results needed
    * beyond the scope must be materialized inside `body`.
    */
  def withCompiledCacheScope[T](body: => T): T = {
    val before = compiledCaches.synchronized(compiledCaches.length)
    try body
    finally compiledCaches.synchronized {
      compiledCaches.drop(before).foreach(_.unpersist(blocking = false))
      compiledCaches.remove(before, compiledCaches.length - before)
    }
  }

  /** The compiler's one materialization barrier, used by [[CacheSpec]]
    * nodes and by the multi-read rule ([[multiReadInput]]): persist `df`
    * (`MEMORY_AND_DISK`), register it for [[unpersistCompiledCaches]] /
    * [[withCompiledCacheScope]], and return a frame rooted at the cache's
    * `InMemoryRelation` leaf.
    *
    * Lineage-stub the segment BEFORE persisting (r16): persist truncates
    * execution and the InMemoryRelation leaf truncates downstream
    * analysis, but plan RENDERING — listener-event explainString +
    * SparkPlanInfo per SQL execution AND per AQE stage update, on the
    * driver main thread even with the UI off — expands
    * InMemoryRelation.innerChildren NESTED through referenced caches. With
    * composite stages each referencing their input ≥ 2× (dedup anti-joins,
    * decontam, DSIR), the rendered string grows EXPONENTIALLY in stage
    * count: the flagship-v3 final action alone rendered 13.5M chars × 7
    * events, ~112M chars and 2.5–3.5 s of main-thread time per run
    * (tools.RenderProbe). Backing the cache with a LogicalRDD leaf
    * (Dataset.checkpoint's plan-truncation technique — stats/partitioning/
    * constraints preserved, RDD lineage retained so lost cached partitions
    * still recompute from source) makes rendering and re-analysis LINEAR
    * in spec size. The stubbed segment's physical plan stays auditable
    * through Bridge.stubbedPlan (PlanQualitySpec fixpoint, PlanDump
    * appendix). `spark.graft.cacheLineageStub=false` restores the pre-r16
    * direct persist (escape hatch; also the A/B lever for the measurements
    * in OPTIMIZATION_r16.md).
    *
    * NOTE (ADVICE r16): stub caches are keyed by the compiled RDD's
    * identity, so in-compiler cache reuse is BY REFERENCE only —
    * recompiling the same spec in one session without
    * unpersistCompiledCaches/withCompiledCacheScope between compiles
    * creates a fresh cache entry per compile (pre-r16 plan-matching would
    * have structurally deduplicated them). Callers that compile in a loop
    * must scope their compiles (Bench does).
    *
    * Rooting downstream nodes at the InMemoryRelation leaf matters too:
    * persist alone truncates execution but NOT analysis — each downstream
    * op re-analyzes the full upstream tree (and a DAG's shared nodes are
    * walked once per referencing path, so a composed pipeline's driver
    * cost compounds).
    */
  private def materialize(df: DataFrame): DataFrame = {
    val stubOn = df.sparkSession.conf.getOption("spark.graft.cacheLineageStub")
      .forall {
        case "true" | "TRUE" | "True" => true
        case "false" | "FALSE" | "False" => false
        case other => throw new IllegalArgumentException(
          s"spark.graft.cacheLineageStub must be true or false, got '$other'")
      }
    val cached = (if (stubOn) org.apache.spark.sql.graft.Bridge.lineageStub(df) else df)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    compiledCaches.synchronized { compiledCaches += cached }
    org.apache.spark.sql.graft.Bridge.cachedRelation(cached).getOrElse(cached)
  }

  /** [[compile]] the whole DAG and return EVERY node's frame by name
    * ([[compile]] is `compileNodes(...)(spec.out)`). The stage-inspection
    * surface: a stress harness or a debugging session counts/explains any
    * intermediate stage of ONE compiled DAG — CacheSpec barriers are
    * shared across the returned frames, so inspecting a stage at or below
    * a cache re-reads the cached relation instead of recomputing the
    * upstream chain.
    */
  def compileNodes(spec: PipelineSpec, spark: SparkSession,
                   params: Map[String, String] = Map.empty): Map[String, DataFrame] = {
    compileResolved(spec, spark, params)
  }

  def compile(spec: PipelineSpec, spark: SparkSession,
              params: Map[String, String] = Map.empty): DataFrame =
    compileResolved(spec, spark, params).getOrElse(spec.out,
      throw new IllegalArgumentException(s"broken chain: output node '${spec.out}' undefined"))

  private def compileResolved(spec: PipelineSpec, spark: SparkSession,
                              params: Map[String, String]): Map[String, DataFrame] = {
    val resolved = scala.collection.mutable.Map.empty[String, DataFrame]
    def sub(s: String) = substitute(s, params)

    // Multi-read barriers, memoized per input frame: two consumers of one
    // node get the same frame from `resolved`, so they share one barrier.
    val barriers = new java.util.IdentityHashMap[DataFrame, DataFrame]()
    /** `in` built as `op`'s input. When `op` reads its input more than
      * once ([[multiReadInput]]) and the input's plan holds a wide
      * operator, the input is materialized once instead: without the
      * barrier every read copies — and the planner re-plans, and at scale
      * the cluster recomputes — the whole upstream subtree (the flagship's
      * decontaminate-over-span-dedup segment held 8 copies of its input).
      * Inputs already rooted at a materialized relation are left alone.
      */
    def inputOf(op: OpSpec, in: OpSpec): DataFrame = {
      val df = build(in)
      if (!multiReadInput(op).contains(in)) df
      else df.queryExecution.analyzed match {
        case _: org.apache.spark.sql.execution.columnar.InMemoryRelation |
             _: org.apache.spark.sql.execution.LogicalRDD |
             _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => df
        case plan if !plan.exists(graft.operators.Dedup.isWide) => df
        case _ => barriers.computeIfAbsent(df, _ => materialize(df))
      }
    }

    def build(op: OpSpec): DataFrame = op match {
      case SourceSpec(format, path, options, rootNode) =>
        val p = sub(path)
        format match {
          case "parquet" => spark.read.options(options).parquet(p)
          case "ndjson"  => graft.sources.Readers.jsons(spark, p)
          case "json"    => graft.sources.Readers.json(spark, p, rootNode)
          case "csv"     => spark.read.options(options).csv(p)
          case "xml"     => spark.read.options(options).format("xml").load(p)
          // http/https/ftp URL source: options carry the reqOptions surface
          // (method, auth.user/auth.password, header.<Name>, payload json|ndjson)
          case "http" | "ftp" =>
            graft.sources.Readers.url(spark, p,
              format = options.getOrElse("payload", "json"),
              opts = graft.sources.Transports.ReqOptions.fromOptions(options),
              rootNode = rootNode, config = params)
          // paginated HTTP source (R4 with the concrete transport): the path
          // is a URL template with {%page%}/{%offset%}/{%limit%} placeholders;
          // empty-page×2 termination and settle-retry apply as in PagedSource
          case "http-paged" =>
            graft.sources.PagedSource.read(spark,
              graft.sources.Transports.httpPagedFetch(p,
                graft.sources.Transports.ReqOptions.fromOptions(options), params),
              limit = options.get("limit").map(_.toInt).getOrElse(1000),
              maxPages = options.get("maxPages").map(_.toInt).getOrElse(10000),
              maxRetries = options.get("maxRetries").map(_.toInt).getOrElse(2),
              settleMs = options.get("settleMs").map(_.toLong).getOrElse(0L))
          case other     => spark.read.options(options).format(other).load(p)
        }
      case RefSpec(name) =>
        resolved.getOrElse(name,
          throw new IllegalArgumentException(
            s"broken chain: node '$name' not defined before use")) // cf. job-pipeline.js:159
      case FilterSpec(in, pred) => build(in).filter(expr(sub(pred)))
      case MapSpec(in, projs) =>
        build(in).select(projs.map { case (n, e) => expr(sub(e)).as(n) }: _*)
      case WithColumnsSpec(in, cols) =>
        cols.foldLeft(build(in)) { case (df, (n, e)) => df.withColumn(n, expr(sub(e))) }
      case ExplodeSpec(in, arr, as) => build(in).withColumn(as, explode(expr(sub(arr))))
      case AggSpec(in, keys, aggs) =>
        require(aggs.nonEmpty, "agg node needs at least one aggregate expression")
        val aggCols = aggs.map { case (n, e) => expr(sub(e)).as(n) }
        build(in).groupBy(keys.map(k => expr(sub(k))): _*).agg(aggCols.head, aggCols.tail: _*)
      case SortSpec(in, keys) =>
        // "expr desc"/"expr asc" suffixes build a SortOrder — expr("n desc")
        // alone would parse as column `n` ALIASED to `desc` and sort ascending
        def sortKey(k: String): Column = {
          val s = sub(k).trim
          val lower = s.toLowerCase
          if (lower.endsWith(" desc")) expr(s.dropRight(5)).desc
          else if (lower.endsWith(" asc")) expr(s.dropRight(4)).asc
          else expr(s)
        }
        build(in).orderBy(keys.map(sortKey): _*)
      case WindowNodeSpec(in, fn, as, parts, order, frame) =>
        // one SQL window expression — Catalyst parses the OVER clause, so
        // partition exprs, "desc" order suffixes and frame syntax are all
        // plain SQL (same parser as every other expression in the spec)
        val pb = if (parts.isEmpty) "" else parts.map(sub).mkString("PARTITION BY ", ", ", "")
        val ob = if (order.isEmpty) "" else order.map(sub).mkString("ORDER BY ", ", ", "")
        val over = Seq(pb, ob, sub(frame).trim).filter(_.nonEmpty).mkString(" ")
        build(in).withColumn(as, expr(s"${sub(fn)} OVER ($over)"))
      case DistinctSpec(in, keys, order) =>
        val df = build(in)
        if (order.isEmpty) df.dropDuplicates(keys)
        else graft.operators.CoreOps.uniquerKeepFirst(df, keys, order)
      case LimitSpec(in, n) => build(in).limit(n)
      case JoinSpec(in, vocab, lk, rk, jt, bcast) =>
        val l = build(in); val r0 = build(vocab)
        val r = if (bcast) graft.operators.Joins.maybeBroadcast(r0) else r0
        l.join(r, l(sub(lk)) === r(sub(rk)), jt)
      case JoinDetailSpec(m, d, mk, dk, as, detailCols) =>
        graft.operators.Joins.joinDetail(build(m), build(d), sub(mk), sub(dk), as,
          detailCols.map(sub))
      case UnionSpec(ins) =>
        require(ins.nonEmpty, "union node needs at least one input")
        ins.map(build).reduce(_.unionByName(_, allowMissingColumns = true))
      case op @ DedupNodeSpec(in, id, text, mode, threshold) => mode match {
        case "exact" =>
          graft.operators.Dedup.exact(inputOf(op, in), sub(text), sub(id)).drop("dup_count")
        case "near" =>
          graft.operators.Dedup.dropNearDups(inputOf(op, in), sub(id), sub(text), threshold)
        case other => throw new IllegalArgumentException(s"dedup mode '$other' (exact|near)")
      }
      case op @ SpanDedupNodeSpec(in, id, text, k) =>
        val df = inputOf(op, in)
        val idc = sub(id); val tc = sub(text)
        val rebuilt = graft.operators.Dedup.dropRepeatedSpans(df, idc, tc, k)
          .select(col("id").as("__span_id"), col("text_out"))
        df.join(rebuilt, df(idc) === rebuilt("__span_id"))
          .withColumn(tc, col("text_out"))
          .drop("__span_id", "text_out")
      case op @ SemanticDedupNodeSpec(in, id, vec, k, thr, maxCs, centMode, modelDir) =>
        val df = inputOf(op, in)
        val mdir = sub(modelDir)
        val centsPath = if (mdir.isEmpty) "" else s"${mdir.stripSuffix("/")}/centroids"
        // persisted model asset: load the pinned centroids when present,
        // else train and (when modelDir set) persist — the first run pays
        // the training scan, every later compile skips it. The asset
        // carries the spec knobs it was trained under (`k`, `mode`) so a
        // spec whose k or centroids mode changed after the persist FAILS
        // LOUDLY instead of silently loading a stale model whose results
        // diverge from a fresh-trained run (the DSIR hexLen-guard policy);
        // a zero-row asset reads as absent, like assetExists partial writes.
        val loadedCents: Option[Seq[(Int, Seq[Float])]] =
          if (centsPath.isEmpty || !assetExists(spark, centsPath)) None
          else {
            val asset = spark.read.parquet(centsPath)
            val hasMeta = asset.columns.contains("k") && asset.columns.contains("mode")
            if (hasMeta) asset.select("k", "mode").take(1).foreach { r =>
              require(r.getInt(0) == k && r.getString(1) == centMode,
                s"semanticDedup modelDir '$centsPath' holds a k=${r.getInt(0)}/" +
                  s"${r.getString(1)} model but the spec says k=$k/$centMode — " +
                  "delete the asset to retrain, or restore the original knobs")
            }
            val rows = asset.select("cell", "centroid").collect()
              .map(r => (r.getInt(0), r.getSeq[Float](1))).toIndexedSeq.sortBy(_._1)
            if (rows.isEmpty) None else Some(rows)
          }
        val cents: Seq[(Int, Seq[Float])] = loadedCents.getOrElse {
            val trained = centMode match {
              case "kmeans" =>
                graft.operators.Dedup.trainSemanticCentroids(df, sub(id), sub(vec), k)
              case "firstK" =>
                graft.operators.Dedup.firstKCentroids(df, sub(id), sub(vec), k)
              case other =>
                throw new IllegalArgumentException(s"centroids '$other' (kmeans|firstK)")
            }
            if (centsPath.nonEmpty) {
              import spark.implicits._
              trained.toDF("cell", "centroid")
                .withColumn("k", lit(k)).withColumn("mode", lit(centMode))
                .coalesce(1)
                .write.mode("overwrite").parquet(centsPath)
            }
            trained
          }
        graft.operators.Dedup.semanticDrop(df, sub(id), sub(vec), cents, thr, maxCs)
      case SplitNodeSpec(in, id, splits) =>
        graft.operators.Sampling.hashSplit(build(in), sub(id), splits)
      case MixNodeSpec(in, id, stratum, weights, dw) =>
        graft.operators.Sampling.weightedMix(build(in), sub(id), sub(stratum), weights, dw)
      case op @ DsirNodeSpec(in, target, id, text, k, hexLen, alpha, salt, modelDir) =>
        val df = inputOf(op, in)
        val mdir = sub(modelDir)
        val weightsPath = if (mdir.isEmpty) "" else s"${mdir.stripSuffix("/")}/dsir_weights"
        // persisted model asset: the (bucket, logw) relation is the
        // FINISHED model — loading it skips both gram-count corpus scans.
        // An asset holding ZERO rows (a degenerate/empty corpus persisted
        // no buckets) reads as ABSENT, mirroring the assetExists
        // partial-write policy: fall through to retrain/overwrite rather
        // than head()-crash or silently select nothing.
        val loadedWeights: Option[DataFrame] =
          if (weightsPath.isEmpty || !assetExists(spark, weightsPath)) None
          else {
            val loaded = spark.read.parquet(weightsPath)
            loaded.select("bucket").take(1).headOption.map { r =>
              // the scoring join keys hex buckets of EXACTLY hexLen chars; a
              // spec whose hexLen changed after the persist would inner-join
              // zero rows and silently select nothing — fail loudly instead
              val sampleBucket = r.getString(0)
              require(sampleBucket.length == hexLen,
                s"dsir modelDir '$weightsPath' holds hexLen=${sampleBucket.length} " +
                  s"weights but the spec says hexLen=$hexLen — delete the asset to " +
                  "retrain, or restore the original hexLen")
              loaded
            }
          }
        loadedWeights match {
          case Some(loaded) =>
          graft.operators.Sampling.importanceResample(df, sub(id), sub(text),
            loaded, k, hexLen, salt)
          case None =>
          {
        // run-once model: collect the bounded count relations to the driver
        // (≤ 16^hexLen rows each) and FINISH the log-ratio math there too —
        // `logw` is pure per-bucket arithmetic over collected counts, and
        // leaving it as the lazy importanceWeights plan (full-domain range
        // join + total crossjoins) re-executed that cascade on every scan
        // of the selection output. The driver Math.log is the same
        // java.lang.Math.log Catalyst's `log` evaluates, so the weights are
        // bit-identical to the lazy form's. The common spec shape — target
        // = a predicate slice of the SAME input node — builds both sides
        // from ONE conditional-aggregation scan (hashedGramCountsSplit);
        // disjoint targets fall back to two scans.
        val counts: Map[String, (Long, Long)] = target match {
          case FilterSpec(tin, pred) if tin == in =>
            graft.operators.CorpusStats
              .hashedGramCountsSplit(df, sub(text), expr(sub(pred)), hexLen)
              .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
          case _ =>
            def model(c: org.apache.spark.sql.DataFrame): Map[String, Long] =
              graft.operators.CorpusStats.hashedGramCounts(c, sub(text), hexLen)
                .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
            val (t, b) = (model(build(target)), model(df))
            (t.keySet ++ b.keySet).map(k0 =>
              k0 -> (t.getOrElse(k0, 0L), b.getOrElse(k0, 0L))).toMap
        }
        val nBuckets = 1L << (4 * hexLen)
        val tt = counts.valuesIterator.map(_._1).sum.toDouble
        val tr = counts.valuesIterator.map(_._2).sum.toDouble
        val weightRows = (0L until nBuckets).map { b =>
          val bucket = ("%0" + hexLen + "x").format(b)
          val (ct, cr) = counts.getOrElse(bucket, (0L, 0L))
          (bucket,
            math.log((ct + alpha) / (tt + alpha * nBuckets)) -
            math.log((cr + alpha) / (tr + alpha * nBuckets)))
        }
        val weights = spark.createDataFrame(weightRows).toDF("bucket", "logw")
        if (weightsPath.nonEmpty)
          weights.coalesce(1).write.mode("overwrite").parquet(weightsPath)
        graft.operators.Sampling.importanceResample(df, sub(id), sub(text),
          weights, k, hexLen, salt)
          }
        }
      case QualityScoreNodeSpec(in, text, weights) =>
        graft.operators.QualityModel.score(build(in), sub(text), weights)
      case op @ DecontamNodeSpec(in, bench, id, text, ngram, minHits, hashKeys, warnBelow) =>
        val df = inputOf(op, in)
        if (warnBelow <= 0.0)
          graft.operators.Dedup.decontaminate(df, build(bench), sub(id), sub(text),
            ngram, minHits, hashKeys)
        else {
          // calibration mode: the hit set computes ONCE (checkpointed) and
          // feeds both the survivor-rate report and the selection anti-join
          val hitIds = graft.operators.Dedup
            .contaminationHits(df, build(bench), sub(id), sub(text), ngram, hashKeys)
            .filter(col("n_hits") >= minHits).select("id")
            .localCheckpoint(true)
          val nIn = df.count()
          val nHit = hitIds.count()
          val rate = if (nIn == 0) 1.0 else (nIn - nHit).toDouble / nIn
          System.err.println(
            f"[decontam] n=$ngram minHits=$minHits: $nIn%d docs in, $nHit%d " +
              f"contaminated, survivor rate $rate%.4f")
          if (rate < warnBelow) System.err.println(
            f"[decontam] WARNING: survivor rate $rate%.4f is below the " +
              f"configured floor $warnBelow%.4f — the n-gram/minHits setting " +
              "is likely too aggressive for this corpus density; consider a " +
              "larger n, a higher minHits, or hashKeys with a curated bench")
          df.join(hitIds, df(sub(id)) === hitIds("id"), "left_anti")
        }
      case PackNodeSpec(in, id, text, budget, shards) =>
        graft.operators.Packing.packSequences(build(in), sub(id), sub(text), budget, shards)
      case ReportNodeSpec(in, text, group, exact) =>
        graft.operators.CorpusStats.corpusReport(build(in), sub(text), sub(group), exact)
      case AnnQuerySpec(in, indexDir, k, nprobe, id, vec) =>
        graft.operators.VectorIndex.ivfTopKIndexed(build(in), sub(indexDir), k,
          nprobe, sub(id), sub(vec))
      case LayoutNodeSpec(in, layout, path, cols, files, bits) =>
        val df = build(in)
        val p = sub(path)
        val cs = cols.map(sub)
        layout match {
          case "sorted" =>
            graft.sinks.Writers.sortedLayout(df, p, cs, files); spark.read.parquet(p)
          case "zorder" =>
            graft.sinks.Writers.zorderLayout(df, p, cs, files, bits); spark.read.parquet(p)
          case "bucketed" =>
            graft.sinks.Writers.bucketedTable(df, p, cs.head, files); spark.table(p)
          case other =>
            throw new IllegalArgumentException(s"layout '$other' (sorted|zorder|bucketed)")
        }
      case CompactStoreSpec(path, keys) =>
        val p = sub(path)
        graft.operators.Dedup.compactStore(spark, p, keys.map(sub))
        spark.read.parquet(p)
      case DeleteIndexSpec(dir0, ids, idCol) =>
        val p = sub(dir0)
        graft.operators.VectorIndex.deleteFromIvfIndex(spark, p, build(ids), sub(idCol))
        // the takedown-aware view: deletion tombstones the cells tier, so
        // a bare cells read would still show the victims until the next
        // fold/compaction purges them physically
        graft.operators.VectorIndex.readIvfCells(spark, p)
      case BuildIndexSpec(in, dir0, nlist, codec, normalize, idCol, vecCol, trainer) =>
        val p = sub(dir0)
        sub(trainer) match {
          case "flat" =>
            graft.operators.VectorIndex.buildIvfIndex(build(in), p, nlist,
              sub(idCol), sub(vecCol), codec = sub(codec), normalize = normalize)
          case "hier" =>
            // the two-level trainer: same layout/serving, √k-bounded fit —
            // the 100M+ path where flat k-means would hit autoNlistCap
            graft.operators.VectorIndex.buildIvfIndexHierarchical(build(in), p,
              nlist, sub(idCol), sub(vecCol), codec = sub(codec),
              normalize = normalize)
          case other => throw new IllegalArgumentException(
            s"buildIndex trainer must be flat or hier, got '$other'")
        }
        spark.read.parquet(s"$p/cells")
      case SpyNodeSpec(in, name0, metrics, rate) =>
        val df = build(in)
        val nm = sub(name0)
        val tapped =
          if (rate <= 0.0) df
          else graft.operators.CoreOps.spyTap(df,
            row => System.err.println(s"[spy:$nm] $row"), rate, salt = nm)
        graft.operators.CoreOps.spy(tapped, nm,
          metrics.map { case (mName, e) => expr(sub(e)).as(mName) })
      case CacheSpec(in) =>
        // the same barrier the compiler puts under multi-read inputs
        // (inputOf), here at a node the spec author chose
        materialize(build(in))
    }

    // Label every job a node's compile launches (eager model builds, cache
    // materializations — AQE's stage futures inherit thread-local
    // properties, so the per-stage jobs carry the label too): the UI and
    // the job-timeline probes attribute compile-wall time to SPEC NODES
    // instead of anonymous scheduler callsites (guide §1.5).
    spec.nodes.foreach { case (name, op) =>
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"spec:$name")
      try resolved(name) = build(op)
      finally sc.setJobDescription(prev)
    }
    if (!resolved.contains(spec.out))
      throw new IllegalArgumentException(s"broken chain: output node '${spec.out}' undefined")
    resolved.toMap
  }

  /** The input a node reads MORE THAN ONCE — in its remaining plan or
    * through eager compile-time actions — and so gets a materialization
    * barrier ([[materialize]]) when that input's plan is wide. Checked
    * against the operators:
    *  - `dedup` near: [[graft.operators.Dedup.dropNearDups]] caches
    *    signatures of it, re-reads it for the candidate shingle pass, and
    *    anti-joins it (exact mode is one aggregation: a single read);
    *  - `spanDedup`: [[graft.operators.Dedup.dropRepeatedSpans]] reads it
    *    three times (window occurrences, first-occurrence join, rebuild)
    *    and the compiler joins the rebuilt text back onto it;
    *  - `decontaminate`: [[graft.operators.Dedup.decontaminate]] explodes
    *    its grams and anti-joins it (calibration mode adds a count);
    *  - `semanticDedup`: the eager centroid build reads it, then
    *    [[graft.operators.Dedup.semanticDrop]] assigns it and anti-joins it;
    *  - `dsir`: the eager gram-count model reads it, then
    *    [[graft.operators.Sampling.importanceResample]] scores it and
    *    joins the selection back onto it.
    * Side inputs (decontamination bench, DSIR target) are read once.
    */
  private def multiReadInput(op: OpSpec): Option[OpSpec] = op match {
    case DedupNodeSpec(in, _, _, "near", _)             => Some(in)
    case SpanDedupNodeSpec(in, _, _, _)                 => Some(in)
    case DecontamNodeSpec(in, _, _, _, _, _, _, _)      => Some(in)
    case SemanticDedupNodeSpec(in, _, _, _, _, _, _, _) => Some(in)
    case DsirNodeSpec(in, _, _, _, _, _, _, _, _)       => Some(in)
    case _                                              => None
  }

  /** Direct RefSpec dependencies of an op (nested through its inputs). */
  private def refsOf(op: OpSpec): Set[String] = op match {
    case RefSpec(n)                     => Set(n)
    case _: SourceSpec                  => Set.empty
    case FilterSpec(in, _)              => refsOf(in)
    case MapSpec(in, _)                 => refsOf(in)
    case WithColumnsSpec(in, _)         => refsOf(in)
    case ExplodeSpec(in, _, _)          => refsOf(in)
    case AggSpec(in, _, _)              => refsOf(in)
    case SortSpec(in, _)                => refsOf(in)
    case WindowNodeSpec(in, _, _, _, _, _) => refsOf(in)
    case DistinctSpec(in, _, _)         => refsOf(in)
    case LimitSpec(in, _)               => refsOf(in)
    case JoinSpec(in, v, _, _, _, _)       => refsOf(in) ++ refsOf(v)
    case JoinDetailSpec(m, d, _, _, _, _)  => refsOf(m) ++ refsOf(d)
    case UnionSpec(ins)                 => ins.flatMap(refsOf).toSet
    case DedupNodeSpec(in, _, _, _, _)  => refsOf(in)
    case SpanDedupNodeSpec(in, _, _, _) => refsOf(in)
    case SemanticDedupNodeSpec(in, _, _, _, _, _, _, _) => refsOf(in)
    case SplitNodeSpec(in, _, _)        => refsOf(in)
    case MixNodeSpec(in, _, _, _, _)    => refsOf(in)
    case DsirNodeSpec(in, tgt, _, _, _, _, _, _, _) => refsOf(in) ++ refsOf(tgt)
    case QualityScoreNodeSpec(in, _, _) => refsOf(in)
    case DecontamNodeSpec(in, b, _, _, _, _, _, _) => refsOf(in) ++ refsOf(b)
    case PackNodeSpec(in, _, _, _, _)   => refsOf(in)
    case ReportNodeSpec(in, _, _, _)    => refsOf(in)
    case AnnQuerySpec(in, _, _, _, _, _) => refsOf(in)
    case LayoutNodeSpec(in, _, _, _, _, _) => refsOf(in)
    case CompactStoreSpec(_, _)            => Set.empty
    case DeleteIndexSpec(_, ids, _)        => refsOf(ids)
    case BuildIndexSpec(in, _, _, _, _, _, _, _) => refsOf(in)
    case SpyNodeSpec(in, _, _, _)       => refsOf(in)
    case CacheSpec(in)                  => refsOf(in)
  }

  /** All spec nodes (transitively) feeding `name`, including itself. */
  private def dependencyClosure(spec: PipelineSpec, name: String): Set[String] = {
    val deps = spec.nodes.map { case (n, op) => n -> refsOf(op) }.toMap
    def go(n: String, seen: Set[String]): Set[String] =
      if (seen(n)) seen
      else deps.getOrElse(n, Set.empty).foldLeft(seen + n)((s, d) => go(d, s))
    go(name, Set.empty)
  }

  /** The `Pipeline#run` analogue (`job-pipeline.js:168-186`) with Splitter
    * fan-out: execute the spec to one or more sinks. Any computation-bearing
    * node whose result is reachable from MORE THAN ONE sink's plan (shared
    * directly, or upstream via RefSpec) is persisted once and multicast —
    * Spark's CacheManager matches the persisted logical subtree inside every
    * sink plan, so each shared node materializes once, not once per sink
    * (`job-splitter.js` multicast semantics). Source nodes are exempt: a
    * parquet scan shared by two sinks is cheaper re-scanned than cached.
    *
    * @param sinks (nodeName, format, path) per output; format:
    *              parquet|ndjson|csv
    */
  def runToSinks(spec: PipelineSpec, spark: SparkSession,
                 sinks: Seq[(String, String, String)],
                 params: Map[String, String] = Map.empty,
                 stores: graft.sinks.Writers.StoreClientFactory =
                   graft.sinks.Writers.InMemoryStore): Unit = {
    require(sinks.nonEmpty, "runToSinks needs at least one sink")
    // count per sink ENTRY, not per distinct node: a node written directly to
    // two sinks must still persist once and multicast (else each sink write
    // recomputes the subtree — divergent data under nondeterministic exprs)
    val reachCount = sinks.map(_._1).flatMap(n => dependencyClosure(spec, n))
      .groupBy(identity).map { case (n, hits) => n -> hits.size }
    val isSource = spec.nodes.collect { case (n, _: SourceSpec) => n }.toSet
    val shared = reachCount.collect {
      case (n, c) if c > 1 && !isSource(n) => n
    }.toSeq
    // ONE compile serves every sink: eager model builds run once, and the
    // shared nodes persisted below are the very frames each sink plan
    // embeds, so the cache manager matches them inside every sink write
    val dfs = compileNodes(spec.copy(out = sinks.head._1), spark, params)
    def nodeDf(name: String): DataFrame = dfs.getOrElse(name,
      throw new IllegalArgumentException(s"broken chain: sink node '$name' undefined"))
    shared.foreach(n => nodeDf(n).persist())
    try sinks.foreach { case (node, format, path) =>
      format match {
        // push sink: POST NDJSON batches to the URL (reference's http write
        // stream, utils.js:38-50); $VAR roots resolve against params
        case "http" =>
          graft.sinks.Writers.push(nodeDf(node), batchSize = 500,
            graft.sources.Transports.httpPoster(substitute(path, params), config = params))
        // store-addressed sink: mongodb://host/db/collection through the
        // injected client factory (reference's protocol dispatch,
        // utils.js:52-57) — declared as format "store", or inferred when
        // the resolved URL carries the mongodb: scheme
        case "store" | "mongodb" =>
          graft.sinks.Writers.store(nodeDf(node), substitute(path, params),
            clients = stores, config = params)
        case _ if substitute(path, params).startsWith("mongodb:") =>
          graft.sinks.Writers.store(nodeDf(node), substitute(path, params),
            clients = stores, config = params)
        case _ =>
          val w = nodeDf(node).write.mode("overwrite")
          format match {
            case "parquet" => w.parquet(substitute(path, params))
            case "ndjson"  => w.json(substitute(path, params))
            case "csv"     => w.option("header", "true").csv(substitute(path, params))
            case other     => w.format(other).save(substitute(path, params))
          }
      }
    } finally shared.foreach(n => dfs(n).unpersist(blocking = false))
  }
}
