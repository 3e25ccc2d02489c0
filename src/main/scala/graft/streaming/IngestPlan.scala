package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.exec.Scope
import graft.operators.{Dedup, QualityModel, Sampling}
import graft.store.Stores

/** What one streaming ingest does to each micro-batch
  * ([[Streams.ingest]]): clamp each document to `maxDocChars` (0 = off),
  * fold `stages` in order, then append the survivors to `corpusDir` and
  * each stage's store delta ([[sinks]] is the order). `textCol` and
  * `vecCol` are the columns the stages read; a plan whose stages read no
  * text (or no vector) leaves that one empty. Every `compactEvery`
  * batches (0 = never) the runner heals and rewrites each sink in
  * [[maintenance]].
  */
case class IngestPlan(idCol: String, textCol: String, vecCol: String, stages: Seq[Stage],
                      corpusDir: Option[String], checkpointDir: String,
                      compactEvery: Int = 0, maxDocChars: Int = 0) {

  // the corpus is the span rebuild relation itself (id, n_toks, n_kept,
  // text_out), emptied documents included
  private def corpusIsRebuild = stages.exists { case s: Span => !s.joinBack; case _ => false }

  /** The append order: the corpus first, then each stage's store in
    * REVERSE stage order — the store of the earliest stage goes last, so
    * the replay of a batch that crashed after every append finds that
    * store already holding it (see each stage's crash-window contract).
    */
  def sinks: Seq[String] = corpusDir.toSeq ++ stages.reverse.flatMap(_.store.map(_.dir))

  /** Scheduled maintenance, in append order: keyed distinct on `idCol`
    * for the corpus — except a span rebuild corpus, whose crash twins are
    * not byte-identical (keep the max-`n_kept` row per id instead) — and
    * each store's own op.
    */
  def maintenance: Seq[(String, (SparkSession, String) => Unit)] =
    if (compactEvery <= 0) Nil
    else corpusDir.filterNot(_ => corpusIsRebuild).map(_ -> DistinctOn(idCol)).toSeq ++
      stages.reverse.flatMap(_.store.map(_.upkeep))

  /** The corpus column holding document text, if the corpus has one. */
  def corpusTextCol: Option[String] =
    if (corpusDir.isEmpty || textCol.isEmpty) None
    else Some(if (corpusIsRebuild) "text_out" else textCol)
}

/** A stage's cross-batch store: its directory, its node type in
  * [[graft.plans.SpecJson.ingestDag]] (`store:<kind>`), and its scheduled
  * maintenance — the directory [[graft.store.Stores.maybeCompact]] heals
  * and the op it then runs there.
  */
case class StageStore(dir: String, kind: String, upkeep: (String, (SparkSession, String) => Unit))

/** Keyed-distinct rewrite of a sink ([[graft.store.Stores.compactStore]])
  * as scheduled maintenance.
  */
case class DistinctOn(key: String) extends ((SparkSession, String) => Unit) {
  def apply(spark: SparkSession, dir: String): Unit = { Stores.compactStore(spark, dir, Seq(key)); () }
}

/** The O(delta) fold of a vector index's delta tier
  * ([[graft.operators.VectorIndex.foldIvfDelta]]) as scheduled
  * maintenance — not the O(store) [[graft.operators.VectorIndex.compactIvfIndex]],
  * which stays an offline op for when per-cell file counts warrant it.
  */
case class FoldDelta(indexDir: String) extends ((SparkSession, String) => Unit) {
  def apply(spark: SparkSession, dir: String): Unit = {
    graft.operators.VectorIndex.foldIvfDelta(spark, indexDir); ()
  }
}

/** One step of an [[IngestPlan]]. Every model a stage applies is pinned
  * (weights, centroids, a gram table trained offline): nothing re-trains
  * mid-stream, so a document's verdict depends only on the pinned model
  * and the stores.
  */
sealed trait Stage {
  /** The cross-batch store this stage reads when it runs and appends to. */
  def store: Option[StageStore] = None

  /** The rows this stage keeps of `rows`, and the append of its store
    * delta, which the runner defers until after the corpus append.
    */
  private[streaming] def run(rows: DataFrame, p: IngestPlan): (DataFrame, () => Unit)

  protected def noAppend: () => Unit = () => ()

  /** Append to `dir` the rows of `rel` (keyed by `id`) whose id survived
    * into `kept`: a semi-join slice of a relation computed once per batch.
    */
  protected def appendSurvivors(rel: DataFrame, kept: DataFrame, idCol: String,
                                dir: String): () => Unit = () =>
    rel.join(kept.select(col(idCol).as("__kid")), rel("id") === col("__kid"), "left_semi")
      .write.mode("append").parquet(dir)
}

/** The trained quality classifier ([[graft.operators.QualityModel.score]])
  * under pinned `weights` (train offline with
  * [[graft.operators.QualityModel.trainVsCorrupted]]): keeps accepted
  * documents with their `quality_score_1e6` / `quality_accept` columns.
  * A pure per-row expression, so a verdict cannot depend on where a batch
  * boundary fell; no store.
  */
case class Quality(weights: Seq[Double]) extends Stage {
  private[streaming] def run(rows: DataFrame, p: IngestPlan): (DataFrame, () => Unit) =
    (QualityModel.score(rows, p.textCol, weights).filter(col("quality_accept") === 1), noAppend)
}

/** DSIR importance FILTERING against the pinned hashed-gram weights at
  * `weightsDir` (train offline with
  * [[graft.operators.CorpusStats.importanceWeights]]): keeps documents with
  * `dsir_logw >= minLogw`, score column included. A rate THRESHOLD, not a
  * top-k: a per-batch top-k would make survival depend on where the batch
  * boundary fell. Pick `minLogw` offline from the batch score distribution
  * ([[graft.operators.Sampling.importanceScores]] + a quantile). Documents
  * with no grams score nothing and are dropped, as in the batch operator.
  * No store.
  */
case class Dsir(weightsDir: String, minLogw: Double, hexLen: Int) extends Stage {
  private[streaming] def run(rows: DataFrame, p: IngestPlan): (DataFrame, () => Unit) =
    (rows.join(
      Sampling.importanceScores(rows, p.idCol, p.textCol,
          Stores.readParquet(rows.sparkSession, weightsDir), hexLen)
        .filter(col("dsir_logw") >= minLogw),
      Seq(p.idCol)), noAppend)
}

/** Cross-batch SEMANTIC dedup ([[graft.operators.Dedup.incrementalSemanticDropAssigned]])
  * against the store of ASSIGNED vectors `(id, vec, cluster,
  * centroid_sim)` at `storeDir`, under pinned `centroids` (train offline,
  * e.g. [[graft.operators.Dedup.trainSemanticCentroids]]): keeps vectors
  * that duplicate neither an earlier batch nor an earlier row of this one
  * (the first-seen representative, [[graft.operators.Dedup.FirstSeen]]),
  * and appends their assigned form, so a later batch pairs only against
  * the cells it lands in.
  *
  * Rows whose id the store already holds are dropped first (`fresh`, an
  * ids-only anti join: the pair kernel never matches identical ids, so a
  * replayed vector would otherwise pass its own store entry). So a crash
  * AFTER this stage's append self-heals: the replay keeps nothing. A
  * crash before it replays the batch against a store missing its vectors,
  * and the sinks appended earlier get byte-identical rows again (keyed
  * distinct recovers them).
  */
case class Semantic(storeDir: String, centroids: Seq[(Int, Seq[Float])],
                    threshold: Double) extends Stage {
  override def store: Option[StageStore] =
    Some(StageStore(storeDir, "assignedVectors", storeDir -> DistinctOn("id")))

  private[streaming] def run(rows: DataFrame, p: IngestPlan): (DataFrame, () => Unit) = {
    val store = Stores.read(rows.sparkSession, storeDir).getOrElse(
      Dedup.assignSemanticClusters(rows.limit(0), p.idCol, p.vecCol, centroids))
    // checkpointed ONCE: the assignment, the pair kernel's delta side and
    // the final anti join all read it
    val fresh = Scope.scopedCheckpoint(rows.join(store.select(col("id").as(p.idCol)),
      Seq(p.idCol), "left_anti"))
    // the assignment computed ONCE for the pair kernel AND the store append
    val assigned = Scope.cached(Dedup.assignSemanticClusters(fresh, p.idCol, p.vecCol,
      centroids))
    // checkpointed, not persisted: with its lineage cut, no later append's
    // refreshByPath can evict a plan that still reads this store
    val kept = Scope.scopedCheckpoint(Dedup.incrementalSemanticDropAssigned(
      fresh, assigned, store, p.idCol, threshold, maxClusterSize = 10000, Dedup.FirstSeen))
    (kept, appendSurvivors(assigned, kept, p.idCol, storeDir))
  }
}

/** Cross-batch SPAN dedup ([[graft.operators.Dedup.incrementalSpanDedup]])
  * against the window-fingerprint store at `storeDir`: drops k-token
  * windows already in the store (or repeated within the batch) and
  * appends the fresh fingerprints — a crawler re-ingesting boilerplate
  * keeps each block's first occurrence ever. The rebuild and the fresh
  * fingerprints share one window relation, registered with the
  * micro-batch's scope. Fresh fingerprints are anti-joined against the
  * store, so a replay never re-appends them.
  *
  * `joinBack` is the corpus policy:
  *  - `false`: the kept rows ARE the rebuild relation `(id, n_toks,
  *    n_kept, text_out)`, documents that rebuild to empty text included
  *    (`n_kept = 0`, so the row count is auditable). A crash before this
  *    stage's append replays byte-identical rows; a crash after it replays
  *    an EMPTIED rebuild next to the true row. One rule recovers both: per
  *    id keep the row with the max `n_kept`.
  *  - `true`: the rebuilt text replaces `textCol` on the incoming rows,
  *    rows with `n_kept = 0` are dropped and `vecCol` is not carried on.
  *    A replay after this stage's append rebuilds to empty and is
  *    filtered, so every crash twin is byte-identical.
  */
case class Span(storeDir: String, k: Int, joinBack: Boolean) extends Stage {
  override def store: Option[StageStore] =
    Some(StageStore(storeDir, "spanFps", storeDir -> DistinctOn("fp")))

  private[streaming] def run(rows: DataFrame, p: IngestPlan): (DataFrame, () => Unit) = {
    val spark = rows.sparkSession
    import spark.implicits._
    val store = Stores.read(spark, storeDir).getOrElse(Seq.empty[String].toDF("fp"))
    val (rebuilt, newFps) = Dedup.incrementalSpanDedup(rows, store, p.idCol, p.textCol, k)
    val kept =
      if (!joinBack) rebuilt
      else Dedup.withRebuiltText(rows, rebuilt, p.idCol, p.textCol)
        .filter(col("n_kept") > 0).drop(p.vecCol)
    (kept, () => newFps.write.mode("append").parquet(storeDir))
  }
}

/** Cross-batch near-dedup ([[graft.operators.Dedup.incrementalDedup]])
  * against the persisted minhash signature store at `storeDir`: the pair
  * kernel ([[graft.operators.Dedup.minhashPairs]]) verifies pairs within
  * the batch by exact shingle Jaccard and pairs against the store by the
  * signature estimator, and returns the batch's signatures, computed once,
  * for the append of the survivors' rows. A crash before this stage's
  * append replays the batch against a store missing its signatures: keyed
  * distinct recovers the sinks.
  */
case class Minhash(storeDir: String, threshold: Double) extends Stage {
  override def store: Option[StageStore] =
    Some(StageStore(storeDir, "minhashSigs", storeDir -> DistinctOn("id")))

  private[streaming] def run(rows: DataFrame, p: IngestPlan): (DataFrame, () => Unit) = {
    val store = Stores.read(rows.sparkSession, storeDir).getOrElse(
      Dedup.minhashSignatures(rows.limit(0), p.idCol, p.textCol))
    val (pairs, sigs) = Dedup.minhashPairs(rows, store, p.idCol, p.textCol, threshold)
    val kept = Scope.scopedCheckpoint(Dedup.firstSeenWins(rows, p.idCol)(pairs))
    (kept, appendSurvivors(sigs, kept, p.idCol, storeDir))
  }
}

/** Maintenance of the persisted IVF index at `indexDir`
  * ([[graft.operators.VectorIndex.appendToIvfIndex]]): the append routes
  * the vectors through the index's pinned centroids and indexes only ids
  * it does not hold yet, so a replay after the append appends nothing.
  * The rows pass through unchanged. The scheduled maintenance folds the
  * delta tier into the cell-partitioned layout.
  */
case class VectorIndex(indexDir: String) extends Stage {
  override def store: Option[StageStore] =
    Some(StageStore(indexDir, "ivfIndex", s"$indexDir/cells" -> FoldDelta(indexDir)))

  private[streaming] def run(rows: DataFrame, p: IngestPlan): (DataFrame, () => Unit) =
    (rows, () => {
      graft.operators.VectorIndex.appendToIvfIndex(rows, indexDir, p.idCol, p.vecCol); ()
    })
}
