package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.exec.Scope
import graft.operators.Dedup
import graft.store.Stores
import graft.store.Stores.distinctOn

/** Streaming capability extension (SURVEY §2.7). The reference is
  * bounded-stream only; these transforms are written once and run on either
  * a batch DataFrame or a `readStream` DataFrame — the batch run doubles as
  * the exactness oracle for the streaming run.
  */
object Streams {

  /** Tumbling event-time window aggregation. On a stream, add
    * `withWatermark(tsCol, horizon)` upstream; the aggregation itself is
    * identical (incremental state store vs. hash agg).
    */
  def tumblingAgg(df: DataFrame, tsCol: String, width: String,
                  keys: Seq[Column], aggs: Seq[Column]): DataFrame =
    df.groupBy(window(col(tsCol), width) +: keys: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("window_start", col("window.start"))
      .withColumn("window_end", col("window.end"))
      .drop("window")

  /** Run a batch DataFrame through Structured Streaming and return the
    * result as a batch DataFrame: the input is staged to parquet, read back
    * with `readStream`, transformed, run to completion against a memory
    * sink. Proves the transform is streaming-legal (watermark + append
    * mode) while staying locally testable.
    */
  def runAsStream(spark: SparkSession, input: DataFrame, stage: String,
                  queryName: String, watermarkCol: String, watermarkDelay: String,
                  outputMode: String = "complete")(
                  transform: DataFrame => DataFrame): DataFrame = {
    input.write.mode("overwrite").parquet(stage)
    val stream = spark.readStream.schema(input.schema).parquet(stage)
      .withWatermark(watermarkCol, watermarkDelay)
    // NB: bounded inputs + append mode would withhold windows the watermark
    // never passes; "complete" emits the full result for oracle comparison.
    val q = transform(stream).writeStream
      .outputMode(outputMode).format("memory").queryName(queryName).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Run TWO batch DataFrames through a stream-stream transform (join) and
    * return the result as a batch DataFrame — the two-input sibling of
    * [[runAsStream]]. Each input is staged to parquet, read back with
    * `readStream`, watermarked, and the joined query runs to completion
    * against a memory sink in append mode (stream-stream joins don't
    * support complete mode; for an inner join with a time-range condition
    * append emits every match, watermarks only bound the join state).
    */
  def runAsStreamPair(spark: SparkSession, left: DataFrame, right: DataFrame,
                      stage: String, queryName: String,
                      leftWatermark: (String, String), rightWatermark: (String, String))(
                      transform: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    left.write.mode("overwrite").parquet(s"$stage/left")
    right.write.mode("overwrite").parquet(s"$stage/right")
    val l = spark.readStream.schema(left.schema).parquet(s"$stage/left")
      .withWatermark(leftWatermark._1, leftWatermark._2)
    val r = spark.readStream.schema(right.schema).parquet(s"$stage/right")
      .withWatermark(rightWatermark._1, rightWatermark._2)
    val q = transform(l, r).writeStream
      .outputMode("append").format("memory").queryName(queryName).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(queryName)
  }

  /** Stream-stream interval join: match left and right rows with equal
    * `keyCol` where `rightTs ∈ (leftTs, leftTs + window]` — the
    * click-attribution / funnel shape. The time-range predicate is what
    * lets Structured Streaming expire join state as the watermarks
    * advance; without it, both sides' state would grow forever. Works
    * identically on batch DataFrames (the oracle form).
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
                   leftTs: String, rightTs: String, windowSeconds: Long): DataFrame =
    left.join(right,
      left(keyCol) === right(keyCol) &&
        right(rightTs) > left(leftTs) &&
        right(rightTs) <= left(leftTs) + expr(s"INTERVAL $windowSeconds SECONDS"))
      .drop(right(keyCol))

  /** Streaming exact dedup with custom keyed state
    * (`flatMapGroupsWithState`): emits each key's record only the first time
    * it is seen across the whole stream — the streaming form of the
    * reference's Uniquer (C6). State per key is one boolean; with a real
    * 100 TB stream you'd bound it with a state TTL
    * (`GroupStateTimeout.ProcessingTimeTimeout`).
    */
  def streamingDedup[T](ds: org.apache.spark.sql.Dataset[T], key: T => String)(
      implicit enc: org.apache.spark.sql.Encoder[T],
      senc: org.apache.spark.sql.Encoder[String]): org.apache.spark.sql.Dataset[T] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val boolEnc: org.apache.spark.sql.Encoder[Boolean] =
      org.apache.spark.sql.Encoders.scalaBoolean
    ds.groupByKey(key)
      .flatMapGroupsWithState[Boolean, T](OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[T], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else { state.update(true); rows.take(1) }
      }
  }

  /** The micro-batch frame of every `ingest*` entry point: one
    * `foreachBatch` query checkpointed at `checkpointDir`, whose every
    * micro-batch runs `body` inside one cache scope
    * ([[graft.exec.Scope.withCacheScope]] — whatever the body caches or
    * checkpoints is released when the micro-batch ends) unless the source
    * delivered nothing, and then the scheduled maintenance of `maintain`'s
    * stores ([[graft.store.Stores.maybeCompact]], every `compactEvery`
    * batches, at the point where all of the batch's sinks hold it).
    * `trigger = Some(Trigger.AvailableNow())` runs ONE drain-the-source
    * round that self-terminates (the restartable-CLI form
    * [[graft.plans.IngestCompiler]] uses); `None` (every entry point's
    * default) runs a continuous stream.
    */
  private def microBatches(stream: DataFrame, checkpointDir: String,
                           trigger: Option[org.apache.spark.sql.streaming.Trigger],
                           compactEvery: Int = 0,
                           maintain: Seq[(String, (SparkSession, String) => Unit)] = Nil)(
                           body: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val w = stream.writeStream
    trigger.fold(w)(w.trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) Scope.withCacheScope(body(batch))
        Stores.maybeCompact(batch.sparkSession, batchId, compactEvery, maintain)
        ()
      }
      .start()
  }

  /** Streaming corpus ingest with cross-batch near-dedup: every micro-batch
    * is deduped against the PERSISTED minhash signature store
    * ([[graft.operators.Dedup.incrementalDedup]]); survivors append to
    * `corpusDir` and their signatures to `storeDir`, so each batch dedups
    * against everything ingested before it — the streaming form of the
    * don't-re-shingle-the-corpus ingest path. `foreachBatch` is the
    * Structured Streaming shape for transforms that need batch-only
    * multi-pass joins (LSH banding); restart safety comes from the
    * checkpoint — a replayed batch re-dedups against the store and its
    * survivors' signatures are re-appended. The two sinks are not atomic
    * (corpus is written first — duplicates are recoverable, dropped
    * content is not), so after an unclean restart give `corpusDir`
    * readers a `dropDuplicates(idCol)` and `storeDir` readers a
    * `dropDuplicates("id")`.
    */
  def ingestDedup(stream: DataFrame, idCol: String, textCol: String,
                  threshold: Double, corpusDir: String, storeDir: String,
                  checkpointDir: String,
                  compactEvery: Int = 0,
                  trigger: Option[org.apache.spark.sql.streaming.Trigger] = None
                 ): org.apache.spark.sql.streaming.StreamingQuery = {
    // the micro-batch scope holds the dedup operators' pair/membership
    // relations, which would otherwise grow the session registry by ~2
    // persisted relations per batch for the life of the stream
    microBatches(stream, checkpointDir, trigger, compactEvery,
        Seq(corpusDir -> distinctOn(idCol), storeDir -> distinctOn("id"))) { batch =>
      val spark = batch.sparkSession
      val store = Stores.read(spark, storeDir).getOrElse(
        Dedup.minhashSignatures(batch.limit(0), idCol, textCol))
      // the batch's signatures computed ONCE: the pair kernel and the
      // store append both consume this relation (the survivors'
      // signatures are a semi-join slice — no re-shingle of kept rows)
      val sigs = Scope.cached(Dedup.minhashSignatures(batch, idCol, textCol))
      val kept = Scope.scopedCheckpoint(Dedup.incrementalDedupSigs(batch, sigs,
        store, idCol, threshold))
      kept.write.mode("append").parquet(corpusDir)
      sigs.join(kept.select(col(idCol).as("__kid")),
          sigs("id") === col("__kid"), "left_semi")
        .write.mode("append").parquet(storeDir)
    }
  }

  /** Streaming corpus ingest with cross-batch SPAN dedup: every micro-batch
    * drops k-token windows whose content already entered the corpus (or
    * repeats within the batch — [[graft.operators.Dedup.incrementalSpanDedup]]),
    * appends the rebuilt documents to `corpusDir` and the fresh window
    * fingerprints to `storeDir`. The boilerplate case this exists for:
    * a crawler re-ingesting pages whose header/footer blocks were seen in
    * earlier batches keeps only each block's first occurrence ever.
    * Restart semantics (both crash windows are CI-tested in StreamsSpec):
    * the two sinks are not atomic and the corpus is deliberately written
    * FIRST. (1) A crash BETWEEN the writes makes the checkpoint replay
    * re-dedup against a store missing that batch's fingerprints and append
    * byte-identical documents AGAIN — duplicate corpus rows. (2) A crash
    * AFTER both writes but BEFORE the offset commits makes the replay see
    * the batch's OWN fingerprints and append an EMPTIED rebuild of each
    * document next to the true one. One recovery rule restores exact
    * content through both windows: per id keep the row with the MAX
    * `n_kept` (window 1's twins are identical; window 2's replay row always
    * has fewer-or-equal kept tokens than the true row — more store fps can
    * only drop more windows). The fp store needs NO replay recovery: fresh
    * fps are anti-joined against the store, so a replay never re-appends
    * them. Duplicate store keys DO arise operationally (re-run bootstrap
    * appends, store unions) — [[graft.store.Stores.compactStore]] /
    * the `CompactStoreSpec` pipeline node is the maintenance op for that.
    * Documents that rebuild to empty text are still appended (with
    * `n_kept = 0`) so the corpus row count is auditable — filter
    * `n_kept > 0` downstream.
    */
  def ingestSpanDedup(stream: DataFrame, idCol: String, textCol: String,
                      k: Int, corpusDir: String, storeDir: String,
                      checkpointDir: String,
                      compactEvery: Int = 0,
                      // test seams for the two documented crash windows
                      // (StreamsSpec injects throws here to drive the
                      // checkpoint-replay recovery tests; no-ops in
                      // production): `afterCorpusAppend` runs BETWEEN the
                      // corpus append and the fp-store append (failure ->
                      // divergent sinks, corpus rows duplicated on replay);
                      // `beforeCommit` runs after both appends but before
                      // foreachBatch returns, i.e. before the checkpoint
                      // commits the offset (failure -> BOTH sinks
                      // duplicated on replay — the state compactStore
                      // repairs)
                      afterCorpusAppend: () => Unit = () => (),
                      beforeCommit: () => Unit = () => (),
                      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None
                     ): org.apache.spark.sql.streaming.StreamingQuery = {
    // fp store only: this ingest's corpus recovery rule is
    // max-n_kept-per-id (window-2 twins are NOT byte-identical — the
    // replay row is an emptied rebuild), so a keep-ANY keyed distinct on
    // the corpus could keep the wrong twin; compactStore is exact only
    // where duplicate keys carry identical payloads
    microBatches(stream, checkpointDir, trigger, compactEvery,
        Seq(storeDir -> distinctOn("fp"))) { batch =>
      val spark = batch.sparkSession
      import spark.implicits._
      // incrementalSpanDedup registers its shared window relation (both
      // appends read it) with the micro-batch's scope
      val store = Stores.read(spark, storeDir).getOrElse(Seq.empty[String].toDF("fp"))
      val (rebuilt, newFps) = Dedup.incrementalSpanDedup(batch, store, idCol, textCol, k)
      rebuilt.write.mode("append").parquet(corpusDir)
      afterCorpusAppend()
      newFps.write.mode("append").parquet(storeDir)
      beforeCommit()
    }
  }

  /** Sessionization (batch form): assign a session id per key where a gap
    * of more than `gap` between consecutive events starts a new session.
    * lag → new-session flag → running sum. Streaming form would use
    * `session_window`; the batch form is the oracle-comparable one.
    */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String, gapSeconds: Long): DataFrame = {
    val byKey = Window.partitionBy(keyCol).orderBy(col(tsCol))
    val prev = lag(col(tsCol), 1).over(byKey)
    // micros-exact gap arithmetic (second-truncation would disagree with
    // sub-second sources at the boundary)
    val newSession = when(prev.isNull ||
      unix_micros(col(tsCol)) - unix_micros(prev) > gapSeconds * 1000000L, 1).otherwise(0)
    df.withColumn("session_seq",
      sum(newSession).over(byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Streaming corpus ingest with cross-batch SEMANTIC dedup: every
    * micro-batch drops vectors that semantically duplicate earlier batches
    * (or earlier rows of the same batch —
    * [[graft.operators.Dedup.incrementalSemanticDrop]]), appends survivors
    * to `corpusDir` and their ASSIGNED form `(id, vec, cluster,
    * centroid_sim)` to `storeDir`, so batch N+1 pairs only against the
    * cells it lands in. The centroid model is pinned for the stream's
    * lifetime (train offline, e.g.
    * [[graft.operators.Dedup.trainSemanticCentroids]]) — re-training
    * mid-stream would silently re-cluster the store. Restart semantics
    * match [[ingestDedup]]: corpus append precedes store append, so a
    * crash between them replays the batch against a store missing its
    * vectors and appends byte-identical rows again — recover with keyed
    * distinct ([[graft.store.Stores.compactStore]]) on both sinks. A
    * crash AFTER both appends but before the offset commits is fully
    * SELF-HEALING here (better than the span tier's window 2): each batch
    * is first pruned of ids ALREADY IN the store (an ids-only anti join —
    * the pair kernel itself never matches identical ids, so without this
    * a replayed vector would sail past its own store entry), so the
    * replay of a fully-committed batch appends zero rows to either sink.
    * Both windows are CI-tested in StreamsSpec via the same
    * injected-crash seams as [[ingestSpanDedup]].
    */
  def ingestSemanticDedup(stream: DataFrame, idCol: String, vecCol: String,
                          centroids: Seq[(Int, Seq[Float])], threshold: Double,
                          corpusDir: String, storeDir: String, checkpointDir: String,
                          compactEvery: Int = 0,
                          // test seams for the two crash windows (no-ops in
                          // production): between the sink appends, and after
                          // both appends but before the checkpoint commit
                          afterCorpusAppend: () => Unit = () => (),
                          beforeCommit: () => Unit = () => (),
                          trigger: Option[org.apache.spark.sql.streaming.Trigger] = None
                         ): org.apache.spark.sql.streaming.StreamingQuery = {
    microBatches(stream, checkpointDir, trigger, compactEvery,
        Seq(corpusDir -> distinctOn(idCol), storeDir -> distinctOn("id"))) { batch =>
      val store = Stores.read(batch.sparkSession, storeDir).getOrElse(
        Dedup.assignSemanticClusters(batch.limit(0), idCol, vecCol, centroids))
      // replay idempotency: ids already in the store were fully ingested
      // by a committed (or sink-complete) earlier attempt. Checkpointed
      // ONCE (the ingestPretrainCorpus pattern): the assignment and the
      // final anti join both read it; the scope releases every checkpoint
      // when the micro-batch ends
      val fresh = Scope.scopedCheckpoint(batch.join(store.select(col("id").as(idCol)),
        Seq(idCol), "left_anti"))
      // assignment computed ONCE for the pair kernel AND the store append;
      // kept is eagerly checkpointed so no append's refreshByPath can evict
      // a store-reading plan mid-batch
      val assigned = Scope.cached(Dedup.assignSemanticClusters(fresh, idCol, vecCol,
        centroids))
      val kept = Scope.scopedCheckpoint(Dedup.incrementalSemanticDropAssigned(
        fresh, assigned, store, idCol, threshold))
      kept.write.mode("append").parquet(corpusDir)
      afterCorpusAppend()
      assigned.join(kept.select(col(idCol).as("__kid")),
          assigned("id") === col("__kid"), "left_semi")
        .write.mode("append").parquet(storeDir)
      beforeCommit()
    }
  }

  /** Streaming corpus ingest with DSIR importance FILTERING: every
    * micro-batch is scored against a pinned hashed-ngram weights model
    * (train offline — [[graft.operators.CorpusStats.importanceWeights]] —
    * and persist to `weightsDir` parquet, the same run-once-model
    * discipline as [[ingestSemanticDedup]]'s centroids) and only
    * documents with `dsir_logw >= minLogw` are appended to `corpusDir`
    * (with their score column, for downstream re-thresholding).
    *
    * Rate-THRESHOLD, not top-k: a per-batch top-k would make a document's
    * survival depend on where the batch boundary fell; the threshold form
    * gives the streaming-consistent semantics — the same document gets
    * the same verdict in any batch, and the kept rate converges to the
    * batch-mode rate at that threshold. Pick `minLogw` offline from the
    * batch score distribution ([[graft.operators.Sampling.importanceScores]]
    * + a quantile). Documents with no grams score nothing and are
    * dropped, matching the batch operator. One sink, no cross-batch
    * state: restarts simply replay the uncommitted batch, appending
    * byte-identical rows — recover with `dropDuplicates(idCol)` readers
    * or [[graft.store.Stores.compactStore]], as with [[ingestDedup]].
    */
  def ingestImportanceFiltered(stream: DataFrame, idCol: String, textCol: String,
                               weightsDir: String, minLogw: Double,
                               corpusDir: String, checkpointDir: String,
                               hexLen: Int = 4,
                               trigger: Option[org.apache.spark.sql.streaming.Trigger] = None
                              ): org.apache.spark.sql.streaming.StreamingQuery =
    microBatches(stream, checkpointDir, trigger) { batch =>
      val weights = batch.sparkSession.read.parquet(weightsDir)
      batch.join(
          graft.operators.Sampling.importanceScores(batch, idCol, textCol, weights, hexLen)
            .filter(col("dsir_logw") >= minLogw),
          Seq(idCol))
        .write.mode("append").parquet(corpusDir)
    }

  /** Streaming maintenance of a persisted IVF index
    * ([[graft.operators.VectorIndex]]): every micro-batch routes its
    * vectors through the index's PINNED centroids (trained once at
    * [[graft.operators.VectorIndex.buildIvfIndex]] — the run-once-model
    * discipline of the other ingests) and appends only ids the index does
    * not already hold, so queries against the index see each vector at
    * most once organically. Crash replay re-appends byte-identical rows
    * (the append ran, the commit didn't); `compactEvery` purges them
    * keyed-distinct while preserving the cell-partitioned layout.
    */
  def ingestVectorIndex(stream: DataFrame, indexDir: String, checkpointDir: String,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        compactEvery: Int = 0,
                        beforeCommit: () => Unit = () => (),
                        trigger: Option[org.apache.spark.sql.streaming.Trigger] = None
                       ): org.apache.spark.sql.streaming.StreamingQuery =
    // the scheduled maintenance is the O(delta) FOLD, not the O(store) full
    // rewrite — run compactIvfIndex offline when per-cell file counts
    // warrant it
    microBatches(stream, checkpointDir, trigger, compactEvery, Seq(s"$indexDir/cells" ->
        ((spark, _) => { graft.operators.VectorIndex.foldIvfDelta(spark, indexDir); () }))) {
      batch =>
        graft.operators.VectorIndex.appendToIvfIndex(batch, indexDir, idCol, vecCol)
        beforeCommit()
    }

  /** Streaming corpus ingest behind the TRAINED quality classifier
    * ([[graft.operators.QualityModel.score]]): every micro-batch is scored
    * under pinned weights — a model asset like the DSIR weights and the
    * semantic centroids; train offline with
    * [[graft.operators.QualityModel.trainVsCorrupted]] and pin the vector —
    * and only accepted documents append to `corpusDir`, carrying their
    * `quality_score_1e6` / `quality_accept` columns for downstream
    * re-thresholding. Scoring is a pure per-row Column expression — zero
    * shuffle, zero cross-batch state — so a document's verdict is
    * batch-boundary-invariant by construction and equals the batch
    * operator's verdict exactly (the invariance StreamsSpec pins, the same
    * shape as [[ingestImportanceFiltered]]'s). Restart semantics: one
    * sink, at-least-once replay appends byte-identical rows — recover with
    * `dropDuplicates(idCol)` readers or
    * [[graft.store.Stores.compactStore]].
    */
  def ingestQualityFiltered(stream: DataFrame, textCol: String,
                            weights: Seq[Double], corpusDir: String,
                            checkpointDir: String,
                            trigger: Option[org.apache.spark.sql.streaming.Trigger] = None
                           ): org.apache.spark.sql.streaming.StreamingQuery =
    microBatches(stream, checkpointDir, trigger) { batch =>
      graft.operators.QualityModel.score(batch, textCol, weights)
        .filter(col("quality_accept") === 1)
        .write.mode("append").parquet(corpusDir)
    }

  /** The STREAMING counterpart of the flagship-v3 composite: one
    * micro-batch pass through the model-driven tiers in the batch
    * pipeline's order — trained-quality gate (pinned weights, stateless) →
    * optional DSIR importance gate (pinned gram model, rate-threshold — the
    * batch-boundary-invariant form of the composite's Gumbel-top-k) →
    * cross-batch SEMANTIC dedup against the assigned store (pinned
    * centroids, id-anti-join replay idempotency as in
    * [[ingestSemanticDedup]]) → cross-batch SPAN dedup against the
    * fingerprint store — then appends the rebuilt survivors (quality
    * columns + rewritten `textCol` + `n_kept`) to `corpusDir` and the two
    * store deltas to `semStoreDir` / `spanStoreDir`.
    *
    * All three models are pinned run-once assets (weights vector, centroid
    * seq, and the stores' contents); nothing re-trains mid-stream. Restart
    * semantics compose the per-tier contracts (all three crash windows
    * CI-tested in StreamsSpec via the injected seams):
    *  - crash BETWEEN the corpus append and the span-store append: the
    *    replay reprocesses the batch against unchanged stores and appends
    *    BYTE-IDENTICAL corpus rows again — recover with keyed distinct
    *    ([[graft.store.Stores.compactStore]] on `corpusDir`);
    *  - crash between the span-store and semantic-store appends: the
    *    replay's windows all hit the span store, the rebuilds empty, and
    *    the `n_kept > 0` corpus filter drops them — the replay appends
    *    NOTHING and the corpus is already exact (same keyed-distinct
    *    recovery class as window 1, with nothing to even distinct);
    *  - crash AFTER all three appends but before the offset commits: the
    *    replay re-delivers the same (non-empty) source rows and re-runs
    *    the model passes and store reads, but the semantic store already
    *    holds the batch's ids, so the id anti-join empties `fresh` and
    *    every append is a no-op — fully self-healing, which is why the
    *    semantic append goes LAST. (Recovery costs one batch of compute;
    *    only a batch that was empty AT THE SOURCE skips work entirely via
    *    the isEmpty guard below.)
    *
    * Sink ORDER is a recovery-quality choice, not a correctness
    * dependency: `novel` is eagerly `localCheckpoint`ed before any append,
    * so no append's `refreshByPath` can evict a plan that still reads a
    * store mid-batch (the r12 coupling where the semantic append HAD to
    * run last or the recompute saw the batch's own vectors).
    *
    * Every intermediate of a micro-batch is computed ONCE: the scored,
    * gated, store-filtered batch (`fresh`, checkpointed), its centroid
    * assignment (persisted), the flagged pair relation (the kernel emits
    * which side is new, so no id joins re-read the batch), the cluster
    * sizes (one small collect that both the cap warning and the store
    * pruning read) and the span tier's window relation (shared by the
    * corpus and span-store appends). All of it is released when the
    * micro-batch's [[graft.exec.Scope.withCacheScope]] exits.
    * SCALING.md "Pretrain micro-batch: one pass per intermediate" has the
    * per-action job counts.
    */
  def ingestPretrainCorpus(stream: DataFrame, idCol: String, textCol: String,
                           vecCol: String, qualityWeights: Seq[Double],
                           centroids: Seq[(Int, Seq[Float])], semThreshold: Double,
                           spanK: Int, corpusDir: String, semStoreDir: String,
                           spanStoreDir: String, checkpointDir: String,
                           // optional DSIR importance gate between quality and
                           // the dedup tiers — the rate-THRESHOLD streaming
                           // form of the batch composite's Gumbel-top-k (a
                           // per-batch top-k would make survival depend on
                           // where the batch boundary fell, cf.
                           // [[ingestImportanceFiltered]]); weightsDir is the
                           // pinned hashed-gram model parquet
                           dsirWeightsDir: Option[String] = None,
                           minLogw: Double = Double.NegativeInfinity,
                           // every N batches, rewrite the three sinks
                           // keyed-distinct ([[graft.store.Stores.compactStore]])
                           // AFTER that batch's appends: bounds file counts
                           // and purges crash-replay twins instead of
                           // growing without maintenance; 0 = off. Runs at
                           // the fully-applied point, so a crash
                           // mid-compaction heals on the next store read and
                           // the batch replay is the window-3 no-op.
                           compactEvery: Int = 0,
                           // ingest-time doc-length cap
                           // ([[graft.functions.TextOps.clampChars]]): a wild
                           // stream WILL deliver dimensionally hostile docs
                           // (megabyte single tokens, 100k-line dumps), and
                           // one super-linear per-doc kernel straggler can
                           // stall a micro-batch indefinitely — see
                           // SCALING.md's pathological-shape table. 0 = off
                           // (the gate fixtures are clean); production
                           // ingests should set it.
                           maxDocChars: Int = 0,
                           // test seams for the crash windows between the
                           // three sink appends (no-ops in production)
                           afterCorpusAppend: () => Unit = () => (),
                           afterSpanAppend: () => Unit = () => (),
                           beforeCommit: () => Unit = () => (),
                           trigger: Option[org.apache.spark.sql.streaming.Trigger] = None
                          ): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.QualityModel
    // scheduled maintenance at the fully-applied point: all three sinks
    // hold the batch's rows, so compaction only ever removes crash-replay
    // twins / rewrites small files — and a crash here replays the batch
    // into the window-3 no-op (semantic store already holds its ids)
    // before healed stores. Corpus keep-any is exact HERE (unlike
    // ingestSpanDedup's): the n_kept > 0 filter makes every replay twin
    // byte-identical.
    // A source-empty micro-batch runs ZERO store reads and zero model
    // passes — the one-task probe is pennies against the ~8 serialized
    // actions it skips. (A crash REPLAY is not empty: it re-delivers the
    // same rows and heals through the store-level anti-joins.)
    microBatches(stream, checkpointDir, trigger, compactEvery,
        Seq(corpusDir -> distinctOn(idCol), spanStoreDir -> distinctOn("fp"),
          semStoreDir -> distinctOn("id"))) { rawBatch =>
      val batch =
        if (maxDocChars <= 0) rawBatch
        else rawBatch.withColumn(textCol,
          graft.functions.TextOps.clampChars(col(textCol), maxDocChars))
      val spark = batch.sparkSession
      import spark.implicits._
      val qualified = QualityModel.score(batch, textCol, qualityWeights)
        .filter(col("quality_accept") === 1)
      val accepted = dsirWeightsDir match {
        case None => qualified
        case Some(wDir) =>
          qualified.join(
            graft.operators.Sampling.importanceScores(qualified, idCol, textCol,
                spark.read.parquet(wDir))
              .filter(col("dsir_logw") >= minLogw),
            Seq(idCol))
      }
      val semStore = Stores.read(spark, semStoreDir).getOrElse(
        Dedup.assignSemanticClusters(accepted.limit(0), idCol, vecCol, centroids))
      // the quality-scored, gated, store-filtered batch is checkpointed
      // ONCE: the assignment, the pair kernel's delta side and the
      // `novel` anti join all read it instead of re-scoring the batch.
      // Every checkpoint here is released with the micro-batch's scope
      val fresh = Scope.scopedCheckpoint(accepted.join(
        semStore.select(col("id").as(idCol)), Seq(idCol), "left_anti"))
      // centroid assignment computed ONCE per batch: the pair kernel
      // and the semantic-store append both consume this relation (the
      // former via the Assigned entry points, the latter pruned to the
      // survivors) instead of re-running the k×dim cosine pass. No
      // spread here: `fresh` is already post-score (spread upstream)
      val assigned = Scope.cached(Dedup.assignSemanticClusters(fresh,
        idCol, vecCol, centroids))
      // checkpoint (not persist): materializing `novel` HERE
      // truncates its lineage, so no later parquet append's
      // refreshByPath can evict a plan that still reads the semantic
      // store — the sink appends below are ORDER-INDEPENDENT for
      // correctness (the semantic append still goes last because its
      // post-commit-crash replay is then a free no-op: the id
      // anti-join empties the batch)
      val novel = Scope.scopedCheckpoint(Dedup.incrementalSemanticDropAssigned(
        fresh, assigned, semStore, idCol, semThreshold))
      val fpStore = Stores.read(spark, spanStoreDir).getOrElse(Seq.empty[String].toDF("fp"))
      // rebuilt and newFps share one registered window relation
      // (released with the scope), so the corpus and span-store
      // appends run the window pass once
      val (rebuilt, newFps) = Dedup.incrementalSpanDedup(novel, fpStore, idCol,
        textCol, spanK)
      // graft the rebuilt text back onto the full survivor rows
      // (quality columns + embedding ride through), SpanDedupNodeSpec's
      // join-back shape; the embedding column itself is not persisted
      // to the corpus — it lives in the semantic store's assigned form
      // n_kept = 0 means every window span-deduped away: drop the row
      // (the batch flagship v3's 'nonempty' stage semantics — without
      // this the corpus accumulated empty-text rows its batch
      // counterpart never emits, and the window-2 crash replay
      // re-appended them)
      val kept = novel
        .join(rebuilt.select(col("id").as("__sid"), col("text_out"), col("n_kept")),
          novel(idCol) === col("__sid"))
        .filter(col("n_kept") > 0)
        .withColumn(textCol, col("text_out"))
        .drop("__sid", "text_out", vecCol)
      kept.write.mode("append").parquet(corpusDir)
      afterCorpusAppend()
      newFps.write.mode("append").parquet(spanStoreDir)
      afterSpanAppend()
      assigned.join(novel.select(col(idCol).as("__nid")),
          assigned("id") === col("__nid"), "left_semi")
        .write.mode("append").parquet(semStoreDir)
      beforeCommit()
    }
  }
}
