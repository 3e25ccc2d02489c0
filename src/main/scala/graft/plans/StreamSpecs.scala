package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.streaming.{Dsir, IngestPlan, Minhash, Quality, Semantic, Span, VectorIndex}

/** Persisted STREAMING-ingest specs — the streaming half of the
  * reference's persisted-job model (`/root/reference/jobs/job.js:21-39`:
  * a Job document is operator config saved once and instantiated later;
  * `jobs/hi-order/job-pipeline.js:86-106` is the run-it-later UX). The
  * batch half is [[PipelineSpec]]; these nodes describe the engine's
  * stateful `foreachBatch` ingests ([[graft.streaming.Streams]]) so a
  * long-running ingest is a JSON artifact too: source + pinned models +
  * store locations, no Scala required.
  *
  * Each spec is one fixed stage list of the ingest runner
  * ([[IngestSpec.plan]], run by [[graft.streaming.Streams.ingest]]);
  * pinned model assets (quality weights, semantic centroids)
  * are INLINE — the spec file carries the model exactly as the reference
  * persisted `processor` config inside the job document — while large
  * trained models (the DSIR gram table) stay parquet paths.
  *
  * Execution model ([[IngestCompiler]]): the source is a file-drop
  * directory read with `readStream` (schema inferred from a static read
  * of the same path), the query runs with `Trigger.AvailableNow` and
  * terminates when the directory is drained. Re-running the same spec
  * later resumes from its checkpoint and processes only newly-arrived
  * files — each CLI invocation is one incremental ingest round, and a
  * crash mid-round heals exactly like any other restart of the
  * underlying ingest (the per-stage crash-window contracts in
  * [[graft.streaming.Stage]] scaladoc).
  */
case class StreamSourceSpec(format: String, path: String,
                            options: Map[String, String] = Map.empty)

sealed trait IngestSpec {
  def source: StreamSourceSpec
  def checkpointDir: String
  /** The ingest as the runner's stage list. */
  def plan: IngestPlan
}

/** [[graft.streaming.Quality]] into a corpus. */
case class QualityIngestSpec(source: StreamSourceSpec, textCol: String,
                             weights: Seq[Double], corpusDir: String,
                             checkpointDir: String) extends IngestSpec {
  def plan: IngestPlan =
    IngestPlan("", textCol, "", Seq(Quality(weights)), Some(corpusDir), checkpointDir)
}

/** [[graft.streaming.Dsir]] into a corpus. */
case class ImportanceIngestSpec(source: StreamSourceSpec, idCol: String,
                                textCol: String, weightsDir: String,
                                minLogw: Double = Double.NegativeInfinity,
                                corpusDir: String,
                                checkpointDir: String,
                                hexLen: Int = 4) extends IngestSpec {
  def plan: IngestPlan = IngestPlan(idCol, textCol, "", Seq(Dsir(weightsDir, minLogw, hexLen)),
    Some(corpusDir), checkpointDir)
}

/** [[graft.streaming.Minhash]] (cross-batch MinHash/LSH) into a corpus. */
case class MinhashIngestSpec(source: StreamSourceSpec, idCol: String,
                             textCol: String, threshold: Double = 0.8,
                             corpusDir: String, storeDir: String,
                             checkpointDir: String,
                             compactEvery: Int = 0) extends IngestSpec {
  def plan: IngestPlan = IngestPlan(idCol, textCol, "", Seq(Minhash(storeDir, threshold)),
    Some(corpusDir), checkpointDir, compactEvery)
}

/** [[graft.streaming.Span]] whose corpus is the rebuild relation. */
case class SpanIngestSpec(source: StreamSourceSpec, idCol: String,
                          textCol: String, k: Int = 16,
                          corpusDir: String, storeDir: String,
                          checkpointDir: String,
                          compactEvery: Int = 0) extends IngestSpec {
  def plan: IngestPlan = IngestPlan(idCol, textCol, "",
    Seq(Span(storeDir, k, joinBack = false)), Some(corpusDir), checkpointDir, compactEvery)
}

/** [[graft.streaming.Semantic]] into a corpus; `centroids` is the pinned
  * model, inline.
  */
case class SemanticIngestSpec(source: StreamSourceSpec, idCol: String,
                              vecCol: String,
                              centroids: Seq[(Int, Seq[Float])],
                              threshold: Double = 0.95,
                              corpusDir: String, storeDir: String,
                              checkpointDir: String,
                              compactEvery: Int = 0) extends IngestSpec {
  def plan: IngestPlan = IngestPlan(idCol, "", vecCol,
    Seq(Semantic(storeDir, centroids, threshold)), Some(corpusDir), checkpointDir, compactEvery)
}

/** [[graft.streaming.VectorIndex]] alone, no corpus (the index's own
  * centroids are already persisted inside `indexDir`).
  */
case class VectorIndexIngestSpec(source: StreamSourceSpec, idCol: String,
                                 vecCol: String, indexDir: String,
                                 checkpointDir: String,
                                 compactEvery: Int = 0) extends IngestSpec {
  def plan: IngestPlan = IngestPlan(idCol, "", vecCol, Seq(VectorIndex(indexDir)), None,
    checkpointDir, compactEvery)
}

/** The composed flagship ingest — the streaming form of the flagship-v3
  * tiers, in the batch pipeline's order: [[graft.streaming.Quality]] →
  * optional [[graft.streaming.Dsir]] → [[graft.streaming.Semantic]] →
  * [[graft.streaming.Span]] with the rebuilt text joined back.
  * `minLogw = -Infinity` (the no-DSIR-gate default) is encoded by
  * OMITTING the field in JSON.
  */
case class PretrainIngestSpec(source: StreamSourceSpec, idCol: String,
                              textCol: String, vecCol: String,
                              qualityWeights: Seq[Double],
                              centroids: Seq[(Int, Seq[Float])],
                              semThreshold: Double = 0.95, spanK: Int = 16,
                              corpusDir: String, semStoreDir: String,
                              spanStoreDir: String, checkpointDir: String,
                              dsirWeightsDir: Option[String] = None,
                              minLogw: Double = Double.NegativeInfinity,
                              compactEvery: Int = 0,
                              maxDocChars: Int = 0) extends IngestSpec {
  def plan: IngestPlan = IngestPlan(idCol, textCol, vecCol,
    Seq(Quality(qualityWeights)) ++ dsirWeightsDir.map(Dsir(_, minLogw, hexLen = 4)) ++
      Seq(Semantic(semStoreDir, centroids, semThreshold), Span(spanStoreDir, spanK, joinBack = true)),
    Some(corpusDir), checkpointDir, compactEvery, maxDocChars)
}

/** Compiles an [[IngestSpec]] to a running [[StreamingQuery]] of its
  * plan ([[graft.streaming.Streams.ingest]]), and runs the
  * drain-and-exit form the CLI uses. `{%var%}` placeholders resolve with
  * the SAME walk as the batch compiler ([[SpecJson.substitute]]), so one
  * parameterized spec serves every environment.
  */
object IngestCompiler {

  /** The spec's primary output location — what a caller reads after the
    * ingest drains (stores are secondary state).
    */
  def primarySink(spec: IngestSpec): String = {
    val p = spec.plan
    p.corpusDir.getOrElse(p.stages.collectFirst { case v: VectorIndex => s"${v.indexDir}/cells" }.get)
  }

  /** `readStream` over the spec's source directory. File sources need an
    * explicit schema; on the FIRST round it is inferred from a static
    * read of the path (so at least one file must be present — drop the
    * first batch, then start) and persisted next to the checkpoint
    * (`<checkpointDir>/graft_source_schema.json`). Every later round
    * reads the pinned schema instead of re-inferring: rounds stay cheap
    * when the drop directory holds millions of historical files (no
    * footer reads), and keep working after drained files are archived or
    * deleted — an empty drop directory with a pinned schema is just a
    * zero-batch round, not an inference failure. Pinning also freezes
    * the contract: a producer changing the file schema mid-stream fails
    * loudly at read instead of silently re-inferring a new one.
    */
  private[graft] def sourceStream(spark: SparkSession, src: StreamSourceSpec,
                                  checkpointDir: String): DataFrame = {
    val schemaPath = new org.apache.hadoop.fs.Path(checkpointDir, "graft_source_schema.json")
    val fs = schemaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val schema: org.apache.spark.sql.types.StructType =
      if (fs.exists(schemaPath)) {
        val in = fs.open(schemaPath)
        val json = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        org.apache.spark.sql.types.DataType.fromJson(json)
          .asInstanceOf[org.apache.spark.sql.types.StructType]
      } else {
        val inferred = spark.read.format(src.format).options(src.options)
          .load(src.path).schema
        // atomic tmp+rename publish (the store-maintenance convention): a
        // crash mid-write must not leave a truncated schema pin
        val tmp = new org.apache.hadoop.fs.Path(checkpointDir,
          "graft_source_schema.json.tmp")
        val out = fs.create(tmp, true)
        try out.write(inferred.json.getBytes("UTF-8")) finally out.close()
        if (!fs.rename(tmp, schemaPath)) {
          // rename can refuse when the destination appeared concurrently
          // (two rounds racing on one checkpoint) — the winner's pin is
          // as good as ours; anything else must fail LOUDLY, or the pin
          // silently never exists and a later archived-drop round dies
          // re-inferring against an empty directory
          fs.delete(tmp, false)
          if (!fs.exists(schemaPath)) throw new java.io.IOException(
            s"could not publish source-schema pin $schemaPath")
        }
        inferred
      }
    spark.readStream.format(src.format).options(src.options)
      .schema(schema).load(src.path)
  }

  /** Start the ingest described by `spec` (placeholders must already be
    * resolved — see [[SpecJson.substitute]]).
    */
  def start(spark: SparkSession, spec: IngestSpec,
            trigger: Option[Trigger] = None): StreamingQuery =
    graft.streaming.Streams.ingest(sourceStream(spark, spec.source, spec.checkpointDir),
      spec.plan, trigger)

  /** One incremental ingest round: resolve placeholders, start with
    * `Trigger.AvailableNow`, block until the source is drained. The
    * checkpoint makes successive calls process only newly-arrived files —
    * the restartable-CLI form of the ingest.
    *
    * Concurrency guard: the round runs under an advisory single-writer
    * lock on the checkpoint ([[withIngestLock]]) — two invocations
    * sharing one checkpoint (a cron round overlapping a slow manual run)
    * are undefined behavior in Structured Streaming, so the second
    * invoker fails fast naming the holder instead of corrupting offsets.
    * `lockStaleMs` bounds how long a CRASHED holder's lock survives: the
    * live holder heartbeats the lock's mtime every `lockStaleMs / 4`, so
    * only a process that stopped heartbeating that long ago is reclaimed.
    */
  def runAvailable(spark: SparkSession, spec: IngestSpec,
                   params: Map[String, String] = Map.empty,
                   lockStaleMs: Long = 600000L): Unit = {
    val resolved = SpecJson.substitute(spec, params)
    withIngestLock(spark, resolved.checkpointDir, lockStaleMs) {
      val q = start(spark, resolved, Some(Trigger.AvailableNow()))
      try q.awaitTermination() finally if (q.isActive) q.stop()
    }
  }

  /** Advisory single-writer lock on an ingest checkpoint directory:
    * `<checkpointDir>/graft_ingest.lock` held as a
    * [[graft.store.Stores.withLease]] lease (create-exclusive, mtime
    * heartbeat every `staleMs / 4`, stale-holder reclaim through an atomic
    * rename). A second invoker seeing a FRESH lock fails fast with the
    * holder's identity. The streaming checkpoint itself stays the source
    * of truth for data correctness (a reclaimed-but-alive zombie holder
    * is still fenced by checkpoint file atomicity); the lock exists to
    * fail fast and NAME the conflict instead of letting two rounds
    * interleave offsets.
    */
  private[graft] def withIngestLock[T](spark: SparkSession, checkpointDir: String,
                                       staleMs: Long)(body: => T): T = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(checkpointDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val lock = new Path(dir, "graft_ingest.lock")
    graft.store.Stores.withLease(fs, lock, staleMs) { (holder, age) =>
      new IllegalStateException(age match {
        case Some(ms) =>
          s"ingest checkpoint $checkpointDir is locked by [$holder] " +
            s"(heartbeat ${ms / 1000}s ago, stale after ${staleMs / 1000}s): " +
            "one RunSpec invocation per checkpoint — wait for it, or delete " +
            s"$lock if the holder is known dead"
        case None =>
          s"ingest checkpoint $checkpointDir is locked by [$holder]: " +
            "one RunSpec invocation per checkpoint — a concurrent round just " +
            "acquired it"
      })
    }(body)
  }
}
