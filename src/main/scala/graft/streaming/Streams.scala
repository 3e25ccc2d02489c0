package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.exec.Scope
import graft.store.Stores

/** Streaming capability extension (SURVEY §2.7). The reference is
  * bounded-stream only; these transforms are written once and run on either
  * a batch DataFrame or a `readStream` DataFrame. For the span and
  * semantic dedup tiers the batch operator IS the incremental kernel over
  * an empty store, so a one-batch ingest and the batch run share one body;
  * the minhash tier differs in its verdict (the batch run verifies exact
  * shingle Jaccard, the ingest the signature estimator).
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

  /** Run the streaming ingest `plan` over `stream`: one `foreachBatch`
    * query checkpointed at `plan.checkpointDir`. Each micro-batch the
    * source delivered rows for runs inside one cache scope
    * ([[graft.exec.Scope.withCacheScope]] — whatever the stages cache or
    * checkpoint is released when the micro-batch ends): clamp each
    * document to `maxDocChars`, fold the stages in order (each reads its
    * store when it runs and computes its store delta from its own
    * survivors), then append to [[IngestPlan.sinks]] in order — the
    * corpus first, then each stage's store delta in reverse stage order.
    * A source-empty micro-batch runs no store read and no model pass. Then
    * comes the scheduled maintenance of [[IngestPlan.maintenance]]
    * ([[graft.store.Stores.maybeCompact]]), at the point where every sink
    * holds the batch, so a crash there replays into a batch whose every
    * append is a no-op or a twin the next compaction purges.
    *
    * The sinks are not atomic: a crash between two appends replays the
    * batch (`foreachBatch` is at-least-once) against the stores as they
    * were left. Each stage's scaladoc states what that replay appends.
    *
    * `trigger = Some(Trigger.AvailableNow())` runs ONE drain-the-source
    * round that self-terminates (the restartable-CLI form
    * [[graft.plans.IngestCompiler]] uses); `None` runs a continuous
    * stream. `afterAppend` is called with the sink directory after every
    * append — the call after the last append is the point just before the
    * checkpoint commits the batch (crash-replay tests throw there).
    */
  def ingest(stream: DataFrame, plan: IngestPlan,
             trigger: Option[org.apache.spark.sql.streaming.Trigger] = None,
             afterAppend: String => Unit = _ => ()): org.apache.spark.sql.streaming.StreamingQuery = {
    val w = stream.writeStream
    trigger.fold(w)(w.trigger)
      .option("checkpointLocation", plan.checkpointDir)
      .foreachBatch { (rawBatch: DataFrame, batchId: Long) =>
        if (!rawBatch.isEmpty) Scope.withCacheScope {
          // a wild stream WILL deliver dimensionally hostile documents, and
          // one super-linear per-doc kernel straggler can stall a
          // micro-batch indefinitely (SCALING.md's pathological shapes)
          val batch =
            if (plan.maxDocChars <= 0) rawBatch
            else rawBatch.withColumn(plan.textCol,
              graft.functions.TextOps.clampChars(col(plan.textCol), plan.maxDocChars))
          val (kept, storeAppends) = plan.stages.foldLeft((batch, Map.empty[String, () => Unit])) {
            case ((rows, appends), stage) =>
              val (next, append) = stage.run(rows, plan)
              (next, appends ++ stage.store.map(_.dir -> append))
          }
          val appends = storeAppends ++ plan.corpusDir.map(dir =>
            dir -> (() => kept.write.mode("append").parquet(dir)))
          plan.sinks.foreach { dir => appends(dir)(); afterAppend(dir) }
        }
        Stores.maybeCompact(rawBatch.sparkSession, batchId, plan.compactEvery, plan.maintenance)
        ()
      }
      .start()
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
}
