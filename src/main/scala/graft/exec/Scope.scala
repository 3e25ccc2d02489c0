package graft.exec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Execution scope of a session: the one owner of every cached
  * intermediate, and the plan helpers the operators and the spec compiler
  * share.
  *
  * Every relation an operator, a spec compile (PipelineCompiler's CacheSpec
  * nodes and multi-read barriers), a streaming micro-batch or a multi-sink
  * run persists is registered here through [[cached]], and belongs to the
  * innermost open frame of the registering thread, which releases it on
  * exit. [[unpersistCaches]] is the session-wide release for relations
  * registered outside any frame. Left to Spark's ContextCleaner by design:
  * VectorIndex's and Bpe's raw localCheckpoints and the `q_n_span_incr`
  * gate's escape checkpoint (SCALING.md "Cache lifetime: one owner").
  */
object Scope {

  private val caches = scala.collection.mutable.ListBuffer.empty[DataFrame]
  /** One open scope on one thread: the relations it releases on exit. A
    * unit-of-work frame ([[withCacheScope]]) also owns the checkpoints
    * taken inside it ([[scopedCheckpoint]]); an operator's own internal
    * frame ([[operatorScope]]) does not, because the operator may return a
    * lazy frame that still reads them.
    */
  private final class Frame(val unitOfWork: Boolean) {
    val persisted = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val checkpoints = scala.collection.mutable.ListBuffer.empty[DataFrame]
  }
  // the calling thread's open frames, innermost first: a relation belongs
  // to a frame of the thread that registered it, so micro-batches of
  // concurrent streams, or concurrent compiles, in one session never
  // release each other's relations
  private val scopes = ThreadLocal.withInitial[List[Frame]](() => Nil)

  /** Persist `df` (`MEMORY_AND_DISK`) and register it with the calling
    * thread's innermost open frame, which releases it on exit; with no
    * frame open it stays until [[unpersistCaches]].
    */
  private[graft] def cached(df: DataFrame): DataFrame = cachedIn(scopes.get.headOption)(df)

  private def cachedIn(frame: Option[Frame])(df: DataFrame): DataFrame = caches.synchronized {
    caches += df
    frame.foreach(_.persisted += df)
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** How many relations the registry holds right now. */
  private[graft] def registeredCaches: Int = caches.synchronized(caches.length)

  /** Release every registered relation in this session — the session-wide
    * release; a caller cleaning up after its own work uses
    * [[withCacheScope]] instead.
    */
  def unpersistCaches(): Unit = caches.synchronized {
    caches.foreach(_.unpersist(blocking = false))
    caches.clear()
  }

  /** Run `body` and release exactly the relations registered DURING it on
    * this thread, and the checkpoints taken for it — the per-unit-of-work
    * hygiene for long-running callers (one streaming micro-batch, one spec
    * compile, one corpus in a loop) that must not clear unrelated caches
    * the way [[unpersistCaches]] does. Results needed beyond the scope must
    * be materialized (written/collected) inside `body`. Frames nest and are
    * per thread: concurrent scopes in one session release only their own.
    */
  def withCacheScope[T](body: => T): T = inFrame(new Frame(unitOfWork = true))(body)

  /** An operator's internal scope: releases what it registered, nothing
    * more (see [[Frame]]).
    */
  private[graft] def operatorScope[T](body: => T): T = inFrame(new Frame(unitOfWork = false))(body)

  /** An operator scope around a small (pair-sized) result: `body`'s
    * [[cached]] intermediates are released when it returns, after the
    * result is materialized into a cache registered with the ENCLOSING
    * frame — callers typically both write and inspect it.
    */
  private[graft] def operatorResult(body: => DataFrame): DataFrame = {
    val enclosing = scopes.get.headOption
    operatorScope {
      val result = cachedIn(enclosing)(body)
      result.count() // materialize so the intermediates are releasable NOW
      result
    }
  }

  private def inFrame[T](frame: Frame)(body: => T): T = {
    scopes.set(frame :: scopes.get)
    try body
    finally {
      scopes.set(scopes.get.tail)
      caches.synchronized {
        frame.persisted.foreach(_.unpersist(blocking = false))
        caches --= frame.persisted
      }
      frame.checkpoints.foreach(releaseCheckpoint)
    }
  }

  /** Eager `localCheckpoint` owned by the calling thread's innermost
    * [[withCacheScope]], which releases its blocks on exit; with none open,
    * Spark's ContextCleaner reclaims them once the result is unreferenced.
    */
  private[graft] def scopedCheckpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(true)
    scopes.get.find(_.unitOfWork).foreach(_.checkpoints += cp)
    cp
  }

  /** Drop an eager checkpoint's blocks now: they live on its `LogicalRDD`'s
    * RDD, which `Dataset.unpersist` does not reach.
    */
  private[graft] def releaseCheckpoint(cp: DataFrame): Unit = cp.queryExecution.logical match {
    case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
  }

  /** Is `p` a shuffle-inducing (wide) logical operator — join, aggregate,
    * window, sort, distinct, repartition, set operation or limit? Shared by
    * [[spread]] (a plan containing one already inherits shuffle
    * parallelism) and the spec compiler's multi-read barrier (a plan
    * containing one is worth materializing once instead of re-planning per
    * read). Tested on the ANALYZED plan: cheap, and runs no jobs.
    */
  private[graft] def isWide(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    p match {
      case _: Join | _: Aggregate | _: Window | _: Sort | _: Distinct |
           _: Deduplicate | _: RepartitionOperation | _: SetOperation |
           _: GlobalLimit | _: LocalLimit => true
      case _ => false
    }
  }

  /** Spread a small-file input across the cluster before CPU-heavy narrow
    * compute (signatures). A single parquet file arrives as one partition;
    * the shuffle is pennies next to the per-row kernel work. No-op when the
    * source is already split (the 100 TB case).
    *
    * The always-true `pmod(monotonically_increasing_id(), 1) >= 0` filter
    * is a predicate-pushdown BARRIER, not row selection: Catalyst pushes a
    * caller's downstream deterministic filter below the repartition (less
    * data to shuffle — normally right), SUBSTITUTING its aliased inputs,
    * which drags the caller's entire staged expression pipeline back into
    * the pre-exchange stage — i.e. onto the ONE partition this repartition
    * exists to escape, in UNSTAGED form (tokenizer re-run per feature;
    * measured on the quality gate: 1512 ms single-task map stage vs 30 ms
    * across 32 tasks). Predicates cannot reorder across a nondeterministic
    * filter, so the caller's compute stays post-exchange. `rand()`-based
    * barriers do not survive Spark 4's `OptimizeRand` range folding;
    * nothing folds the pmod form. The barrier exists only on this
    * small-input path — at scale `spread` returns the input untouched and
    * pushdown behaves normally.
    */
  private[graft] def spread(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    // Only a pure-narrow plan over file/local sources can be stuck at a
    // single partition; anything containing a shuffle-inducing operator
    // (or an already-materialized relation) inherits shuffle-partition /
    // cached parallelism. The check runs on the ALREADY-ANALYZED logical
    // plan — probing the physical plan costs a full optimizer pass per
    // call, and `.rdd` on a plan WITH exchanges even EXECUTES its map
    // stages during planning (both measured as real regressions). Narrow
    // plans are cheap to probe and the only ones that need spreading.
    // NOT in the list: LogicalRDD — foreachBatch hands micro-batches in as
    // LogicalRDD-rooted frames, and those are exactly the few-partition
    // inputs the streaming quality gate needs spread (matching it here
    // silently re-serialized every micro-batch's scoring: IngestLadder
    // 8-10 s/batch -> 16-18 s). A LogicalRDD plan has no exchanges, so
    // the .rdd partition probe below is free on it.
    val inheritsParallelism = df.queryExecution.analyzed.exists {
      case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => true
      case p => isWide(p)
    }
    if (inheritsParallelism) df
    else if (df.rdd.getNumPartitions < par)
      df.repartition(par)
        .where(pmod(monotonically_increasing_id(), lit(1L)) >= 0)
    else df
  }
}
