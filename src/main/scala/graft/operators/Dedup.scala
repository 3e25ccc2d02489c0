package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextOps

/** Corpus deduplication at pretraining scale — the north-star extension of
  * the reference's `Uniquer` (SURVEY §7.5). Five tiers, cheapest first:
  *
  *  1. exact       — hash-groupBy on a canonical fingerprint
  *  2. MinHash/LSH — shingle → minhash signature → banded buckets →
  *                   candidate join → exact-Jaccard verify
  *  3. SimHash     — 64-bit signature, near-dups by Hamming distance
  *  4. n-gram Jaccard — exact set similarity on candidate pairs
  *  5. embedding cosine — semantic near-dups via sign-LSH buckets
  *
  * Every tier is expressions + one keyed shuffle; nothing collects to the
  * driver, so each scales linearly with executors. Signatures/bands are
  * computed with Spark's codegen'd `hash`/`xxhash64` — no UDFs.
  */
object Dedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.operators.Dedup")

  /** Emit the cap-recall-loss signal after an LSH query materializes: every
    * banded tier DROPS buckets larger than its `maxBucketSize` (degenerate/
    * boilerplate content), so pairs whose only agreeing band lands in such a
    * bucket are silently missed. The counts come from an
    * [[org.apache.spark.sql.Observation]] wired pre-filter — zero extra
    * passes — and are read non-blockingly, so this is a no-op for callers
    * that never ran an action.
    */
  // single daemon thread for Observation reads plus a scheduler that cancels
  // stragglers: obs.get waits interruptibly, so a misbehaving observation can
  // never park the log thread forever or starve a shared pool
  private lazy val obsExec = java.util.concurrent.Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "graft-dedup-observation"); t.setDaemon(true); t
  }
  private lazy val obsCanceller =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "graft-dedup-observation-cancel"); t.setDaemon(true); t
    }

  private def logDroppedBuckets(op: String, obs: org.apache.spark.sql.Observation): Unit = {
    // fully asynchronous: the caller's action already ran, so the listener
    // normally fires within milliseconds, but the RETURNING call never waits
    // on it — a suppressed CollectMetrics (e.g. a future cache/AQE
    // interaction) must not turn a metrics read into a stall, nor serialize
    // concurrent dedup calls behind the shared log thread. The scheduled
    // interrupt below is belt-and-braces so such a straggler also cannot
    // park the log thread past 10 s.
    val fut = obsExec.submit(new Runnable {
      override def run(): Unit = {
        val m = try obs.get catch {
          case _: InterruptedException => return
          case scala.util.control.NonFatal(_) => return
        }
        def n(k: String) = m.get(k).collect { case x: Number => x.longValue }.getOrElse(0L)
        val (buckets, rows) = (n("dropped_buckets"), n("dropped_rows"))
        if (buckets > 0)
          log.warn(s"$op: dropped $buckets oversized LSH bucket(s) covering $rows member rows " +
            "(maxBucketSize cap) — pairs agreeing only inside them are not emitted; " +
            "raise maxBucketSize to trade cost for recall")
      }
    })
    obsCanceller.schedule(new Runnable {
      override def run(): Unit = fut.cancel(true)
    }, 10, java.util.concurrent.TimeUnit.SECONDS)
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

  // Relations persisted by the LSH operators (they feed multiple plan
  // branches). End-to-end entry points ([[minhashDedupPairs]],
  // [[simhashPairs]]) scope their intermediates per call: the (small) pair
  // result is materialized eagerly and the signature/candidate relations are
  // unpersisted before returning, so storage memory does NOT accumulate for
  // the life of a long-running session. Only results (and the signature
  // relation of a bare [[minhashCandidates]] call, which stays lazy) land in
  // this registry; [[unpersistCaches]] is the catch-all between corpora.
  private val caches = scala.collection.mutable.ListBuffer.empty[DataFrame]
  private def cached(df: DataFrame): DataFrame = caches.synchronized {
    caches += df
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Release every relation cached by dedup operators in this session. */
  def unpersistCaches(): Unit = caches.synchronized {
    caches.foreach(_.unpersist(blocking = false))
    caches.clear()
  }

  /** Run `body` and release exactly the relations the dedup operators
    * registered DURING it — the per-unit-of-work hygiene for long-running
    * callers (one streaming micro-batch, one corpus in a loop) that must
    * not clear unrelated caches the way [[unpersistCaches]] does. Results
    * needed beyond the scope must be materialized (written/collected)
    * inside `body`.
    */
  def withCacheScope[T](body: => T): T = {
    val before = caches.synchronized(caches.length)
    try body
    finally caches.synchronized {
      caches.drop(before).foreach(_.unpersist(blocking = false))
      caches.remove(before, caches.length - before)
    }
  }

  /** Run `body` with a call-local cache registrar, materialize its result,
    * then release the call's intermediate caches eagerly. The result itself
    * is persisted (it was just computed — callers typically both write and
    * inspect it) and registered in the session registry for
    * [[unpersistCaches]].
    */
  private def withScopedCaches(body: (DataFrame => DataFrame) => DataFrame): DataFrame = {
    val local = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def localCached(df: DataFrame): DataFrame = {
      local += df
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    try {
      val result = cached(body(localCached))
      result.count() // materialize so the intermediates are releasable NOW
      result
    } finally local.foreach(_.unpersist(blocking = false))
  }

  /** Tier 1: exact dedup on a canonical text fingerprint; keeps the row with
    * the smallest `orderCol` per duplicate group (deterministic keep-first,
    * cf. SURVEY §7.4.2).
    */
  /** Null-text policy: a null text tokenizes to null, and the fingerprint's
    * `concat_ws` folds a null token array and an empty one to the same
    * canonical "" — so null-text documents (failed upstream extraction) land
    * in the SAME group as empty/whitespace-only documents and dedup away
    * against them, keeping one min-by-`orderCol` representative of the whole
    * contentless class. Deliberate: at corpus scale the alternative (each
    * null doc its own group) would pass every extraction failure through the
    * dedup gate untouched. Pinned in EdgeCaseSpec.
    */
  def exact(df: DataFrame, textCol: String, orderCol: String): DataFrame = {
    val keyed = df.withColumn("__fp", TextOps.fingerprint(col(textCol)))
    val all = struct(df.columns.map(col) :+ col("__fp"): _*)
    keyed.groupBy(col("__fp"))
      .agg(min_by(all, col(orderCol)).as("__keep"), count(lit(1)).as("dup_count"))
      .select(col("__keep.*"), col("dup_count"))
      .drop("__fp")
  }

  /** Tier 1.5: span-level exact dedup — the scalable variant of
    * exact-substring deduplication (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better"; C4's repeated-boilerplate removal).
    * Documents are cut into non-overlapping k-token aligned windows; every
    * occurrence of a window's content beyond the globally-first one
    * (smallest `(id, start)`) is deleted, and each document is rebuilt from
    * its surviving windows in order. Removes cross-document boilerplate
    * (headers, terms-of-service blocks) and within-document repetition that
    * document-level fingerprints can't touch.
    *
    * Returns `(id, n_toks, n_kept, text_out)` — token counts before/after
    * and the surviving token stream re-joined with single spaces.
    *
    * Scale shape: the fingerprint-wide shuffle carries ONLY `(fp, id,
    * start)` triples. The first-occurrence choice is a
    * `groupBy(fp).agg(min(...))` (map-side partial absorbs mega-repeated
    * boilerplate fingerprints — the skew case — instead of funnelling them
    * through one window task), losers join back fp-keyed (AQE handles the
    * residual skew), and the per-doc drop set is a small `collect_set`.
    * The rebuild attaches drop sets with a join that broadcasts while the
    * drop relation fits (PlanQualitySpec locks that no token array rides a
    * shuffle in that regime); on a boilerplate-saturated corpus it degrades
    * to ONE id-keyed corpus shuffle — the floor for any rebuild that must
    * pair documents with their deletions.
    */
  def dropRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 16): DataFrame = {
    val base = spanBase(df, idCol, textCol)
    val occ = spanOcc(base, k)
    val first = occ.groupBy("fp")
      .agg(min(struct(col("id"), col("start"))).as("keep"))
    val drops = occ.join(first, "fp")
      .filter(struct(col("id"), col("start")) =!= col("keep"))
      .groupBy("id").agg(collect_set(col("start")).as("drop_starts"))
    spanRebuild(base, drops, k)
  }

  /** `(id, toks)` projection shared by the span tier. */
  private def spanBase(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("toks"))

  /** Aligned window starts 0, k, 2k, … (sequence is inclusive of its stop). */
  private def spanStarts(k: Int) =
    sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)), lit(k))

  /** Window-occurrence relation `(id, start, fp)` — the ids-only shape that
    * rides every wide operator in this tier.
    */
  private def spanOcc(base: DataFrame, k: Int): DataFrame =
    base.select(col("id"), explode(spanStarts(k)).as("start"),
        md5(concat_ws(" ", slice(col("toks"), col("start") + 1, lit(k)))).as("fp"),
        size(slice(col("toks"), col("start") + 1, lit(k))).as("__n"))
      .filter(col("__n") > 0) // empty docs contribute no window
      .select("id", "start", "fp")

  /** Rebuild each document from its surviving windows in order. */
  private def spanRebuild(base: DataFrame, drops: DataFrame, k: Int): DataFrame =
    base.join(drops, Seq("id"), "left")
      .withColumn("drop_starts", coalesce(col("drop_starts"), typedLit(Array.empty[Int])))
      .select(col("id"),
        size(col("toks")).cast("long").as("n_toks"),
        // native codegen kernel (r17): the former
        // flatten(transform(filter(starts, …), slice(…))) chain was
        // CodegenFallback — interpreted per row, lambda dispatch per
        // window, over EVERY corpus document; bit-identical semantics
        // pinned in TextOpsSpec (null toks → null, empty-array start-0
        // iteration, drop skip, null elements carried)
        graft.functions.KeptSpans.keptSpans(col("toks"), col("drop_starts"), k)
          .as("__kept"))
      .select(col("id"), col("n_toks"),
        size(col("__kept")).cast("long").as("n_kept"),
        concat_ws(" ", col("__kept")).as("text_out"))

  /** Distinct window-content fingerprints of a corpus — the persisted store
    * [[incrementalSpanDedup]] dedups deltas against (16 B/window; build once
    * at corpus bootstrap, then append each batch's `newFps`).
    */
  def spanFingerprints(df: DataFrame, idCol: String, textCol: String,
                       k: Int = 16): DataFrame =
    spanOcc(spanBase(df, idCol, textCol), k).select("fp").distinct()

  /** Incremental span dedup of a delta batch against a persisted window
    * store: a delta window is deleted iff its content fingerprint already
    * exists in `storeFps` (the corpus ingested so far) or it loses the
    * within-delta first-occurrence rule of [[dropRepeatedSpans]]. Returns
    * `(rebuilt, newFps)`: the rebuilt delta in the batch operator's output
    * shape (documents whose every window was already known rebuild to empty
    * text — filter them), and the DISTINCT fresh fingerprints to append to
    * the store to complete the ingest. The delta never re-windows the
    * corpus — the store is fp-only (16 B/window), the span analogue of the
    * minhash signature store.
    */
  def incrementalSpanDedup(delta: DataFrame, storeFps: DataFrame, idCol: String,
                           textCol: String, k: Int = 16): (DataFrame, DataFrame) = {
    val base = spanBase(delta, idCol, textCol)
    val occ = spanOcc(base, k)
    val store = storeFps.select(col("fp")).distinct()
    val first = occ.groupBy("fp")
      .agg(min(struct(col("id"), col("start"))).as("keep"))
    val storeHits = occ.join(store, Seq("fp"), "left_semi").select("id", "start")
    val freshLosers = occ.join(first, "fp")
      .filter(struct(col("id"), col("start")) =!= col("keep"))
      .select("id", "start")
    val drops = storeHits.union(freshLosers).distinct()
      .groupBy("id").agg(collect_set(col("start")).as("drop_starts"))
    val newFps = first.select("fp").join(store, Seq("fp"), "left_anti")
    (spanRebuild(base, drops, k), newFps)
  }

  // --- Tier 2: MinHash + LSH ------------------------------------------------

  /** MinHash signature over murmur3 shingle hashes. The string hashes are a
    * single `transform` pass; the `numHashes` permutations + minima run in
    * the native [[graft.functions.MinHashSig]] kernel (a
    * `array(k × array_min(transform(...)))` formulation re-evaluates the
    * lambda pipeline k times interpreted — measured minutes vs. seconds).
    */
  def minhashSignature(shingles: Column, numHashes: Int, seed: Long = 42L): Column =
    graft.functions.MinHashSig.minhashSig(
      transform(shingles, s => hash(s).cast("long")), numHashes, seed)

  /** MinHash signature relation `(id, sig)` — a narrow per-row projection.
    * Shingling + hashing is the rolling-hash kernel: O(len) per row, no
    * per-window string allocation.
    */
  private def signatures(df: DataFrame, idCol: String, textCol: String,
                         shingleLen: Int, numHashes: Int): DataFrame =
    spread(df).select(
      col(idCol).as("id"),
      graft.functions.MinHashSig.minhashSig(
        graft.functions.ShingleHashes.shingleHashes(col(textCol), shingleLen),
        numHashes).as("sig"))

  /** Banded-LSH candidate `(id_a, id_b)` pairs from a signature relation,
    * id_a < id_b, deduped across bands.
    *
    * Plan shape at scale (the 100 TB-safe layout):
    *  1. only (band, bandHash, id) triples — never the signature arrays —
    *     go through the wide bucket aggregation, so shuffle volume is
    *     O(rows × bands × 16 bytes);
    *  2. buckets larger than `maxBucketSize` are *dropped* (a bucket that
    *     big means boilerplate/degenerate content whose pair set is
    *     quadratic; standard practice is to skip, not explode);
    *  3. candidate pairs are generated inside each bucket and deduped.
    */
  /** Shared LSH candidate generation: an `(id, band, key)` relation →
    * capped, deduped `(id_a, id_b)` pairs. Used by every banded tier
    * (minhash, simhash, sign-LSH) so the degenerate-bucket cap and the
    * ids-only shuffle invariant hold uniformly.
    */
  private def bucketPairs(keyed: DataFrame, maxBucketSize: Int,
                          obs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val aggd = keyed.groupBy("band", "key")
      .agg(sort_array(collect_list(col("id"))).as("ids"))
    val observed = obs.fold(aggd)(o => aggd.observe(o,
      sum(when(size(col("ids")) > maxBucketSize, 1).otherwise(0)).as("dropped_buckets"),
      sum(when(size(col("ids")) > maxBucketSize, size(col("ids"))).otherwise(0)).as("dropped_rows")))
    val buckets = observed.filter(size(col("ids")).between(2, maxBucketSize))
    buckets
      .select(posexplode(col("ids")).as(Seq("i", "id_a")), col("ids"))
      .select(col("id_a"), explode(slice(col("ids"), col("i") + 2, size(col("ids")))).as("id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  private def bandedPairs(sig: DataFrame, numHashes: Int, bands: Int,
                          maxBucketSize: Int,
                          obs: Option[org.apache.spark.sql.Observation] = None): DataFrame = {
    val rows = numHashes / bands
    val banded = sig.select(col("id"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"), xxhash64(slice(col("sig"), b * rows + 1, rows)).as("key"))): _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.key"))
    bucketPairs(banded, maxBucketSize, obs)
  }

  /** Candidate near-duplicate pairs by banded LSH over minhash signatures.
    * bands×rows = numHashes; a pair is a candidate iff some band matches.
    * Returns (id_a, id_b, jaccard_est ∈ [0,1]) with id_a < id_b, where
    * jaccard_est is the fraction of matching minhashes — the unbiased
    * Jaccard estimator. See [[bandedPairs]] for the 100 TB-safe plan shape;
    * the two signatures are joined back only per deduped pair.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        shingleLen: Int = 5, numHashes: Int = 128,
                        bands: Int = 16, maxBucketSize: Int = 1000): DataFrame = {
    // the signature relation feeds three plan branches (banding + both pair
    // sides); persist so the kernel runs once per row, not once per branch
    val sig = cached(signatures(df, idCol, textCol, shingleLen, numHashes))
    val pairs = bandedPairs(sig, numHashes, bands, maxBucketSize)
    val sigA = sig.select(col("id").as("id_a"), col("sig").as("sig_a"))
    val sigB = sig.select(col("id").as("id_b"), col("sig").as("sig_b"))
    pairs.join(sigA, "id_a").join(sigB, "id_b")
      .withColumn("jaccard_est",
        aggregate(zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
                  lit(0), (acc, x) => acc + x).cast("double") / numHashes)
      .select("id_a", "id_b", "jaccard_est")
  }

  /** Tier 2 end-to-end: candidates whose *exact* shingle-set Jaccard clears
    * `threshold` (LSH proposes, exact verifies — no false positives).
    * Candidates go straight to the exact verify: the signature join-back +
    * estimate pre-filter would add two joins to the hot path only to *drop*
    * pairs the (noisy) estimator underrates — verification cost is already
    * bounded by the candidate count via the semi-join below.
    *
    * Exact-duplicate canonicalization: documents with identical DISTINCT
    * shingle sets have identical signatures, band keys and Jaccard against
    * every other document — fully interchangeable to this tier — so the
    * corpus is first collapsed to one REPRESENTATIVE per distinct shingle
    * set (a 96-bit hash pair over the sorted hash array; min-id member).
    * Banding and the
    * shingle-array verify join run on representatives only; verified pairs
    * expand back through the `(id, fp)` member map afterwards. On
    * boilerplate-heavy corpora this removes the dominant verify cost: the
    * ~KB shingle arrays ride the pair join once per DISTINCT pair, not
    * once per duplicate pair. ONE fp aggregation derives everything the
    * canonical tier needs — rep id (`min`), rep signature (`first`: every
    * member's signature is identical by construction, and the partial agg
    * collapses duplicates map-side) and the group SIZE — so the rep relation
    * costs a single fp-keyed shuffle; it is cached, but it is strictly
    * smaller than the already-cached per-doc `(id, fp, sig)` relation, so
    * the memory shape is unchanged in kind at any corpus size. The price
    * over the uncanonicalized plan is one extra narrow shingle pass
    * (fingerprinting) and that fp-keyed shuffle; both scan-like, measured
    * in SCALING.md. Within-group pairs (identical shingle sets) are emitted
    * directly with the rep's self-Jaccard (the verdict the un-canonicalized
    * verify produced for them).
    *
    * Degenerate-group cap: exact-dup groups larger than `maxBucketSize`
    * (mega-replicated boilerplate) are EXCLUDED from pair expansion — both
    * the within-group path and the cross-group member expansion, which
    * would otherwise emit |A|×|B| rows for one verified rep pair (two
    * 100k-member groups → 10^10 pairs). This mirrors the banding tier's
    * oversized-bucket drop; excluded groups are counted and logged the same
    * way. When the corpus has NO duplicate fingerprints the member map is
    * the identity, so the verified rep pairs are returned directly and the
    * expansion stages never run (the organic-corpus fast path).
    */
  def minhashDedupPairs(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double, shingleLen: Int = 5,
                        numHashes: Int = 128, bands: Int = 16,
                        maxBucketSize: Int = 1000): DataFrame = {
    val obs = org.apache.spark.sql.Observation()
    val result = withScopedCaches { localCached =>
      def shOf(c: Column) = graft.functions.ShingleHashes.shingleHashes(c, shingleLen)
      // ONE shingle pass computes, per doc, the canonical fingerprint (a
      // 96-bit (xxhash64, murmur3) pair over the sorted distinct shingle
      // hashes — order-free, hashed natively on the long array; an
      // md5-of-joined-strings formulation measured ~2.5x slower) and the
      // minhash signature. The shingle ARRAY itself is projected away
      // before the persist: the cache holds only (id, 12 B fp, 1 KB sig)
      // — ~1 GB per 1e6 docs, spilling columnar blocks, never the
      // object-heavy arrays that make array caches OOM-prone
      // __has_sh (is the distinct shingle set non-empty?) rides the same
      // pass: the rep's self-Jaccard is exactly 1.0 iff the set is non-empty
      // (array_intersect == array_union == the distinct set), 0.0 otherwise
      // — so the within-group verdict needs this one bit, not a re-shingle
      val keyed = localCached(spread(df).select(col(idCol).as("id"), {
          val sh = shOf(col(textCol))
          struct(xxhash64(sort_array(sh)).as("h1"), hash(sort_array(sh)).as("h2")).as("__fp")
        }, graft.functions.MinHashSig.minhashSig(shOf(col(textCol)), numHashes).as("sig"),
        (size(shOf(col(textCol))) > 0).as("__has_sh")))
      // rep id + rep sig + self-jaccard bit + group size in ONE fp-keyed
      // aggregation (sig/has_sh are identical across members, so `first` is
      // deterministic and the partial agg collapses duplicates map-side)
      val repAgg = localCached(keyed.groupBy("__fp").agg(
        min(col("id")).as("id"), first(col("sig")).as("sig"),
        first(col("__has_sh")).as("__has_sh"), count(lit(1)).as("grp_n")))
      val cands = localCached(
        bandedPairs(repAgg.select("id", "sig"), numHashes, bands, maxBucketSize, Some(obs)))
      // exact verify on the hashed shingle sets (identical to string-shingle
      // Jaccard up to 31-bit hash collisions), shingled ONLY for reps that
      // appear in a candidate pair — candIds is pair-sized, so the joins
      // broadcast and the corpus is never repartitioned for the re-shingle.
      // fp and group size ride along so the expansion below needs no further
      // rep-metadata joins.
      val candIds = cands.select(explode(array(col("id_a"), col("id_b"))).as("id"))
      val shMeta = localCached(df.select(col(idCol).as("id"), col(textCol).as("__text"))
        .join(candIds, Seq("id"), "left_semi") // semi: no distinct shuffle needed
        .select(col("id"), shOf(col("__text")).as("sh"))
        .join(repAgg.select("id", "__fp", "grp_n"), "id"))
      def side(s: String) = shMeta.select(col("id").as(s"id_$s"), col("sh").as(s"sh_$s"),
        col("__fp").as(s"fp_$s"), col("grp_n").as(s"n_$s"))
      val verified = cands.join(side("a"), "id_a").join(side("b"), "id_b")
        .withColumn("jaccard", ngramJaccard(col("sh_a"), col("sh_b")))
        .filter(col("jaccard") >= threshold)
      // dup pressure + cap accounting: one tiny action on the cached agg
      // (this is also the materialization barrier the scoped caches need)
      val stats = repAgg.agg(
        sum(when(col("grp_n") >= 2, 1).otherwise(0)).as("dup_groups"),
        sum(when(col("grp_n") > maxBucketSize, 1).otherwise(0)).as("over_groups"),
        sum(when(col("grp_n") > maxBucketSize, col("grp_n")).otherwise(0L)).as("over_members")
      ).head()
      def statAt(i: Int) = if (stats.isNullAt(i)) 0L else stats.getLong(i)
      val (dupGroups, overGroups, overMembers) = (statAt(0), statAt(1), statAt(2))
      if (overGroups > 0)
        log.warn(s"minhashDedupPairs: $overGroups exact-duplicate group(s) covering " +
          s"$overMembers documents exceed maxBucketSize=$maxBucketSize — excluded from " +
          "pair expansion (within-group and cross-group); raise maxBucketSize to trade " +
          "cost for recall")
      if (dupGroups == 0L) verified.select("id_a", "id_b", "jaccard") // member map is the identity
      else {
        val members = keyed.select("id", "__fp")
        // fp-level pair relation: verified cross-group pairs (capped: a pair
        // touching an oversize group is dropped BEFORE the member joins, so
        // no pair can emit more than maxBucketSize² rows — the same bound
        // the banding buckets honor) plus one self-pair per in-cap dup
        // group, whose verdict is the rep's self-Jaccard (the __has_sh bit
        // — no re-shingle or text scan)
        val dupFps = repAgg.filter(col("grp_n").between(2, maxBucketSize))
          .select(col("__fp").as("fp_a"), col("__fp").as("fp_b"),
            when(col("__has_sh"), 1.0).otherwise(0.0).as("jaccard"))
          .filter(col("jaccard") >= threshold)
        val fpPairs = verified
          .filter(col("n_a") <= maxBucketSize && col("n_b") <= maxBucketSize)
          .select(col("fp_a"), col("fp_b"), col("jaccard"))
          .unionByName(dupFps)
        // ONE expansion through the member map serves both shapes; the
        // pair side broadcasts, the member map is only ever scanned, never
        // shuffled. Self-pairs (fp_a == fp_b) generate each unordered
        // member pair twice — the ma < mb guard keeps exactly one.
        fpPairs
          .join(members.select(col("__fp").as("fp_a"), col("id").as("ma")), "fp_a")
          .join(members.select(col("__fp").as("fp_b"), col("id").as("mb")), "fp_b")
          .filter(col("fp_a") =!= col("fp_b") || col("ma") < col("mb"))
          .select(least(col("ma"), col("mb")).as("id_a"),
                  greatest(col("ma"), col("mb")).as("id_b"), col("jaccard"))
      }
    }
    logDroppedBuckets("minhashDedupPairs", obs)
    result
  }

  // --- Incremental dedup (delta batch vs. persisted signature store) --------

  /** Public builder of the corpus dedup index: persist this `(id, sig)`
    * relation (parquet, any layout) and hand it to [[incrementalDedup]] for
    * each new ingest batch. numHashes×8 bytes per document — three orders
    * of magnitude smaller than the text it indexes — so the per-batch cost
    * of deduping against a 100 TB corpus is a scan of the *index*, never a
    * re-shingle of the corpus.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleLen: Int = 5, numHashes: Int = 128): DataFrame =
    signatures(df, idCol, textCol, shingleLen, numHashes)

  /** Maintenance/compaction of a persisted dedup store directory (the
    * [[minhashSignatures]] signature store or the [[spanFingerprints]] fp
    * store). The streaming ingest nodes append the corpus FIRST and the
    * store second (Streams.ingestSpanDedup restart semantics): a crash in
    * between makes the checkpoint replay append the same rows AGAIN, so
    * after an unclean restart the store carries duplicate keys — harmless
    * to correctness (readers `dropDuplicates`), but the store grows and
    * every later batch pays the duplicate scan. Compaction rewrites the
    * store keyed-distinct via a temp-dir + rename swap (`keys`: `"fp"` for
    * span stores, `"id"` for signature stores — duplicate keys carry
    * identical payloads by construction, so keep-any is exact).
    * Returns (rowsBefore, rowsAfter).
    */
  def compactStore(spark: org.apache.spark.sql.SparkSession, storeDir: String,
                   keys: Seq[String]): (Long, Long) =
    rewriteStore(spark, storeDir)((df, out) => df.dropDuplicates(keys).write.parquet(out))

  /** The crash-safe store-rewrite skeleton [[compactStore]] runs on: heal a
    * prior interrupted swap, write the rewritten generation to
    * `.compact.tmp` via `rewrite`, then atomically swap it in (two renames)
    * and drop the old generation. Generic so stores with a non-flat layout
    * (e.g. the cell-PARTITIONED vector index, [[VectorIndex]]) can reuse
    * the exact same swap/recovery protocol with their own writer. Returns
    * (rowsBefore, rowsAfter).
    */
  def rewriteStore(spark: org.apache.spark.sql.SparkSession, storeDir: String)(
      rewrite: (DataFrame, String) => Unit): (Long, Long) = {
    import org.apache.hadoop.fs.Path
    recoverStore(spark, storeDir) // heal a previously interrupted swap first
    val dir = new Path(storeDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = spark.read.parquet(storeDir)
    val rows0 = before.count()
    val tmp = new Path(storeDir.stripSuffix("/") + ".compact.tmp")
    val old = new Path(storeDir.stripSuffix("/") + ".compact.old")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(old)) fs.delete(old, true)
    rewrite(before, tmp.toString)
    val rows1 = spark.read.parquet(tmp.toString).count()
    // swap: two renames, then drop the old generation. A crash BETWEEN the
    // renames leaves the canonical path empty (data at .compact.old /
    // .compact.tmp) — readers must go through [[readStore]], which calls
    // [[recoverStore]] to complete or roll back the swap before concluding
    // the store is absent.
    if (!fs.rename(dir, old) || !fs.rename(tmp, dir))
      throw new java.io.IOException(s"rewriteStore: rename swap failed for $storeDir")
    fs.delete(old, true)
    (rows0, rows1)
  }

  /** Heal a store directory left mid-swap by an interrupted
    * [[compactStore]]: if the canonical path is missing but a swap
    * generation survives, restore it — prefer `.compact.tmp` (the fully
    * written compacted generation; the swap only starts after its rows are
    * re-counted), falling back to `.compact.old` (the original). Returns
    * true iff a recovery rename was performed. No-op when the canonical
    * path exists (leftover generations are cleaned by the next
    * [[compactStore]]).
    */
  def recoverStore(spark: org.apache.spark.sql.SparkSession, storeDir: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val dir = new Path(storeDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) false
    else {
      val tmp = new Path(storeDir.stripSuffix("/") + ".compact.tmp")
      val old = new Path(storeDir.stripSuffix("/") + ".compact.old")
      if (fs.exists(tmp)) {
        if (!fs.rename(tmp, dir))
          throw new java.io.IOException(s"recoverStore: rename failed for $storeDir")
        if (fs.exists(old)) fs.delete(old, true)
        true
      } else if (fs.exists(old)) {
        if (!fs.rename(old, dir))
          throw new java.io.IOException(s"recoverStore: rename failed for $storeDir")
        true
      } else false
    }
  }

  /** Read a persisted dedup store, healing an interrupted [[compactStore]]
    * swap if one is detected; `orElse` (typically an empty, correctly-typed
    * relation) only when the store genuinely does not exist yet. Every
    * store reader must use this instead of a bare `spark.read.parquet` —
    * a bare read treats the mid-swap state as an EMPTY store and silently
    * forgets the entire dedup history.
    */
  def readStore(spark: org.apache.spark.sql.SparkSession, storeDir: String)
               (orElse: => DataFrame): DataFrame =
    try spark.read.parquet(storeDir)
    catch { case _: org.apache.spark.sql.AnalysisException =>
      if (recoverStore(spark, storeDir)) spark.read.parquet(storeDir) else orElse
    }

  /** Near-dup pairs touching at least one NEW document, for a delta batch
    * banded together with the persisted signature store: `(id_a, id_b,
    * a_new, b_new, jaccard_est)` with id_a < id_b. Store–store pairs are
    * dropped (the store is assumed already deduped); the verdict is the
    * signature Jaccard estimator, since the store carries no text (at
    * numHashes=128 the estimator's std error near a 0.7 threshold is ≈0.04
    * — callers needing exact verification can join the surviving new ids
    * back to text and reuse [[ngramJaccard]]).
    *
    * `storeSigs` must use the same shingleLen/numHashes as the store was
    * built with; ids across store and delta are assumed distinct. At full
    * scale the store's `(band, key, id)` triples can additionally be
    * precomputed and persisted so each batch pays only the delta's banding.
    */
  def incrementalDedupPairs(delta: DataFrame, storeSigs: DataFrame, idCol: String,
                            textCol: String, threshold: Double, shingleLen: Int = 5,
                            numHashes: Int = 128, bands: Int = 16,
                            maxBucketSize: Int = 1000): DataFrame =
    incrementalDedupPairsSigs(signatures(delta, idCol, textCol, shingleLen, numHashes),
      storeSigs, threshold, numHashes, bands, maxBucketSize)

  /** [[incrementalDedupPairs]] over PRE-COMPUTED delta signatures `(id,
    * sig)` — for callers that need the delta's signature relation
    * themselves (the streaming ingest computes it once and reuses it for
    * the store append instead of re-shingling the survivors).
    */
  def incrementalDedupPairsSigs(deltaSigs: DataFrame, storeSigs: DataFrame,
                                threshold: Double, numHashes: Int = 128,
                                bands: Int = 16,
                                maxBucketSize: Int = 1000): DataFrame = {
    val obs = org.apache.spark.sql.Observation()
    val result = withScopedCaches { localCached =>
      // don't re-persist a relation the caller already persists (the
      // streaming ingests hand in their cached per-batch signatures) —
      // the projection's scan goes through the caller's cache; a second
      // persist would hold every batch's signature data twice
      val projected = deltaSigs.select(col("id"), col("sig"))
      val newSigs =
        if (deltaSigs.storageLevel != org.apache.spark.storage.StorageLevel.NONE) projected
        else localCached(projected)
      val all = localCached(newSigs.unionByName(storeSigs.select(col("id"), col("sig"))))
      val pairs = bandedPairs(all, numHashes, bands, maxBucketSize, Some(obs))
      val flags = newSigs.select(col("id"), lit(true).as("is_new"))
      val sigA = all.select(col("id").as("id_a"), col("sig").as("sig_a"))
      val sigB = all.select(col("id").as("id_b"), col("sig").as("sig_b"))
      pairs
        .join(flags.select(col("id").as("id_a"), col("is_new").as("a_new")), Seq("id_a"), "left")
        .join(flags.select(col("id").as("id_b"), col("is_new").as("b_new")), Seq("id_b"), "left")
        .withColumn("a_new", coalesce(col("a_new"), lit(false)))
        .withColumn("b_new", coalesce(col("b_new"), lit(false)))
        .filter(col("a_new") || col("b_new"))
        .join(sigA, "id_a").join(sigB, "id_b")
        .withColumn("jaccard_est",
          aggregate(zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
                    lit(0), (acc, x) => acc + x).cast("double") / numHashes)
        .filter(col("jaccard_est") >= threshold)
        .select("id_a", "id_b", "a_new", "b_new", "jaccard_est")
    }
    logDroppedBuckets("incrementalDedupPairs", obs)
    result
  }

  /** Incremental near-dedup of an ingest batch against the existing corpus:
    * a new document is dropped iff (a) its estimated Jaccard to any STORE
    * document clears `threshold`, or (b) among the delta docs that survive
    * (a), it sits in a duplicate cluster and is not that cluster's minimum
    * id (the same keep-first policy as [[dropNearDups]]). Returns the
    * surviving delta rows — append
    * them to the corpus and their [[minhashSignatures]] to the store to
    * complete the ingest.
    */
  def incrementalDedup(delta: DataFrame, storeSigs: DataFrame, idCol: String,
                       textCol: String, threshold: Double, shingleLen: Int = 5,
                       numHashes: Int = 128, bands: Int = 16,
                       maxBucketSize: Int = 1000): DataFrame =
    incrementalDedupSigs(delta,
      signatures(delta, idCol, textCol, shingleLen, numHashes),
      storeSigs, idCol, threshold, numHashes, bands, maxBucketSize)

  /** [[incrementalDedup]] over PRE-COMPUTED delta signatures — see
    * [[incrementalDedupPairsSigs]] for when to prefer it. `deltaSigs` must
    * be the `(id, sig)` signatures of exactly `delta`'s rows under the
    * store's shingleLen/numHashes.
    */
  def incrementalDedupSigs(delta: DataFrame, deltaSigs: DataFrame,
                           storeSigs: DataFrame, idCol: String,
                           threshold: Double, numHashes: Int = 128,
                           bands: Int = 16, maxBucketSize: Int = 1000): DataFrame = {
    // scope every relation this call persists (the pair result and the
    // clusters() membership) so batch ingest loops accumulate nothing in the
    // session registry; the small loser id set is eagerly checkpointed so
    // the returned frame survives the scope exit (ContextCleaner reclaims
    // the checkpoint once the result is unreferenced)
    val losers = withCacheScope {
      val pairs = cached(incrementalDedupPairsSigs(deltaSigs, storeSigs, threshold,
        numHashes, bands, maxBucketSize))
      val vsStore = pairs.filter(col("a_new") && !col("b_new")).select(col("id_a").as("id"))
        .union(pairs.filter(col("b_new") && !col("a_new")).select(col("id_b").as("id")))
        .distinct()
      // Within-delta dedup runs among STORE-SURVIVORS only. A store-dropped
      // doc must neither represent nor link survivors: if the component min
      // is itself a store dup, electing it would drop every member — losing
      // content that duplicates nothing kept anywhere (sequential
      // first-seen-wins keeps a survivor whose only near-dup was itself
      // dropped against the store).
      val survivorPairs = pairs.filter(col("a_new") && col("b_new"))
        .join(vsStore.select(col("id").as("id_a")), Seq("id_a"), "left_anti")
        .join(vsStore.select(col("id").as("id_b")), Seq("id_b"), "left_anti")
      val withinDelta = clusters(survivorPairs)
        .filter(col("id") =!= col("cluster")).select("id")
      vsStore.union(withinDelta).distinct().localCheckpoint(true)
    }
    delta.join(losers, delta(idCol) === losers("id"), "left_anti")
  }

  // --- Duplicate clustering (connected components) --------------------------

  /** Connected components over a near-duplicate pair list: returns
    * `(id, cluster)` where `cluster` is the smallest id reachable from `id`
    * — the canonical representative every dedup policy keys on.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — converges in
    * O(log² n) rounds regardless of component diameter, unlike naive label
    * propagation whose round count is the graph diameter (pathological for
    * chain-shaped duplicate clusters). Each round is two groupBy-min +
    * join passes: the min is computed with `groupBy().agg(min)` rather than
    * a window so partial (map-side) aggregation absorbs high-degree hub
    * nodes instead of funnelling a hub's whole neighborhood through one
    * window task; the join back on the hub key is what AQE skew-split
    * handles. Lineage is truncated with an eager `localCheckpoint` per
    * round (on a real cluster with retry requirements, configure a
    * checkpoint dir and swap in `checkpoint()`).
    *
    * Cache hygiene: on the STAR path the returned membership relation is
    * persisted and registered in the session cache registry. DIRECT callers
    * that loop this per corpus must release it ([[withCacheScope]] around
    * use + materialization, or [[unpersistCaches]] between corpora); the
    * packaged entry points ([[dropNearDupsByPairs]], [[dropNearDups]],
    * [[incrementalDedup]], the streaming ingest) already scope it. The
    * driver union-find path below the size gate returns a plain local
    * relation instead — nothing is persisted or registered, so a scoped
    * release is a no-op there (cheap either way: the relation is ≤
    * `driverCcMaxEdges` rows of scalar ids).
    *
    * Size gate: a pair graph of at most `driverCcMaxEdges` distinct edges
    * (a few MB of scalar ids) is solved with a driver union-find instead of
    * the star rounds — bit-identical membership (union by min-id, the same
    * min-reachable-id representative), but ONE job instead of ~10 per star
    * round. This is the broadcast-threshold idea applied to iteration: the
    * star loop's per-round fixed latency dominates exactly when the graph
    * is too small to need it. Distributed semantics are unchanged above the
    * gate (the 1M-stress corpora run 3.9M-edge graphs through the star
    * path).
    */
  def clusters(pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
               maxIter: Int = 50, driverCcMaxEdges: Long = 100000L): DataFrame = {
    // The star rounds only need a TOTAL ORDER on ids (least/greatest/min),
    // which every atomic Spark type has — so run on the NATIVE id type. The
    // former cast("long") silently nulled string/hash ids (non-ANSI cast),
    // which emptied the edge set and returned the corpus un-deduped.
    val (aT, bT) = (pairs.schema(aCol).dataType, pairs.schema(bCol).dataType)
    require(aT == bT, s"clusters(): id columns must share one type, got $aT vs $bT")
    require(org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable(aT),
      s"clusters(): id type must be orderable, got $aT")
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("src").as("u"), col("dst").as("v"))
        .union(e.select(col("dst").as("u"), col("src").as("v")))
      val mins = nbrs.groupBy("u").agg(min(col("v")).as("mn"))
      nbrs.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("src"), least(col("mn"), col("u")).as("dst"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val d = e.select(greatest(col("src"), col("dst")).as("u"),
                       least(col("src"), col("dst")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
      val mins = d.groupBy("u").agg(min(col("v")).as("m"))
      d.join(mins, "u").select(col("v").as("src"), col("m").as("dst"))
        .union(mins.select(col("u").as("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst")).distinct()
    }
    // (row count, order-independent edge-set hash) — equal signatures on
    // consecutive rounds means the star-graph fixpoint is reached. The hash
    // sum runs in decimal(38,0): a long sum of 2^63-scale hashes overflows
    // (and ANSI mode rightly throws).
    def signature(e: DataFrame): (Long, BigDecimal) = {
      val r = e.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")),
                 lit(java.math.BigDecimal.ZERO))).head()
      (r.getLong(0), BigDecimal(r.getDecimal(1)))
    }
    // The driver-path probe runs directly on the deduped-edge plan — small
    // graphs (the latency-sensitive regime) finish in exactly ONE action.
    // Only the star-loop fallthrough checkpoints, paying one extra pass
    // over the pair expansion in the rare huge-graph case where the loop's
    // ~10 jobs/round dominate anyway (an eager checkpoint before the probe
    // was that same pass, paid on EVERY call).
    val deduped = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    // ids of scalar orderable types are runtime-Comparable — the driver
    // path needs that total order for the min-id representative (binary /
    // nested ids fall through to the star loop, whose ordering Catalyst
    // supplies)
    val driverOrderable = aT match {
      case _: org.apache.spark.sql.types.StructType |
           _: org.apache.spark.sql.types.ArrayType |
           _: org.apache.spark.sql.types.MapType |
           org.apache.spark.sql.types.BinaryType |
           org.apache.spark.sql.types.NullType => false
      case _ => true
    }
    if (driverOrderable) {
      val cap = math.min(driverCcMaxEdges, Int.MaxValue - 1L).toInt
      val edges = deduped.head(cap + 1)
      if (edges.length <= cap) {
        // Strings must compare the way Catalyst's UTF8String does (unsigned
        // UTF-8 bytes) — String.compareTo is UTF-16 code units, which orders
        // supplementary characters differently, and the min-id REPRESENTATIVE
        // must be bit-identical to the star loop's regardless of which path
        // the edge-count gate picks.
        def lt(a: Any, b: Any) = (a, b) match {
          case (sa: String, sb: String) =>
            org.apache.spark.unsafe.types.UTF8String.fromString(sa)
              .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(sb)) < 0
          case _ => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
        }
        val parent = scala.collection.mutable.HashMap.empty[Any, Any]
        def find(x: Any): Any = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        edges.foreach { row =>
          val (ra, rb) = (find(row.get(0)), find(row.get(1)))
          if (ra != rb) { if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
        }
        val nodes = edges.iterator.flatMap(r => Iterator(r.get(0), r.get(1))).toSet
        val rows: java.util.List[org.apache.spark.sql.Row] = {
          import scala.jdk.CollectionConverters._
          nodes.iterator.map(n => org.apache.spark.sql.Row(n, find(n)))
            .toSeq.asJava
        }
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id", aT),
          org.apache.spark.sql.types.StructField("cluster", aT)))
        // driver-local rows plan as a LocalTableScan — re-"computing" it is
        // free, so no persist and no materialization job (each is ~0.15 s of
        // scheduler latency that dominated exactly the small-graph regime
        // this path exists for)
        return pairs.sparkSession.createDataFrame(rows, schema)
      }
    }
    var e = deduped.localCheckpoint(true)
    var sig = signature(e)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val next = smallStar(largeStar(e)).localCheckpoint(true)
      val nextSig = signature(next)
      e.unpersist(blocking = false)
      e = next
      converged = nextSig == sig
      sig = nextSig
      it += 1
    }
    require(converged, s"clusters() did not converge in $maxIter rounds")
    // fixpoint edges are (member -> root) stars; roots map to themselves.
    // Materialize the membership via the session cache registry and release
    // the last checkpointed edge relation NOW — otherwise every clusters()
    // call leaks one cached RDD for the life of the session.
    val membership = cached(
      e.select(col("src").as("id"), col("dst").as("cluster"))
        .union(e.select(col("dst").as("id"), col("dst").as("cluster")))
        .distinct())
    membership.count()
    e.unpersist(blocking = false)
    membership
  }

  /** Remove near-duplicates given an explicit pair list: every member of a
    * duplicate cluster except its canonical (minimum-id) representative is
    * dropped from `df`. The anti-join keys on ids only — full rows never
    * ride through the clustering shuffles.
    *
    * Cache hygiene: the [[clusters]] membership relation is scoped to THIS
    * call — the loser id set (one id per dropped row, ids only) is eagerly
    * `localCheckpoint`ed inside the scope, so batch callers looping this
    * per corpus accumulate nothing in the session cache registry. The
    * checkpoint blocks themselves are reclaimed by Spark's ContextCleaner
    * once the returned frame is unreferenced.
    */
  def dropNearDupsByPairs(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val losers = withCacheScope {
      clusters(pairs).filter(col("id") =!= col("cluster")).select("id")
        .localCheckpoint(true)
    }
    df.join(losers, df(idCol) === losers("id"), "left_anti")
  }

  /** Tier-2 end-to-end corpus dedup: MinHash/LSH pairs → connected
    * components → keep the minimum-id document per cluster. Scopes every
    * relation it persists (the pair result and the clusters membership) to
    * this call — safe to loop over corpora without [[unpersistCaches]].
    */
  def dropNearDups(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double, shingleLen: Int = 5, numHashes: Int = 128,
                   bands: Int = 16, maxBucketSize: Int = 1000): DataFrame =
    withCacheScope {
      dropNearDupsByPairs(df, idCol,
        minhashDedupPairs(df, idCol, textCol, threshold, shingleLen, numHashes,
          bands, maxBucketSize))
    }

  // --- Tier 3: SimHash ------------------------------------------------------

  /** 64-bit SimHash per document via the single-pass native kernel
    * ([[graft.functions.SimHash64]]) — a narrow projection, no explode and
    * no 64-column aggregation shuffle.
    */
  def simhash64(df: DataFrame, idCol: String, textCol: String): DataFrame =
    spread(df).select(col(idCol).as("id"),
      graft.functions.SimHash64.simhash64(col(textCol)).as("simhash"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, using the
    * pigeonhole trick: split the 64-bit signature into `maxHamming+1` blocks;
    * any pair within distance must agree on ≥1 block → block equality is the
    * LSH bucket key (single equi-join shuffle, no O(n²) compare).
    *
    * Buckets larger than `maxBucketSize` (default 1000, introduced round 4 —
    * before that the "all pairs with Hamming ≤ maxHamming" contract was
    * unconditional) are dropped, exactly like the minhash tier: a block
    * value shared by thousands of documents is boilerplate (measured on the
    * test corpus: one 16-bit block bucket held 38% of all docs and alone
    * contributed 3.3M candidate pairs), and its pair set is quadratic. Pairs
    * whose only agreeing blocks land in a dropped bucket are therefore
    * missed; the dropped bucket/row counts are surfaced through an
    * `Observation` and logged ([[logDroppedBuckets]]) so that recall loss is
    * observable in production runs. Pass `maxBucketSize = Int.MaxValue` to
    * restore the unconditional contract.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucketSize: Int = 1000): DataFrame = {
    simhashPairsOfSigs(simhash64(df, idCol, textCol), maxHamming, maxBucketSize,
      totalBits = 64, op = "simhashPairs")
  }

  /** Pigeonhole pair generation over a precomputed `(id, simhash)` relation —
    * the shared core of [[simhashPairs]] (native 64-bit kernel) and
    * [[simhashPairsPortable]] (md5-based, cross-engine-reproducible bits).
    * `totalBits` must be divisible by `maxHamming + 1`.
    */
  private def simhashPairsOfSigs(sig: DataFrame, maxHamming: Int,
                                 maxBucketSize: Int, totalBits: Int,
                                 op: String): DataFrame = {
    val obs = org.apache.spark.sql.Observation()
    val result = withScopedCaches { _ =>
      val blocks = maxHamming + 1
      val width = totalBits / blocks
      // Unlike the minhash tier, the whole signature is ONE long — carry it
      // through the bucket shuffle (16 bytes/row instead of ids-only 8) and
      // filter Hamming distance INSIDE the bucket, before any pair row ever
      // shuffles: boilerplate-heavy corpora produce millions of capped
      // candidate pairs (measured 1.5M at sf0.1), and filtering first means
      // the pair dedup handles only true near-dups instead of every
      // candidate, with zero signature join-backs.
      val banded = sig.select(col("id"), col("simhash"),
        explode(array((0 until blocks).map { b =>
          struct(lit(b).as("band"),
            col("simhash").bitwiseAND(lit(((1L << width) - 1) << (b * width))).as("key"))
        }: _*)).as("bb"))
        .select(col("id"), col("simhash"), col("bb.band"), col("bb.key"))
      // sort_array on struct(id, simhash) orders by id → id_a < id_b holds
      val buckets = banded.groupBy("band", "key")
        .agg(sort_array(collect_list(struct(col("id"), col("simhash")))).as("mem"))
        .observe(obs,
          sum(when(size(col("mem")) > maxBucketSize, 1).otherwise(0)).as("dropped_buckets"),
          sum(when(size(col("mem")) > maxBucketSize, size(col("mem"))).otherwise(0)).as("dropped_rows"))
        .filter(size(col("mem")).between(2, maxBucketSize))
      buckets
        .select(posexplode(col("mem")).as(Seq("i", "a")), col("mem"))
        .select(col("a.id").as("id_a"), col("a.simhash").as("sh_a"),
          explode(slice(col("mem"), col("i") + 2, size(col("mem")))).as("b"))
        .select(col("id_a"), col("b.id").as("id_b"),
          bit_count(col("sh_a").bitwiseXOR(col("b.simhash"))).as("hamming"))
        .filter(col("hamming") <= maxHamming)
        .dropDuplicates("id_a", "id_b")
    }
    logDroppedBuckets(op, obs)
    result
  }

  /** 60-bit SimHash with every step reproducible from SQL in any engine with
    * an `md5` function: tokens = non-empty pieces of `lower(text)` split on
    * `\s+`, deduplicated; token hash = first 15 hex chars of md5 (60 bits —
    * the widest slice that fits a signed BIGINT in every engine); bit b of
    * the signature is set iff strictly more tokens have bit b set than clear.
    * Slower than [[simhash64]] (explodes to per-token rows and md5 is a
    * cryptographic hash) — this is the correctness-audit variant; production
    * near-dup detection should use the native kernel, which only needs a
    * fixed hash family, not cross-engine parity.
    */
  def simhashPortableSigs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bits = 60
    val toks = df.select(col(idCol).as("id"),
        explode(array_distinct(split(lower(col(textCol)), "\\s+"))).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(col("id"), conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
    // one row per (doc, token): 60 per-bit vote sums fold in a single
    // hash aggregation, then the signature reassembles from the votes
    val votes = (0 until bits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"v$b")
    }
    toks.groupBy("id").agg(votes.head, votes.tail: _*)
      .select(col("id"),
        (0 until bits).map(b => when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Near-dup pairs by Hamming distance over the PORTABLE 60-bit simhash —
    * identical pigeonhole plan to [[simhashPairs]] (4 blocks × 15 bits at
    * the default `maxHamming = 3`), but the signature itself is
    * cross-engine-reproducible, so the full pair set has an exact SQL oracle:
    * with `maxBucketSize = Int.MaxValue` the pigeonhole guarantee makes the
    * output *provably equal* to the brute-force `bit_count(xor) <= maxHamming`
    * pair relation. Driver correctness gate `q_n_dedup_simhash` relies on
    * exactly that equality.
    */
  def simhashPairsPortable(df: DataFrame, idCol: String, textCol: String,
                           maxHamming: Int = 3,
                           maxBucketSize: Int = 1000): DataFrame =
    simhashPairsOfSigs(simhashPortableSigs(df, idCol, textCol), maxHamming,
      maxBucketSize, totalBits = 60, op = "simhashPairsPortable")

  // --- Tier 4: exact n-gram Jaccard ----------------------------------------

  /** Exact Jaccard similarity of two (distinct) shingle arrays. */
  def ngramJaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    round(when(union === 0, 0.0).otherwise(inter / union), 4)
  }

  /** Pairwise n-gram Jaccard over a *bounded candidate set* (e.g. the output
    * of [[minhashCandidates]], or a blocked subset). Exposed standalone for
    * small-N exact audits; at scale always feed LSH candidates instead of
    * the cross join.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
                        threshold: Double): DataFrame = {
    val sh = df.select(col(idCol).as("id"), TextOps.wordShingles(col(textCol), n).as("sh"))
    val l = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val r = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    l.join(r, col("id_a") < col("id_b"))
      .withColumn("jaccard", ngramJaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // --- Test-set decontamination --------------------------------------------

  /** Benchmark-contamination hits: for every training document, the number
    * of distinct word `n`-grams it shares with ANY document of `bench` —
    * the standard test-set decontamination signal (a training doc that
    * contains benchmark n-grams leaks the eval into the weights).
    *
    * Plan shape: both sides explode to (id, gram) and meet in one equi-join
    * on the gram; the benchmark side is distinct-ed first, so its size is
    * |distinct bench grams| — for real benchmark suites that's a few
    * million rows, and Catalyst broadcasts it, making the corpus pass a
    * shuffle-free scan. With a huge bench side, set `hashKeys=true`: both
    * sides join on `xxhash64(gram)` (8 bytes instead of the gram string
    * through the shuffle; collisions only ever over-count by a gram).
    */
  def contaminationHits(train: DataFrame, bench: DataFrame, idCol: String,
                        textCol: String, n: Int = 3,
                        hashKeys: Boolean = false): DataFrame = {
    def grams(df: DataFrame) = df.select(col(idCol).as("id"),
      explode(TextOps.wordShingles(col(textCol), n)).as("g"))
    def key(c: Column) = if (hashKeys) xxhash64(c) else c
    val benchGrams = grams(bench).select(key(col("g")).as("k")).distinct()
    // wordShingles is distinct per doc → count(*) = distinct shared grams
    grams(train).select(col("id"), key(col("g")).as("k"))
      .join(benchGrams, "k")
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
  }

  /** Drop every training document sharing at least `minHits` distinct word
    * `n`-grams with the benchmark set (ids-only anti-join; full rows never
    * shuffle).
    *
    * Scale note: `train` feeds BOTH the gram explosion and the anti-join
    * left side, so an unpersisted upstream (e.g. a dedup aggregation) can
    * be computed twice in the one plan — AQE's runtime exchange reuse
    * absorbs a duplicated subtree only when both occurrences are identical
    * after column pruning (the pruned-differently parts still run twice).
    * Direct callers at corpus scale persist/checkpoint the input first; the
    * spec compiler does it itself — a `decontaminate` node's input whose
    * plan holds a wide operator is materialized once (the multi-read
    * barrier in `PipelineCompiler`).
    */
  def decontaminate(train: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int = 3, minHits: Int = 1,
                    hashKeys: Boolean = false): DataFrame = {
    val hit = contaminationHits(train, bench, idCol, textCol, n, hashKeys)
      .filter(col("n_hits") >= minHits).select("id")
    train.join(hit, train(idCol) === hit("id"), "left_anti")
  }

  // --- Tier 5: embedding cosine near-dup -----------------------------------

  /** Semantic near-dup pairs: cosine ≥ threshold, candidates from sign-LSH
    * buckets (see [[graft.functions.VectorOps.lshBucket]]) so the join is
    * bucket-equi, not O(n²).
    */
  def embeddingDupPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                        threshold: Double, bands: Int = 6, bits: Int = 10): DataFrame = {
    import graft.functions.{SignLshBuckets, VectorOps}
    // ids-only through the bucket aggregation (see minhashCandidates);
    // vectors are joined back per deduped pair, not shuffled per bucket row
    val banded = df.select(col(idCol).as("id"),
      posexplode(SignLshBuckets.signLsh(col(vecCol), dim, bands, bits))
        .as(Seq("band", "key")))
    val pairs = bucketPairs(banded, maxBucketSize = 10000)
    val va = df.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val vb = df.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    pairs.join(va, "id_a").join(vb, "id_b")
      .withColumn("cos_sim", round(VectorOps.cosine(col("vec_a"), col("vec_b")), 4))
      .filter(col("cos_sim") >= threshold)
      .select("id_a", "id_b", "cos_sim")
  }

  // --- Tier 6: cluster-scoped semantic dedup (SemDeDup) ---------------------
  //
  // Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
  // through semantic deduplication" (arXiv:2303.09540): coarse k-means
  // clusters bound the quadratic, EXACT cosine runs only within a cluster,
  // and the keep-rule retains the member farthest from its centroid. This
  // tier complements [[embeddingDupPairs]] (sign-LSH buckets): LSH recalls
  // by hash agreement — probabilistic, threshold-blurry; the cluster scope
  // is exhaustive within each cell, which is what the paper's dedup-then-
  // train results rely on.

  /** Deterministic coarse centroids: the `k` corpus vectors with the
    * smallest ids, numbered 0..k-1 in id order. Engine-portable — any
    * system reproduces the exact centroid set from the data alone, which is
    * what lets the correctness gate pin [[assignSemanticClusters]] against
    * an external oracle. For quality-sensitive production runs train real
    * centroids with [[trainSemanticCentroids]]; the k collected vectors are
    * a driver-side model either way (same pattern as the IVF coarse
    * quantizer, [[graft.functions.VectorOps.ivfTopK]]).
    */
  def firstKCentroids(df: DataFrame, idCol: String, vecCol: String,
                      k: Int): Seq[(Int, Seq[Float])] =
    df.orderBy(col(idCol)).limit(k)
      .select(transform(col(vecCol), x => x.cast("float")))
      .collect().toIndexedSeq.zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](0)) }

  /** K-means centroids for the semantic tier: deterministic seed + capped
    * deterministic sample (the IVF coarse-quantizer recipe — a 100 TB corpus
    * trains on ~`trainSampleCap` vectors, not ten full scans). Pick `k` so
    * the expected cluster size stays in the 10²–10⁴ range the within-cluster
    * quadratic tolerates.
    */
  def trainSemanticCentroids(df: DataFrame, idCol: String, vecCol: String, k: Int,
                             trainSampleCap: Long = 1000000L): Seq[(Int, Seq[Float])] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feats = df.select(col(idCol).as("id"),
      array_to_vector(transform(col(vecCol), x => x.cast("double"))).as("features"))
    val n = feats.count()
    val train = if (n <= trainSampleCap) feats
      else Sampling.hashSample(feats, "id", trainSampleCap.toDouble / n)
    val model = new KMeans().setK(k).setSeed(42L).setMaxIter(10).fit(train)
    model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.toIndexedSeq.map(_.toFloat)) }.toIndexedSeq
  }

  /** Assign every vector its argmax-cosine centroid in ONE narrow pass — no
    * shuffle, no row expansion: the centroid set rides the plan as a k×dim
    * literal array and the per-row argmax is
    * `array_max` over `(cosine, -cid)` structs, so ties break to the LOWEST
    * centroid id. The literal is k×dim×4 B of plan payload — fine through
    * k ≈ 10⁴ at LLM embedding widths (tens of MBs, broadcast with the
    * task binary once); for the ~10⁵-centroid regime of a billion-doc
    * corpus, assign with the ML k-means model instead (the
    * [[graft.functions.VectorOps.ivfTopK]] pattern: model broadcast,
    * `transform` is the same narrow pass) and feed the resulting
    * `(id, vec, cluster, centroid_sim)` relation to
    * [[semanticDedupPairsAssigned]]. Returns `(id, vec, cluster, centroid_sim)`;
    * `centroid_sim` — the cosine to the OWN cluster's centroid — is what
    * the SemDeDup keep-rule ranks on. A zero-norm vector has null cosine to
    * every centroid: it lands deterministically in the lowest-id cluster
    * with null `centroid_sim`, and the null-first struct orderings below
    * make it the preferred keeper (it can never clear a pair threshold, so
    * it is never dropped — nulls stay inert end to end).
    */
  def assignSemanticClusters(df: DataFrame, idCol: String, vecCol: String,
                             centroids: Seq[(Int, Seq[Float])]): DataFrame =
    assignSemanticClustersHandle(df, idCol, vecCol, centroids)._1

  /** [[assignSemanticClusters]] returning the centroid BROADCAST handle
    * alongside the plan, for eager consumers ([[semanticDrop]]) that can
    * `unpersist` the executor copies once their result is materialized —
    * without the handle a long-lived session compiling many semantic-dedup
    * specs accumulates executor broadcast blocks until the ContextCleaner
    * happens to GC the dropped plans (unpersist, not destroy: a re-executed
    * plan lazily re-ships the driver-side value).
    */
  private[graft] def assignSemanticClustersHandle(
      df: DataFrame, idCol: String, vecCol: String,
      centroids: Seq[(Int, Seq[Float])])
      : (DataFrame, org.apache.spark.broadcast.Broadcast[(Array[Int], Array[Array[Float]])]) = {
    require(centroids.nonEmpty, "assignSemanticClusters: empty centroid set")
    import graft.functions.VectorMath
    // ONE kernel evaluation per row (functions/VectorMathExpr
    // NearestCosineCell) — bit-identical to the r13 struct-max HOF form
    // (`array_max(transform(literal, c => struct(cosineSim, -cid)))`,
    // cross-checked in SemDedupSpec) without its per-centroid struct
    // allocations; at k in the hundreds the HOF assignment dominated the
    // tier (the IVF build's 709 s → 30 s lesson, SCALING.md r14). The
    // centroid model rides a BROADCAST (r15), not every task closure — at
    // the 10⁴-centroid rung the embedded matrix was tens of MB per task.
    // The returned plan holds the handle, so the broadcast lives exactly
    // as long as any derived DataFrame (ContextCleaner reclaims it after).
    val bc = VectorMath.broadcastCosineCells(df.sparkSession, centroids)
    val best = VectorMath.nearestCosineCellBcastCol(col(vecCol), bc)
    (df.withColumn("__best", best)
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        col("__best.cluster").as("cluster"),
        col("__best.centroid_sim").as("centroid_sim")), bc)
  }

  /** SemDeDup pairs: exact cosine ≥ `threshold`, computed ONLY within a
    * coarse cluster. The corpus shuffles once on the cluster key (vectors
    * ride that one exchange — the tier's defining cost, bounded by cluster
    * size, exactly as in the paper); cluster cardinalities come from a
    * key-only aggregation and clusters larger than `maxClusterSize` (a
    * degenerate centroid set) are EXCLUDED from the quadratic expansion,
    * counted and logged like every banded tier's bucket cap. Returns
    * `(id_a, id_b, cluster, cos_sim)` with `id_a < id_b`.
    */
  def semanticDedupPairs(df: DataFrame, idCol: String, vecCol: String,
                         centroids: Seq[(Int, Seq[Float])], threshold: Double,
                         maxClusterSize: Int = 10000): DataFrame =
    withScopedCaches { localCached =>
      val assigned = localCached(
        assignSemanticClusters(spread(df), idCol, vecCol, centroids))
      semanticPairsOfAssigned(assigned, localCached, threshold, maxClusterSize,
        "semanticDedupPairs")
    }

  /** Pair kernel over a PRE-ASSIGNED `(id, vec, cluster, …)` relation — the
    * entry point when assignment came from elsewhere (an ML k-means model's
    * `transform` at very large k, or a persisted assigned store re-read from
    * parquet). Identical semantics to [[semanticDedupPairs]] from the
    * assignment on.
    */
  def semanticDedupPairsAssigned(assigned: DataFrame, threshold: Double,
                                 maxClusterSize: Int = 10000): DataFrame =
    withScopedCaches { localCached =>
      semanticPairsOfAssigned(localCached(assigned.select("id", "vec", "cluster")),
        localCached, threshold, maxClusterSize, "semanticDedupPairsAssigned")
    }

  /** Shared pair kernel over an assigned (id, vec, cluster, centroid_sim)
    * relation; `localCached` scopes the k-row size relation to the caller.
    */
  private def semanticPairsOfAssigned(assigned: DataFrame,
      localCached: DataFrame => DataFrame, threshold: Double,
      maxClusterSize: Int, op: String): DataFrame = {
    import graft.functions.VectorMath
    val sizes = localCached(assigned.groupBy("cluster").agg(count(lit(1)).as("__n")))
    // cap accounting on the k-row relation — one tiny action (this is also
    // the materialization barrier that fills the assignment cache before the
    // self-join below scans it twice), mirroring the minhash over-group stats
    val stats = sizes.agg(
      sum(when(col("__n") > maxClusterSize, 1).otherwise(0)).as("over"),
      sum(when(col("__n") > maxClusterSize, col("__n")).otherwise(0L)).as("over_rows")
    ).head()
    def statAt(i: Int) = if (stats.isNullAt(i)) 0L else stats.getLong(i)
    if (statAt(0) > 0)
      log.warn(s"$op: ${statAt(0)} cluster(s) covering ${statAt(1)} vectors exceed " +
        s"maxClusterSize=$maxClusterSize — excluded from the within-cluster pair " +
        "expansion; train more centroids (smaller cells) or raise maxClusterSize")
    val ok = sizes.filter(col("__n").between(2, maxClusterSize)).select("cluster")
    // k-row build side → broadcast semi join: the corpus is pruned without
    // an extra shuffle, then self-joins on the cluster key alone
    val bounded = assigned.join(broadcast(ok), Seq("cluster"), "left_semi")
    // Hoisted-norm pair kernel (r17): each side's projection carries its
    // row's Σx², so the per-PAIR kernel does ONE array pass (the dot)
    // instead of three — bit-identical values (CosineSimNormed scaladoc).
    // Measured 1.6× on the 400k/266-cell stress corpus (PairWindowProbe,
    // 7.6 → 4.8 s). An angle-window prefilter on |acos(sim_a)−acos(sim_b)|
    // (lossless by the angular triangle inequality) was A/B-measured on
    // top of this kernel and REJECTED: with the dot this cheap, the window
    // cost more than the 15–33% of pairs it pruned at the declared 0.9 /
    // 0.95 operating points (6.0 vs 4.8 s at 0.9; 5.7 vs 6.0 s at 0.95).
    def side(idAs: String, vecAs: String, normAs: String) =
      bounded.select(col("cluster"), col("id").as(idAs), col("vec").as(vecAs),
        VectorMath.normSqCol(col("vec")).as(normAs))
    val l = side("id_a", "__va", "__na")
    val r = side("id_b", "__vb", "__nb")
    l.join(r, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos_sim", VectorMath.cosineSimNormed(
        col("__va"), col("__vb"), col("__na"), col("__nb")))
      .filter(col("cos_sim") >= threshold)
      .select("id_a", "id_b", "cluster", "cos_sim")
  }

  /** Incremental semantic dedup: pair a NEW batch against a persisted
    * assigned store (the `(id, vec, cluster, centroid_sim)` relation
    * [[assignSemanticClusters]] produces — persist it once per corpus, with
    * the centroid model pinned) without re-pairing the store against
    * itself. The store is pruned to the delta's clusters first (the
    * delta's distinct cluster ids are at most k rows — broadcast semi), so
    * a batch that lands in 3 of 10⁵ cells scans 3 cells' worth of store
    * vectors, not the corpus. Pairs are delta×(delta ∪ prunedStore) within
    * a cluster; store×store pairs never form because the left join side is
    * delta-only. Returns `(id_a, id_b, cluster, cos_sim)`, `id_a < id_b`.
    */
  def incrementalSemanticDedup(delta: DataFrame, store: DataFrame,
      idCol: String, vecCol: String, centroids: Seq[(Int, Seq[Float])],
      threshold: Double, maxClusterSize: Int = 10000): DataFrame =
    incrementalSemanticDedupAssigned(
      assignSemanticClusters(spread(delta), idCol, vecCol, centroids),
      store, threshold, maxClusterSize)

  /** [[incrementalSemanticDedup]] over a PRE-ASSIGNED delta (the
    * `(id, vec, cluster, …)` relation [[assignSemanticClusters]] produces)
    * — the entry point when the caller needs the delta's assignment for
    * itself too (the streaming ingest assigns ONCE and reuses the relation
    * for both the pair kernel and the semantic-store append, instead of
    * recomputing the centroid cosines per consumer).
    */
  def incrementalSemanticDedupAssigned(assignedDelta: DataFrame, store: DataFrame,
      threshold: Double, maxClusterSize: Int = 10000): DataFrame =
    withScopedCaches { localCached =>
      import graft.functions.VectorMath
      // same no-double-persist rule as incrementalDedupPairsSigs: the
      // ingests hand in an already-persisted assignment (vectors included)
      val projected = assignedDelta.select("id", "vec", "cluster")
      val d =
        if (assignedDelta.storageLevel != org.apache.spark.storage.StorageLevel.NONE) projected
        else localCached(projected)
      val deltaClusters = d.select("cluster").distinct()
      val pruned = store.select("id", "vec", "cluster")
        .join(broadcast(deltaClusters), Seq("cluster"), "left_semi")
      // cap on the COMBINED per-cluster population, counted once (delta ids
      // are disjoint from store ids by contract)
      val sizes = localCached(
        d.select("cluster").unionByName(pruned.select("cluster"))
          .groupBy("cluster").agg(count(lit(1)).as("__n")))
      val stats = sizes.agg(
        sum(when(col("__n") > maxClusterSize, 1).otherwise(0)).as("over"),
        sum(when(col("__n") > maxClusterSize, col("__n")).otherwise(0L)).as("over_rows")
      ).head()
      def statAt(i: Int) = if (stats.isNullAt(i)) 0L else stats.getLong(i)
      if (statAt(0) > 0)
        log.warn(s"incrementalSemanticDedup: ${statAt(0)} cluster(s) covering " +
          s"${statAt(1)} vectors exceed maxClusterSize=$maxClusterSize — excluded " +
          "from pair expansion; train more centroids or raise maxClusterSize")
      val ok = sizes.filter(col("__n") <= maxClusterSize).select("cluster")
      // hoisted-norm pair kernel, as in semanticPairsOfAssigned (r17):
      // Σx² rides each side's projection so the pair pass is dot-only
      val l = d.join(broadcast(ok), Seq("cluster"), "left_semi")
        .select(col("cluster"), col("id").as("lid"), col("vec").as("__vl"),
          VectorMath.normSqCol(col("vec")).as("__nl"))
      val r = d.select("cluster", "id", "vec")
        .unionByName(pruned)
        .join(broadcast(ok), Seq("cluster"), "left_semi")
        .select(col("cluster"), col("id").as("rid"), col("vec").as("__vr"),
          VectorMath.normSqCol(col("vec")).as("__nr"))
      // delta-delta pairs arise in both orders; least/greatest + distinct
      // canonicalizes (the relation at this point is output-sized)
      l.join(r, Seq("cluster"))
        .filter(col("lid") =!= col("rid"))
        .withColumn("cos_sim", VectorMath.cosineSimNormed(
          col("__vl"), col("__vr"), col("__nl"), col("__nr")))
        .filter(col("cos_sim") >= threshold)
        .select(least(col("lid"), col("rid")).as("id_a"),
          greatest(col("lid"), col("rid")).as("id_b"), col("cluster"), col("cos_sim"))
        .distinct()
    }

  /** Incremental semantic drop: the batch-ingest form — delta rows that
    * semantically duplicate the STORE are dropped (first-seen wins, the
    * same convention as [[incrementalDedup]]); duplicate components among
    * the remaining (store-surviving) delta docs keep their minimum id.
    * Returns the surviving delta rows, all columns intact; ids-only through
    * the clustering.
    */
  def incrementalSemanticDrop(delta: DataFrame, store: DataFrame,
      idCol: String, vecCol: String, centroids: Seq[(Int, Seq[Float])],
      threshold: Double, maxClusterSize: Int = 10000): DataFrame =
    incrementalSemanticDropAssigned(delta,
      assignSemanticClusters(spread(delta), idCol, vecCol, centroids),
      store, idCol, threshold, maxClusterSize)

  /** [[incrementalSemanticDrop]] over a PRE-ASSIGNED delta — see
    * [[incrementalSemanticDedupAssigned]] for when to prefer it.
    * `assignedDelta` must be the assignment of exactly `delta`'s rows.
    */
  def incrementalSemanticDropAssigned(delta: DataFrame, assignedDelta: DataFrame,
      store: DataFrame, idCol: String,
      threshold: Double, maxClusterSize: Int = 10000): DataFrame = {
    val losers = withCacheScope {
      // already persisted + registered by withScopedCaches inside — no
      // extra cached() wrapper (it would double-persist/double-register)
      val pairs = incrementalSemanticDedupAssigned(assignedDelta, store,
        threshold, maxClusterSize)
      // the pair relation canonicalizes (least, greatest), so re-derive
      // which side is new by membership in the delta's id set
      val dIds = delta.select(col(idCol).as("__did"))
      val flagged = cached(pairs
        .join(dIds.select(col("__did").as("id_a"), lit(true).as("a_new")), Seq("id_a"), "left")
        .join(dIds.select(col("__did").as("id_b"), lit(true).as("b_new")), Seq("id_b"), "left")
        .na.fill(false, Seq("a_new", "b_new")))
      val vsStore = flagged.filter(col("a_new") && !col("b_new")).select(col("id_a").as("id"))
        .union(flagged.filter(col("b_new") && !col("a_new")).select(col("id_b").as("id")))
        .distinct()
      // store-survivors only — same first-seen-wins rationale as
      // [[incrementalDedup]]: a store-dropped min must not take its whole
      // within-delta component down with it
      val survivorPairs = flagged.filter(col("a_new") && col("b_new"))
        .join(vsStore.select(col("id").as("id_a")), Seq("id_a"), "left_anti")
        .join(vsStore.select(col("id").as("id_b")), Seq("id_b"), "left_anti")
      val withinDelta = clusters(survivorPairs)
        .filter(col("id") =!= col("cluster")).select("id")
      vsStore.union(withinDelta).distinct().localCheckpoint(true)
    }
    delta.join(losers, delta(idCol) === losers("id"), "left_anti")
  }

  /** SemDeDup end-to-end drop: pairs → connected components → per component
    * keep the member FARTHEST from its centroid (lowest `centroid_sim`,
    * ties → smallest id; the paper's diversity-preserving keep-rule) and
    * anti-join the rest out of `df`. Ids-only through the clustering; full
    * rows never leave the final anti-join.
    */
  def semanticDrop(df: DataFrame, idCol: String, vecCol: String,
                   centroids: Seq[(Int, Seq[Float])], threshold: Double,
                   maxClusterSize: Int = 10000): DataFrame = {
    // this consumer is EAGER (losers ends in a localCheckpoint), so the
    // centroid broadcast's executor copies are released as soon as the
    // result materializes instead of lingering until the ContextCleaner
    // notices the dropped plan (unbounded in a service compiling many
    // semantic-dedup specs — ADVICE r15)
    val (assignedRaw, bc) =
      assignSemanticClustersHandle(spread(df), idCol, vecCol, centroids)
    val losers = try withCacheScope {
      val assigned = cached(assignedRaw)
      val prs = semanticPairsOfAssigned(assigned, cached, threshold, maxClusterSize,
        "semanticDrop")
      val memb = clusters(prs).withColumnRenamed("cluster", "grp")
      val ranked = memb.join(assigned.select("id", "centroid_sim"), Seq("id"))
      val keep = ranked.groupBy("grp")
        .agg(min_by(col("id"), struct(col("centroid_sim"), col("id"))).as("keep_id"))
      ranked.join(keep, Seq("grp")).filter(col("id") =!= col("keep_id"))
        .select("id").localCheckpoint(true)
    } finally bc.unpersist(blocking = false)
    df.join(losers, df(idCol) === losers("id"), "left_anti")
  }
}
