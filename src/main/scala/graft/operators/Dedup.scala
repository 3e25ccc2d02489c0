package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextOps
import graft.exec.Scope.{cached, operatorResult, operatorScope, releaseCheckpoint,
  scopedCheckpoint, spread}

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

  /** Tier 1: exact dedup on a canonical text fingerprint; keeps the row with
    * the smallest `orderCol` per duplicate group (deterministic keep-first,
    * cf. SURVEY §7.4.2).
    *
    * Null-text policy: a null text tokenizes to null, and the fingerprint's
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
    * and the surviving token stream re-joined with single spaces. This is
    * [[incrementalSpanDedup]]'s kernel over an empty fingerprint store.
    */
  def dropRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 16): DataFrame =
    spanRebuild(df, idCol, textCol, spanWindows(df, noFps(df), idCol, textCol, k), k)

  /** An empty window-fingerprint store. */
  private def noFps(df: DataFrame): DataFrame =
    df.sparkSession.emptyDataset(org.apache.spark.sql.Encoders.STRING).toDF("fp")

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

  /** The span tier's one kernel: the window relation `(id, start, fp,
    * is_first)` of `delta` against the fingerprint store `storeFps`.
    * `is_first` marks the within-delta first occurrence (smallest `(id,
    * start)`) of a content the store lacks; a window survives iff it is
    * first.
    *
    * Scale shape: the fingerprint-wide shuffle carries ONLY `(fp, id,
    * start)` triples, and ONE fp-keyed aggregation over the delta's windows
    * AND the store's fps yields both the first occurrence and store
    * membership: map-side partial aggregation absorbs mega-repeated
    * boilerplate fingerprints (the skew case) instead of funnelling them
    * through one window task, and only the delta's fresh fps join back
    * (AQE handles the residual skew). Over an empty store the union branch
    * is optimized away, leaving the plain first-occurrence aggregation.
    */
  private def spanWindows(delta: DataFrame, storeFps: DataFrame, idCol: String,
                          textCol: String, k: Int): DataFrame = {
    val occ = spanOcc(spanBase(delta, idCol, textCol), k)
    // a store fp enters the aggregation as a window with a null start,
    // which sorts before every delta window's (starts are never null): the
    // min is a delta window exactly when the store lacks the content
    val fresh = occ.unionByName(storeFps.select(
        lit(null).cast(occ.schema("id").dataType).as("id"), lit(null).cast("int").as("start"),
        col("fp")))
      .groupBy("fp").agg(min(struct(col("id"), col("start"))).as("keep"))
      .filter(col("keep.start").isNotNull)
    occ.join(fresh, Seq("fp"), "left")
      .select(col("id"), col("start"), col("fp"),
        coalesce(struct(col("id"), col("start")) === col("keep"), lit(false)).as("is_first"))
  }

  /** Rebuild each document of `delta` from its surviving windows in order.
    * The per-doc drop set is a small `collect_set`, attached with a join
    * that broadcasts while the drop relation fits (PlanQualitySpec locks
    * that no token array rides a shuffle in that regime); on a
    * boilerplate-saturated corpus it degrades to ONE id-keyed corpus
    * shuffle — the floor for any rebuild that must pair documents with
    * their deletions.
    */
  private def spanRebuild(delta: DataFrame, idCol: String, textCol: String,
                          windows: DataFrame, k: Int): DataFrame = {
    val drops = windows.filter(!col("is_first"))
      .groupBy("id").agg(collect_set(col("start")).as("drop_starts"))
    spanBase(delta, idCol, textCol).join(drops, Seq("id"), "left")
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
  }

  /** `rows` with `textCol` replaced by the rebuilt text of a span rebuild
    * relation `(id, …, n_kept, text_out)` keyed on `idCol`, and `n_kept`
    * appended: the join-back of the batch `spanDedup` node and of the
    * `Span(joinBack = true)` ingest stage.
    */
  def withRebuiltText(rows: DataFrame, rebuilt: DataFrame, idCol: String,
                      textCol: String): DataFrame =
    rows.join(rebuilt.select(col("id").as("__sid"), col("text_out"), col("n_kept")),
        rows(idCol) === col("__sid"))
      .withColumn(textCol, col("text_out"))
      .drop("__sid", "text_out")

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
    *
    * Both outputs read the one window relation, so it is persisted and
    * registered in the session cache registry: an ingest that writes
    * `rebuilt` and then `newFps` runs the occurrence/first-occurrence/store
    * pass once. Callers release it with [[graft.exec.Scope.withCacheScope]]
    * (materialize both outputs inside the scope).
    * Delta ids must be unique, as for every incremental tier.
    */
  def incrementalSpanDedup(delta: DataFrame, storeFps: DataFrame, idCol: String,
                           textCol: String, k: Int = 16): (DataFrame, DataFrame) = {
    val windows = cached(spanWindows(delta, storeFps, idCol, textCol, k))
    (spanRebuild(delta, idCol, textCol, windows, k),
      windows.filter(col("is_first")).select("fp"))
  }

  // --- Tier 2: MinHash + LSH ------------------------------------------------

  /** MinHash signature relation `(id, sig)` — a narrow per-row projection.
    * Shingling + hashing is the rolling-hash kernel: O(len) per row, no
    * per-window string allocation.
    */
  private def signatures(df: DataFrame, idCol: String, textCol: String,
                         shingleLen: Int, numHashes: Int): DataFrame =
    df.select(
      col(idCol).as("id"),
      graft.functions.MinHashSig.minhashSig(
        graft.functions.ShingleHashes.shingleHashes(col(textCol), shingleLen),
        numHashes).as("sig"))

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

  /** The minhash tier's one kernel: the near-dup pairs of a `delta` batch
    * against a persisted signature store `(id, sig)` ([[minhashSignatures]]
    * under the same shingleLen/numHashes). Store ids are disjoint from the
    * delta's, except a replayed batch's own survivors: a document's pair
    * with its stored copy is dropped. Returns `(pairs, deltaSigs)`:
    *  - `pairs` is `(id_a, id_b, a_new, b_new, jaccard)` with id_a < id_b:
    *    every pair touching a NEW document whose Jaccard clears `threshold`.
    *    Store–store candidates are dropped (the store is assumed deduped).
    *    It is materialized and registered like every
    *    [[graft.exec.Scope.operatorResult]].
    *  - `deltaSigs` is the delta's `(id, sig)`, persisted in the CALLER's
    *    scope, so appending the survivors' rows to the store re-shingles
    *    nothing.
    * The batch tier is this kernel over an empty store ([[emptyOf]]).
    *
    * Four steps:
    *  1. Exact-duplicate collapse: documents with identical DISTINCT
    *     shingle sets have identical signatures, band keys and Jaccard
    *     against every other document, so the delta is collapsed to one
    *     REPRESENTATIVE per distinct shingle set (a 96-bit hash pair over
    *     the sorted hash array; min-id member). ONE fp aggregation derives
    *     the rep id (`min`), the rep signature (`first`: identical across
    *     members by construction) and the group SIZE — a single fp-keyed
    *     shuffle whose partial agg collapses duplicates map-side.
    *  2. The representatives are banded together with the store
    *     signatures ([[bandedPairs]]).
    *  3. Delta–delta candidates carry text on both sides and are verified
    *     by their EXACT shingle-set Jaccard (LSH proposes, exact verifies —
    *     no false positives). Only reps that appear in a candidate pair are
    *     re-shingled, so the ~KB shingle arrays ride the verify join once
    *     per DISTINCT pair, not once per duplicate pair. Delta–store
    *     candidates are scored by the signature estimator, since the store
    *     has no text (at numHashes=128 its std error near a 0.7 threshold
    *     is ≈0.04).
    *  4. Verified rep pairs expand back through the `(id, fp)` member map,
    *     and each duplicate group adds its within-group pairs with the
    *     rep's self-Jaccard (the verdict an uncollapsed verify gives them).
    *     Groups larger than `maxBucketSize` (mega-replicated boilerplate)
    *     are EXCLUDED from the expansion — one verified pair of two
    *     100k-member groups would otherwise emit 10^10 rows — mirroring the
    *     banding tier's oversized-bucket drop, and logged the same way.
    *     When the delta has NO duplicate fingerprints the member map is the
    *     identity and the expansion never runs (the organic fast path).
    *
    * A null text has a null signature and pairs with nothing; every empty
    * text shingles to `[0]`, so empty documents are exact twins.
    */
  def minhashPairs(delta: DataFrame, storeSigs: DataFrame, idCol: String,
                   textCol: String, threshold: Double, shingleLen: Int = 5,
                   numHashes: Int = 128, bands: Int = 16,
                   maxBucketSize: Int = 1000): (DataFrame, DataFrame) = {
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
    // — so the within-group verdict needs this one bit, not a re-shingle.
    // Registered with the caller's scope: deltaSigs reads it after the pairs
    val keyed = cached(spread(delta).select(col(idCol).as("id"), {
        val sh = shOf(col(textCol))
        struct(xxhash64(sort_array(sh)).as("h1"), hash(sort_array(sh)).as("h2")).as("__fp")
      }, graft.functions.MinHashSig.minhashSig(shOf(col(textCol)), numHashes).as("sig"),
      (size(shOf(col(textCol))) > 0).as("__has_sh")))
    val obs = org.apache.spark.sql.Observation()
    val pairs = operatorResult {
      val repAgg = cached(keyed.groupBy("__fp").agg(
        min(col("id")).as("id"), first(col("sig")).as("sig"),
        first(col("__has_sh")).as("__has_sh"), count(lit(1)).as("grp_n")))
      // a delta id already in the store (a replay after the store append)
      // pairs with its own copy: that self pair is no verdict
      val cands = cached(bandedPairs(
        repAgg.select("id", "sig").unionByName(storeSigs.select("id", "sig")),
        numHashes, bands, maxBucketSize, Some(obs)).filter(col("id_a") =!= col("id_b")))
      // exact verify on the hashed shingle sets (identical to string-shingle
      // Jaccard up to 31-bit hash collisions), shingled ONLY for reps that
      // appear in a candidate pair — candIds is pair-sized, so the joins
      // broadcast and the delta is never repartitioned for the re-shingle.
      // fp and group size ride along so the expansion below needs no further
      // rep-metadata joins.
      val candIds = cands.select(explode(array(col("id_a"), col("id_b"))).as("id"))
      val shMeta = cached(delta.select(col(idCol).as("id"), col(textCol).as("__text"))
        .join(candIds, Seq("id"), "left_semi") // semi: no distinct shuffle needed
        .select(col("id"), shOf(col("__text")).as("sh"))
        .join(repAgg.select("id", "__fp", "grp_n"), "id"))
      // one side relation for both verdicts: a delta rep carries its
      // shingles, fp and group size, a store doc only its signature; a
      // rep's signature is re-derived from its shingles for delta–store
      // pairs only, so no delta-side signature rides the verify joins
      val sides = shMeta.unionByName(storeSigs.select("id", "sig"), allowMissingColumns = true)
      def side(s: String) = sides.select(col("id").as(s"id_$s"), col("sh").as(s"sh_$s"),
        col("__fp").as(s"fp_$s"), col("grp_n").as(s"n_$s"), col("sig").as(s"sig_$s"))
      def sig(s: String) = coalesce(col(s"sig_$s"),
        graft.functions.MinHashSig.minhashSig(col(s"sh_$s"), numHashes))
      val verified = cands.join(side("a"), "id_a").join(side("b"), "id_b")
        .withColumn("a_new", col("fp_a").isNotNull).withColumn("b_new", col("fp_b").isNotNull)
        .filter(col("a_new") || col("b_new"))
        .withColumn("jaccard", when(col("a_new") && col("b_new"), ngramJaccard(col("sh_a"), col("sh_b")))
          .otherwise(aggregate(zip_with(sig("a"), sig("b"), (x, y) => when(x === y, 1).otherwise(0)),
            lit(0), (acc, x) => acc + x).cast("double") / numHashes))
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
        log.warn(s"minhashPairs: $overGroups exact-duplicate group(s) covering " +
          s"$overMembers documents exceed maxBucketSize=$maxBucketSize — excluded from " +
          "pair expansion (within-group and cross-group); raise maxBucketSize to trade " +
          "cost for recall")
      if (dupGroups == 0L) verified.select("id_a", "id_b", "a_new", "b_new", "jaccard")
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
          .filter(col("a_new") && col("b_new") && col("n_a") <= maxBucketSize && col("n_b") <= maxBucketSize)
          .select(col("fp_a"), col("fp_b"), col("jaccard"))
          .unionByName(dupFps)
        // ONE expansion through the member map serves both shapes; the
        // pair side broadcasts, the member map is only ever scanned, never
        // shuffled. Self-pairs (fp_a == fp_b) generate each unordered
        // member pair twice — the ma < mb guard keeps exactly one.
        val deltaPairs = fpPairs
          .join(members.select(col("__fp").as("fp_a"), col("id").as("ma")), "fp_a")
          .join(members.select(col("__fp").as("fp_b"), col("id").as("mb")), "fp_b")
          .filter(col("fp_a") =!= col("fp_b") || col("ma") < col("mb"))
          .select(least(col("ma"), col("mb")).as("id_a"), greatest(col("ma"), col("mb")).as("id_b"),
            lit(true).as("a_new"), lit(true).as("b_new"), col("jaccard"))
        // a delta–store pair holds for every member of the new side's
        // group; over an empty store the optimizer prunes this branch
        val storePairs = verified
          .filter(col("a_new") =!= col("b_new") && coalesce(col("n_a"), col("n_b")) <= maxBucketSize)
          .select(coalesce(col("fp_a"), col("fp_b")).as("__fp"),
            when(col("a_new"), col("id_b")).otherwise(col("id_a")).as("o"), col("jaccard"))
          .join(members, "__fp")
          .select(least(col("id"), col("o")).as("id_a"), greatest(col("id"), col("o")).as("id_b"),
            (col("id") < col("o")).as("a_new"), (col("id") > col("o")).as("b_new"), col("jaccard"))
        deltaPairs.unionByName(storePairs)
      }
    }
    logDroppedBuckets("minhashPairs", obs)
    (pairs, keyed.select("id", "sig"))
  }

  /** Tier 2 end-to-end: the near-dup pairs whose *exact* shingle-set
    * Jaccard clears `threshold` — [[minhashPairs]] over an empty store,
    * projected to `(id_a, id_b, jaccard)` with id_a < id_b.
    */
  def minhashDedupPairs(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double, shingleLen: Int = 5,
                        numHashes: Int = 128, bands: Int = 16,
                        maxBucketSize: Int = 1000): DataFrame =
    operatorResult(minhashPairs(df, emptyOf(signatures(df, idCol, textCol, shingleLen, numHashes)),
      idCol, textCol, threshold, shingleLen, numHashes, bands, maxBucketSize)._1
      .select("id_a", "id_b", "jaccard"))

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
    signatures(spread(df), idCol, textCol, shingleLen, numHashes)

  /** [[graft.store.Stores.compactStore]], kept under this name because the
    * benchmark (`perfbench/scala/graft/bench/Workloads.scala`) calls it;
    * new code calls the store module's.
    */
  def compactStore(spark: org.apache.spark.sql.SparkSession, storeDir: String,
                   keys: Seq[String]): (Long, Long) =
    graft.store.Stores.compactStore(spark, storeDir, keys)

  /** [[graft.exec.Scope.unpersistCaches]], kept under this name because the
    * benchmark (`perfbench/scala/graft/bench/Main.scala`) calls it; new
    * code calls the scope module's.
    */
  def unpersistCaches(): Unit = graft.exec.Scope.unpersistCaches()

  /** Incremental near-dedup of an ingest batch against the existing corpus:
    * [[minhashPairs]] under the [[firstSeenWins]] loser rule. A new document
    * is dropped iff (a) its estimated Jaccard to any STORE document clears
    * `threshold`, or (b) among the delta docs that survive (a), it sits in a
    * duplicate cluster (exact Jaccard) and is not that cluster's minimum
    * id. Returns the surviving delta rows — append them to the corpus and
    * their [[minhashSignatures]] to the store to complete the ingest.
    */
  def incrementalDedup(delta: DataFrame, storeSigs: DataFrame, idCol: String,
                       textCol: String, threshold: Double, shingleLen: Int = 5,
                       numHashes: Int = 128, bands: Int = 16,
                       maxBucketSize: Int = 1000): DataFrame =
    firstSeenWins(delta, idCol)(minhashPairs(delta, storeSigs, idCol, textCol, threshold,
      shingleLen, numHashes, bands, maxBucketSize)._1)

  /** Which member of a within-delta duplicate component [[firstSeenWins]]
    * keeps.
    */
  sealed trait Representative

  /** The minimum id: the document seen first (the incremental ingests). */
  case object FirstSeen extends Representative

  /** The member farthest from its centroid: lowest `centroid_sim` in
    * `assigned` (an `(id, centroid_sim, …)` relation covering the delta),
    * ties → smallest id — SemDeDup's diversity-preserving keep rule (the
    * batch semantic dedup).
    */
  final case class Farthest(assigned: DataFrame) extends Representative

  /** The first-seen-wins loser rule of the dedups, over a pair relation
    * `(id_a, id_b, a_new, b_new, …)` flagging which side of each pair is
    * new: `delta` without every new doc paired with a STORE doc, and
    * without every member of a duplicate component among the remaining new
    * docs except the one `keep` elects. `flagged` is built inside the
    * rule's operator scope, so every relation it persists is released with
    * it.
    *
    * A graph of at most `driverMaxEdges` pairs (the [[clusters]] gate) is
    * decided on the driver from ONE `head` of the materialized pairs — the
    * same rule, the same union-find by minimum id as [[clusters]]' driver
    * path. Under [[FirstSeen]] the losers come back as a local relation:
    * one action where the distributed rule runs about seven; under
    * [[Farthest]] the components are ranked against its `assigned` and the
    * loser set is checkpointed. Above the gate the rule runs distributed.
    */
  private[graft] def firstSeenWins(delta: DataFrame, idCol: String,
      driverMaxEdges: Long = DriverCcMaxEdges, keep: Representative = FirstSeen)(
      flagged: => DataFrame): DataFrame = {
    // scope every relation this persists (the pair result and the
    // clusters() membership) so batch ingest loops accumulate nothing in the
    // session registry; on the distributed path the small loser id set is
    // eagerly checkpointed so the returned frame survives the scope exit
    // (an enclosing withCacheScope releases the checkpoint, else the
    // ContextCleaner does once the result is unreferenced)
    val losers = operatorScope {
      val pairs = flagged
      val idType = pairs.schema("id_a").dataType
      val cap = math.min(driverMaxEdges, Int.MaxValue - 1L).toInt
      val small =
        if (!driverUnionFind(idType)) None
        else Some(pairs.select("id_a", "id_b", "a_new", "b_new").head(cap + 1))
          .filter(_.length <= cap)
      small.map(driverLosers(pairs.sparkSession, idType, _, keep)).getOrElse {
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
        val withinDelta = nonRepresentatives(
          clusters(survivorPairs, driverCcMaxEdges = driverMaxEdges), keep)
        scopedCheckpoint(vsStore.union(withinDelta).distinct())
      }
    }
    delta.join(losers, delta(idCol) === losers("id"), "left_anti")
  }

  /** The members of each component of `memb` `(id, cluster)` — `cluster`
    * being the component's minimum id — that `keep` does not elect.
    */
  private def nonRepresentatives(memb: DataFrame, keep: Representative): DataFrame =
    keep match {
      case FirstSeen => memb.filter(col("id") =!= col("cluster")).select("id")
      case Farthest(assigned) =>
        val ranked = memb.withColumnRenamed("cluster", "grp")
          .join(assigned.select("id", "centroid_sim"), Seq("id"))
        val elected = ranked.groupBy("grp")
          .agg(min_by(col("id"), struct(col("centroid_sim"), col("id"))).as("keep_id"))
        ranked.join(elected, Seq("grp")).filter(col("id") =!= col("keep_id")).select("id")
    }

  /** [[firstSeenWins]]' rule over collected `(id_a, id_b, a_new, b_new)`
    * rows, as the distributed form evaluates it: a flag counts only when
    * it is TRUE (a null flag passes no filter), and null or self pairs
    * link nothing. Returns the losers as an `id` relation.
    */
  private def driverLosers(spark: org.apache.spark.sql.SparkSession,
      idType: org.apache.spark.sql.types.DataType,
      edges: Array[org.apache.spark.sql.Row], keep: Representative): DataFrame = {
    import org.apache.spark.sql.types.{StructField, StructType}
    import scala.jdk.CollectionConverters._
    def is(r: org.apache.spark.sql.Row, i: Int, v: Boolean) = !r.isNullAt(i) && r.getBoolean(i) == v
    val vsStore = edges.iterator.flatMap { r =>
      if (is(r, 2, true) && is(r, 3, false)) Option(r.get(0))
      else if (is(r, 3, true) && is(r, 2, false)) Option(r.get(1))
      else None
    }.toSet
    val survivorEdges = edges.iterator.filter(r => is(r, 2, true) && is(r, 3, true))
      .map(r => (r.get(0), r.get(1)))
      .filter { case (a, b) => a != null && b != null && a != b && !vsStore(a) && !vsStore(b) }
    val components = minIdComponents(survivorEdges)
    def local(rows: Iterable[org.apache.spark.sql.Row], cols: String*) =
      spark.createDataFrame(rows.toSeq.asJava, StructType(cols.map(StructField(_, idType))))
    keep match {
      case FirstSeen =>
        val withinDelta = components.collect { case (n, root) if n != root => n }
        local((vsStore ++ withinDelta).map(org.apache.spark.sql.Row(_)), "id")
      case Farthest(_) =>
        val memb = local(components.map { case (n, root) => org.apache.spark.sql.Row(n, root) },
          "id", "cluster")
        scopedCheckpoint(local(vsStore.map(org.apache.spark.sql.Row(_)), "id")
          .union(nonRepresentatives(memb, keep)))
    }
  }

  // --- Duplicate clustering (connected components) --------------------------

  /** The edge-count gate of the driver union-find ([[clusters]],
    * [[firstSeenWins]]): a graph of at most this many pairs (a few MB of
    * scalar ids) is solved on the driver.
    */
  private val DriverCcMaxEdges = 100000L

  /** Can the driver union-find decide a graph over ids of type `t`?
    * Scalar ids are runtime-Comparable, which the min-id representative
    * needs (binary and nested ids run distributed, where Catalyst supplies
    * the order). Floating-point ids run distributed too: NaN equals
    * itself in Spark but not on the JVM, so the union-find's root walk
    * would never end on a NaN id.
    */
  private def driverUnionFind(t: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    t match {
      case _: StructType | _: ArrayType | _: MapType | BinaryType | NullType |
           FloatType | DoubleType => false
      case _ => true
    }
  }

  /** Union-find by minimum id over non-null `edges`: every node of the
    * graph → the smallest id of its component, the representative
    * [[clusters]]' star rounds converge to. Strings compare the way
    * Catalyst's UTF8String does (unsigned UTF-8 bytes): String.compareTo
    * orders UTF-16 code units, which puts supplementary characters
    * elsewhere, and the representative must not depend on which side of
    * the size gate a graph falls.
    */
  private def minIdComponents(edges: Iterator[(Any, Any)]): Map[Any, Any] = {
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
    val nodes = scala.collection.mutable.LinkedHashSet.empty[Any]
    edges.foreach { case (a, b) =>
      nodes += a; nodes += b
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    nodes.iterator.map(n => n -> find(n)).toMap
  }

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
    * that loop this per corpus must release it
    * ([[graft.exec.Scope.withCacheScope]] around use + materialization, or
    * [[graft.exec.Scope.unpersistCaches]] between corpora); the
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
               maxIter: Int = 50, driverCcMaxEdges: Long = DriverCcMaxEdges): DataFrame = {
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
    if (driverUnionFind(aT)) {
      val cap = math.min(driverCcMaxEdges, Int.MaxValue - 1L).toInt
      val edges = deduped.head(cap + 1)
      if (edges.length <= cap) {
        val rows: java.util.List[org.apache.spark.sql.Row] = {
          import scala.jdk.CollectionConverters._
          minIdComponents(edges.iterator.map(r => (r.get(0), r.get(1))))
            .iterator.map { case (n, root) => org.apache.spark.sql.Row(n, root) }.toSeq.asJava
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
      releaseCheckpoint(e)
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
    releaseCheckpoint(e)
    membership
  }

  /** Remove near-duplicates given an explicit pair list `(id_a, id_b)`:
    * every member of a duplicate cluster except its canonical (minimum-id)
    * representative is dropped from `df` — [[firstSeenWins]] with every
    * pair flagged new. The anti-join keys on ids only — full rows never
    * ride through the clustering shuffles, and every relation the rule
    * persists is scoped to this call.
    */
  def dropNearDupsByPairs(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    firstSeenWins(df, idCol)(
      pairs.select(col("id_a"), col("id_b"), lit(true).as("a_new"), lit(true).as("b_new")))

  /** Tier-2 end-to-end corpus dedup: [[incrementalDedup]] over an empty
    * store — MinHash/LSH pairs → connected components → keep the
    * minimum-id document per cluster. Scopes every relation it persists to
    * this call — safe to loop over corpora without
    * [[graft.exec.Scope.unpersistCaches]].
    */
  def dropNearDups(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double, shingleLen: Int = 5, numHashes: Int = 128,
                   bands: Int = 16, maxBucketSize: Int = 1000): DataFrame =
    incrementalDedup(df, emptyOf(signatures(df, idCol, textCol, shingleLen, numHashes)),
      idCol, textCol, threshold, shingleLen, numHashes, bands, maxBucketSize)

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
    val result = operatorResult {
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

  /** Pairwise n-gram Jaccard over a *bounded candidate set* (e.g. LSH
    * candidates, or a blocked subset). Exposed standalone for small-N exact
    * audits; at scale always feed LSH candidates instead of the cross join.
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
    // ids-only through the bucket aggregation (see bucketPairs);
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
    * [[semanticPairs]]. Returns `(id, vec, cluster, centroid_sim)`;
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
    // NearestCosineCellBcast) — bit-identical to the r13 struct-max HOF form
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
    * coarse cluster — [[semanticPairs]] over an empty store. Returns
    * `(id_a, id_b, cluster, cos_sim)` with `id_a < id_b`.
    */
  def semanticDedupPairs(df: DataFrame, idCol: String, vecCol: String,
                         centroids: Seq[(Int, Seq[Float])], threshold: Double,
                         maxClusterSize: Int = 10000): DataFrame = {
    val assigned = assignSemanticClusters(spread(df), idCol, vecCol, centroids)
    semanticPairs(assigned, emptyOf(assigned), threshold, maxClusterSize)
      .select("id_a", "id_b", "cluster", "cos_sim")
  }

  /** Incremental semantic dedup: pair a NEW batch against a persisted
    * assigned store (the `(id, vec, cluster, centroid_sim)` relation
    * [[assignSemanticClusters]] produces — persist it once per corpus, with
    * the centroid model pinned) without re-pairing the store against
    * itself ([[semanticPairs]]). Returns `(id_a, id_b, cluster, cos_sim)`,
    * `id_a < id_b`.
    */
  def incrementalSemanticDedup(delta: DataFrame, store: DataFrame,
      idCol: String, vecCol: String, centroids: Seq[(Int, Seq[Float])],
      threshold: Double, maxClusterSize: Int = 10000): DataFrame =
    semanticPairs(assignSemanticClusters(spread(delta), idCol, vecCol, centroids),
      store, threshold, maxClusterSize).select("id_a", "id_b", "cluster", "cos_sim")

  /** The semantic tier's one pair kernel, over a PRE-ASSIGNED delta (the
    * `(id, vec, cluster, …)` relation [[assignSemanticClusters]] produces,
    * or an ML k-means model's `transform` at very large k) and an assigned
    * store: `(id_a, id_b, cluster, cos_sim, a_new, b_new)` with `id_a <
    * id_b`, every pair with exact cosine ≥ `threshold` WITHIN a cluster
    * that touches the delta. The batch tier is this kernel over an empty
    * store ([[emptyOf]]).
    *
    * The delta shuffles once on the cluster key (vectors ride that one
    * exchange — the tier's defining cost, bounded by cluster size, exactly
    * as in the paper). The COMBINED per-cluster population of the delta's
    * clusters comes back in one small action (at most one row per delta
    * cluster); clusters larger than `maxClusterSize` (a degenerate
    * centroid set) are EXCLUDED from the quadratic expansion and logged
    * like every banded tier's bucket cap, and the store is pruned to the
    * delta's in-cap clusters by a literal set filter — no broadcast, and
    * parquet can skip row groups on it — so a batch that lands in 3 of 10⁵
    * cells scans 3 cells' worth of store vectors. Pairs are delta×(delta ∪
    * prunedStore) within a cluster: store×store pairs never form because
    * the left side is delta-only, and each delta–delta pair forms once
    * (left id < right id). Over an empty store ([[emptyOf]]) this is the
    * batch tier's self-join over one reused exchange, side order and
    * `cos_sim` bits included. The kernel knows which side of each pair is
    * new, so it emits the flags itself. Delta ids must be disjoint from
    * store ids. The result is materialized and registered, like every
    * [[graft.exec.Scope.operatorResult]].
    */
  def semanticPairs(assignedDelta: DataFrame, store: DataFrame, threshold: Double,
                    maxClusterSize: Int = 10000): DataFrame =
    operatorResult {
      import graft.functions.VectorMath
      // don't re-persist what the caller already persists: the ingests
      // hand in an already-persisted assignment (vectors included)
      val projected = assignedDelta.select("id", "vec", "cluster")
      val d =
        if (assignedDelta.storageLevel != org.apache.spark.storage.StorageLevel.NONE) projected
        else cached(projected)
      // delta ids are disjoint from store ids, so each vector is counted once
      val sizes = d.select(col("cluster"), lit(1L).as("__d"))
        .unionByName(store.select(col("cluster"), lit(0L).as("__d")))
        .groupBy("cluster").agg(sum("__d").as("__nd"), count(lit(1)).as("__n"))
        .filter(col("__nd") > 0).select("cluster", "__n")
        .collect().map(r => r.get(0) -> r.getLong(1))
      val over = sizes.filter(_._2 > maxClusterSize)
      if (over.nonEmpty)
        log.warn(s"semanticPairs: ${over.length} cluster(s) covering " +
          s"${over.map(_._2).sum} vectors exceed maxClusterSize=$maxClusterSize — excluded " +
          "from pair expansion; train more centroids or raise maxClusterSize")
      val ok = col("cluster").isin(
        sizes.collect { case (c, n) if n <= maxClusterSize => c }.toIndexedSeq: _*)
      // Hoisted-norm pair kernel (r17): each side's projection carries its
      // row's Σx², so the per-PAIR kernel does ONE array pass (the dot)
      // instead of three — bit-identical values (CosineSimNormed scaladoc).
      // Measured 1.6× on the 400k/266-cell stress corpus (SCALING.md
      // "Retired probes", 7.6 → 4.8 s). An angle-window prefilter on
      // |acos(sim_a)−acos(sim_b)| (lossless by the angular triangle
      // inequality) was A/B-measured on top of this kernel and REJECTED:
      // with the dot this cheap, the window cost more than the 15–33% of
      // pairs it pruned at the declared 0.9 / 0.95 operating points (6.0
      // vs 4.8 s at 0.9; 5.7 vs 6.0 s at 0.95).
      val l = d.filter(ok)
        .select(col("cluster"), col("id").as("lid"), col("vec").as("__vl"),
          VectorMath.normSqCol(col("vec")).as("__nl"))
      val r = d.select(col("cluster"), col("id"), col("vec"), lit(true).as("__rnew"))
        .unionByName(store.select(col("cluster"), col("id"), col("vec"), lit(false).as("__rnew")))
        .filter(ok)
        .select(col("cluster"), col("id").as("rid"), col("vec").as("__vr"),
          VectorMath.normSqCol(col("vec")).as("__nr"), col("__rnew"))
      // each delta–delta pair forms once (left id < right id); the left id
      // is always new, the right id iff it came from d
      l.join(r, Seq("cluster"))
        .filter(when(col("__rnew"), col("lid") < col("rid")).otherwise(col("lid") =!= col("rid")))
        .withColumn("cos_sim", VectorMath.cosineSimNormed(
          col("__vl"), col("__vr"), col("__nl"), col("__nr")))
        .filter(col("cos_sim") >= threshold)
        .select(least(col("lid"), col("rid")).as("id_a"),
          greatest(col("lid"), col("rid")).as("id_b"), col("cluster"), col("cos_sim"),
          (col("lid") < col("rid") || col("__rnew")).as("a_new"),
          (col("lid") > col("rid") || col("__rnew")).as("b_new"))
    }

  /** An empty relation of `df`'s schema, as a local relation: the optimizer
    * prunes it from a union before it plans the join above, so a kernel
    * handed it as its store plans exactly the batch shape (`limit(0)`
    * gives the same rows, but its store flags survive into the join).
    */
  def emptyOf(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), df.schema)

  /** Semantic drop over a PRE-ASSIGNED delta: the [[semanticPairs]] of
    * `assignedDelta` (the assignment of exactly `delta`'s rows) against
    * `store`, under the [[firstSeenWins]] loser rule — delta rows that
    * semantically duplicate the STORE are dropped, and each duplicate
    * component among the remaining delta docs keeps the member `keep`
    * elects. Returns the surviving delta rows, all columns intact; ids-only
    * through the clustering. The pair relation is computed ONCE, with its
    * new-side flags, and every loser rule reads that one cache; `delta`
    * itself is read only by the final anti join.
    */
  def incrementalSemanticDropAssigned(delta: DataFrame, assignedDelta: DataFrame,
      store: DataFrame, idCol: String, threshold: Double, maxClusterSize: Int,
      keep: Representative): DataFrame =
    firstSeenWins(delta, idCol, keep = keep)(
      semanticPairs(assignedDelta, store, threshold, maxClusterSize))

  /** SemDeDup end-to-end drop: pairs → connected components → per component
    * keep the member FARTHEST from its centroid (lowest `centroid_sim`,
    * ties → smallest id; the paper's diversity-preserving keep-rule) and
    * anti-join the rest out of `df` — [[incrementalSemanticDropAssigned]]
    * over an empty store under [[Farthest]]. Ids-only through the
    * clustering; full rows never leave the final anti-join.
    */
  def semanticDrop(df: DataFrame, idCol: String, vecCol: String,
                   centroids: Seq[(Int, Seq[Float])], threshold: Double,
                   maxClusterSize: Int = 10000): DataFrame = {
    // this consumer is EAGER (the loser set is checkpointed), so the
    // centroid broadcast's executor copies are released as soon as the
    // result materializes instead of lingering until the ContextCleaner
    // notices the dropped plan (unbounded in a service compiling many
    // semantic-dedup specs — ADVICE r15)
    val (assignedRaw, bc) =
      assignSemanticClustersHandle(spread(df), idCol, vecCol, centroids)
    try operatorScope {
      val assigned = cached(assignedRaw)
      incrementalSemanticDropAssigned(df, assigned, emptyOf(assigned), idCol, threshold,
        maxClusterSize, Farthest(assigned))
    } finally bc.unpersist(blocking = false)
  }
}
