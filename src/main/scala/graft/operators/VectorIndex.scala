package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.store.Stores

/** Persisted IVF index — the "cells are precomputed at ingest" path that
  * [[graft.functions.VectorOps.ivfTopK]]'s scaladoc promises. The ad-hoc
  * tier re-trains and re-assigns the whole corpus per query batch; this
  * tier pays assignment ONCE and makes every later query batch a
  * partition-PRUNED scan:
  *
  * {{{
  *   $dir/centroids/   (cell int, centroid array<double>)   — the model, tiny
  *   $dir/cells/       (id, vec) partitioned BY cell        — the corpus
  *   $dir/delta/       (id, vec, cell) unpartitioned        — LSM append tier
  *   $dir/tombstones/  (id) append-only                     — pending takedowns
  * }}}
  *
  * Scale shape. Build: one k-means fit on a capped sample, then ONE
  * cell-keyed exchange of the corpus into the partitioned layout — the
  * same one-shuffle cost the ad-hoc tier pays per query batch, paid once.
  * Query: centroids load on the driver (nlist × dim doubles), each query
  * ranks its `nprobe` nearest cells in a single narrow codegen'd
  * expression (no crossJoin+window — `slice(array_sort(...))` over the
  * literal centroid array), and the cells store is read with
  * `cell IN (probed)` — STATIC partition pruning, visible as
  * PartitionFilters in the scan (plan-asserted in VectorIndexSpec). At
  * 100 TB with nlist=4096 / nprobe=64, a query batch touches ~1.6% of the
  * index bytes instead of all of them.
  *
  * Append (streaming ingest): deltas assign cells through the SAME
  * literal-centroid expression the build used (bit-identical routing — no
  * dependency on the ML model object after build), anti-join the index's
  * ids (column-pruned scan) so an id is indexed at most once organically,
  * and land in the LSM-style `delta/` tier — a few unpartitioned files
  * per batch regardless of nlist (see the delta-tier section below for
  * why appending into the partitioned layout was the file-count
  * pathology). A crash between the append and the checkpoint commit
  * replays the batch; the ids anti-join drops it. [[compactIvfIndex]]
  * (the every-N-batches policy of the other stores) folds the delta into
  * the partitioned layout under the store module's whole-directory swap
  * ([[graft.store.Stores.rewriteStore]]).
  *
  * Takedown: [[deleteFromIvfIndex]] is O(delete-set) — victims in the
  * delta tier rewrite out physically, victims in the cells tier append
  * to the `tombstones/` tier that every reader anti-joins; the bytes
  * leave at the next fold/compaction ([[purgeTombstones]], a
  * touched-cells-only rewrite under per-cell rename swaps,
  * [[graft.store.Stores.swapPartitions]]). See the tombstone-tier section
  * below. Every read and maintenance entry heals a swap a crash cut short
  * first ([[graft.store.Stores.heal]]).
  *
  * Degenerate vectors follow the ANN-tier policy (EdgeCaseSpec): null and
  * empty embeddings are excluded from the index and from query routing;
  * zero-NORM vectors are indexed (dimensionally well-formed) and surface
  * with null cos_sim.
  *
  * COSINE retrieval operating point: build with `normalize = true`.
  * Routing is squared-L2 to the centroids (the k-means metric); on
  * unnormalized vectors those cells don't align with the cosine metric
  * and recall plateaus regardless of probe budget (measured at 1M
  * vectors: 0.58 → 0.85 recall@20 after normalization — SCALING.md's
  * characterization table; cosine itself is scale-invariant, so scores
  * are unchanged). The layout is self-describing (`normalized.marker`
  * next to the centroids, like the codec riding the cells schema):
  * queries and appends against a normalized index normalize their own
  * vectors, so asymmetric normalization — unit corpus, raw queries, the
  * silent-recall-loss footgun — cannot happen. Zero-norm vectors are
  * EXCLUDED from a normalized index (they normalize to null and can
  * never clear a cosine bar); on a raw index they keep the null-cos_sim
  * contract below. VectorIndexSpec pins the operating point's recall
  * floor and the scaled-query == unit-query retrieval invariance.
  */
object VectorIndex {

  private def wellFormed(df: DataFrame, vecCol: String): DataFrame =
    graft.functions.VectorOps.wellFormedVectors(df, vecCol)

  /** Nearest centroid's cell id — the
    * [[graft.functions.VectorMath.nearestCellsBcastCol]] kernel (one
    * evaluation per row over the k×dim matrix; ties break to the lower
    * cell id, the k-means `transform` convention). The r13 form —
    * `array_min` over a literal array of per-centroid
    * `aggregate(zip_with(...))` structs — interpreted k×dim lambdas PER
    * ROW: at nlist=1000 a 1M-vector build spent 709 s routing; the kernel
    * routes the same corpus in seconds, bit-identically. The matrix rides
    * a BROADCAST (r15): embedded in the expression it shipped with every
    * task binary — ~0.5 MB at nlist=10³, tens of MB at the 10M–1B rungs
    * (nlist 3k–30k), where per-task serialization dominated.
    */
  private def nearestCell(vec: org.apache.spark.sql.Column,
      bc: org.apache.spark.broadcast.Broadcast[(Array[Int], Array[Array[Double]])]) =
    element_at(graft.functions.VectorMath.nearestCellsBcastCol(vec, bc, 1), 1)

  /** Train the coarse quantizer and materialize the index. The corpus
    * crosses exactly one exchange (repartition by cell → one file per
    * cell). A skewed cell (boilerplate embeddings collapsing to one
    * region) would otherwise become one giant file = one read task per
    * query: set the SESSION conf `spark.sql.files.maxRecordsPerFile`
    * before building — it applies to this write, to appends, and to the
    * compaction/purge rewrites alike, splitting hot cells into
    * parallel-readable files without touching the pruning layout.
    */
  /** Payload columns per codec. `float` stores the raw vector; `int8`
    * stores ONLY the quantized codes + precomputed norm
    * ([[graft.functions.VectorOps.quantizeInt8]]) — the 4×-smaller
    * billion-vector layout. The codec is self-describing: readers infer it
    * from the cells schema (`vec` vs `q`), so append and query need no
    * manifest.
    */
  private def payloadOf(routed: DataFrame, codec: String): DataFrame = codec match {
    case "float" => routed.select(col("id"), col("vec"), col("cell"))
    case "int8" =>
      routed.withColumn("__z", graft.functions.VectorOps.quantizeInt8(col("vec")))
        .select(col("id"), col("__z.q").as("q"), col("__z.norm2").as("norm2"), col("cell"))
    case other => throw new IllegalArgumentException(
      s"VectorIndex codec must be float or int8, got '$other'")
  }

  private def codecOf(cells: DataFrame): String =
    if (cells.columns.contains("vec")) "float"
    else if (cells.columns.contains("q")) "int8"
    else throw new IllegalArgumentException(
      s"not a VectorIndex cells store (columns: ${cells.columns.mkString(",")})")

  /** Marker file making the normalized layout self-describing (like the
    * codec, which rides the cells schema): queries and appends against a
    * normalized index normalize THEIR vectors automatically — asymmetric
    * normalization (unit corpus, raw queries) would silently degrade
    * routing, the footgun this closes.
    */
  private def normalizedMarker(dir: String) =
    new org.apache.hadoop.fs.Path(s"$dir/normalized.marker")

  private def isNormalized(spark: SparkSession, dir: String): Boolean = {
    val p = normalizedMarker(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** `(id, vec)` projection with the index's normalization policy applied:
    * unit vectors when `normalize` (zero-norm vectors normalize to NULL
    * and are excluded — they can never clear a cosine bar), raw otherwise.
    */
  private def vecSide(df: DataFrame, idCol: String, vecCol: String,
                      normalize: Boolean, idAs: String = "id",
                      vecAs: String = "vec"): DataFrame = {
    val base = wellFormed(df, vecCol)
    if (!normalize) base.select(col(idCol).as(idAs), col(vecCol).as(vecAs))
    else base.select(col(idCol).as(idAs),
        graft.functions.VectorOps.normalized(col(vecCol)).as(vecAs))
      .filter(col(vecAs).isNotNull)
  }

  /** `nlist <= 0` (the DEFAULT) derives ⌈√N⌉ from the well-formed corpus
    * count — the standard IVF sizing and the measured 1M operating point
    * (SCALING.md: nlist=√N, normalized → recall@20 0.854 at nprobe=8; the
    * old fixed default of 16 cells gave 0.582 on the same corpus).
    * `normalize = true` is likewise the default: routing is squared-L2 to
    * the centroids, which only aligns with the cosine retrieval metric on
    * unit vectors (see the class doc). Pass explicit values to override
    * either — the toy-size gates do (nlist = 16 on 500-vector corpora).
    *
    * Training-cost boundary of the auto default: k-means is
    * O(sample × k × dim × iters) and measured SUPERLINEAR in k on the
    * capped 1M sample (SCALING.md "auto-nlist training-cost curve"; dim
    * 64, maxIter 10: k=1000 → 33 s, k=3163 → 157 s, k=10000 → 767 s;
    * exponent ≈ 1.36 from init rounds growing with k), so an UNCAPPED
    * ⌈√N⌉ would spend ~an hour fitting k ≈ 32k at the 1B rung before touching the corpus.
    * `autoNlistCap` (default 10⁴ ≈ √100M) therefore bounds the AUTO
    * path's k — beyond 100M rows the capped index trades cell
    * granularity for a bounded fit, and recall buys back via `nprobe`
    * (at fixed sizing, bigger corpora put more near-neighbors inside
    * each probed cell — the 10M-rung finding, SCALING.md). The cap
    * applies ONLY when nlist is derived: pass an explicit `nlist` to
    * override, or train centroids offline/hierarchically and build with
    * [[buildIvfIndexPinned]].
    */
  def buildIvfIndex(corpus: DataFrame, dir: String, nlist: Int = 0,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    trainSampleCap: Long = 1000000L,
                    codec: String = "float",
                    normalize: Boolean = true,
                    autoNlistCap: Int = 10000): Unit = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    val base = vecSide(corpus, idCol, vecCol, normalize)
    val toVec = base.withColumn("features",
      array_to_vector(transform(col("vec"), x => x.cast("double"))))
    val n = toVec.count()
    require(n > 0, "buildIvfIndex: no well-formed vectors to index")
    val trainSet =
      if (n <= trainSampleCap) toVec
      else Sampling.hashSample(toVec, "id", trainSampleCap.toDouble / n)
    val k = if (nlist > 0) math.min(nlist.toLong, n).toInt // explicit: caller owns the cost
            else autoNlist(n, autoNlistCap)
    val model = new KMeans().setK(k).setSeed(42L).setMaxIter(10).fit(trainSet)
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.toSeq) }.toSeq
    buildIvfIndexPinned(corpus, dir, centroids, idCol, vecCol, codec, normalize)
  }

  /** The AUTO-path coarse-quantizer size for `n` well-formed vectors:
    * ⌈√N⌉ (the standard IVF sizing and the measured 1M/10M operating
    * point), bounded by the training-cost cap and by `n` itself.
    */
  private[graft] def autoNlist(n: Long, cap: Int = 10000): Int =
    math.min(math.min(math.ceil(math.sqrt(n.toDouble)).toLong, cap.toLong), n).toInt

  /** Build from a PINNED centroid set — the run-once-model discipline
    * (train offline or derive deterministically, pin, route anywhere).
    * With pinned centroids the whole index content is pure arithmetic
    * over the corpus, which is what makes the streaming ingest gate
    * (`q_s_vector_index_ingest`) DuckDB-replayable: k-means training is
    * not bit-deterministic across runs, argmin routing is.
    */
  def buildIvfIndexPinned(corpus: DataFrame, dir: String,
                          centroids: Seq[(Int, Seq[Double])],
                          idCol: String = "vec_id", vecCol: String = "embedding",
                          codec: String = "float",
                          normalize: Boolean = false): Unit = {
    require(centroids.nonEmpty, "buildIvfIndexPinned: empty centroid set")
    val spark = corpus.sparkSession
    import spark.implicits._
    centroids.toDF("cell", "centroid").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/centroids")
    val marker = normalizedMarker(dir)
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (normalize) fs.create(marker, true).close() else fs.delete(marker, false)
    val base = vecSide(corpus, idCol, vecCol, normalize)
    // assignment through the PINNED-centroid kernel (not model.transform)
    // so build and append share one routing code path; centroids broadcast
    // once per build, not per task
    val bc = graft.functions.VectorMath.broadcastCells(spark, centroids)
    try payloadOf(base.withColumn("cell", nearestCell(col("vec"), bc)), codec)
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(cellsPath(dir))
    finally bc.unpersist(blocking = false) // the write was the only consumer
  }

  /** The pinned coarse quantizer, driver-side (nlist × dim doubles). */
  def readCentroids(spark: SparkSession, dir: String): Seq[(Int, Seq[Double])] =
    spark.read.parquet(s"$dir/centroids")
      .select("cell", "centroid").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)

  // ---- Hierarchical (two-level) trainer --------------------------------
  //
  // The flat trainer's wall is SUPERLINEAR in k (SCALING.md "auto-nlist
  // training-cost curve": 33 s at k=1000, 767 s at k=10⁴, ~63 min extrapolated at k≈32k on the
  // capped 1M sample), which is why buildIvfIndex's AUTO path caps k at
  // 10⁴. The two-level trainer breaks that wall: level 1 fits ⌈√k⌉ coarse
  // centers (an O(sample × √k) spark.ml fit), level 2 routes the sample
  // through the SAME pinned kernel builds use and fits ⌈k/√k⌉ sub-centers
  // INSIDE each coarse region — every region's fit is local to one
  // executor task over its (capped) share of the sample, so the level-2
  // cost is O(sample × √k) TOTAL and the regions train in parallel. This
  // is the vocabulary-tree construction (Nistér & Stewénius, CVPR 2006)
  // flattened back to one IVF level: the tree only sizes the training,
  // routing stays single-level argmin over all k leaves — query behavior,
  // layout, append, fold, purge are exactly buildIvfIndexPinned's.

  /** Train a k-leaf coarse quantizer in two levels — the scale path past
    * the flat trainer's `autoNlistCap` (see the section comment). `nlist
    * <= 0` derives ⌈√N⌉ from the well-formed corpus count UNCAPPED: the
    * two-level wall grows with √k, so √N sizing stays affordable at the
    * 100M–1B rungs where the flat fit would dominate the build. Quality:
    * leaves quantize their own coarse region only, a strictly coarser fit
    * than global Lloyd — measured within noise of flat recall at the 1M
    * rung (SCALING.md r16). Feed the result to [[buildIvfIndexPinned]] or
    * use [[buildIvfIndexHierarchical]].
    *
    * Determinism: level 2 is bit-deterministic given the level-1 model
    * (hash-ordered points, seeded spread init, fixed iteration count
    * bound); level 1 carries spark.ml k-means' usual run-to-run caveat.
    * Returned cell ids are dense 0..K-1 in (coarse region, sub-center)
    * order; K ≤ `nlist` (leaf budgets are apportioned to regions by
    * sample mass — largest-remainder, summing to exactly `nlist` — and
    * regions drop empty sub-clusters rather than emit duplicate leaves).
    *
    * `perRegionCap` bounds any one region's in-memory fit (hash-ranked,
    * so the cap keeps a deterministic uniform subsample even when a
    * degenerate corpus routes everything into one coarse region).
    */
  def trainIvfCentroidsHierarchical(corpus: DataFrame, nlist: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainSampleCap: Long = 1000000L, normalize: Boolean = true,
      coarseK: Int = 0, maxIter: Int = 10, seed: Long = 42L,
      perRegionCap: Int = 200000): Seq[(Int, Seq[Double])] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = vecSide(corpus, idCol, vecCol, normalize)
    val n = base.count()
    require(n > 0, "trainIvfCentroidsHierarchical: no well-formed vectors")
    val sampled =
      (if (n <= trainSampleCap) base
       else Sampling.hashSample(base, "id", trainSampleCap.toDouble / n))
        .localCheckpoint(true) // two passes (level-1 fit, level-2 routing)
    try {
      val k = if (nlist > 0) math.min(nlist.toLong, n).toInt
              else math.min(math.ceil(math.sqrt(n.toDouble)).toLong, n).toInt
      val k1 = math.min(
        (if (coarseK > 0) coarseK else math.ceil(math.sqrt(k.toDouble)).toInt)
          .max(1).toLong, k.toLong).toInt
      val toVec = sampled.withColumn("features",
        array_to_vector(transform(col("vec"), x => x.cast("double"))))
      val coarse = new KMeans().setK(k1).setSeed(seed).setMaxIter(maxIter)
        .fit(toVec).clusterCenters.zipWithIndex
        .map { case (c, i) => (i, c.toArray.toSeq) }.toSeq
      val bc = graft.functions.VectorMath.broadcastCells(spark, coarse)
      val subs: Array[(Int, Int, Seq[Double])] = try {
        val routed = sampled.withColumn("coarse", nearestCell(col("vec"), bc))
        // proportional leaf budgets by largest remainder: dense regions
        // earn more leaves and the leaf total is exactly k (a flat
        // ceil(k/k1) per region overshot it); a sliver region rounding to
        // zero leaves is fine — routing is a GLOBAL argmin over all
        // leaves, so its points land in neighboring regions' cells
        val regionN = routed.groupBy("coarse").count().collect()
          .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
        val total = regionN.map(_._2).sum.toDouble
        val quotas = regionN.map { case (rg, c) => (rg, k * c / total) }
        val floors = quotas.map { case (rg, q) => (rg, math.floor(q).toInt) }
        val rem = k - floors.map(_._2).sum
        val bonus = quotas.zip(floors)
          .map { case ((rg, q), (_, f)) => (rg, q - f) }
          .sortBy { case (rg, fr) => (-fr, rg) }.take(rem).map(_._1).toSet
        val budgets = floors
          .map { case (rg, f) => (rg, f + (if (bonus(rg)) 1 else 0)) }.toMap
        routed
          .withColumn("__h", xxhash64(col("id")))
          .withColumn("__r", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("coarse")).orderBy(col("__h"))))
          .filter(col("__r") <= perRegionCap)
          .select(col("coarse"),
            col("__h"), transform(col("vec"), x => x.cast("double")).as("v"))
          .as[(Int, Long, Seq[Double])]
          .groupByKey(_._1)
          .flatMapGroups { (region: Int, it: Iterator[(Int, Long, Seq[Double])]) =>
            val b = budgets.getOrElse(region, 0)
            if (b <= 0) Iterator.empty
            else {
              val pts = it.toArray.sortBy(_._2).map(_._3.toArray)
              localKMeans(pts, b, maxIter, seed ^ (region.toLong * 0x9E3779B97F4A7C15L))
                .iterator.zipWithIndex
                .map { case (c, i) => (region, i, c.toSeq) }
            }
          }.collect()
      } finally bc.unpersist(blocking = false)
      subs.sortBy(t => (t._1, t._2)).zipWithIndex
        .map { case ((_, _, c), id) => (id, c) }.toIndexedSeq
    } finally sampled.unpersist()
  }

  /** [[buildIvfIndex]] with the two-level trainer — identical layout and
    * serving; only how the centroid model is FIT changes (see
    * [[trainIvfCentroidsHierarchical]]). Use past ~100M rows, where the
    * flat trainer's k would hit `autoNlistCap`.
    */
  def buildIvfIndexHierarchical(corpus: DataFrame, dir: String, nlist: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainSampleCap: Long = 1000000L, codec: String = "float",
      normalize: Boolean = true, coarseK: Int = 0): Unit = {
    val cents = trainIvfCentroidsHierarchical(corpus, nlist, idCol, vecCol,
      trainSampleCap, normalize, coarseK)
    buildIvfIndexPinned(corpus, dir, cents, idCol, vecCol, codec, normalize)
  }

  /** Plain Lloyd over an in-memory point set — the level-2 regional fit.
    * Deterministic: spread init (every ⌈m/k⌉-th point of the caller's
    * hash-ordered array), fixed-point iteration capped at `maxIter`,
    * sequential summation. Empty clusters retain their previous center
    * during iteration and are DROPPED from the result (never emit a leaf
    * no point voted for). `seed` reserved for future randomized init —
    * the spread init is seed-free but the signature keeps call sites
    * stable.
    */
  private[graft] def localKMeans(points: Array[Array[Double]], k: Int,
                                 maxIter: Int, seed: Long): Array[Array[Double]] = {
    if (points.isEmpty) return Array.empty
    if (points.length <= k) return points.map(_.clone())
    val dim = points(0).length
    val cents = Array.tabulate(k)(i =>
      points(((i.toLong * points.length) / k).toInt).clone())
    val assign = new Array[Int](points.length)
    val cnt = new Array[Long](k)
    var iter = 0
    var moved = true
    while (iter < maxIter && moved) {
      moved = iter == 0 // the first pass must compute means even if all-0
      var p = 0
      while (p < points.length) {
        val pt = points(p)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          val ct = cents(c)
          var d = 0.0; var j = 0
          while (j < dim) { val t = pt(j) - ct(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        if (assign(p) != best) { assign(p) = best; moved = true }
        p += 1
      }
      val sums = Array.fill(k)(new Array[Double](dim))
      java.util.Arrays.fill(cnt, 0L)
      p = 0
      while (p < points.length) {
        val s = sums(assign(p)); val pt = points(p)
        var j = 0; while (j < dim) { s(j) += pt(j); j += 1 }
        cnt(assign(p)) += 1
        p += 1
      }
      var c = 0
      while (c < k) {
        if (cnt(c) > 0) {
          var j = 0; while (j < dim) { cents(c)(j) = sums(c)(j) / cnt(c); j += 1 }
        }
        c += 1
      }
      iter += 1
    }
    cents.indices.iterator.filter(cnt(_) > 0L).map(cents(_)).toArray
  }

  // ---- LSM delta tier ------------------------------------------------
  //
  // Appends do NOT write into the partitioned cells layout: an append
  // into `partitionBy("cell")` necessarily creates one file per touched
  // cell — at nlist=1000 a 50k-vector batch wrote ~1000 files and spent
  // ~12.7 s of its 17.4 s wall committing them (SCALING.md "Streaming
  // maintenance at a 1M-vector store"), and
  // frequent small batches made compaction (a FULL store rewrite) the
  // file-count bound. Instead, appends land in `$dir/delta/` — plain
  // unpartitioned parquet with `cell` as a data column, a handful of
  // files per batch regardless of nlist. Queries read the pruned cells
  // scan UNION the (small) delta filtered on the same probed cells
  // (min/max footer stats prune delta files too); compaction FOLDS the
  // delta into the partitioned layout and removes it. The delta is
  // bounded by compactEvery × batch size — size the cadence to the batch
  // rate, exactly like the other stores' compaction policy.

  private def cellsPath(dir: String) = s"$dir/cells"
  private def deltaPath(dir: String) = s"$dir/delta"
  private def tombstonesPath(dir: String) = s"$dir/tombstones"

  /** Committed files of the delta tier at this instant — the snapshot
    * [[foldIvfDelta]]/[[compactIvfIndex]] fold and then delete EXACTLY
    * ([[graft.store.Stores.listTierDataFiles]]), so an [[appendToIvfIndex]]
    * batch committed while the maintenance runs stays in the tier (the r14
    * whole-directory delete silently lost such a batch — ADVICE r14).
    */
  private def listDeltaDataFiles(spark: SparkSession, dir: String)
      : Seq[org.apache.hadoop.fs.Path] = Stores.listTierDataFiles(spark, deltaPath(dir))

  /** The un-folded delta tier, or None when absent or empty. */
  private def readDeltaOpt(spark: SparkSession, dir: String): Option[DataFrame] =
    Stores.read(spark, deltaPath(dir))

  // ---- Tombstone tier --------------------------------------------------
  //
  // Takedowns do NOT rewrite the cells store: an anti-join rewrite of the
  // partitioned layout is O(store) PER DELETE BATCH (measured 120.5 s at
  // 10M vectors — hours at 1B, with a doubled storage footprint during the
  // swap; VERDICT r15). Instead, [[deleteFromIvfIndex]] APPENDS the victim
  // ids to `$dir/tombstones/` — plain ids-only parquet, the same
  // append-only shape as the delta tier — and every reader anti-joins the
  // (small, size-gate-broadcast) tombstone set against the CELLS tier.
  // [[purgeTombstones]] (run by fold and compaction) removes the rows
  // physically by rewriting ONLY the touched cells and then retires
  // exactly the tombstone files it read, under the same snapshot-isolation
  // discipline as the delta fold.
  //
  // Tombstones name CELLS-tier copies only. Victims still in the delta
  // tier are physically rewritten at delete time (the delta is
  // compactEvery×batch bounded — that rewrite is O(delta), not O(store)),
  // which keeps the id-level semantics unambiguous: a tombstoned id
  // RE-APPENDED later lands in the delta tier, is NOT hidden (readers
  // apply tombstones to cells only), and folds into the cells tier after
  // the purge retires its tombstone — deletion removes data; it does not
  // blacklist the id.

  /** The tombstoned ids (`id` column), or None when no takedown is
    * pending. Duplicate ids across tombstone batches are harmless
    * (anti-join semantics); [[purgeTombstones]] retires them together.
    */
  private def readTombstonesOpt(spark: SparkSession, dir: String): Option[DataFrame] =
    Stores.read(spark, tombstonesPath(dir)).map(_.select("id"))

  /** `cells` minus the tombstoned ids — the takedown-aware view of the
    * cells tier every reader goes through. The tombstone set is a
    * takedown batch (small by nature), so it rides a size-gated broadcast.
    */
  private def minusTombstones(spark: SparkSession, dir: String,
                              cells: DataFrame): DataFrame =
    readTombstonesOpt(spark, dir) match {
      case None => cells
      case Some(t) =>
        cells.join(Joins.maybeBroadcast(t.distinct()), Seq("id"), "left_anti")
    }

  /** Physically remove tombstoned rows from the cells tier and retire the
    * tombstone snapshot — the maintenance half of the takedown path, run
    * by [[foldIvfDelta]] and [[compactIvfIndex]]. O(touched cells), not
    * O(store): one ids+cell column-pruned scan locates the victims' cells,
    * only those cell directories rewrite
    * ([[graft.store.Stores.swapPartitions]]: staged under hidden roots, then
    * per-cell rename swaps; a crash at any point heals on the next entry,
    * and a cell it rolls back is purged again by the retry, because the
    * tombstone snapshot retires only after every swap completed), and
    * EXACTLY the tombstone files read by this purge are removed — a
    * [[deleteFromIvfIndex]] batch committed while the purge runs survives
    * in the tier for the next pass. Run one maintenance pass at a time
    * (the fold/compact rule); concurrent QUERIES may hit a mid-swap cell
    * (FileNotFoundException → retry), the existing fold caveat. Returns
    * rows physically removed. `beforeRetire` is a test seam firing between
    * the cell swaps and the tombstone-snapshot removal.
    */
  def purgeTombstones(spark: SparkSession, dir: String,
                      beforeRetire: () => Unit = () => ()): Long = {
    Stores.heal(spark, cellsPath(dir))
    val snapshot = Stores.listTierDataFiles(spark, tombstonesPath(dir))
    if (snapshot.isEmpty) return 0L
    val victims = spark.read.parquet(snapshot.map(_.toString): _*)
      .select("id").distinct().localCheckpoint(true)
    val cells = spark.read.parquet(cellsPath(dir))
    // ONE ids+cell column-pruned scan: which cells hold victims, and how
    // many rows leave (the purge count)
    val victimCells = cells.join(Joins.maybeBroadcast(victims), Seq("id"), "left_semi")
      .groupBy("cell").agg(count(lit(1)).as("__n")).collect()
    val touched = victimCells.map(_.getInt(0))
    val purged = victimCells.map(_.getLong(1)).sum
    if (touched.nonEmpty)
      // survivors of ONLY the touched cells, in the same partitioned shape
      // (a cell whose every row is a victim stages nothing — its swap
      // simply retires the canonical dir)
      Stores.swapPartitions(spark, cellsPath(dir), touched.map(c => s"cell=$c").toSeq) { out =>
        cells.filter(col("cell").isin(touched.toIndexedSeq: _*))
          .join(Joins.maybeBroadcast(victims), Seq("id"), "left_anti")
          .repartition(col("cell"))
          .write.partitionBy("cell").parquet(out)
      }
    beforeRetire()
    Stores.removeTierSnapshot(spark, tombstonesPath(dir), snapshot)
    purged
  }

  /** The canonical full view of the index content: the partitioned cells
    * store minus the pending tombstones, plus the un-folded delta tier,
    * duplicate-safe (a crash between compaction's cells swap and its delta
    * removal can leave an id in both — the delta-side anti-join hides the
    * stale copy; payloads are identical either way). The tombstone
    * anti-join applies to the CELLS tier only: a tombstoned id re-appended
    * into the delta tier is live data and must stay visible. Columns:
    * `(id, <codec payload>, cell)`.
    */
  def readIvfCells(spark: SparkSession, dir: String): DataFrame = {
    Stores.heal(spark, cellsPath(dir))
    val cells = minusTombstones(spark, dir, spark.read.parquet(cellsPath(dir)))
    readDeltaOpt(spark, dir) match {
      case None => cells
      case Some(delta) =>
        val cols = cells.columns.map(col).toIndexedSeq
        cells.select(cols: _*).unionByName(
          delta.dropDuplicates("id")
            .join(cells.select("id"), Seq("id"), "left_anti")
            .select(cols: _*))
    }
  }

  /** Index a delta batch: route through the pinned centroids, drop ids the
    * index already holds (ids-only column-pruned scan over cells + delta —
    * the delta-bound cost pattern of the other stores), land in the delta
    * tier (a few files, nlist-independent). Returns the number of newly
    * indexed vectors.
    */
  def appendToIvfIndex(delta: DataFrame, dir: String,
                       idCol: String = "vec_id", vecCol: String = "embedding"): Long = {
    val spark = delta.sparkSession
    Stores.heal(spark, cellsPath(dir))
    val centroids = readCentroids(spark, dir)
    val cells = spark.read.parquet(cellsPath(dir))
    val codec = codecOf(cells) // self-describing store — append matches it
    // known ids = the VISIBLE store: a tombstoned cells copy no longer
    // counts, so a deleted id re-appends organically (lands in the delta
    // tier, untouched by the cells-scoped tombstone anti-join)
    val visible = minusTombstones(spark, dir, cells.select("id"))
    val known = readDeltaOpt(spark, dir) match {
      case None => visible
      case Some(d) => visible.unionByName(d.select("id"))
    }
    val bc = graft.functions.VectorMath.broadcastCells(spark, centroids)
    val fresh = try payloadOf(
        vecSide(delta, idCol, vecCol, isNormalized(spark, dir))
          // WITHIN-batch dedup too: an at-least-once source can re-deliver
          // an id inside one micro-batch, and the store anti-join below
          // only sees ids already COMMITTED — without this, both copies
          // index and top-k returns the same neighbor at two ranks
          .dropDuplicates("id")
          .join(known, Seq("id"), "left_anti")
          .withColumn("cell", nearestCell(col("vec"), bc)),
        codec)
      .localCheckpoint(true) // sever from the store scan before writing to it
    finally bc.unpersist(blocking = false) // checkpoint materialized the routing
    val n = fresh.count()
    if (n > 0)
      fresh.coalesce(8) // a batch is a few files, however many cells it touches
        .write.mode("append").parquet(deltaPath(dir))
    n
  }

  /** Fold the delta tier into the partitioned layout WITHOUT rewriting
    * the store: anti-join the delta against the cells ids (a crash after
    * a previous fold's append left its rows in both tiers — they drop
    * here, so the fold is idempotent), append the remainder as per-cell
    * files, then remove EXACTLY the delta files the fold read
    * ([[listDeltaDataFiles]] snapshot — an append batch committed while
    * the fold runs survives in the tier; the r14 whole-directory delete
    * lost it). O(delta + one cells-IDS scan), not O(store) — the
    * scheduled maintenance a 100 TB index can afford;
    * [[compactIvfIndex]]'s full rewrite remains for RARE layout health
    * (per-cell file counts, legacy twin purge). Safe to run concurrently
    * with appends; run only ONE fold/compact at a time (two concurrent
    * folds of the same snapshot would append the same rows twice).
    * "Safe" beside an appender means NO DATA LOSS, not no retries:
    * concurrent QUERIES — and a concurrent append's own known-ids read
    * of the delta tier — may hit a deleted snapshot file during the
    * deletion window (FileNotFoundException; the streaming engine
    * retries the batch, ad-hoc callers retry the read). Schedule folds
    * accordingly or wrap retrieval in a retry at 100 TB fold walls.
    * Returns rows folded. `beforeDelete` is a test seam (the
    * `ingestVectorIndex(beforeCommit)` pattern) firing between the fold's
    * cells append and the snapshot-file removal — the concurrency window
    * under test.
    */
  def foldIvfDelta(spark: SparkSession, dir: String,
                   beforeDelete: () => Unit = () => ()): Long = {
    // purge FIRST, which also heals the cells tier: tombstoned rows leave
    // the cells tier and their tombstones retire BEFORE delta rows fold
    // in, so a re-appended victim's fresh delta copy folds into cells with
    // no stale tombstone left to hide (or re-purge) it
    purgeTombstones(spark, dir)
    val snapshot = listDeltaDataFiles(spark, dir)
    if (snapshot.isEmpty) 0L
    else {
      val d = spark.read.parquet(snapshot.map(_.toString): _*)
      val cells = spark.read.parquet(cellsPath(dir))
      val fresh = d.dropDuplicates("id")
        .join(cells.select("id"), Seq("id"), "left_anti")
        .localCheckpoint(true) // sever from both stores before mutating them
      val n = fresh.count()
      if (n > 0)
        fresh.repartition(col("cell"))
          .write.partitionBy("cell").mode("append").parquet(cellsPath(dir))
      beforeDelete()
      Stores.removeTierSnapshot(spark, deltaPath(dir), snapshot)
      n
    }
  }

  /** Full keyed-distinct rewrite of the index (delta folded in, legacy
    * twins purged, per-cell file counts reset to one), under the tmp/old
    * rename-swap protocol; EXACTLY the snapshot's delta files are removed
    * after the swap ([[listDeltaDataFiles]] — a batch appended while the
    * rewrite ran survives in the tier; see [[foldIvfDelta]]). O(store) —
    * use [[foldIvfDelta]] for scheduled maintenance and keep this as the
    * rare layout-health pass. Safe concurrent with appends; one
    * fold/compact at a time. A crash between the swap and the delta
    * removal leaves folded ids visible in both tiers — readers hide the
    * stale delta copy ([[readIvfCells]]/query anti-join) and the next
    * fold or compaction purges it.
    */
  def compactIvfIndex(spark: SparkSession, dir: String): (Long, Long) = {
    // tombstones purge-and-retire BEFORE the rewrite (the foldIvfDelta
    // ordering rationale): handling them inside the rewrite would retire
    // the tombstone snapshot only after the swap, leaving a window where a
    // lingering tombstone names a re-appended id the rewrite just folded
    // from the delta tier into cells
    purgeTombstones(spark, dir)
    val snapshot = listDeltaDataFiles(spark, dir)
    val deltaSnapshot =
      if (snapshot.isEmpty) None
      else Some(spark.read.parquet(snapshot.map(_.toString): _*))
    val res = Stores.rewriteStore(spark, cellsPath(dir)) { (df, out) =>
      val all = deltaSnapshot match {
        case None => df
        case Some(d) => df.unionByName(d.select(df.columns.map(col).toIndexedSeq: _*))
      }
      all.dropDuplicates("id").repartition(col("cell"))
        .write.partitionBy("cell").parquet(out)
    }
    Stores.removeTierSnapshot(spark, deltaPath(dir), snapshot)
    res
  }

  /** Remove vectors by id — the takedown/opt-out maintenance path a
    * production index needs (a source document is deleted upstream; its
    * embedding must stop being retrievable). O(delete-set + one ids scan),
    * NOT O(store): victims still in the delta tier rewrite out physically
    * (the delta is compactEvery×batch bounded), and victims in the cells
    * tier are appended to the TOMBSTONE tier — every reader anti-joins the
    * (size-gate broadcast) tombstone set, so the ids stop being
    * retrievable the moment this returns, while the bytes leave the store
    * at the next [[foldIvfDelta]]/[[compactIvfIndex]] via
    * [[purgeTombstones]]. The r15 form rewrote the whole store per
    * takedown batch (120.5 s at 10M vectors, hours at 1B, doubled storage
    * during the swap); the tombstone append is delete-set-sized. Layout,
    * codec and the normalization marker are untouched.
    *
    * Deleted ids RE-index organically through a later
    * [[appendToIvfIndex]]: the known-ids check sees the VISIBLE store, so
    * a tombstoned id's re-append lands in the delta tier (live — the
    * tombstone anti-join is cells-scoped) and folds back into cells after
    * the purge retires its tombstone. Deletion removes data; it does not
    * blacklist the id. Callers needing never-again semantics filter at
    * the ingest source.
    *
    * Concurrency: the tombstone append is as safe beside readers as any
    * tier append, but the delta-tier victim rewrite is a whole-directory
    * rename swap — run takedowns with APPENDS quiesced (an append
    * committing during that swap could land in the retired generation).
    * A takedown batch is an operator action, not a steady-state path; the
    * single-writer ingest lock already serializes it against the
    * streaming maintenance.
    *
    * Returns (visible rows before, visible rows after) across BOTH data
    * tiers — the r14/r15 counting contract, now over the takedown-aware
    * view (an id caught in the compaction crash window — present in cells
    * AND delta — still counts once per tier copy, the duplicate readers
    * hide).
    */
  def deleteFromIvfIndex(spark: SparkSession, dir: String, ids: DataFrame,
                         idCol: String = "vec_id"): (Long, Long) = {
    val del = ids.select(col(idCol).as("id")).distinct()
      .localCheckpoint(true) // the scans below reuse it; sever from its source
    Stores.heal(spark, cellsPath(dir))
    // the delta tier FIRST (small, fast, physical): a crash between the
    // delta rewrite and the tombstone append leaves victims only in cells,
    // where the retried delete still tombstones them — the reverse order
    // could resurrect a deleted id from a surviving delta copy
    val (dBefore, dAfter) = readDeltaOpt(spark, dir).map { _ =>
      Stores.rewriteStore(spark, deltaPath(dir)) { (df, out) =>
        df.join(Joins.maybeBroadcast(del), Seq("id"), "left_anti")
          .coalesce(8).write.parquet(out)
      }
    }.getOrElse((0L, 0L))
    // cells tier: tombstone exactly the victims PRESENT in cells (an id
    // absent from cells must not linger as a tombstone — it could hide a
    // later fold of that id). One ids-only column-pruned scan covers the
    // visible count and the present-victims projection.
    val cellIds = minusTombstones(spark, dir,
        spark.read.parquet(cellsPath(dir)).select("id"))
      .localCheckpoint(true)
    val cBefore = cellIds.count()
    val victims = cellIds.join(Joins.maybeBroadcast(del), Seq("id"), "left_semi")
    val newTombs = victims.distinct().localCheckpoint(true)
    val victimRows = victims.count() // crash-window twins count per copy
    if (newTombs.count() > 0)
      newTombs.coalesce(1).write.mode("append").parquet(tombstonesPath(dir))
    (cBefore + dBefore, (cBefore - victimRows) + dAfter)
  }

  /** Top-k cosine neighbors against the persisted index. Same output
    * contract as [[graft.functions.VectorOps.ivfTopK]]:
    * `(query_id, neighbor_id, cos_sim, rank)`, self-matches excluded.
    */
  def ivfTopKIndexed(queries: DataFrame, dir: String, k: Int, nprobe: Int = 3,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = queries.sparkSession
    Stores.heal(spark, cellsPath(dir))
    val centroids = readCentroids(spark, dir)
    val probeN = math.min(nprobe, centroids.size)
    val raw = spark.read.parquet(cellsPath(dir))
    val codec = codecOf(raw)
    import graft.functions.VectorOps
    // a normalized index normalizes the QUERY side too (self-describing,
    // like the codec) — cosine is scale-invariant so scores are unchanged,
    // but routing against unit centroids needs a unit query
    val qBase = vecSide(queries, idCol, vecCol, isNormalized(spark, dir),
      "query_id", "q_vec")
    // int8: quantize ONCE per query, BEFORE the per-cell explode — after it
    // the O(d) quantization would re-run nprobe times per query
    val qPayload = codec match {
      case "float" => qBase
      case _ => qBase
        .withColumn("__z", VectorOps.quantizeInt8(col("q_vec")))
        .select(col("query_id"), col("q_vec"),
          col("__z.q").as("q_q"), col("__z.norm2").as("q_n2"))
    }
    // probed feeds TWO consumers (the wanted-cells collect and the scored
    // join) — checkpoint the small queries×nprobe relation so the
    // nlist×dim centroid scoring evaluates once, not per consumer
    // per-query probe set in ONE kernel evaluation: the probeN nearest
    // cells, (sqdist, cell)-ascending — no crossJoin, no window exchange
    // on the query side (and no nlist-struct literal in the plan); the
    // centroid matrix rides a broadcast, not every task binary
    val bc = graft.functions.VectorMath.broadcastCells(spark, centroids)
    val exploded = qPayload
      .withColumn("cell",
        explode(graft.functions.VectorMath.nearestCellsBcastCol(
          col("q_vec"), bc, probeN)))
    // float scoring needs q_vec downstream; int8 scored against (q_q, q_n2)
    // and carrying the float vector through the explode would be dead weight
    val probed = try (codec match {
      case "float" => exploded
      case _       => exploded.drop("q_vec")
    }).localCheckpoint(true)
    finally bc.unpersist(blocking = false) // checkpoint materialized the routing
    // static partition pruning: the union of probed cells is at most nlist
    // ints — collect it and push `cell IN (...)` into the partitioned scan
    val wanted = probed.select("cell").distinct().collect().map(_.getInt(0))
    // pending-takedown ids are hidden at the candidate level (cells tier
    // only — a tombstoned id re-appended into the delta tier is live); the
    // tombstone set is takedown-batch-sized and rides a gated broadcast
    val pruned = minusTombstones(spark, dir,
      raw.filter(col("cell").isin(wanted.toIndexedSeq: _*)))
    // the un-folded delta tier joins the candidate set, pruned on the same
    // cells (a data-column filter with footer-stat pruning — the delta is
    // compactEvery×batch bounded); the ids-only anti-join hides a stale
    // delta copy from the compaction crash window
    val store = readDeltaOpt(spark, dir) match {
      case None => pruned
      case Some(d) =>
        val cols = raw.columns.map(col).toIndexedSeq
        pruned.select(cols: _*).unionByName(
          d.filter(col("cell").isin(wanted.toIndexedSeq: _*))
            .dropDuplicates("id")
            .join(pruned.select("id"), Seq("id"), "left_anti")
            .select(cols: _*))
    }
    // size-GATED broadcast (not a forced hint): a mis-sized query batch
    // falls back to a shuffle join instead of OOMing the executors
    val probeSide = Joins.maybeBroadcast(probed)
    // codec-matched scoring: float stores score exact cosine (round 4, the
    // ad-hoc ivfTopK convention); int8 stores score the integer cross-dot
    // (round 6, the ivfTopKInt8 convention) against the quantized query;
    // zero-norm sides surface as NULL cos_sim on both paths
    val scored = codec match {
      case "float" =>
        store.select(col("id").as("neighbor_id"), col("vec").as("c_vec"), col("cell"))
          .join(probeSide, Seq("cell"))
          .filter(col("query_id") =!= col("neighbor_id"))
          .withColumn("cos_sim",
            round(VectorOps.cosine(col("q_vec"), col("c_vec")), 4))
      case _ =>
        store.select(col("id").as("neighbor_id"), col("q").as("c_q"),
            col("norm2").as("c_n2"), col("cell"))
          .join(probeSide, Seq("cell"))
          .filter(col("query_id") =!= col("neighbor_id"))
          .withColumn("cos_sim", round(VectorOps.cosineInt8OfNorms(
            VectorOps.dotInt8(col("q_q"), col("c_q")), col("q_n2"), col("c_n2")), 6))
    }
    // bounded top-k aggregate, not a window: the partial pass caps the
    // exchange at ≤k entries per (query, map partition) instead of
    // shipping every scored candidate — the term that dominates once the
    // query batch is too big to broadcast (see VectorOps.rankTopK)
    graft.functions.VectorOps.rankTopK(scored, k)
  }
}
