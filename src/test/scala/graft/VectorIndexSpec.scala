package graft

import org.apache.spark.sql.functions._
import graft.operators.VectorIndex
import graft.functions.VectorOps

/** The persisted IVF index: build → query parity with the ad-hoc tier,
  * static partition pruning in the physical plan, delta appends through the
  * pinned centroids, crash-replay healing via layout-preserving compaction,
  * and the streaming maintenance wrapper.
  */
class VectorIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("nearest-cells kernel == the HOF sqdist formulation (bit-identical routing)") {
    import graft.functions.VectorMath
    // the formulation the kernel replaced (r13's literal-struct routing):
    // per-centroid aggregate(zip_with(...)) sqdist, array_sort by (d, cell)
    val cents = Seq(
      0 -> Seq(0.1, -0.2, 0.3), 1 -> Seq(-0.5, 0.4, 0.0),
      2 -> Seq(0.1, -0.2, 0.30000001), 3 -> Seq(2.0, 2.0, 2.0))
    def hofCells(vec: org.apache.spark.sql.Column, n: Int) = {
      val scored = array(cents.map { case (cid, cv) =>
        struct(aggregate(
          zip_with(transform(vec, x => x.cast("double")), typedLit(cv),
            (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x).as("d"), lit(cid).as("cell")) }: _*)
      transform(slice(array_sort(scored), 1, n), c => c.getField("cell"))
    }
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")
        * (col("vec_id") % 7 - 3)).as("v"))
    val both = vecs.select(
      hofCells(col("v"), 3).as("hof"),
      VectorMath.nearestCellsBcastCol(col("v"), VectorMath.broadcastCells(spark, cents), 3)
        .as("kernel"))
    assert(both.filter(col("hof") =!= col("kernel")).count() == 0,
      both.filter(col("hof") =!= col("kernel")).head(1).mkString)
    // edge semantics: null vector, null element, dim mismatch → null
    val edges = Seq(
      (1L, null.asInstanceOf[Seq[java.lang.Double]]),
      (2L, Seq[java.lang.Double](0.1, null, 0.3)),
      (3L, Seq[java.lang.Double](0.1, 0.2))).toDF("id", "v")
    val out = edges.select(
      VectorMath.nearestCellsBcastCol(col("v"), VectorMath.broadcastCells(spark, cents), 2).as("c"))
      .collect().map(_.isNullAt(0)).toSeq
    assert(out == Seq(true, true, true))
  }

  test("recall floor at the documented operating point (normalized routing, sqrt-N cells)") {
    // the r14 1M-vector characterization (SCALING.md "1M-vector
    // characterization"): cosine retrieval over UNNORMALIZED vectors
    // routes L2 cells misaligned with the metric (recall@20 plateaued at
    // 0.58);
    // normalize-then-L2 (the FAISS recipe — cosine is scale-invariant, so
    // only ROUTING geometry changes) reached 0.85 at nprobe=8/nlist=1000.
    // This pins the same operating point at CI scale: 10k stress vectors
    // (planted twins + near dups + adversarial mixture filler), nlist =
    // sqrt(N), nprobe=8. Floor calibrated from the measured value with
    // headroom for k-means seed-stability across Spark upgrades.
    // normalize = true does the normalization INSIDE the index (corpus at
    // build, queries/deltas at use — the self-describing marker), so this
    // runs on RAW stress vectors end to end
    val (embRaw, _) = graft.tools.SemanticStressCorpus.build(spark, 10000)
    val corpus = embRaw.localCheckpoint(true)
    val n = corpus.count()
    val dir = java.nio.file.Files.createTempDirectory("ivf_floor").toString + "/idx"
    VectorIndex.buildIvfIndex(corpus, dir, nlist = math.sqrt(n.toDouble).toInt,
      normalize = true)
    val queries = corpus.filter(pmod(col("vec_id"), lit(211L)) === 0)
      .localCheckpoint(true)
    val exact = VectorOps.bruteForceTopK(queries, corpus, 20)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = VectorIndex.ivfTopKIndexed(queries, dir, k = 20, nprobe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    // measured 0.764 at this scale (top-20 of a 10k corpus is a HARDER
    // target than 1M's — the same k covers 100× more of the corpus and
    // spreads over relatively more cells); floor leaves seed headroom
    val recall = got.count(exact.contains).toDouble / exact.size
    assert(recall >= 0.70, f"recall@20 $recall%.4f below the 0.70 floor " +
      "(normalize=true, nlist=sqrt(N), nprobe=8; measured 0.764 r14)")
    // the footgun the marker closes: a SCALED query routes identically to
    // its unit form, so retrieval is scale-invariant end to end
    val q1 = queries.limit(1).localCheckpoint(true)
    val q5 = q1.select(col("vec_id"),
      transform(col("embedding"), x => x * lit(5.0f)).as("embedding"))
    val top1 = VectorIndex.ivfTopKIndexed(q1, dir, k = 10, nprobe = 4)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().toSet
    val top5 = VectorIndex.ivfTopKIndexed(q5, dir, k = 10, nprobe = 4)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().toSet
    assert(top1 == top5, "scaled query must retrieve identically on a normalized index")
  }

  test("localKMeans: deterministic, k-bounded, and degenerate-safe") {
    val rnd = new scala.util.Random(7)
    val pts = Array.fill(500)(Array.fill(8)(rnd.nextGaussian()))
    val a = VectorIndex.localKMeans(pts, 16, 10)
    val b = VectorIndex.localKMeans(pts.map(_.clone()), 16, 10)
    assert(a.length > 0 && a.length <= 16)
    assert(a.forall(_.length == 8))
    // bit-deterministic on identical input (sequential summation, spread init)
    assert(a.corresponds(b)((x, y) => x.sameElements(y)))
    // fewer points than k: every point is its own center
    val tiny = VectorIndex.localKMeans(pts.take(3), 16, 10)
    assert(tiny.length == 3)
    assert(VectorIndex.localKMeans(Array.empty, 4, 10).isEmpty)
    // all-identical points collapse to one voted-for center, never k dupes
    val same = Array.fill(100)(Array(1.0, 2.0, 3.0))
    val collapsed = VectorIndex.localKMeans(same, 8, 10)
    assert(collapsed.forall(_.sameElements(Array(1.0, 2.0, 3.0))))
  }

  test("hierarchical trainer: dense leaf ids, k-bounded; build serves with flat-parity recall") {
    // the two-level trainer (level 1: sqrt-k spark.ml fit; level 2:
    // per-region local Lloyd inside flatMapGroups) exists to break the
    // flat fit's superlinear-in-k wall (767 s at k=10^4, SCALING.md
    // "auto-nlist training-cost curve")
    // — this pins its CONTRACT at CI scale: leaf ids dense 0..K-1, K <= k,
    // and an index built from it serves the same operating point as the
    // flat-trained one within a small recall delta
    val (embRaw, _) = graft.tools.SemanticStressCorpus.build(spark, 10000)
    val corpus = embRaw.localCheckpoint(true)
    val n = corpus.count()
    val k = math.sqrt(n.toDouble).toInt
    val cents = VectorIndex.trainIvfCentroidsHierarchical(corpus, nlist = k)
    assert(cents.size <= k && cents.size > k / 2,
      s"got ${cents.size} leaves for k=$k")
    assert(cents.map(_._1) == cents.indices, "leaf ids must be dense 0..K-1")
    assert(cents.forall(_._2.size == 64))
    val dir = java.nio.file.Files.createTempDirectory("ivf_hier").toString + "/idx"
    VectorIndex.buildIvfIndexHierarchical(corpus, dir, nlist = k)
    val queries = corpus.filter(pmod(col("vec_id"), lit(211L)) === 0)
      .localCheckpoint(true)
    val exact = VectorOps.bruteForceTopK(queries, corpus, 20)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = VectorIndex.ivfTopKIndexed(queries, dir, k = 20, nprobe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    val recall = got.count(exact.contains).toDouble / exact.size
    // flat trainer measures 0.764 at this scale (floor 0.70); the
    // two-level fit is a strictly coarser optimization, so it gets the
    // same floor minus a small quality allowance (measured 0.72-0.78)
    assert(recall >= 0.65, f"hierarchical recall@20 $recall%.4f below 0.65")
  }

  test("untuned default build: auto sqrt-N cells, normalized layout, end-to-end retrieval") {
    // r15 defaults (VERDICT r14 wrong #2): nlist omitted derives ceil(sqrt(N))
    // from the WELL-FORMED corpus count, normalize=true writes the marker —
    // what a user gets calling buildIvfIndex with zero tuning
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_def").toString + "/idx"
    val base = emb.filter(col("vec_id") < 400)
    VectorIndex.buildIvfIndex(base, dir)
    val cells = VectorIndex.readCentroids(spark, dir).size
    val expect = math.ceil(math.sqrt(base.count().toDouble)).toInt
    // a few degenerate (null/zero-norm) fixtures may be excluded before the
    // sqrt — allow that slack, reject the old fixed-16 behavior outright
    assert(cells >= expect - 2 && cells <= expect,
      s"auto nlist: got $cells cells, expected ~ceil(sqrt(N)) = $expect")
    assert(new java.io.File(s"$dir/normalized.marker").exists,
      "default build must write the normalized layout marker")
    val got = VectorIndex.ivfTopKIndexed(emb.filter(col("vec_id") < 3), dir,
      k = 3, nprobe = 4)
    assert(got.count() == 9, "untuned index serves k rows per query")
  }

  test("indexed top-k returns well-formed neighbors contained in the exact top-20") {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString + "/idx"
    VectorIndex.buildIvfIndex(emb, dir, nlist = 16)
    val queries = emb.filter(col("vec_id") < 20)
    val got = VectorIndex.ivfTopKIndexed(queries, dir, k = 5, nprobe = 8)
    val exact20 = VectorOps.bruteForceTopK(queries, emb, k = 20)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val rows = got.select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(rows.length == queries.count() * 5, "k rows per query")
    val misses = rows.filterNot(exact20.contains)
    assert(misses.isEmpty, s"neighbors outside exact top-20: ${misses.take(5).toSeq}")
  }

  private def cellScansOf(df: org.apache.spark.sql.DataFrame) = {
    // AQE hides the scan inside an un-executed AdaptiveSparkPlanExec; the
    // property under test (static partition pruning) is fixed before AQE
    // re-plans, so assert on the non-adaptive plan (PlanQualitySpec idiom)
    val aqe = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(aqe)
    try {
      spark.conf.set(aqe, "false")
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains("/cells")) => s
      }
    } finally spark.conf.set(aqe, prev)
  }

  test("the cells scan is partition-pruned to the probed cells (PartitionFilters)") {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_plan").toString + "/idx"
    VectorIndex.buildIvfIndex(emb, dir, nlist = 16)
    val scans = cellScansOf(VectorIndex.ivfTopKIndexed(
      emb.filter(col("vec_id") < 3), dir, k = 3, nprobe = 2))
    assert(scans.nonEmpty, "expected a cells scan in the plan")
    val pruned = scans.head.partitionFilters
    assert(pruned.exists(_.toString.contains("cell")),
      s"cells scan must carry a partition filter on cell, got $pruned")
    // and the pruning is REAL: selected partitions < total cells
    val selected = scans.head.selectedPartitions.partitionCount
    val total = spark.read.parquet(s"$dir/cells").select("cell").distinct().count()
    assert(selected < total, s"pruning selected $selected of $total cells")
  }

  test("pending tombstones keep the pruned scan; the takedown set anti-joins via broadcast") {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_tombplan").toString + "/idx"
    VectorIndex.buildIvfIndex(emb, dir, nlist = 16)
    VectorIndex.deleteFromIvfIndex(spark, dir,
      emb.filter(col("vec_id") >= 50 && col("vec_id") < 60))
    val df = VectorIndex.ivfTopKIndexed(
      emb.filter(col("vec_id") < 3), dir, k = 3, nprobe = 2)
    val scans = cellScansOf(df)
    assert(scans.nonEmpty && scans.head.partitionFilters.exists(_.toString.contains("cell")),
      "static partition pruning must survive a pending-takedown read")
    // the tombstone set is takedown-batch-sized: it must ride a BROADCAST
    // anti-join (maybeBroadcast size gate), never a shuffle of the cells
    val aqe = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(aqe)
    val hasBcastAnti = try {
      spark.conf.set(aqe, "false")
      df.queryExecution.executedPlan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
      }.nonEmpty
    } finally spark.conf.set(aqe, prev)
    assert(hasBcastAnti, "the tombstone anti-join must broadcast the takedown set")
  }

  test("append routes through the pinned centroids and is id-idempotent; compaction heals replay twins") {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_app").toString + "/idx"
    val base = emb.filter(col("vec_id") < 400)
    VectorIndex.buildIvfIndex(base, dir, nlist = 8)
    val delta = emb.filter(col("vec_id") >= 400 && col("vec_id") < 450)
    assert(VectorIndex.appendToIvfIndex(delta, dir) == delta.count())
    // organic re-append of the same delta indexes nothing (anti-join)
    assert(VectorIndex.appendToIvfIndex(delta, dir) == 0L)
    // a delta vector's cell matches what a fresh query-side routing gives:
    // the indexed neighbors of a delta vector include its exact twin base
    // vector if one exists — weaker but sufficient: top-1 self-consistency
    val got = VectorIndex.ivfTopKIndexed(delta.limit(5), dir, k = 3, nprobe = 8)
    assert(got.count() == 15, "appended vectors are queryable")
    // the appended batch lives in the LSM delta tier (a few unpartitioned
    // files), NOT as per-cell files in the partitioned layout; the full
    // view unions the tiers duplicate-safe
    assert(spark.read.parquet(s"$dir/delta").count() == 50)
    assert(VectorIndex.readIvfCells(spark, dir).count() == base.count() + 50)
    // worst-case twins: blind duplicates in BOTH tiers (bypassing the
    // anti-join — the pre-LSM replay shape in cells, a stale copy in
    // delta); the read view hides them and compaction purges them
    val twins = spark.read.parquet(s"$dir/cells")
      .select("id", "vec", "cell").limit(50).collect().toIndexedSeq
    val twinDf = spark.createDataFrame(spark.sparkContext.parallelize(twins, 2),
      spark.read.parquet(s"$dir/cells").select("id", "vec", "cell").schema)
    twinDf.repartition(col("cell"))
      .write.partitionBy("cell").mode("append").parquet(s"$dir/cells")
    twinDf.write.mode("append").parquet(s"$dir/delta")
    val dupes = spark.read.parquet(s"$dir/cells").groupBy("id")
      .count().filter(col("count") > 1).count()
    assert(dupes == 50, "fixture: cells must carry replay twins")
    // the view hides the STALE DELTA copies (an id present in cells never
    // surfaces from delta — the compaction crash window), so no id appears
    // more than its cells multiplicity; cells-internal twins cannot arise
    // organically under the LSM layout (appends never write cells) and
    // remain visible until compaction purges them
    val viewCounts = VectorIndex.readIvfCells(spark, dir).groupBy("id").count()
    assert(viewCounts.filter(col("count") > 2).count() == 0,
      "a stale delta copy leaked through the read view")
    assert(viewCounts.filter(col("count") === 2).count() == 50)
    val (_, after) = VectorIndex.compactIvfIndex(spark, dir)
    assert(after == base.count() + 50,
      s"fold must purge twins and absorb the delta (after=$after)")
    assert(!new java.io.File(s"$dir/delta").exists,
      "compaction must remove the folded delta tier")
    val rereadCols = spark.read.parquet(s"$dir/cells").columns.toSet
    assert(rereadCols.contains("cell"), "partitioned layout must survive compaction")
    val prunedStill = cellScansOf(
      VectorIndex.ivfTopKIndexed(delta.limit(2), dir, k = 2, nprobe = 2))
    assert(prunedStill.head.partitionFilters.exists(_.toString.contains("cell")),
      "pruning must survive compaction")
  }

  test("empty query side yields an empty result (delta present or not), no throw") {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_emptyq").toString + "/idx"
    VectorIndex.buildIvfIndex(emb.filter(col("vec_id") < 200), dir, nlist = 8)
    val none = emb.filter(col("vec_id") < 0)
    assert(VectorIndex.ivfTopKIndexed(none, dir, k = 3, nprobe = 4).count() == 0)
    // with an un-folded delta tier in place, same contract
    VectorIndex.appendToIvfIndex(
      emb.filter(col("vec_id") >= 200 && col("vec_id") < 220), dir)
    assert(VectorIndex.ivfTopKIndexed(none, dir, k = 3, nprobe = 4).count() == 0)
    // and a delta-tier neighbor IS retrievable before any fold
    val q = emb.filter(col("vec_id") === 205)
    assert(VectorIndex.ivfTopKIndexed(q, dir, k = 3, nprobe = 8).count() == 3)
  }

  test("a delta dir holding only committer metadata reads as an empty tier") {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_tmponly").toString + "/idx"
    VectorIndex.buildIvfIndex(emb.filter(col("vec_id") < 100), dir, nlist = 4)
    // a crashed FIRST append: _temporary exists, no data files committed
    new java.io.File(s"$dir/delta/_temporary/0").mkdirs()
    val n0 = spark.read.parquet(s"$dir/cells").count()
    assert(VectorIndex.readIvfCells(spark, dir).count() == n0)
    assert(VectorIndex.ivfTopKIndexed(
      emb.filter(col("vec_id") === 5), dir, k = 2, nprobe = 4).count() == 2)
  }

  test("foldIvfDelta is O(delta), idempotent across its crash window, and empties the tier") {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_fold").toString + "/idx"
    VectorIndex.buildIvfIndex(emb.filter(col("vec_id") < 300), dir, nlist = 8)
    val n0 = spark.read.parquet(s"$dir/cells").count()
    val delta = emb.filter(col("vec_id") >= 300 && col("vec_id") < 360)
    assert(VectorIndex.appendToIvfIndex(delta, dir) == 60)
    // simulate the fold's crash window: its per-cell append LANDED but the
    // delta removal didn't — rows sit in both tiers
    val deltaRows = spark.read.parquet(s"$dir/delta")
    deltaRows.repartition(col("cell"))
      .write.partitionBy("cell").mode("append").parquet(s"$dir/cells")
    // the retried fold drops every already-folded row (anti-join) and
    // clears the tier — no twins ever reach cells
    assert(VectorIndex.foldIvfDelta(spark, dir) == 0L)
    assert(!new java.io.File(s"$dir/delta").exists)
    val cells = spark.read.parquet(s"$dir/cells")
    assert(cells.count() == n0 + 60)
    assert(cells.groupBy("id").count().filter(col("count") > 1).count() == 0)
    // the normal (no-crash) path: fresh delta folds fully, partitioning kept
    assert(VectorIndex.appendToIvfIndex(
      emb.filter(col("vec_id") >= 360 && col("vec_id") < 400), dir) == 40)
    assert(VectorIndex.foldIvfDelta(spark, dir) == 40L)
    assert(spark.read.parquet(s"$dir/cells").count() == n0 + 100)
    assert(VectorIndex.ivfTopKIndexed(delta.limit(3), dir, k = 2, nprobe = 8).count() == 6)
  }

  test("fold deletes only its snapshot: a batch appended mid-fold survives") {
    // the ADVICE r14 data-loss window: an appendToIvfIndex batch committed
    // between the fold's delta listing and its tier removal was destroyed
    // by the recursive dir delete. The beforeDelete seam lands a batch in
    // exactly that window; it must stay in the tier and stay retrievable.
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_race").toString + "/idx"
    VectorIndex.buildIvfIndex(emb.filter(col("vec_id") < 200), dir, nlist = 8)
    assert(VectorIndex.appendToIvfIndex(
      emb.filter(col("vec_id") >= 200 && col("vec_id") < 260), dir) == 60)
    var lateAppend = -1L
    val folded = VectorIndex.foldIvfDelta(spark, dir, beforeDelete = () =>
      lateAppend = VectorIndex.appendToIvfIndex(
        emb.filter(col("vec_id") >= 260 && col("vec_id") < 300), dir))
    assert(folded == 60 && lateAppend == 40)
    // the mid-fold batch survives in the (still-live) delta tier...
    assert(spark.read.parquet(s"$dir/delta").count() == 40,
      "a batch appended during the fold must survive the snapshot removal")
    // ...nothing lost, nothing doubled, everything retrievable
    val view = VectorIndex.readIvfCells(spark, dir)
    assert(view.count() == 300)
    assert(view.groupBy("id").count().filter(col("count") > 1).count() == 0)
    assert(VectorIndex.ivfTopKIndexed(
      emb.filter(col("vec_id") === 275), dir, k = 3, nprobe = 8).count() == 3)
    // a quiescent second fold absorbs it and retires the tier
    assert(VectorIndex.foldIvfDelta(spark, dir) == 40L)
    assert(!new java.io.File(s"$dir/delta").exists)
    assert(spark.read.parquet(s"$dir/cells").count() == 300)
  }

  test("deleteFromIvfIndex tombstones in O(delete-set); fold purges physically; ids re-append") {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_del").toString + "/idx"
    VectorIndex.buildIvfIndex(emb, dir, nlist = 8, normalize = true)
    val n0 = spark.read.parquet(s"$dir/cells").count()
    val victims = emb.filter(col("vec_id") >= 100 && col("vec_id") < 150)
    // normalize = true may have excluded zero-norm victims from the index;
    // deletion hides exactly the victims that were IN the store
    val indexedVictims = spark.read.parquet(s"$dir/cells")
      .filter(col("id") >= 100 && col("id") < 150).count()
    val (before, after) = VectorIndex.deleteFromIvfIndex(spark, dir, victims)
    assert(before == n0)
    assert(before - after == indexedVictims && indexedVictims > 0)
    // r16: O(delete-set), not O(store) — the cells tier is NOT rewritten;
    // the victims' bytes stay until maintenance purges, hidden by the
    // tombstone tier from every reader
    assert(spark.read.parquet(s"$dir/cells").count() == n0,
      "a takedown must not rewrite the cells store")
    assert(new java.io.File(s"$dir/tombstones").exists, "tombstone tier missing")
    val view = VectorIndex.readIvfCells(spark, dir)
    assert(view.count() == n0 - indexedVictims)
    assert(view.filter(col("id").between(100, 149)).count() == 0,
      "no victim id is visible after deletion")
    // layout, partition pruning and the normalization marker all survive
    assert(spark.read.parquet(s"$dir/cells").columns.contains("cell"))
    val queries = emb.filter(col("vec_id") < 5)
    val res = VectorIndex.ivfTopKIndexed(queries, dir, k = 3, nprobe = 8)
    assert(res.filter(col("neighbor_id").between(100, 149)).count() == 0,
      "deleted vectors must not be retrievable")
    assert(res.groupBy("query_id").count().filter(col("count") =!= 3).count() == 0)
    // deletion is not an id blacklist: the same ids re-append organically
    // (they land in the delta tier, which the cells-scoped tombstones
    // cannot hide) — live again BEFORE any purge ran
    val re = VectorIndex.appendToIvfIndex(victims, dir)
    assert(re > 0 && re <= 50, s"victims re-append after deletion (got $re)")
    assert(VectorIndex.readIvfCells(spark, dir)
      .filter(col("id").between(100, 149)).count() == re,
      "re-appended victims must be visible despite their pending tombstones")
    // the counts cover BOTH tiers (r15 contract): the re-appended victims
    // live ONLY in the delta, and deleting them again must report it —
    // physically this time (the delta rewrite), with no new tombstones
    val (b2, a2) = VectorIndex.deleteFromIvfIndex(spark, dir, victims)
    assert(b2 - a2 == re, s"delta-tier victims must count: removed ${b2 - a2}, expected $re")
    assert(a2 == n0 - indexedVictims, s"visible rows after the second delete: $a2")
    // fold = purge: bytes leave the cells tier, the tombstone tier retires
    VectorIndex.foldIvfDelta(spark, dir)
    assert(spark.read.parquet(s"$dir/cells").count() == n0 - indexedVictims,
      "the fold must purge tombstoned rows physically")
    assert(spark.read.parquet(s"$dir/cells")
      .filter(col("id").between(100, 149)).count() == 0)
    assert(!new java.io.File(s"$dir/tombstones").exists,
      "a completed purge must retire the tombstone tier")
    // post-purge the ids are fully gone — and re-append + fold normally
    val re2 = VectorIndex.appendToIvfIndex(victims, dir)
    assert(re2 == re, s"post-purge re-append: $re2 vs $re")
    assert(VectorIndex.foldIvfDelta(spark, dir) == re)
    assert(spark.read.parquet(s"$dir/cells").count() == n0)
  }

  test("one append plus one fold (purge path included) runs a bounded number of jobs") {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_jobs").toString + "/idx"
    VectorIndex.buildIvfIndex(emb.filter(col("vec_id") < 200), dir, nlist = 4,
      normalize = false)
    // one pending takedown, so the fold runs the tombstone purge too
    VectorIndex.deleteFromIvfIndex(spark, dir, emb.filter(col("vec_id") < 5))
    val delta = emb.filter(col("vec_id") >= 200 && col("vec_id") < 260)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.graft.Bridge.flushListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    val (appended, folded) = try {
      val a = VectorIndex.appendToIvfIndex(delta, dir)
      val f = VectorIndex.foldIvfDelta(spark, dir)
      org.apache.spark.sql.graft.Bridge.flushListenerBus(spark)
      (a, f)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(appended == 60 && folded == 60)
    assert(spark.read.parquet(s"$dir/cells").count() == 255)
    assert(!new java.io.File(s"$dir/tombstones").exists, "the fold must purge the takedown")
    // the measured count: the id anti join, the routing checkpoint, the
    // append, the tombstone purge and the fold; the tier reads take their
    // schema from a footer on the driver (31 jobs with a schema-inference
    // job per tier read)
    assert(jobs.get <= 24, s"${jobs.get} jobs")
  }

  test("auto-nlist sizing: sqrt-N, training-cost-capped, corpus-bounded") {
    // the measured curve (SCALING.md "auto-nlist training-cost curve",
    // 1M sample, dim 64): k=1000 → 33 s, 3163 → 157 s, 10000 → 767 s;
    // superlinear (exp≈1.36), so an uncapped sqrt-N spends ~an hour
    // fitting k≈32k at the 1B rung — the cap bounds the AUTO path there,
    // recall buys back via nprobe
    assert(VectorIndex.autoNlist(500) == 23)
    assert(VectorIndex.autoNlist(1000000L) == 1000)
    assert(VectorIndex.autoNlist(10000000L) == 3163)   // the measured 10M rung
    assert(VectorIndex.autoNlist(100000000L) == 10000) // cap boundary = sqrt(100M)
    assert(VectorIndex.autoNlist(1000000000L) == 10000, "1B must cap, not fit k=32k")
    assert(VectorIndex.autoNlist(4) == 2, "k never exceeds the corpus")
    assert(VectorIndex.autoNlist(1000000000L, cap = 32768) == 31623,
      "an explicit larger cap re-opens the sqrt-N path")
  }

  test("purge honors its tombstone snapshot and heals mid-swap crashes at any point") {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_purge").toString + "/idx"
    VectorIndex.buildIvfIndex(emb.filter(col("vec_id") < 300), dir, nlist = 8,
      normalize = false)
    val n0 = spark.read.parquet(s"$dir/cells").count()
    assert(n0 == 300)
    // snapshot isolation: a takedown committed between the purge's cell
    // swaps and its tombstone retirement must survive for the NEXT pass
    // (the delta-tier beforeDelete discipline, applied to tombstones)
    VectorIndex.deleteFromIvfIndex(spark, dir,
      emb.filter(col("vec_id") >= 0 && col("vec_id") < 20))
    var purged = -1L
    val n1 = VectorIndex.purgeTombstones(spark, dir, beforeRetire = () =>
      purged = VectorIndex.deleteFromIvfIndex(spark, dir,
        emb.filter(col("vec_id") >= 20 && col("vec_id") < 30))._1)
    assert(n1 == 20 && purged >= 0)
    assert(new java.io.File(s"$dir/tombstones").exists,
      "a tombstone batch committed mid-purge must survive the snapshot removal")
    assert(VectorIndex.readIvfCells(spark, dir).count() == 270,
      "the mid-purge takedown is hidden even before its physical purge")
    assert(VectorIndex.purgeTombstones(spark, dir) == 10)
    assert(spark.read.parquet(s"$dir/cells").count() == 270)
    assert(!new java.io.File(s"$dir/tombstones").exists)
    // crash healing: simulate the two mid-swap states recoverPurge handles.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val cellsDir = new java.io.File(s"$dir/cells")
    val someCell = cellsDir.listFiles().filter(_.getName.startsWith("cell=")).head
    def mv(a: String, b: String) = assert(fs.rename(
      new org.apache.hadoop.fs.Path(a), new org.apache.hadoop.fs.Path(b)))
    // (a) canonical retired, NO staged twin (crash between the renames, or
    // an emptied cell): roll back — rows return, nothing lost
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/cells/.purge.old"))
    mv(someCell.getPath, s"$dir/cells/.purge.old/${someCell.getName}")
    assert(VectorIndex.readIvfCells(spark, dir).count() == 270,
      "rollback recovery must restore a cell caught mid-swap")
    // (b) canonical retired, staged twin PRESENT: the swap completes with
    // the staged (post-purge) content
    val cell2 = cellsDir.listFiles().filter(_.getName.startsWith("cell=")).head
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/cells/.purge.old"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/cells/.purge.tmp"))
    val stagedRows = spark.read.parquet(cell2.getPath).count()
    // stage a COPY as the post-purge generation, then retire the canonical
    spark.read.parquet(cell2.getPath)
      .write.parquet(s"$dir/cells/.purge.tmp/${cell2.getName}")
    mv(cell2.getPath, s"$dir/cells/.purge.old/${cell2.getName}")
    assert(VectorIndex.readIvfCells(spark, dir).count() == 270,
      "completion recovery must install the staged generation")
    assert(spark.read.parquet(cell2.getPath).count() == stagedRows)
    assert(!new java.io.File(s"$dir/cells/.purge.old").exists)
    assert(!new java.io.File(s"$dir/cells/.purge.tmp").exists)
  }

  test("a reader between the purge's staging and its cell swaps loses no row") {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_heal_race").toString + "/idx"
    VectorIndex.buildIvfIndex(emb.filter(col("vec_id") < 200), dir, nlist = 4,
      normalize = false)
    VectorIndex.deleteFromIvfIndex(spark, dir, emb.filter(col("vec_id") < 10))
    // every reader heals the cells tier first; this one lands after the
    // survivors are staged and before any cell moves
    var seen = -1L
    val purged = VectorIndex.purgeTombstones(spark, dir,
      beforeSwap = () => seen = VectorIndex.readIvfCells(spark, dir).count())
    assert(purged == 10 && seen == 190)
    val ids = spark.read.parquet(s"$dir/cells").select("id").collect()
      .map(_.get(0).toString.toLong).toSet
    val lost = (10L until 200L).toSet -- ids
    assert(lost.isEmpty && ids.size == 190, s"${lost.size} non-victim rows lost to a mid-swap heal")
    assert(!new java.io.File(s"$dir/cells/.purge.lease").exists)
    // a live lease keeps heals and other swaps away from a swap's staging;
    // once it goes stale (its holder crashed) the next reader heals and
    // the next purge reclaims it
    VectorIndex.deleteFromIvfIndex(spark, dir, emb.filter(col("vec_id") === 10))
    val cells = s"$dir/cells"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val lease = new org.apache.hadoop.fs.Path(s"$cells/.purge.lease")
    fs.create(lease, false).close()
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$cells/.purge.tmp/cell=0"))
    VectorIndex.readIvfCells(spark, dir).count()
    assert(new java.io.File(s"$cells/.purge.tmp").exists, "a heal under a live lease")
    val busy = intercept[IllegalStateException](VectorIndex.purgeTombstones(spark, dir))
    assert(busy.getMessage.contains("being rewritten"), busy.getMessage)
    fs.setTimes(lease, System.currentTimeMillis() - graft.store.Stores.SwapLeaseStaleMs - 1000, -1)
    VectorIndex.readIvfCells(spark, dir).count()
    assert(!new java.io.File(s"$cells/.purge.tmp").exists, "a stale lease must not block heals")
    assert(VectorIndex.purgeTombstones(spark, dir) == 1)
    assert(!new java.io.File(s"$cells/.purge.lease").exists)
    assert(spark.read.parquet(cells).count() == 189)
  }

  test("streaming maintenance: batches index once each, crash window heals via compaction") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("ivfidx_stream").toString
    val dir = s"$root/idx"
    VectorIndex.buildIvfIndex(emb.filter(col("vec_id") < 300), dir, nlist = 8)
    val n0 = spark.read.parquet(s"$dir/cells").count()
    val rows = emb.filter(col("vec_id") >= 300 && col("vec_id") < 360)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    // window: crash AFTER the append, BEFORE the commit — batch 1 replays
    var crashed = false
    val in = MemoryStream[(Long, Seq[Float])]
    def start() = graft.streaming.Streams.ingest(in.toDF().toDF("vec_id", "embedding"),
      graft.streaming.IngestPlan("vec_id", "", "embedding", Seq(graft.streaming.VectorIndex(dir)),
        None, s"$root/ckpt", compactEvery = 2),
      afterAppend = _ => if (!crashed) { crashed = true; sys.error("injected crash") })
    val q1 = start()
    in.addData(rows.take(30).toIndexedSeq: _*)
    intercept[Exception] { q1.processAllAvailable() }
    q1.stop()
    // the append landed; the commit didn't — the REPLAY's anti-join sees
    // the ids and appends nothing, so no twins even before compaction
    val q2 = start()
    in.addData(rows.drop(30).toIndexedSeq: _*)
    q2.processAllAvailable()
    q2.stop()
    val cells = VectorIndex.readIvfCells(spark, dir)
    assert(cells.count() == n0 + 60, s"got ${cells.count()}")
    assert(cells.groupBy("id").count().filter(col("count") > 1).count() == 0)
    // compactEvery=2 fired on the second batch: the delta is folded
    assert(!new java.io.File(s"$dir/delta").exists,
      "scheduled compaction must fold the delta tier")
    // everything streamed in is queryable through the pruned path
    val got = VectorIndex.ivfTopKIndexed(
      Seq(rows.head, rows.last).toDF("vec_id", "embedding"), dir, k = 3, nprobe = 8)
    assert(got.count() == 6)
  }

  test("int8 codec: 4x-smaller store, codec-inferred append, same containment contract") {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_i8").toString + "/idx"
    VectorIndex.buildIvfIndex(emb.filter(col("vec_id") < 400), dir, nlist = 16,
      codec = "int8")
    val cols = spark.read.parquet(s"$dir/cells").columns.toSet
    assert(cols == Set("id", "q", "norm2", "cell"), s"int8 layout, got $cols")
    // append infers the codec from the store schema -- no manifest
    val delta = emb.filter(col("vec_id") >= 400 && col("vec_id") < 450)
    assert(VectorIndex.appendToIvfIndex(delta, dir) == delta.count())
    assert(spark.read.parquet(s"$dir/cells").columns.toSet == cols)
    // same containment contract as the ad-hoc int8 tier: every returned
    // neighbor sits in the exact FLOAT top-20
    val queries = emb.filter(col("vec_id") < 20)
    val got = VectorIndex.ivfTopKIndexed(queries, dir, k = 5, nprobe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    val exact20 = VectorOps.bruteForceTopK(queries, emb.filter(col("vec_id") < 450), k = 20)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got.length == queries.count() * 5)
    val misses = got.filterNot(exact20.contains)
    assert(misses.isEmpty, s"outside exact top-20: ${misses.take(5).toSeq}")
  }
}
